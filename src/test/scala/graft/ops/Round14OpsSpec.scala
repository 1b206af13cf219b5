package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 gate invariants beyond the DuckDB hash compare: the markup
  * extractor must keep EXACTLY the content block (in-memory referee
  * over the fixture's closed form), and the conversation validator
  * must agree row-for-row with a direct Scala replay of the role-schema
  * rules.
  */
class Round14OpsSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available: Boolean =
    new java.io.File(dir, "documents.parquet").exists()

  private def squish(s: String): String =
    s.replaceAll("<[^>]*>", " ").trim.replaceAll(" +", " ")

  test("q293: the extracted main content is exactly the <p> block's " +
    "text (every boilerplate block dropped), and the boilerplate " +
    "fraction reconciles with the fixture's closed form") {
    assume(available, s"$dir absent — skipping")
    val docs = graft.Tables.table(spark, dir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // the fixture's boilerplate text per page, post strip+squish (the
    // second `source` occurrence sits inside the href attribute — the
    // tag strip removes it with the tag)
    val boiler = Seq("home %s contact us", "ad deal win click now",
      "about terms copyright corp")
    val expect = docs.groupBy(_._2).map { case (src, ds) =>
      val kept = ds.map(d => squish(d._3).length.toLong).sum
      val all = ds.map { d =>
        val b = boiler.map(_.replace("%s", d._2)).mkString(" ")
        // 4 non-empty blocks join with 3 spaces; b carries 2 of them
        squish(d._3).length.toLong + b.length + 1
      }.sum
      src -> (ds.length.toLong, kept, all,
        1000000L * (all - kept) / all)
    }
    val got = graft.SparkEntry.queries("q293_markup_extract")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(4), r.getLong(3), r.getLong(5))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (src, (n, kept, all, ppm)) =>
      val (gn, gkept, gall, gppm) = got(src)
      assert(gn == n, s"$src n_docs")
      assert(gkept == kept,
        s"$src kept_chars: extraction is not exactly the content block")
      assert(gall == all, s"$src text_chars: fixture text drifted")
      assert(gppm == ppm, s"$src boiler_ppm")
    }
  }

  test("q294: the gate agrees with a direct Scala replay of the " +
    "role-schema rules, and every status class is exercised") {
    assume(available, s"$dir absent — skipping")
    val docs = graft.Tables.table(spark, dir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // in-memory referee: replicate fixture + rules verbatim
    case class T(role: String, content: String)
    def conv(id: Long, text: String): Seq[T] = {
      val toks = text.split(" ").filter(_.nonEmpty)
      val h = (id * 2654435761L) % 97
      val so = if (h % 3 == 0) 1 else 0
      val n = (2 + h % 4).toInt + so
      (0 until n).map { i =>
        val role =
          if (i == 0 && so == 1) "system"
          else if (h % 7 == 2 && i == so + 1) "user"
          else if ((i - so) % 2 == 0) "user" else "assistant"
        val content =
          if (h % 13 == 5 && i == n - 1) ""
          else toks.slice(i * 3, i * 3 + 3).mkString(" ")
        T(role, content)
      }
    }
    def status(ts: Seq[T]): String =
      if (ts.exists(_.content.isEmpty)) "empty_turn"
      else if (ts.sliding(2).exists(p => p(0).role == p(1).role))
        "role_dup"
      else if (ts.last.role != "assistant") "bad_ending"
      else "valid"
    val ref = docs.groupBy(_._2).map { case (src, ds) =>
      val convs = ds.map(d => conv(d._1, d._3))
      val sts = convs.map(status)
      val turns = convs.flatten.map(t => s"${t.role}|${t.content}")
      src -> (ds.length.toLong,
        sts.count(_ == "valid").toLong,
        sts.count(_ == "empty_turn").toLong,
        sts.count(_ == "role_dup").toLong,
        sts.count(_ == "bad_ending").toLong,
        turns.length.toLong, turns.distinct.length.toLong)
    }
    val got = graft.SparkEntry
      .queries("q294_sft_conversation_ops")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    assert(got.keySet == ref.keySet)
    ref.foreach { case (src, e) =>
      assert(got(src) == e, s"$src: gate disagrees with the referee " +
        s"(got ${got(src)}, expected $e)")
    }
    // the fixture exercises every classification across the corpus
    val tot = ref.values.toSeq
    assert(tot.map(_._2).sum > 0, "no valid conversations")
    assert(tot.map(_._3).sum > 0, "no empty_turn violations")
    assert(tot.map(_._4).sum > 0, "no role_dup violations")
    assert(tot.map(_._5).sum > 0, "no bad_ending violations")
  }
}
