package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** In-JVM recomputation of the round-4 closing gates on sf0.001 (the
  * CorpusOpsSpec pattern): novelty and the waterfill allocator are
  * rebuilt from the raw documents with plain Scala collections and must
  * match the distributed answers exactly — defense in depth beside the
  * DuckDB oracle, and a readable executable spec of the semantics.
  */
class Round4FinalSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private lazy val docs: Array[(Long, String, String)] =
    graft.Tables.table(spark, dir, "documents")
      .select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  private def shingles(text: String): Set[String] = {
    val t = text.split(" ", -1)
    (0 until t.length - 2).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").toSet
  }

  test("q190 novelty matches per-source recomputation") {
    val ref = docs.filter(_._1 % 10 == 0).flatMap(d => shingles(d._3)).toSet
    val perDoc = docs
      .filter(d => d._1 % 10 != 0 && d._3.split(" ", -1).length >= 3)
      .map { case (_, src, text) =>
        val sh = shingles(text)
        (src, sh.size.toLong, sh.count(!ref.contains(_)).toLong)
      }
    val expected = perDoc.groupBy(_._1).map { case (src, rows) =>
      val tot = rows.map(_._2).sum
      val novel = rows.map(_._3).sum
      (src, rows.length.toLong, novel, tot,
        BigDecimal(novel.toDouble / tot)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        rows.count(r => 2 * r._3 >= r._2).toLong)
    }.toSeq.sortBy(_._1)
    val got = graft.SparkEntry.queries("q190_ngram_novelty")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toSeq
    assert(got == expected)
  }

  test("q192 waterfill matches allocator recomputation") {
    val nTok = docs.groupBy(_._2).view
      .mapValues(_.map(_._3.split(" ", -1).length.toLong).sum).toMap
    val tot = nTok.values.sum
    val k = nTok.size.toLong
    val budget = tot * 2
    val r1 = nTok.map { case (s, n) =>
      (s, n, math.min(n * 3, math.floor(tot * 2.0 / k).toLong)) }
    val excess = budget - r1.map(_._3).sum
    val k2 = r1.count { case (_, n, a1) => a1 < n * 3 }.toLong
    val expected = r1.map { case (s, n, a1) =>
      val cap = n * 3
      val alloc = a1 + (if (a1 < cap && k2 > 0)
        math.min(cap - a1, math.floor(excess * 1.0 / k2).toLong) else 0L)
      (s, n, alloc,
        BigDecimal(alloc.toDouble / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(_._1)
    val got = graft.SparkEntry.queries("q192_epoch_waterfill")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == expected)
  }
}
