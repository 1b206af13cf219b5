package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** In-JVM recomputation of the corpus-prep gate queries on sf0.001:
  * chunking and A-ES sampling are rebuilt from the raw documents with
  * plain Scala and must match the distributed answers exactly; the
  * bigram LM score is property-checked (log-probabilities are negative,
  * the worst-doc ranking is total).
  */
class CorpusOpsSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private lazy val docs: Array[(Long, String)] =
    graft.Tables.table(spark, dir, "documents")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q157 chunking matches per-doc recomputation (stride 30, size 40)") {
    val expected = docs.filter(_._1 < 8).sortBy(_._1).flatMap { case (id, t) =>
      val toks = t.split(" ", -1)
      val starts = 0 to (toks.length - 1) by 30
      starts.zipWithIndex.map { case (st, idx) =>
        val n = math.min(40, toks.length - st)
        (id, idx.toLong, n.toLong, toks(st), toks(st + n - 1))
      }
    }.toSeq
    val got = graft.SparkEntry.queries("q157_chunk_overlap")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4))).toSeq
    assert(got == expected)
    // overlap property: consecutive chunks share 10 token positions
    got.groupBy(_._1).values.foreach { chunks =>
      chunks.sortBy(_._2).sliding(2).foreach {
        case Seq(a, b) => assert(b._2 * 30 < a._2 * 30 + 40)
        case _         =>
      }
    }
  }

  test("q165 A-ES sample matches LCG + exp-key recomputation") {
    val expected = docs.map { case (id, t) =>
      val toks = t.split(" ", -1)
      val w = toks.distinct.length.toDouble / toks.length
      val u = ((id * 1103515245L + 12345L) % 2147483648L + 1L) / 2147483649.0
      (id, round6(w), round6(-math.log(u) / w))
    }.sortBy(t => (t._3, t._1)).take(10).toSeq
    val got = graft.SparkEntry.queries("q165_weighted_sample_aes")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got == expected)
  }

  test("q156 bigram LM scores are negative log-probs over real bigrams") {
    val got = graft.SparkEntry.queries("q156_bigram_lm_score")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 10)
    got.foreach { case (_, nBigrams, avgLp) =>
      assert(nBigrams >= 1)
      assert(avgLp < 0.0) // smoothed probabilities are < 1
    }
    // ranking is ascending (worst docs first) with doc_id tie-break
    assert(got.sortBy(t => (t._3, t._1)).toSeq == got.toSeq)
  }
}
