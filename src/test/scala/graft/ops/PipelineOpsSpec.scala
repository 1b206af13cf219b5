package graft.ops

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the training-pipeline operators that the oracle compare
  * can't express: packing conservation, decontamination bounds, sampling
  * determinism. Runs on the smallest testdata SF.
  */
class PipelineOpsSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def q(name: String) =
    graft.SparkEntry.queries(name)(spark, dir)

  test("q129 packing conserves every document and every token") {
    val packed = q("q129_sequence_packing")
      .agg(sum("n_docs").as("docs"), sum("n_tokens").as("toks"))
      .collect().head
    val src = graft.Tables.table(spark, dir, "documents")
      .agg(count(lit(1)), sum(size(split(col("text"), " "))))
      .collect().head
    assert(packed.getLong(0) == src.getLong(0))
    assert(packed.getLong(1) == src.getLong(1))
  }

  test("q129 chunk ids are contiguous from 0 within each language") {
    val rows = q("q129_sequence_packing")
      .groupBy("lang")
      .agg(min("chunk_id").as("lo"), max("chunk_id").as("hi"),
        count(lit(1)).as("n"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == 0L, s"${r.getString(0)}: min chunk != 0")
      assert(r.getLong(2) == r.getLong(3) - 1,
        s"${r.getString(0)}: chunk ids not contiguous")
    }
  }

  test("q126 contamination is a [0,1] fraction consistent with its counts") {
    q("q126_decontamination").collect().foreach { r =>
      val (n, hit, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(hit >= 0 && hit <= n)
      assert(math.abs(frac - hit.toDouble / n) < 1e-6 + 5e-7)
    }
  }

  test("q134 triages every batch document exactly once") {
    val rows = q("q134_incremental_dedup").collect()
    val batchCount = graft.Tables.table(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 7).count()
    assert(rows.length.toLong == batchCount)
    val actions = rows.map(_.getString(3)).toSet
    assert(actions.subsetOf(Set("drop_exact", "drop_neardup", "keep")))
  }

  test("q140 recall@10 is a [0,1] fraction with hits <= min(10, candidates)") {
    q("q140_ann_recall").collect().foreach { r =>
      val (nc, hits, rec) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(hits <= 10 && hits <= nc)
      assert(rec >= 0.0 && rec <= 1.0)
      assert(math.abs(rec - hits / 10.0) < 1e-9)
    }
  }

  test("q144 fits a negative Zipf slope on a rank-frequency curve") {
    val r = q("q144_zipf_fit").collect().head
    assert(r.getLong(0) > 10, "needs a non-trivial vocabulary")
    assert(r.getDouble(1) < 0.0, "log-log rank-frequency slope must be negative")
  }

  test("q128 sampling is deterministic and counts add up") {
    val a = q("q128_stratified_sample").collect().map(_.toSeq)
    val b = q("q128_stratified_sample").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    a.foreach { r =>
      assert(r(2).asInstanceOf[Long] <= r(1).asInstanceOf[Long])
    }
  }
}
