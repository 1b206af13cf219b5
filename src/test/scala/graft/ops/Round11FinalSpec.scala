package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 serving-composition invariants: the context packer must
  * respect its budget and stage ordering (and its dedup stage must be
  * demonstrably ACTIVE at the gate scale), and the cluster-quality
  * metrics must partition the corpus and stay in fixed-point range.
  */
class Round11FinalSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available(d: String): Boolean =
    new java.io.File(d, "documents.parquet").exists()

  test("q270: stages only shrink, the budget holds, the packed list " +
    "is exactly n_packed ids, and the planted shadows make the dedup " +
    "stage fire") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q270_context_budget_packing")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cand, dedup, packed, toks, ids) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5))
      assert(cand == 20L, "candidate stage emits a full top-20")
      assert(dedup <= cand && packed <= dedup, "stages only shrink")
      assert(toks <= 256L, "context budget is a hard ceiling")
      val nIds = if (ids.isEmpty) 0 else ids.split("-").length
      assert(nIds == packed, "packed id list matches n_packed")
      assert(packed > 0, "every query packs at least one doc")
    }
    assert(rows.exists(r => r.getLong(2) < r.getLong(1)),
      "at least one query's top-20 contains a planted shadow — the " +
        "dedup stage must be ACTIVE at the gate scale factor")
  }

  test("q270's rank-then-join shape is sound: every embeddings vec_id " +
    "has exactly one documents row") {
    // The Spark side ranks candidates BEFORE joining documents while
    // the oracle ranks after; the two agree iff the vec_id % 1e6 ->
    // doc_id mapping is total and 1:1. A corpus integrity break would
    // otherwise make the engines rank DIFFERENT candidate sets instead
    // of failing loudly — this spec is the loud failure.
    assume(available(dir), s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select((col("vec_id") % 1000000L).as("k"))
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy(col("doc_id")).count()
    assert(d.filter(col("count") =!= 1L).count() == 0L,
      "doc_id is unique in documents")
    assert(e.join(d, e("k") === d("doc_id"), "left_anti").count() == 0L,
      "every embedding maps to a document row")
  }

  test("q271: cells partition the corpus and the fixed-point metrics " +
    "stay in range") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q271_cluster_quality_eval")(spark, dir).collect()
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(rows.map(_.getLong(1)).sum == e.count(),
      "every vector is assigned to exactly one cell")
    assert(rows.length == Round5Ops.scaledK(e.count()),
      "one row per serving-codebook cell")
    rows.foreach { r =>
      val (n, intra6, sep12, margin) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n > 0L)
      // cosine-scale bounds: |member dot| <= ~1e6, |centroid dot| <=
      // ~1e12 for unit-scale vectors (slack for non-normalized data)
      assert(math.abs(intra6) <= 2000000L)
      assert(math.abs(sep12) <= 4000000000000L)
      assert(margin == intra6 * 1000000L - sep12)
    }
  }
}
