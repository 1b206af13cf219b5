package graft.ops

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 stateful-maintenance invariants: the dedup store must be
  * idempotent under wave replay (the crash-recovery property the hash
  * compare cannot see — a replay happens AFTER the gate's output), and
  * the incremental card's state must actually be incremental (the
  * fingerprint store never holds a (source, h) twice; the histogram's
  * delta generation is disjoint from the base).
  */
class Round11MoreSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available(d: String): Boolean =
    new java.io.File(d, "documents.parquet").exists()

  test("q268: delivery arithmetic holds and replaying a full wave " +
    "against the persisted store appends ZERO rows") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q268_stream_dedup_store")(spark, dir).collect()
    rows.foreach { r =>
      val (nDocs, nDel, nKept, nDropped) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nDel >= nDocs, "every doc is delivered at least once")
      assert(nKept <= nDocs, "kept docs never exceed corpus docs")
      assert(nDropped == nDel - nKept, "drops account for every delivery")
      assert(nDropped > 0, "the re-crawl slice must exercise the store")
    }
    // crash-replay: re-ingest wave 0 (primary + re-crawl slice) — every
    // fingerprint is already in the store, so the anti-join drops all
    val store = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      Round11More.dedupStoreName(dir)).toString
    val wave0 = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .filter(col("doc_id") % 4 === 0 || col("doc_id") % 7 === 0)
    val before = spark.read.parquet(store).count()
    val appended = Round11More.ingestWave(spark, store, wave0, 99L)
    assert(appended == 0L, "wave replay must be a no-op")
    assert(spark.read.parquet(store).count() == before,
      "store row count unchanged by replay")
  }

  test("q269: the persisted card state is well-formed — fingerprint " +
    "store is (source, h)-unique and histogram generations are " +
    "disjoint splits of the corpus") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q269_incremental_dataset_card")(spark, dir).collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(rows.map(_.getLong(1)).sum == docs.count(),
      "card docs sum to the corpus")
    assert(rows.map(_.getLong(2)).sum ==
      docs.where("doc_id % 7 = 3").count(),
      "delta counts match the delta slice")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(1), "uniq <= docs")
      assert(r.getLong(5) <= r.getLong(6), "p50 <= p90")
    }
    val digest = ArtifactStore.dirDigest(dir)
    val fps = spark.read.parquet(java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_cardfps_$digest").toString)
    assert(fps.count() == fps.select("source", "h").distinct().count(),
      "fingerprint store holds each (source, h) exactly once")
    val hist = spark.read.parquet(java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_cardhist_$digest").toString)
    val gens = hist.select("gen").distinct().collect()
      .map(_.getLong(0)).sorted
    assert(gens.sameElements(Array(0L, 1L)),
      "state carries exactly the base and delta generations")
    assert(hist.agg(sum(col("cnt"))).head().getLong(0) == docs.count(),
      "histogram counts cover the corpus exactly once")
  }

  test("q268: rewriting documents in the data dir rebuilds the dedup " +
    "store on the next call instead of serving the stale one") {
    assume(available(dir), s"$dir absent — skipping")
    // a private copy of the corpus the test may rewrite
    val scratch =
      java.nio.file.Files.createTempDirectory("graft_dedupstale_").toString
    graft.Tables.names.foreach { n =>
      val from = java.nio.file.Paths.get(dir, s"$n.parquet")
      if (java.nio.file.Files.isRegularFile(from))
        java.nio.file.Files.copy(from,
          java.nio.file.Paths.get(scratch, s"$n.parquet"))
    }
    def hashes(path: String, c: org.apache.spark.sql.Column): Set[String] =
      spark.read.parquet(path).select(c).collect().map(_.getString(0)).toSet
    def corpus = hashes(s"$scratch/documents.parquet", md5(col("text")))
    def sameSet(a: Set[String], b: Set[String]) =
      a.size == b.size && a.subsetOf(b)
    try {
      val store = Round11More.buildDedupStore(spark, scratch)
      assert(sameSet(hashes(store, col("h")), corpus))
      // rewrite the copy's documents: only the even doc_ids survive
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$scratch/documents.parquet")
      // re-point the views so the next registration lists the new files
      graft.Tables.registerAll(spark, dir)
      val store2 = Round11More.buildDedupStore(spark, scratch)
      assert(store2 == store, "the store root must stay deterministic")
      assert(sameSet(hashes(store2, col("h")), corpus),
        "a documents rewrite served the STALE dedup store")
    } finally {
      val d = ArtifactStore.dirDigest(scratch)
      Seq(Round11More.dedupStoreName(scratch), s"graft_dedupwaves_$d")
        .foreach(n => ArtifactStore.deleteRecursive(ArtifactStore.root(n)))
      ArtifactStore.deleteRecursive(scratch)
      graft.Tables.registerAll(spark, dir)
    }
  }

  test("drainTo: a locked root holding only its _build.lock still " +
    "counts as empty — a stream that writes no batch throws") {
    val root = ArtifactStore.root(s"graft_drainspec_${System.nanoTime()}")
    val src =
      java.nio.file.Files.createTempDirectory("graft_drainsrc_").toString
    try ArtifactStore.withBuildLock(root) {
      assert(ArtifactStore.listEntries(root) == Seq("_build.lock"))
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long")
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ())
        .start()
      val e = intercept[IllegalStateException](Round6Ops.drainTo(q, root))
      assert(e.getMessage.contains("wrote no batch"))
      assert(!q.isActive, "drainTo must stop the query")
    } finally {
      ArtifactStore.deleteRecursive(root)
      ArtifactStore.deleteRecursive(src)
    }
  }
}
