package graft.ops

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 stateful-gate invariants: the streaming decontamination
  * fold must equal the static q266 pass row for row and survive a
  * crash-replay; the band store's scoped reports must reconcile
  * exactly and agree with q265's b2r4 curve point when no bucket is
  * df-skipped.
  */
class Round12StateSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available(d: String): Boolean =
    new java.io.File(d, "documents.parquet").exists()

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, dir)

  private def rows(name: String): Seq[(String, Long, Long, Long, Long)] =
    run(name).collect().map(r => (r.getAs[String]("source"),
      r.getAs[Long]("n_train"), r.getAs[Long]("n_contam"),
      r.getAs[Long]("contam6"), r.getAs[Long]("contam_id_sum"))).toSeq

  test("q288 equals the static q266 pass row for row, really spans " +
    "multiple micro-batches, and deduplicates redeliveries") {
    assume(available(dir), s"$dir absent — skipping")
    val streamed = rows("q288_stream_decontamination")
    val static = rows("q266_benchmark_decontamination")
    assert(streamed == static,
      "the micro-batch fold diverged from the one-pass batch result")
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_deconstate_${ArtifactStore.dirDigest(dir)}").toString
    val gens = Option(new java.io.File(s"$root/docs").listFiles())
      .getOrElse(Array.empty).filter(f => f.isDirectory &&
        f.getName.startsWith("b"))
    assert(gens.length >= 2,
      s"decon stream ran as ${gens.length} micro-batch(es)")
    // redelivery dedup: the waves deliver doc_id % 4 slices PLUS
    // doc_id % 7 re-crawls, yet the folded doc list holds each train
    // doc exactly once
    val folded = spark.read.parquet(s"$root/docs/b*")
    assert(folded.count() == folded.select("doc_id").distinct().count(),
      "a redelivered doc_id was double-counted across batches")
    val waves = spark.read.parquet(java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_deconwaves_${ArtifactStore.dirDigest(dir)}").toString)
    assert(waves.count() > folded.count(),
      "no redelivery occurred — the dedup stage is not being exercised")
  }

  test("q288 batch replay is idempotent: re-folding batch 0 rewrites " +
    "the identical delta and the served report is unchanged") {
    assume(available(dir), s"$dir absent — skipping")
    val before = rows("q288_stream_decontamination")
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_deconstate_${ArtifactStore.dirDigest(dir)}").toString
    val src = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_deconwaves_${ArtifactStore.dirDigest(dir)}").toString
    // rebuild the broadcast eval set exactly as the stream did
    val n = math.max(graft.Tables.table(spark, dir, "documents").count(),
      1L)
    val thr = math.min(Round11Ops.BMOD,
      (Round11Ops.BMOD * Round11Ops.BENCH_N + n - 1) / n)
    val badm = ((col("doc_id") % Round11Ops.BMOD) * Round11Ops.BMULT) %
      Round11Ops.BMOD
    val bg = graft.Tables.table(spark, dir, "documents")
      .filter(badm < thr)
      .withColumn("th", expr(Round11Ops.sparkPosTokenHashes))
      .filter(size(col("th")) >= Round11Ops.DECON_W)
      .select(explode(expr(
        Round11Ops.sparkShingles(Round11Ops.DECON_W))).as("g"))
      .distinct()
    val batch0 = spark.read.parquet(s"$src/w00.parquet")
    Round12State.foldDeconBatch(spark, root, bg, batch0, 0L)
    val after = rows("q288_stream_decontamination")
    assert(after == before, "replaying batch 0 changed the fold state")
  }

  test("q289 scopes reconcile exactly (base + delta == '*'), every doc " +
    "carries exactly 2 band rows, and with no df-skipped bucket the " +
    "'*' row equals q265's b2r4 operating point") {
    assume(available(dir), s"$dir absent — skipping")
    def serve() = run("q289_minhash_band_store").collect().map(r =>
      r.getAs[String]("scope") -> (r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_rows"), r.getAs[Long]("n_cand"),
        r.getAs[Long]("n_dup"), r.getAs[Long]("n_skipped"))).toMap
    val out = serve()
    // cross-session reuse: a fresh registry serves the identical report
    // from the on-disk band store without rebuilding it
    val before = Round12State.builtBand.builds
    Round12State.builtBand.drop()
    assert(serve() == out)
    assert(Round12State.builtBand.builds == before,
      "fresh-marker serve rebuilt the band store")
    val (star, base, delta) = (out("*"), out("base"), out("delta"))
    assert(base._1 + delta._1 == star._1)
    assert(base._2 + delta._2 == star._2)
    assert(base._3 + delta._3 == star._3,
      "candidate pairs do not partition into base-only + delta-touching")
    assert(base._4 + delta._4 == star._4)
    Seq(star, base, delta).foreach { s =>
      assert(s._2 == 2 * s._1, "a doc contributed != 2 band rows")
    }
    if (star._5 == 0) {
      val b2r4 = run("q265_lsh_tuning_curve").collect()
        .filter(_.getAs[String]("config") == "b2r4").head
      assert(star._3 == b2r4.getAs[Long]("n_cand"),
        "store-served candidates != q265's b2r4 candidate count")
      assert(star._4 == b2r4.getAs[Long]("n_tp"),
        "store-served verified dups != q265's b2r4 true positives")
    }
  }

  test("q290 diff is sparse and exactly explained: changed <=> delta " +
    "rows present (dup-free corpus), untouched shards byte-identical, " +
    "row deltas conserve") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = run("q290_release_diff_audit").collect().map(r =>
      (r.getAs[Long]("shard"), r.getAs[Long]("base_rows"),
        r.getAs[Long]("new_rows"), r.getAs[Long]("base_fp"),
        r.getAs[Long]("new_fp"), r.getAs[Long]("changed"),
        r.getAs[Long]("n_delta")))
    assert(rows.length == 32)
    rows.foreach { case (sh, br, nr, bf, nf, ch, nd) =>
      // this corpus has no cross-slice exact dups, so no winner is
      // displaced: a shard changes exactly when delta rows landed in it
      assert((ch == 1L) == (nd > 0L),
        s"shard $sh: changed=$ch but n_delta=$nd")
      if (ch == 0L) assert(br == nr && bf == nf,
        s"shard $sh: unchanged but manifests differ")
      else assert(nr == br + nd,
        s"shard $sh: new_rows != base_rows + n_delta")
    }
    val changed = rows.count(_._6 == 1L)
    assert(changed > 0 && changed < 32,
      s"diff is degenerate: $changed/32 shards changed")
    assert(rows.map(_._3).sum == rows.map(_._2).sum + rows.map(_._7).sum)
  }
}
