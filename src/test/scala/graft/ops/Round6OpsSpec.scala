package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 gate invariants beyond the DuckDB hash compare: the NB
  * classifier's confusion matrix must account for every test doc and
  * carry real signal (not a constant-prediction collapse), and the
  * matryoshka rerank's exact referee column must agree with the
  * brute-force top-k on overlap.
  */
class Round6OpsSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available: Boolean =
    new java.io.File(dir, "documents.parquet").exists()

  test("q218: confusion matrix partitions the test split exactly; " +
    "prediction is not a single-class collapse") {
    assume(available, s"$dir absent — skipping")
    import spark.implicits._
    val cm = graft.SparkEntry.queries("q218_nb_lang_classifier")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nTest = graft.Tables.table(spark, dir, "documents")
      .filter($"doc_id" % 5 === 0).count()
    assert(cm.map(_._3).sum == nTest,
      "confusion matrix does not account for every test doc")
    assert(cm.map(_._3).forall(_ > 0), "zero-count confusion cell emitted")
    val langs = cm.map(_._1).distinct.sorted
    assert(langs.length >= 2, "test split collapsed to one label")
    assert(cm.map(_._2).distinct.length >= 2,
      "NB predicts one class for everything — no learned signal")
    // ordered deterministically for the driver's hash compare
    assert(cm.sortBy(c => (c._1, c._2)).toSeq == cm.toSeq)
  }

  test("q218: trained accuracy beats chance") {
    assume(available, s"$dir absent — skipping")
    val cm = graft.SparkEntry.queries("q218_nb_lang_classifier")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val correct = cm.collect { case (l, p, n) if l == p => n }.sum
    val total = cm.map(_._3).sum
    val nLangs = cm.map(_._1).distinct.length
    // the synthetic corpus's per-lang unigram signal is weak by design
    // (shared vocabulary, frequency-only differences), so the floor is
    // above-CHANCE, not above-majority: at sf0.001 NB lands ~30% vs 20%
    // chance; a broken likelihood join lands at or below chance
    assert(correct.toDouble / total > 1.0 / nLangs,
      s"NB accuracy $correct/$total at or below chance (1/$nLangs) — " +
        "no learned signal")
  }

  test("q219: referee column is consistent and recall is reported " +
    "against the true exact top-10") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("q219_matryoshka_rerank")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    assert(out.length == 10)
    // independent brute-force referee: full-dim exact top-10
    val e = graft.Tables.table(spark, dir, "embeddings")
    val q0 = e.filter(col("vec_id") === 0)
      .select(expr(
        "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000" +
          " + 0.5) AS BIGINT))").as("qs"))
    val exact = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"), expr(
        "aggregate(zip_with(transform(embedding, v -> CAST(FLOOR(CAST(v " +
          "AS DOUBLE) * 1000000 + 0.5) AS BIGINT)), qs, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("d"))
      .orderBy(col("d").desc, col("vec_id").asc).limit(10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, fullDot, inExact) =>
      assert((inExact == 1) == exact.contains(id),
        s"vec $id: in_exact flag disagrees with brute-force referee")
      exact.get(id).foreach(d =>
        assert(d == fullDot, s"vec $id: rerank dot != exact dot"))
    }
    // the two-stage path must find at least half the true neighbours at
    // C=64 on this corpus — a broken coarse stage scores near 0
    assert(out.count(_._3 == 1) >= 5,
      "matryoshka recall@10 < 0.5 — prefix stage is not finding neighbours")
  }

  test("q220: residual ADC search is probe-bounded and its exact column " +
    "matches brute force on overlap") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("q220_residual_ivf_pq")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3), r.getLong(4)))
    assert(out.length == 10)
    val nTotal = graft.Tables.table(spark, dir, "embeddings").count() - 1
    val nCand = out.head._4
    assert(out.forall(_._4 == nCand), "n_cand is not constant")
    assert(nCand > 10 && nCand < nTotal,
      s"probe bound broken: n_cand=$nCand of $nTotal — the probe stage " +
        "either found nothing or scanned the whole corpus")
    // exact column must agree with an independent brute-force referee
    val e = graft.Tables.table(spark, dir, "embeddings")
    val scaled = "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE)" +
      " * 1000000 + 0.5) AS BIGINT))"
    val q0 = e.filter(col("vec_id") === 0).select(expr(scaled).as("qs"))
    val exact = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"), expr(
        s"aggregate(zip_with($scaled, qs, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, ex, _, _) =>
      assert(exact(id) == ex, s"vec $id: exact column != brute force")
    }
    val topTen = exact.toSeq.sortBy { case (id, d) => (-d, id) }
      .take(10).map(_._1).toSet
    out.foreach { case (id, _, inExact, _) =>
      assert((inExact == 1) == topTen.contains(id),
        s"vec $id: in_exact flag disagrees with brute-force referee")
    }
  }

  test("q221: SQ8 recall is near-exact and the approx score tracks the " +
    "exact dot") {
    assume(available, s"$dir absent — skipping")
    val out = graft.SparkEntry.queries("q221_sq8_quantized_search")(
      spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.length == 10)
    // 8-bit-per-dim quantization loses far less than PQ's M codes: the
    // top-10 by approx must capture most of the exact top-10
    assert(out.count(_._4 == 1) >= 8,
      s"SQ8 recall@10 = ${out.count(_._4 == 1)}/10 — an 8-bit scalar " +
        "quantizer should be near-exact")
    // approx is the dequantized dot ×255: it must sit within the
    // worst-case quantization error of 255×exact. Per-dim error ≤
    // (mx-mn)/255·|q_i| ⇒ |approx − 255·exact| ≤ Σ (mx_i−mn_i)·|q_i|;
    // a loose but structural sanity bound: same sign region and
    // correct order of magnitude
    out.foreach { case (id, approx, exact, _) =>
      val diff = math.abs(approx - 255L * exact)
      assert(diff < math.abs(255L * exact) / 10 + 255L * 1000000L,
        s"vec $id: dequantized score $approx far from 255×exact " +
          s"${255L * exact} — quantizer arithmetic broken")
    }
  }

  test("q222: probe curve covers the log-spaced grid up to the " +
    "corpus-derived cell count, is monotone, and probing every cell " +
    "recovers exact recall") {
    assume(available, s"$dir absent — skipping")
    val out = graft.SparkEntry.queries("q222_ivf_probe_curve")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // the level spine: {min(2^g, CK)} with CK = max(4, floor(sqrt(n))/2)
    // derived from the corpus — the round-6 verdict's scale-derived
    // geometry (fixed CK=4 is gone)
    val n = graft.Tables.table(spark, dir, "embeddings").count()
    val ck = math.max(4L, math.floor(math.sqrt(n.toDouble)).toLong / 2)
    val grid = (0 to 30).map(g => math.min(1L << g, ck)).distinct.sorted
    assert(out.map(_._1).toSeq == grid,
      s"levels ${out.map(_._1).toSeq} != expected grid $grid")
    assert(ck > 4, s"corpus of $n vectors should derive CK > 4, got $ck")
    // candidates never shrink with nprobe, and recall can only improve
    // as more cells are probed
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2, s"n_cand decreased at nprobe=${b._1}")
      assert(b._3 >= a._3, s"hits decreased at nprobe=${b._1}")
    }
    // the self-check: nprobe=CK scores the whole corpus exactly
    val last = out.last
    assert(last._1 == ck, s"last level ${last._1} != CK $ck")
    assert(last._2 == n - 1,
      s"full probe covers ${last._2} of ${n - 1} vectors")
    assert(last._4 == 1.0, "full probe must recover exact recall@10")
  }

  test("q223: the streamed index serves every query a full, ordered " +
    "top-10") {
    assume(available, s"$dir absent — skipping")
    val out = graft.SparkEntry.queries("q223_stream_vector_search")(
      spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byQ = out.groupBy(_._1)
    assert(byQ.size == 32, s"expected 32 served queries, got ${byQ.size}")
    byQ.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to 10L),
        s"query $qid: ranks not 1..10")
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a._4 > b._4 || (a._4 == b._4 && a._3 < b._3),
          s"query $qid: results not ordered by (score desc, vec_id)")
      }
      assert(!rows.exists(_._3 == qid),
        s"query $qid: returned itself as a neighbour")
    }
  }

  test("q223 sink is retry-idempotent: replaying a micro-batch leaves " +
    "the output bit-for-bit unchanged") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    // the exact serving path q223's foreachBatch runs, driven directly
    // so one micro-batch can be REPLAYED (foreachBatch is at-least-once;
    // a retried batch must replace, not append — round-6 verdict task 2)
    val e = graft.Tables.table(spark, dir, "embeddings")
    val coarse = KMeans.codebook(spark, e, KMeans.servingK(e), 2)
    val lists = KMeans.assign(e, coarse)
      .select(col("vec_id"), col("cid"),
        expr(KMeans.scaleExpr("embedding")).as("sv"))
    val out = java.nio.file.Files
      .createTempDirectory("graft_replay").toString
    val batch = e.filter(col("vec_id") < 32)
    Round6Ops.serveBatch(lists, coarse, out)(batch, 7L)
    def snapshot(): Seq[Seq[Any]] = spark.read.parquet(s"$out/b7")
      .collect().map(_.toSeq.toList: Seq[Any]).toSeq
      .sortBy(_.mkString("|"))
    val first = snapshot()
    assert(first.nonEmpty, "batch produced no rows")
    Round6Ops.serveBatch(lists, coarse, out)(batch, 7L) // the retry
    val second = snapshot()
    assert(second.size == first.size,
      s"replayed batch changed row count ${first.size} -> ${second.size}" +
        " — sink is append-duplicating, not idempotent")
    assert(second == first,
      "replayed batch changed the output — sink is not idempotent")
  }

  test("q224: serving from the persisted artifacts equals the inline " +
    "q207 path row for row") {
    assume(available, s"$dir absent — skipping")
    val fromDisk = graft.SparkEntry.queries("q224_persisted_index_serve")(
      spark, dir).collect().map(_.toSeq).toSeq
    val inline = graft.SparkEntry.queries("q207_ivf_pq_search")(
      spark, dir).collect().map(_.toSeq).toSeq
    assert(fromDisk == inline,
      "persisted-artifact serve diverged from the inline IVF-PQ path — " +
        "persistence must be transparent")
  }
}
