package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 batch-3 invariants beyond the DuckDB hash compare: the graph
  * beam search must visit a corpus-size-independent number of vectors
  * (the property that makes graph ANN a serving tier), and its referee
  * columns must agree with an independently computed brute force.
  */
class Round7FinalSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available: Boolean =
    new java.io.File(dir, "documents.parquet").exists()

  test("q233: bounded visited set, descending exact order, and referee " +
    "columns that agree with an independent brute force") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val rows = graft.SparkEntry.queries("q233_graph_beam_search")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.length == 10, "beam search must return a full top-10")
    // visited is bounded by entries + HOPS * BEAM * DEG regardless of
    // corpus size — the serving-cost invariant
    val bound = 2 + 3 * 4 * 6
    rows.foreach { case (_, _, _, nVisited, _) =>
      assert(nVisited <= bound, s"visited $nVisited exceeds bound $bound")
    }
    // exact scores strictly ordered (desc, then id asc) and ids distinct
    assert(rows.map(_._1).distinct.length == 10)
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) })
    // referee agreement: in_exact flags exactly the brute-force top-10
    // members, and n_hit is their count
    val e = graft.Tables.table(spark, dir, "embeddings")
    val scaled = "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE)" +
      " * 1000000 + 0.5) AS BIGINT))"
    val q0 = e.filter(col("vec_id") === 0).select(expr(scaled).as("qs"))
    val exactTop = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(col("vec_id"), expr(
        "aggregate(zip_with(" + scaled + ", qs, (x, y) -> x * y), " +
          "CAST(0 AS BIGINT), (a, v) -> a + v)").as("ex"))
      .orderBy(col("ex").desc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    rows.foreach { case (id, _, inExact, _, _) =>
      assert((inExact == 1) == exactTop.contains(id),
        s"in_exact flag wrong for vec $id")
    }
    val nHit = rows.head._5
    assert(rows.forall(_._5 == nHit), "n_hit must be constant")
    assert(nHit == rows.count(_._3 == 1).toLong,
      "n_hit must equal the number of flagged rows")
    assert(nHit >= 2, "beam search must find at least 2 of the exact " +
      "top-10 on this corpus (deterministic: measured 3)")
  }

  test("q234: operating curve is monotone in beam width and every " +
    "visited set respects the serving-cost bound") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry.queries("q234_beam_width_curve")(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(2, 4, 8),
      "curve must carry exactly the configured beam widths, ascending")
    rows.foreach { case (beam, nVisited, nHit) =>
      // entries (<= NPROBE) + HOPS * beam * DEG new vectors per hop
      assert(nVisited <= 2 + 3 * beam * 6,
        s"beam=$beam visited $nVisited exceeds its bound")
      assert(nHit >= 0 && nHit <= 10)
    }
    // widening the beam never shrinks coverage or recall — the property
    // that makes the curve a tuning signal (deterministic on this
    // corpus: visited 16/33/51, hits 2/3/4)
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 <= b._2 && a._3 <= b._3 })
    assert(rows.last._3 >= 4, "beam=8 must recover at least 4 of the " +
      "exact top-10 (deterministic: measured 4)")
  }

  test("q235: incremental ingest is fingerprint-identical to a full " +
    "rebuild and the serve path keeps the bounded-visited invariant") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q235_graph_incremental_ingest")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.length == 10, "serve must return a full top-10")
    rows.foreach { case (_, _, _, nVisited, nNew, nTouched, rowsD, fpD) =>
      // THE theorem: untouched sources keep their edges verbatim,
      // touched ones are recomputed — and the result is row-identical
      // to rebuilding the whole graph over the union corpus
      assert(rowsD == 0L, s"rows_delta $rowsD != 0: ingest != rebuild")
      assert(fpD == 0L, s"fp_delta $fpD != 0: ingest != rebuild")
      assert(nNew > 0, "the delta batch must be non-empty")
      assert(nTouched > 0, "new vectors must touch at least one cell")
      assert(nVisited <= 2 + 3 * 4 * 6,
        s"visited $nVisited exceeds the serving bound")
    }
    // ordered output, distinct ids
    assert(rows.map(_._1).distinct.length == 10)
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) })
  }

  test("q236: hierarchical descent keeps BOTH layers' visited sets " +
    "bounded and still recovers exact-top-10 members") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q236_hierarchical_graph_search")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.length == 10, "hierarchical search must return a top-10")
    rows.foreach { case (_, _, _, nL1, nL0, nHit) =>
      // layer 1: one fixed entry + HOPS*L1BEAM*DEG; layer 0: BEAM
      // seeds + HOPS*BEAM*DEG — corpus-size-independent, both layers
      assert(nL1 <= 1 + 3 * 2 * 6, s"layer-1 visited $nL1 over bound")
      assert(nL0 <= 4 + 3 * 4 * 6, s"layer-0 visited $nL0 over bound")
      assert(nHit >= 2, "descent must recover at least 2 of the exact " +
        "top-10 on this corpus (deterministic: measured 2)")
    }
    assert(rows.map(_._1).distinct.length == 10)
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) })
  }

  test("q239: the batch-averaged curve is monotone, bounded per query, " +
    "and carries a denser signal than any single query") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q239_batched_beam_curve")(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(2, 4, 8))
    rows.foreach { case (beam, nVisited, nHit) =>
      // 8 queries, each bounded by entries (<= NPROBE) + HOPS*beam*DEG
      assert(nVisited <= 8L * (2 + 3 * beam * 6),
        s"beam=$beam visited $nVisited exceeds the batch bound")
      assert(nHit >= 0 && nHit <= 80)
    }
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 <= b._2 && a._3 <= b._3 }, "curve must be monotone")
    // 80 referee slots -> recall quantized at 1/80, not 1/10: the
    // batch average is a usable tuning signal (deterministic here:
    // hits 17/20/30)
    assert(rows.last._3 >= 30, "beam=8 must recover at least 30 of 80")
  }

  test("q240: results are well-formed per query and the sink is " +
    "retry-idempotent (a replayed micro-batch replaces, never appends)") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val rows = graft.SparkEntry
      .queries("q240_stream_graph_search")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val qids = rows.map(_._1).distinct
    assert(qids.length == 8, s"expected 8 served queries, got $qids")
    qids.foreach { q =>
      val mine = rows.filter(_._1 == q).sortBy(_._2)
      assert(mine.map(_._2).toSeq == (1L to 10L),
        s"query $q: ranks must be exactly 1..10")
      assert(mine.sliding(2).forall { case Array(a, b) =>
        a._4 > b._4 || (a._4 == b._4 && a._3 < b._3) },
        s"query $q: rank order must follow (exact DESC, vec_id ASC)")
      assert(!mine.exists(_._3 == q),
        s"query $q: returned itself as a neighbour")
    }
    // replay one micro-batch directly through the foreachBatch body —
    // at-least-once delivery means a retried batch must REPLACE
    val (ivc, edges, hard) = Round7Final.graphArtifacts(spark, dir)
    val e = graft.Tables.table(spark, dir, "embeddings")
    val cb = KMeans.codebook(spark, e, KMeans.servingK(e), 2)
    val out = java.nio.file.Files
      .createTempDirectory("graft_greplay").toString
    val batch = e.filter(col("vec_id") < 8)
    Round7Final.serveGraphBatch(ivc, edges, hard, cb, out)(batch, 3L)
    def snapshot(): Seq[Seq[Any]] = spark.read.parquet(s"$out/b3")
      .collect().map(_.toSeq.toList: Seq[Any]).toSeq
      .sortBy(_.mkString("|"))
    val first = snapshot()
    assert(first.nonEmpty, "batch produced no rows")
    Round7Final.serveGraphBatch(ivc, edges, hard, cb, out)(batch, 3L)
    val second = snapshot()
    assert(second == first,
      "replayed batch changed the output — sink is not idempotent")
  }

  test("q237: compaction is fingerprint-identical to a fresh survivor " +
    "build and serving can never return a tombstoned id") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q237_graph_delete_compact")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.length == 10, "post-delete serve must return a top-10")
    rows.foreach { case (id, _, _, nVisited, nTomb, rowsD, fpD) =>
      assert(id % 7 != 3, s"tombstoned vec $id leaked into the result")
      assert(rowsD == 0L, s"rows_delta $rowsD != 0: compact != fresh")
      assert(fpD == 0L, s"fp_delta $fpD != 0: compact != fresh")
      assert(nTomb > 0, "the tombstone set must be non-empty")
      assert(nVisited <= 2 + 3 * 4 * 6,
        s"visited $nVisited exceeds the serving bound")
    }
    assert(rows.map(_._1).distinct.length == 10)
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) })
  }
}
