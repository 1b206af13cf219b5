package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 run-operations invariants: the rebalance plan must conserve
  * tokens and exactly settle every shard; the outlier QC must partition
  * the corpus and carry a consistent witness; the leakage-safe split
  * must leak ZERO duplicated grams where the naive split provably
  * leaks; the incremental ExactSubstr must equal the batch rebuild.
  */
class Round12FinalSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available(d: String): Boolean =
    new java.io.File(d, "documents.parquet").exists()

  test("q281: the plan conserves tokens and settles every donor and " +
    "receiver exactly") {
    assume(available(dir), s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val moves = graft.SparkEntry
      .queries("q281_shard_rebalance_plan")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(moves.nonEmpty, "the plan must be ACTIVE at the gate SF")
    moves.foreach { case (_, _, t) => assert(t > 0, "no empty moves") }
    // recompute shard loads and targets independently
    val sh = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy((col("doc_id") % 32).as("shard"))
      .agg(sum(size(split(col("text"), " "))).cast("long").as("toks"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tot = sh.values.sum
    def target(s: Long) = tot / 32 + (if (s < tot % 32) 1L else 0L)
    val surplus = sh.map { case (s, t) => s -> (t - target(s)) }
    assert(moves.map(_._3).sum == surplus.values.filter(_ > 0).sum,
      "total moved == total surplus (conservation)")
    // applying the plan settles every shard to its exact target
    val out = moves.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    val in = moves.groupBy(_._2).view.mapValues(_.map(_._3).sum)
    surplus.foreach { case (s, sp) =>
      val net = out.getOrElse(s, 0L) - in.getOrElse(s, 0L)
      assert(net == sp, s"shard $s settles exactly (net $net != $sp)")
    }
    // moves count is bounded by donors + receivers - 1 (the interval
    // matching emits at most one extra move per boundary crossing)
    val nd = surplus.values.count(_ > 0)
    val nr = surplus.values.count(_ < 0)
    assert(moves.length <= nd + nr - 1, "minimal-move interval matching")
  }

  test("q282: cells partition the corpus, witnesses are consistent, " +
    "and the QC flags someone at the gate SF") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q282_embedding_outlier_qc")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.map(_._2).sum == nVecs, "cells partition the corpus")
    rows.foreach { case (_, n, _, nOut, idSum) =>
      assert(nOut <= n)
      assert((nOut == 0) == (idSum == 0), "witness consistency")
    }
    assert(rows.exists(_._4 > 0), "the QC must be ACTIVE at the gate SF")
  }

  test("q283: the component split leaks ZERO duplicated grams, the " +
    "naive split leaks, and both splits partition the corpus") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q283_leakage_safe_split")(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(5), r.getLong(6)))).toMap
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    Seq("component", "naive").foreach { m =>
      val tr = rows((m, "train"))
      val va = rows((m, "val"))
      assert(tr._1 + va._1 == nDocs, s"$m split partitions the corpus")
      assert(va._1 > 0, s"$m val side is nonempty")
    }
    assert(rows(("component", "train"))._3 == 0L &&
      rows(("component", "val"))._3 == 0L,
      "the component split leaks ZERO duplicated grams BY CONSTRUCTION")
    assert(rows(("naive", "train"))._3 > 0L,
      "the naive doc-hash split demonstrably leaks on this corpus — " +
        "the evidence the component pass matters")
  }

  test("q284 equals q277 row for row: the incremental gram-store " +
    "merge rebuilds the batch answer exactly") {
    assume(available(dir), s"$dir absent — skipping")
    val batch = graft.SparkEntry
      .queries("q277_exactsubstr_dedup")(spark, dir).collect()
      .map(_.toString).toSeq
    val incr = graft.SparkEntry
      .queries("q284_exactsubstr_incremental")(spark, dir).collect()
      .map(_.toString).toSeq
    assert(incr == batch, "merge == rebuild")
    // the delta slice is nonempty at this SF — the merge demonstrably
    // folded something
    val nDelta = spark.read.parquet(s"$dir/documents.parquet")
      .where("doc_id % 7 = 3").count()
    assert(nDelta > 0, "delta slice nonempty (the merge is ACTIVE)")
  }
}
