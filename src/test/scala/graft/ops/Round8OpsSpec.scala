package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 invariants beyond the DuckDB hash compare: the HNSW+PQ
  * serve (q241) must rank hops by stored-code ADC yet still agree with
  * an independently computed exact brute force on its referee columns,
  * and its result must be a well-formed top-10.
  */
class Round8OpsSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available: Boolean =
    new java.io.File(dir, "documents.parquet").exists()

  test("q241: full top-10, exact-descending order, distinct ids, and " +
    "in_exact flags that agree with an independent brute force") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val rows = graft.SparkEntry.queries("q241_graph_pq_serve")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.length == 10, "HNSW+PQ serve must return a full top-10")
    assert(rows.map(_._1).distinct.length == 10, "ids must be distinct")
    assert(!rows.exists(_._1 == 0L), "the query must never serve itself")
    // output ordered by exact desc, id asc (the refine stage's order)
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._3 > b._3 || (a._3 == b._3 && a._1 < b._1) })
    // referee agreement with an independently computed exact top-10
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
    rows.foreach { case (id, _, _, inExact) =>
      assert((inExact == 1) == exactTop.contains(id),
        s"in_exact flag wrong for vec $id")
    }
    // the ADC ranking is an approximation, but the exact refine must
    // recover at least one true neighbour for the gate to mean anything
    assert(rows.count(_._4 == 1) >= 1,
      "ADC-ranked beam recovered none of the exact top-10")
  }

  test("q241 is deterministic across executions (persisted artifacts " +
    "+ integer ADC: a re-run serves the identical rows)") {
    assume(available, s"$dir absent — skipping")
    val a = graft.SparkEntry.queries("q241_graph_pq_serve")(spark, dir)
      .collect().toSeq
    val b = graft.SparkEntry.queries("q241_graph_pq_serve")(spark, dir)
      .collect().toSeq
    assert(a == b, "re-run diverged")
  }

  test("q242: every served id satisfies the metadata predicate, the " +
    "eligible-visited count is bounded by the visited count, and the " +
    "widened-beam visited set stays corpus-size-independent") {
    assume(available, s"$dir absent — skipping")
    import org.apache.spark.sql.functions._
    val rows = graft.SparkEntry
      .queries("q242_filtered_graph_ann")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty && rows.length <= 10)
    val eligible = graft.Tables.table(spark, dir, "documents")
      .filter(col("lang") === "en").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    rows.foreach { case (id, _, _, nv, ne) =>
      assert(eligible.contains(id), s"served ineligible doc $id")
      assert(ne <= nv, "eligible-visited exceeds visited")
      // entries (<= NPROBE cells) + HOPS * FW(8) * DEG neighbours
      assert(nv <= 2 + 3 * 8 * 6, s"visited $nv exceeds the FW bound")
    }
  }

  test("q243: exactly the two ranking modes, visited sets bounded, " +
    "recall counted out of the brute-force top-10") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q243_graph_rank_mode_curve")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq("adc", "exact"))
    rows.foreach { case (mode, nv, nh) =>
      assert(nv > 0 && nv <= 2 + 3 * 4 * 6,
        s"$mode visited $nv out of bounds")
      assert(nh >= 0 && nh <= 10, s"$mode n_hit $nh out of range")
    }
  }

  test("q244: the pointer names generation 2 after an atomic flip " +
    "(no temp file left behind), v1 is the smaller generation, and a " +
    "re-run serves identically") {
    assume(available, s"$dir absent — skipping")
    val a = graft.SparkEntry
      .queries("q244_index_generation_swap")(spark, dir).collect()
    val proot = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_idxptr_${graft.ops.ArtifactStore.dirDigest(dir)}")
    val ptr = java.nio.file.Files.readString(
      proot.resolve("current.json"))
    assert(ptr.contains("\"gen\":2"), s"pointer not at gen 2: $ptr")
    // the flip goes through a UNIQUE temp file — none may survive it
    val leftover = java.nio.file.Files.list(proot).toArray
      .map(_.toString).filter(_.endsWith(".tmp"))
    assert(leftover.isEmpty,
      s"atomic flip left temp files behind: ${leftover.mkString(",")}")
    a.foreach { r =>
      assert(r.getLong(4) == 2L, "served generation must be 2")
      assert(r.getLong(5) < r.getLong(6), "v1 must be smaller than v2")
    }
    val b = graft.SparkEntry
      .queries("q244_index_generation_swap")(spark, dir).collect()
    assert(a.toSeq == b.toSeq, "re-run diverged after the swap")
  }
}
