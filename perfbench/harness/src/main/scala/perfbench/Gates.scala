package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The `gates_*` workloads: passes over a fixed list of oracle-checked
  * gates. Each timed gate call is `SparkEntry.queries(name)(spark, dir)`
  * followed by `count()`; the inter-gate hygiene of `graft.Bench` runs
  * between calls, outside the timers.
  *
  * Set-up ends with two untimed passes. In the checked pass each gate is
  * called and counted as in a timed pass, then its result is written to
  * parquet (as `graft.Verify` does) for the DuckDB oracle compare; that
  * pass also builds each gate's artifacts on first touch. A plain warm-up
  * pass follows.
  */
object Gates {
  /** Plain untimed passes after the checked pass. */
  val WarmupPasses = 1

  private def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    spark.sessionState.catalog.listLocalTempViews("graft_stream*")
      .foreach(v => spark.catalog.dropTempView(v.table))
    System.gc()
  }

  def run(spark: SparkSession, dataDir: String, in: String, out: String,
      seconds: Double, traced: Boolean,
      layers: mutable.Map[String, Double]): Result = {
    val t0 = System.nanoTime()
    graft.Tables.registerAll(spark, dataDir)
    layers("tables.register_ms") = (System.nanoTime() - t0) / 1e6
    val plan = Json.read(s"$in/gates.json")
    val checkOrder = Json.strings(plan.get("check_order"))
    val failures = new Failures

    // checked pass: the timed shape (query function, then count()) warms
    // each gate, then the same DataFrame is written for the oracle compare
    val checked = mutable.ArrayBuffer[Map[String, Any]]()
    checkOrder.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        checked += Map("gate" -> name, "rows" -> df.count())
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/gates/$name")
      } catch { case NonFatal(e) => failures.add(s"$name (checked pass): $e") }
      cleanup(spark)
    }
    // plain untimed passes: in a fresh JVM the first passes still pay for
    // JIT compilation, which swings pass times by a third from run to run
    for (_ <- 1 to WarmupPasses; name <- checkOrder) {
      try SparkEntry.queries(name)(spark, dataDir).count()
      catch { case NonFatal(e) => failures.add(s"$name (warm-up pass): $e") }
      cleanup(spark)
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => checkOrder.contains(k) }

    val passOrders = plan.get("pass_orders")
    val passes = mutable.ArrayBuffer[Double]()
    val ops = mutable.ArrayBuffer[Double]()
    val calls = mutable.ArrayBuffer[(Long, Long)]()
    val opGates = mutable.ArrayBuffer[String]()
    val counts = mutable.ArrayBuffer[Map[String, Any]]()
    val perGate = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val build, action, cleanups = mutable.ArrayBuffer[Double]()
    var artifacts = (0L, 0L)
    val before = if (traced) Trace.snapshot(spark) else Map.empty[String, Long]
    val setupEndMs = System.currentTimeMillis()
    val start = System.nanoTime()
    // whole passes, at least two, while the next should end within `seconds`
    while (passes.size < passOrders.size && (passes.size < 2 ||
        (System.nanoTime() - start) / 1e9 + passes.last <= seconds)) {
      var passS, buildS, actionS, cleanS = 0.0
      Json.strings(passOrders.get(passes.size)).foreach { name =>
        opGates += name
        val c0 = System.currentTimeMillis()
        val a0 = System.nanoTime()
        try {
          val df = SparkEntry.queries(name)(spark, dataDir)
          val a1 = System.nanoTime()
          val n = df.count()
          val a2 = System.nanoTime()
          buildS += (a1 - a0) / 1e9
          actionS += (a2 - a1) / 1e9
          perGate.getOrElseUpdate(name, mutable.ArrayBuffer()) += (a2 - a0) / 1e9
          counts += Map("gate" -> name, "rows" -> n)
        } catch { case NonFatal(e) => failures.add(s"$name: $e") }
        val a3 = System.nanoTime()
        calls += ((c0, System.currentTimeMillis()))
        ops += (a3 - a0) / 1e6
        passS += (a3 - a0) / 1e9
        cleanup(spark)
        cleanS += (System.nanoTime() - a3) / 1e9
      }
      passes += passS
      build += buildS; action += actionS; cleanups += cleanS
      if (traced) artifacts = Trace.walk(graft.ops.ArtifactStore.scratchBase)
    }
    if (traced) {
      layers ++= Trace.layers(Trace.diff(before, Trace.snapshot(spark)),
        passes.size.toDouble, Trace.driverGapMs(calls.toSeq))
      layers("ops.build_s") = Stats.median(build.toSeq)
      layers("ops.action_s") = Stats.median(action.toSeq)
      layers("ops.cleanup_s") = Stats.median(cleanups.toSeq)
      perGate.foreach { case (g, ts) => layers(s"ops.${g}_s") = Stats.median(ts.toSeq) }
      layers("artifact.files") = artifacts._1.toDouble
      layers("artifact.mb") = artifacts._2 / 1024.0 / 1024.0
    }
    Result(
      setupEndMs = setupEndMs,
      opsMs = ops.toSeq,
      passesS = passes.toSeq,
      attempted = (1 + WarmupPasses) * checkOrder.size + ops.size,
      failures = failures,
      extra = Map("oracle" -> oracle, "op_gates" -> opGates.toSeq,
        "counts" -> (checked ++ counts).toSeq))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
