package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in a fresh JVM.
  *
  *   perfbench.Main --workload W --seconds S --trace 0|1 --cpus N
  *                  --inputs DIR --data DIR --out DIR
  *
  * `--inputs` holds the generated inputs, `--data` the gate tables, and
  * `--out` receives `result.json` plus the gate results the checker reads.
  * The session matches `graft.Bench`: local[N], N shuffle partitions, AQE
  * on, UTC, UI off. Run-local directories come from the environment
  * (`SPARK_LOCAL_DIRS`, `GRAFT_ARTIFACT_ROOT`, the working directory).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cpus = opt("cpus")
    val out = opt("out")

    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.ui.enabled", "false")
    if (traced) Trace.confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val layers = mutable.LinkedHashMap[String, Double]()
    val r =
      try workload match {
        case "bridge_ask" =>
          BridgeAsk.run(spark, opt("inputs"), seconds, traced, layers)
        case w if w.startsWith("gates_") =>
          Gates.run(spark, opt("data"), opt("inputs"), out, seconds, traced, layers)
        case other => sys.error(s"unknown workload $other")
      } finally spark.stop()

    Json.writeFile(s"$out/result.json", Map(
      "setup_end_ms" -> r.setupEndMs,
      "ops_ms" -> r.opsMs,
      "passes_s" -> r.passesS,
      "attempted" -> r.attempted,
      "failed" -> r.failures.count,
      "errors" -> r.failures.messages.toSeq,
      "rss_peak_mb" -> peakRssMb,
      "layers" -> layers,
      "extra" -> r.extra))
  }

  /** VmHWM: the JVM's peak resident set over its whole life. */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(sys.error("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}
