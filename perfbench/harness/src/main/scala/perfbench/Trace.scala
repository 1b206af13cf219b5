package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkConf, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Totals the traced run's listeners collect. The listeners are registered
  * through static session confs (see [[Trace.confs]]), so sessions a gate
  * clones or creates report here too.
  */
object Trace {
  val counters: Seq[String] = Seq(
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.task_run_ms", "spark.task_cpu_ns", "spark.task_gc_ms",
    "spark.shuffle_write_b", "spark.shuffle_read_b", "spark.spill_b",
    "spark.input_b", "spark.output_b",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "stream.batches", "stream.trigger_ms")
  private val totals: Map[String, AtomicLong] =
    counters.map(_ -> new AtomicLong).toMap
  def add(name: String, v: Long): Unit = totals(name).addAndGet(v)

  /** (start ms, end ms) of every finished job, by the scheduler's clock. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  def jobStarted(id: Int, t: Long): Unit = jobStarts.put(id, t)
  def jobEnded(id: Int, t: Long): Unit =
    Option(jobStarts.remove(id)).foreach(s => jobIntervals.add((s, t)))

  def confs: Seq[(String, String)] = Seq(
    "spark.extraListeners" -> classOf[JobListener].getName,
    "spark.sql.queryExecutionListeners" -> classOf[PhaseListener].getName,
    "spark.sql.streaming.streamingQueryListeners" ->
      classOf[StreamListener].getName)

  /** Counter values plus JVM GC and JIT time, read after the bus drains. */
  def snapshot(spark: SparkSession): Map[String, Long] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    totals.map { case (k, v) => k -> v.get } ++
      Map("jvm.gc_ms" -> gc, "jvm.jit_ms" -> jit)
  }

  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a(k)) }

  /** Per-layer metrics from a counter difference, per timed op: an ask, or a
    * pass over the gate list. */
  def layers(d: Map[String, Long], ops: Double, gapMs: Long): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> d("spark.jobs") / ops,
      "spark.stages" -> d("spark.stages") / ops,
      "spark.tasks" -> d("spark.tasks") / ops,
      "spark.failed_tasks" -> d("spark.failed_tasks") / ops,
      "spark.driver_gap_s" -> gapMs / 1e3 / ops,
      "spark.task_run_s" -> d("spark.task_run_ms") / 1e3 / ops,
      "spark.task_cpu_s" -> d("spark.task_cpu_ns") / 1e9 / ops,
      "spark.task_gc_s" -> d("spark.task_gc_ms") / 1e3 / ops,
      "spark.shuffle_write_mb" -> d("spark.shuffle_write_b") / mb / ops,
      "spark.shuffle_read_mb" -> d("spark.shuffle_read_b") / mb / ops,
      "spark.spill_mb" -> d("spark.spill_b") / mb / ops,
      "spark.input_mb" -> d("spark.input_b") / mb / ops,
      "spark.output_mb" -> d("spark.output_b") / mb / ops,
      "catalyst.analysis_ms" -> d("catalyst.analysis_ms") / ops,
      "catalyst.optimization_ms" -> d("catalyst.optimization_ms") / ops,
      "catalyst.planning_ms" -> d("catalyst.planning_ms") / ops,
      "stream.batches" -> d("stream.batches") / ops,
      "stream.trigger_ms" -> d("stream.trigger_ms") / ops,
      "jvm.gc_s" -> d("jvm.gc_ms") / 1e3 / ops,
      "jvm.jit_ms" -> d("jvm.jit_ms") / ops)
  }

  /** Milliseconds of the given intervals that no running job covers. */
  def driverGapMs(calls: Seq[(Long, Long)]): Long = {
    val jobs = jobIntervals.asScala.toVector.sortBy(_._1)
    val merged = mutable.ArrayBuffer[(Long, Long)]()
    jobs.foreach { case (s, e) =>
      if (merged.nonEmpty && s <= merged.last._2)
        merged(merged.size - 1) = (merged.last._1, merged.last._2.max(e))
      else merged += ((s, e))
    }
    calls.map { case (cs, ce) =>
      val busy = merged.map { case (s, e) => (e.min(ce) - s.max(cs)).max(0L) }.sum
      (ce - cs) - busy
    }.sum
  }

  /** Files and bytes under a directory tree (the run's artifact root). */
  def walk(root: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) =>
          (n + 1, b + java.nio.file.Files.size(f)) }
      finally s.close()
    }
  }
}

class JobListener(conf: SparkConf) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Trace.add("spark.jobs", 1)
    Trace.jobStarted(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Trace.jobEnded(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Trace.add("spark.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Trace.add("spark.tasks", 1)
    if (e.reason != Success) Trace.add("spark.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      Trace.add("spark.task_run_ms", m.executorRunTime)
      Trace.add("spark.task_cpu_ns", m.executorCpuTime)
      Trace.add("spark.task_gc_ms", m.jvmGCTime)
      Trace.add("spark.shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      Trace.add("spark.shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      Trace.add("spark.spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      Trace.add("spark.input_b", m.inputMetrics.bytesRead)
      Trace.add("spark.output_b", m.outputMetrics.bytesWritten)
    }
  }
}

class PhaseListener extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      phase match {
        case "analysis"     => Trace.add("catalyst.analysis_ms", s.durationMs)
        case "optimization" => Trace.add("catalyst.optimization_ms", s.durationMs)
        case "planning"     => Trace.add("catalyst.planning_ms", s.durationMs)
        case _ =>
      }
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
}

class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    Trace.add("stream.batches", 1)
    Option(e.progress.durationMs.get("triggerExecution"))
      .foreach(ms => Trace.add("stream.trigger_ms", ms.longValue))
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

/** Wall-clock spans the traced run records around calls into the program,
  * summed per name.
  */
final class Spans {
  private val ns = mutable.LinkedHashMap[String, Long]()
  def time[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally ns(name) = ns.getOrElse(name, 0L) + (System.nanoTime() - t0)
  }
  def totalsNs: Map[String, Long] = ns.toMap
}
