package perfbench

import scala.collection.mutable

/** What one workload run hands back to [[Main]]: the timed ops, the passes,
  * and whatever the output checker needs.
  */
final case class Result(
    setupEndMs: Long,
    opsMs: Seq[Double],
    passesS: Seq[Double],
    attempted: Int,
    failures: Failures,
    extra: Map[String, Any])

/** Ops that threw or disagreed with an earlier answer, with the first few
  * messages kept for the report.
  */
final class Failures {
  private var n = 0
  val messages = mutable.ArrayBuffer[String]()
  def add(msg: String): Unit = {
    n += 1
    if (messages.size < 20) messages += msg
  }
  def count: Int = n
}
