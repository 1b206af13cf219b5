package graft

import org.apache.spark.sql.{AnalysisException, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import graft.functions._

/** The one place a session is opened and given the graft SQL functions —
  * the port of ask-duckdb's single "open the database" step
  * (query_llm.py:441-455).
  *
  * A new kernel joins the `kernels` table below; no call site registers
  * a function itself. Every gate passes through `Tables.registerAll`,
  * which calls [[setup]]; a micro-batch that runs on a cloned session
  * calls [[setup]] on that clone.
  */
object GraftSession {

  /** name -> builder for every expression kernel; pq_encode/adc_codes
    * bind Pq's geometry (M=4, SUB=16).
    */
  private val kernels: Seq[(String, FunctionBuilder)] = Seq(
    ("array_dot", es => ArrayDot(es.head, es(1))),
    ("int_dot", es => IntDot(es.head, es(1))),
    ("double_dot", es => DoubleDot(es.head, es(1))),
    ("pq_encode", es => PqEncodeExpr(es.head, es(1), 4, 16)),
    ("adc_codes", es => AdcCodes(es.head, es(1), es(2), 16)),
    ("token_hashes_pos", es => TokenHashesPos(es.head)),
    ("token_hashes", es => TokenHashesDistinct(es.head)),
    ("char_fold", es => CharFold(es.head,
      es(1).eval().asInstanceOf[Number].longValue(),
      es(2).eval().asInstanceOf[Number].longValue())),
    ("token_jaccard", es => TokenJaccard(es.head, es(1))),
    // arity is checked: the argument list comes from user SQL
    ("token_jaccard_sorted", {
      case Seq(a, b) => TokenJaccardSorted(a, b)
      case es =>
        throw new AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> "`token_jaccard_sorted`",
            "expectedNum" -> "2",
            "actualNum" -> es.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
    }),
    ("nfc_normalize", es => NfcNormalize(es.head)),
    ("graft_hll", es => HllAgg(es.head)))

  /** Give `spark` every graft SQL function it lacks. Idempotent: a name
    * already in the session's registry is left as it is, so a second
    * call replaces nothing.
    */
  def setup(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def lacks(name: String) = !reg.functionExists(FunctionIdentifier(name))
    reg.synchronized {
      kernels.foreach { case (name, build) =>
        if (lacks(name)) reg.createOrReplaceTempFunction(name, build, "built-in")
      }
      if (lacks("wavg"))
        spark.udf.register("wavg", org.apache.spark.sql.functions.udaf(
          WeightedAvg.aggregator, Encoders.product[WeightedAvg.In]))
    }
  }

  /** The session every local entry point opens: `local[cpus]`, one
    * shuffle partition per core, UTC, no UI, and AQE on explicitly (a
    * reused session gets it back even after a caller switched it off).
    *
    * The AQE coalescing knobs are pinned to Spark's own values.
    * parallelismFirst=false (size-honoring coalescing) was measured and
    * rejected: post-shuffle bytes do not measure compute, so the 64m
    * advisory collapsed the CPU-bound string gates to single-task stages
    * (q204 2.9 s -> 7.2 s at sf0.1/32c) while the sub-second gates moved
    * within noise.
    */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.ui.enabled", "false")
}
