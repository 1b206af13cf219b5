package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** GraftSession.setup is idempotent and complete, and a suite's session
  * starts from the base conf whatever an earlier suite switched.
  */
class GraftSessionSpec extends AnyFunSuite with GraftSpark {

  private val names = Seq("array_dot", "int_dot", "double_dot",
    "pq_encode", "adc_codes", "token_hashes_pos", "token_hashes",
    "char_fold", "token_jaccard", "token_jaccard_sorted", "nfc_normalize",
    "graft_hll", "wavg")

  private def builders(s: SparkSession) = names.map { n =>
    n -> s.sessionState.functionRegistry
      .lookupFunctionBuilder(FunctionIdentifier(n))
  }.toMap

  test("a second setup replaces nothing: every builder stays the same " +
    "object") {
    val before = builders(spark)
    assert(before.values.forall(_.isDefined), before)
    GraftSession.setup(spark)
    val after = builders(spark)
    names.foreach { n =>
      assert(after(n).get eq before(n).get, s"$n was replaced")
    }
  }

  test("a new session lacks the functions until setup gives it all 13") {
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    assert(!reg.functionExists(FunctionIdentifier("int_dot")))
    GraftSession.setup(fresh)
    names.foreach { n =>
      assert(reg.functionExists(FunctionIdentifier(n)), n)
    }
    assert(fresh.sql("SELECT int_dot(array(1L, 2L), array(3L, 4L))")
      .head().getLong(0) == 11L)
  }

  test("a suite's session gets AQE back after another suite switched " +
    "it off") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val next = GraftSpark.session()
    assert(next eq spark)
    assert(next.conf.get("spark.sql.adaptive.enabled") == "true")
  }
}
