package graft.plans

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AsOfJoinSpec extends AnyFunSuite with GraftSpark {

  // force partition seams
  override protected def sparkOverrides: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "3")

  def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asof picks the latest right value at or before each left time") {
    import spark.implicits._
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 11:00:00"), 110.0),
      (2L, ts("2024-01-01 10:30:00"), 200.0))
      .toDF("user_id", "ts", "value")
    val trades = Seq(
      (1L, ts("2024-01-01 09:59:00")), // before any quote -> null
      (1L, ts("2024-01-01 10:00:00")), // equal ts -> inclusive
      (1L, ts("2024-01-01 10:59:59")),
      (1L, ts("2024-01-01 12:00:00")),
      (2L, ts("2024-01-01 10:29:00")), // other key's quotes invisible
      (3L, ts("2024-01-01 10:00:00"))) // key with no quotes at all
      .toDF("user_id", "ts")
    val got = AsOfJoin.asof(trades, quotes, "user_id", "ts", "value")
      .orderBy(col("user_id"), col("ts"))
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSeq
    assert(got == Seq(
      (1L, None), (1L, Some(100.0)), (1L, Some(100.0)), (1L, Some(110.0)),
      (2L, None), (3L, None)))
  }

  test("plan contains AsOfJoinExec (strategy fires)") {
    import spark.implicits._
    val l = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("user_id", "ts")
    val r = Seq((1L, ts("2024-01-01 09:00:00"), 1.0))
      .toDF("user_id", "ts", "value")
    val df = AsOfJoin.asof(l, r, "user_id", "ts", "value")
    // physical nodeName renders without the Exec suffix; AQE wraps the
    // plan, so string-match the rendered tree (its children are hidden
    // from foreach/exists until materialization)
    assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin"))
  }

  test("custom exec equals union+window encoding on events data") {
    val dir = "/root/testdata/sf0.001"
    val custom = graft.SparkEntry.queries("q76_asof_custom_operator")(spark, dir)
    val window = graft.SparkEntry.queries("q32_asof_join")(spark, dir)
    assert(custom.collect().toSeq == window.collect().toSeq)
  }
}
