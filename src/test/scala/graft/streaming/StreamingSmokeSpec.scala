package graft.streaming

import graft.GraftSpark
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Smoke coverage for the watermark-bearing streaming gates on the
  * testdata AS SHIPPED by the driver. Round 5 lost six streaming gates
  * (and q76 as-of) to a testdata layout change — TIMESTAMP(MICROS,
  * isAdjustedToUTC=0) loads as TIMESTAMP_NTZ, which watermarks reject
  * with EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE — and no unit test touched
  * that path, so the breakage was only visible in driver artifacts.
  * This spec runs one watermark aggregation (q55) and one stream-stream
  * join (q115) end-to-end on sf0.001, plus asserts the load-time
  * normalization invariant they depend on.
  */
class StreamingSmokeSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  test("events.ts loads as session-zoned TIMESTAMP whatever the parquet layout") {
    val events = graft.Tables.table(spark, dir, "events")
    assert(events.schema("ts").dataType == TimestampType,
      s"ts must normalize to TIMESTAMP, got ${events.schema("ts").dataType}")
  }

  test("q55 watermark tumbling window runs on the shipped events layout") {
    val df = graft.SparkEntry.queries("q55_stream_tumbling")(spark, dir)
    assert(df.count() > 0)
  }

  test("q115 stream-stream join runs on the shipped events layout") {
    val df = graft.SparkEntry.queries("q115_stream_stream_join")(spark, dir)
    assert(df.count() > 0)
  }
}
