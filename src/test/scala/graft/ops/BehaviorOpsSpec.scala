package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** Independent in-JVM recomputation of the behavioral/graph gate queries
  * on sf0.001 — a second oracle besides the DuckDB compare: sessionization
  * and triangle counts are rebuilt with plain Scala collections from the
  * raw rows and must match the distributed answers exactly.
  */
class BehaviorOpsSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  // epoch-micros from whatever class the row carries (Timestamp for
  // TIMESTAMP columns, LocalDateTime for TIMESTAMP_NTZ) — the spec tests
  // sessionization semantics, not the JVM timestamp class
  private def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp =>
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    case d: java.time.LocalDateTime =>
      val i = d.toInstant(java.time.ZoneOffset.UTC)
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    case i: java.time.Instant =>
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    case other => sys.error(s"unexpected time class: ${other.getClass}")
  }

  test("q154 sessionization matches a sequential recomputation") {
    val raw = graft.Tables.table(spark, dir, "events")
      .filter("user_id < 12")
      .select("user_id", "ts", "event_id")
      .collect()
      .map(r => (r.getLong(0), micros(r.get(1)), r.getLong(2)))
    val expected: Seq[(Long, Long, Long)] = // (user, session, n)
      raw.groupBy(_._1).toSeq.flatMap { case (u, evs) =>
        val sorted = evs.sortBy(e => (e._2, e._3))
        val sessions = scala.collection.mutable.ArrayBuffer[Long]()
        var prev = Long.MinValue
        sorted.foreach { e =>
          if (prev == Long.MinValue || e._2 - prev > 1800000000L)
            sessions += 1L
          else sessions(sessions.size - 1) += 1L
          prev = e._2
        }
        sessions.zipWithIndex.map { case (n, i) => (u, (i + 1).toLong, n) }
      }.sortBy(t => (t._1, t._2))
    val got = graft.SparkEntry.queries("q154_sessionization")(spark, dir)
      .select("user_id", "session_id", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("q158 triangle count matches a brute-force recomputation") {
    val li = graft.Tables.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val support = li.toSeq.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val parts = rows.map(_._2).sorted
      for {
        i <- parts.indices
        j <- (i + 1) until parts.length
        if parts(i) != parts(j)
      } yield (parts(i), parts(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    // NB: not Map.collect{case (p, c) if ... => p} — a tuple-valued
    // partial function selects the Map-building collect overload, which
    // silently dedups by the pair's FIRST element
    val pairs = support.filter(_._2 >= 2).keySet
    val adj = pairs.toSeq.flatMap(p => Seq(p, p.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val expTri = pairs.toSeq.map { case (u, v) =>
      (adj(u) & adj(v)).count(w => w > v) // u < v < w exactly once
    }.sum
    val row = graft.SparkEntry.queries("q158_triangle_count")(spark, dir)
      .collect().head
    assert(row.getAs[Long]("n_edges") == pairs.size)
    assert(row.getAs[Long]("n_triangles") == expTri)
    val closure = row.getAs[Double]("closure_rate")
    assert(closure >= 0.0 && closure <= 1.0)
  }

  test("q163 gap fill emits one contiguous daily spine per user") {
    val rows = graft.SparkEntry.queries("q163_gap_fill_interpolate")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), micros(r.getTimestamp(1)), r.getString(2),
        r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, seq) =>
      val days = seq.map(_._2).sorted
      // consecutive days, 86400s apart, no holes in the re-grid
      assert(days.sliding(2).forall {
        case Array(a, b) => b - a == 86400000000L
        case _           => true
      })
      val byDay = seq.sortBy(_._2)
      // spine endpoints are that user's min/max observed day → actual
      assert(byDay.head._3 == "actual" && byDay.last._3 == "actual")
    }
    assert(rows.exists(_._3 == "filled"), "test data has no daily gaps")
  }

  test("q164 argmax surface matches a direct recomputation") {
    val sup = graft.Tables.table(spark, dir, "supplier")
      .select("s_name", "s_acctbal", "s_suppkey", "s_nationkey")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getInt(3)))
    val nat = graft.Tables.table(spark, dir, "nation")
      .select("n_nationkey", "n_name")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val expected = sup.groupBy(s => nat(s._4)).map { case (nn, ss) =>
      val top = ss.maxBy(s => (s._2, s._3))
      val bot = ss.minBy(s => (s._2, s._3))
      nn -> (top._1, bot._1)
    }
    val got = graft.SparkEntry.queries("q164_argmax_surface")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(3))).toMap
    assert(got == expected)
  }
}
