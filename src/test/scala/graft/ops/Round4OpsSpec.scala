package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** In-JVM recomputation checks for the round-4 corpus ops: the rendezvous
  * sharding property and the PII scrub kernel are verified against plain
  * Scala reimplementations on small inputs (the DuckDB oracle is the
  * cross-engine gate; this pins the semantics locally).
  */
class Round4OpsSpec extends AnyFunSuite with GraftSpark {

  override protected def sparkOverrides: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "3")

  private val P = 2147483647L
  private def weight(doc: Long, s: Long): Long = {
    val u = (doc * 2654435761L + s * 40503L) % P
    u * u % P * 16 + s // squared LCG (nonlinear in s) + shard tie-break
  }
  private def hrw(doc: Long, n: Int): Long = (0L until n).maxBy(weight(doc, _))

  test("rendezvous: adding a shard moves docs ONLY to the new shard") {
    val docs = 0L until 5000L
    docs.foreach { d =>
      val s8 = hrw(d, 8); val s9 = hrw(d, 9)
      assert(s9 == s8 || s9 == 8L, s"doc $d moved $s8 -> $s9 (not the new shard)")
    }
  }

  test("rendezvous: movement fraction is ~1/9, never ~8/9 like mod-N") {
    val docs = 0L until 9000L
    val moved = docs.count(d => hrw(d, 9) != hrw(d, 8))
    assert(moved > 500 && moved < 1500, s"moved $moved of 9000")
    val modMoved = docs.count(d => d % 9 != d % 8)
    assert(modMoved > 7000) // the contrast the query demonstrates
  }

  test("rendezvous: per-doc shard weights are distinct (argmax unambiguous)") {
    (0L until 2000L).foreach { d =>
      val ws = (0L until 9L).map(weight(d, _))
      assert(ws.distinct.size == ws.size, s"weight collision for doc $d")
    }
  }

  test("pii scrub: planted email and ip are redacted, word soup untouched") {
    // the cross-engine gate runs q176 end-to-end; this pins the scrub
    // kernel's semantics on a literal string
    val scrub = spark.sql(
      """SELECT regexp_replace(regexp_replace(
        |  'mail user7@example.com and 10.0.7.7 end',
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>'),
        |  '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>') AS c
        |""".stripMargin).head().getString(0)
    assert(scrub == "mail <EMAIL> and <IP> end")
  }

  test("heaps decile bucketing is integer-exact at the bucket boundary") {
    // (doc_id * 10) div n with n = 50: doc 4 -> 0, doc 5 -> 1 (no
    // float rounding up at 4.999..), doc 49 -> 9
    def decile(d: Long, n: Long): Long = math.min(d * 10 / n, 9L)
    assert(decile(4, 50) == 0 && decile(5, 50) == 1 && decile(49, 50) == 9)
    assert(decile(0, 50) == 0)
  }
}
