package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** The distributed contraction path of Components must produce exactly the
  * labeling of the single-task union-find (itself property-tested against
  * a naive transitive closure in UnionFindSpec) — forced via a zero
  * single-task threshold.
  */
class ComponentsSpec extends AnyFunSuite with GraftSpark {

  override protected def sparkOverrides: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "3")

  private def run(edges: Seq[(Long, Long)], threshold: Long): Map[Long, Long] = {
    import spark.implicits._
    Components.label(spark, edges.toDF("a", "b"), threshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def expected(edges: Seq[(Long, Long)]): Map[Long, Long] =
    UnionFind.components(edges.iterator).toMap

  test("contraction path matches union-find on a chain (worst diameter)") {
    val chain = (1L to 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(run(chain, threshold = 0) == expected(chain))
  }

  test("contraction path on mixed components, including singleton loops") {
    val edges = Seq(
      (5L, 3L), (3L, 9L), (9L, 5L),         // triangle with a cycle
      (20L, 21L), (22L, 21L),               // small star
      (40L, 40L),                           // self-loop only
      (50L, 60L))                           // far-apart pair
    assert(run(edges, threshold = 0) == expected(edges))
  }

  test("contraction path on random graphs matches union-find") {
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { _ =>
      val edges = Seq.fill(60)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      assert(run(edges, threshold = 0) == expected(edges))
    }
  }

  test("single-task path (threshold above edge count) gives the same labels") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
    assert(run(edges, threshold = 1000) == expected(edges))
    assert(run(edges, threshold = 1000) == run(edges, threshold = 0))
  }

  test("round telemetry: chain converges in O(log n) recorded rounds") {
    val chain = (1L to 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    run(chain, threshold = 0)
    val rounds = Components.lastContractRounds
    // pointer doubling: well under the 39-round diameter bound, and the
    // final recorded round is the zero-change convergence check
    assert(rounds.nonEmpty && rounds.size <= 12,
      s"chain took ${rounds.size} rounds: $rounds")
    assert(rounds.last == 0L, s"last round must record convergence: $rounds")
    assert(rounds.init.forall(_ > 0L), s"non-final rounds must progress: $rounds")
  }

  test("round cap fails loud instead of spinning") {
    import spark.implicits._
    val chain = (1L to 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val e = intercept[IllegalStateException] {
      Components.label(spark, chain.toDF("a", "b"),
        maxSingleTaskEdges = 0, maxRounds = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }
}
