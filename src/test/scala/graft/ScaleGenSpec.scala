package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two ScaleGen perturbation invariants the measured scale
  * slopes (SCALE.md "Measured scale slopes") rest on: the per-replica
  * token rename must preserve within-replica Jaccard EXACTLY (else the
  * scaled near-dup workload is not the original workload replicated),
  * and the signed coordinate permutation must preserve within-replica
  * inner products exactly while killing cross-replica similarity.
  */
class ScaleGenSpec extends AnyFunSuite with GraftSpark {

  override protected def sparkOverrides: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "3")

  private def docs: DataFrame = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox leaps over the lazy cat"),
      (2L, "data table scan filter join group order limit")
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
  }

  private def tokenSets(d: DataFrame): Map[Long, Set[String]] =
    d.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .toMap

  private def jac(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  test("token rename is a bijection: within-replica Jaccard preserved exactly") {
    val orig = tokenSets(docs)
    val r1 = tokenSets(ScaleGen.renameText(docs, 1))
    // per-doc set sizes unchanged (injective on every doc's tokens)
    orig.foreach { case (id, s) => assert(r1(id).size == s.size) }
    // all pairwise Jaccards identical to the original's
    for (a <- orig.keys; b <- orig.keys if a < b)
      assert(jac(r1(a), r1(b)) == jac(orig(a), orig(b)),
        s"pair ($a,$b): rename changed within-replica Jaccard")
  }

  test("token rename makes replicas diverge: cross-replica Jaccard drops") {
    val r1 = tokenSets(ScaleGen.renameText(docs, 1))
    val r2 = tokenSets(ScaleGen.renameText(docs, 2))
    val orig = tokenSets(docs)
    // same doc across replicas is no longer identical (renamed tokens
    // are replica-local), and similarity can only go DOWN
    val dropped = orig.keys.count(id => jac(r1(id), r2(id)) < 1.0)
    assert(dropped > 0, "no token was renamed in either replica")
    orig.keys.foreach { id =>
      assert(jac(r1(id), r2(id)) <= 1.0 &&
        jac(r1(id), r2(id)) >= 0.0)
    }
    // replica 0 is the identity
    assert(tokenSets(ScaleGen.renameText(docs, 0)) == orig)
  }

  test("signed permutation preserves within-replica dots exactly") {
    import spark.implicits._
    val e = Seq(
      (0L, Seq(1.0f, 2.0f, -3.0f, 0.5f)),
      (1L, Seq(-1.0f, 0.25f, 4.0f, 2.0f)),
      (2L, Seq(0.0f, 1.0f, 1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    def dots(d: DataFrame): Map[(Long, Long), Double] = {
      val vs = d.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      (for (a <- vs.keys; b <- vs.keys if a <= b) yield
        (a, b) -> vs(a).zip(vs(b)).map { case (x, y) =>
          x.toDouble * y.toDouble }.sum).toMap
    }
    val orig = dots(e)
    val p1 = dots(ScaleGen.signedPerm(4)(e, 1))
    // permutation + sign flips: every pairwise dot (and every norm, the
    // a==b case) is preserved exactly — float negation is exact
    assert(p1 == orig, s"orig=$orig perm=$p1")
    // and the transform is not the identity (some coordinate moved or
    // flipped for at least one seeded replica)
    val moved = (1 to 4).exists { r =>
      ScaleGen.signedPerm(4)(e, r).collect().map(_.getSeq[Float](1)).toSeq !=
        e.collect().map(_.getSeq[Float](1)).toSeq
    }
    assert(moved, "signed permutation was the identity for replicas 1-4")
  }
}
