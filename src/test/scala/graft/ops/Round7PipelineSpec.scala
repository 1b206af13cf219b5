package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** Pipeline-hygiene invariants beyond the DuckDB hash compare: the
  * leakage audit must be a sound near-dup report (every flagged pair
  * really crosses the split and really clears the Jaccard threshold),
  * not just a stable hash.
  */
class Round7PipelineSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available: Boolean =
    new java.io.File(dir, "documents.parquet").exists()

  private def isVal(docId: Long): Boolean =
    ((docId * 1103515245L + 12345L) % 2147483648L) % 10 == 7

  test("q238: every reported pair crosses the split, clears the " +
    "threshold, and appears once per val doc") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q238_split_leakage_audit")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty, "this corpus is dup-heavy — leakage must show")
    val nLeaked = rows.head._5
    assert(rows.length.toLong == nLeaked,
      "one row per leaked val doc, and n_leaked counts exactly those")
    assert(rows.map(_._1).distinct.length == rows.length,
      "a val doc reports only its single best-matching train doc")
    rows.foreach { case (valDoc, trainDoc, jac6, nVal, _) =>
      assert(isVal(valDoc), s"doc $valDoc reported as val is not val")
      assert(!isVal(trainDoc), s"doc $trainDoc reported as train is val")
      assert(jac6 >= 800000L && jac6 <= 1000000L,
        s"jaccard $jac6 outside [0.8, 1.0] fixed-point range")
      assert(nVal > 0 && nLeaked <= nVal)
    }
    assert(rows.sliding(2).forall { case Array(a, b) => a._1 < b._1 })
  }
}
