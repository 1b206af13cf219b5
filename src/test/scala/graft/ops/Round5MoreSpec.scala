package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the round-5 second batch that the DuckDB oracle
  * cannot express on its own:
  *  - q203's merge-apply trick: `replace` on the pipe-delimited symbol
  *    string must equal BPE's greedy left-to-right merge scan
  *    (property-tested against a reference fold).
  *  - q204's reported spans must be REAL: the claimed token runs must
  *    be verbatim-equal in both documents and maximal on their
  *    diagonal (re-read from the raw text in the JVM).
  *  - q207's probe must genuinely bound the candidate set.
  */
class Round5MoreSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available: Boolean =
    new java.io.File(dir, "documents.parquet").exists()

  // ---- q203: delimited-replace == greedy BPE merge ------------------

  /** Reference greedy BPE merge: scan left to right, merging every
    * non-overlapping (pa, pb) adjacency; a symbol created by a merge
    * does not merge again in the same pass.
    */
  private def greedyMerge(
      syms: List[String], pa: String, pb: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == pa && syms(i + 1) == pb) {
        out += (pa + pb); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toList
  }

  private def delimited(syms: List[String]): String =
    syms.map(s => s"|$s|").mkString

  test("q203: replace on the delimited form equals the greedy merge scan") {
    // deterministic LCG-driven sample over a collision-prone alphabet
    // (symbols that are each other's concatenations stress the
    // no-remerge-in-same-pass rule)
    val alpha = Vector("a", "b", "ab", "ba", "c")
    var seed = 42L
    def next(n: Int): Int = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      (((seed >>> 33) % n + n) % n).toInt
    }
    for (_ <- 1 to 2000) {
      val syms = List.fill(next(12) + 1)(alpha(next(alpha.size)))
      val (pa, pb) = (alpha(next(alpha.size)), alpha(next(alpha.size)))
      val viaReplace =
        delimited(syms).replace(s"|$pa||$pb|", s"|${pa + pb}|")
      assert(viaReplace == delimited(greedyMerge(syms, pa, pb)),
        s"syms=$syms pair=($pa,$pb)")
    }
  }

  // ---- q204: spans are verbatim-equal and maximal -------------------

  test("q204: every reported span is a verbatim shared token run, " +
    "maximal on its diagonal") {
    assume(available, s"$dir absent — skipping")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    // shingle -> distinct-doc frequency, to exempt df-capped boundaries
    // (a boundary shingle above the cap is EXCLUDED from candidates by
    // design, so the island legitimately stops there)
    val df = docs.toSeq
      .flatMap { case (id, t) =>
        t.sliding(3).map(_.mkString(" ")).toSeq.distinct.map(_ -> id)
      }
      .groupBy(_._1).map { case (sh, xs) => sh -> xs.map(_._2).distinct.size }
    val spans = graft.SparkEntry.queries("q204_duplicated_spans")(
      spark, dir).collect()
    assert(spans.nonEmpty, "no duplicated spans found at sf0.001")
    spans.foreach { r =>
      val (da, db) = (r.getLong(0), r.getLong(1))
      val (sa, sb) = (r.getLong(2).toInt, r.getLong(3).toInt)
      val len = r.getLong(4).toInt
      val (ta, tb) = (docs(da), docs(db))
      val (runA, runB) =
        (ta.slice(sa, sa + len).toSeq, tb.slice(sb, sb + len).toSeq)
      assert(runA == runB, s"span ($da,$db,$sa,$sb,$len) not verbatim")
      // maximality: extending one token either way must break equality,
      // run off a boundary, or cross a df-capped (boilerplate) shingle
      val leftExtends = sa > 0 && sb > 0 && ta(sa - 1) == tb(sb - 1) &&
        df(ta.slice(sa - 1, sa + 2).mkString(" ")) <= 16
      val rightExtends = sa + len < ta.length && sb + len < tb.length &&
        ta(sa + len) == tb(sb + len) &&
        df(ta.slice(sa + len - 2, sa + len + 1).mkString(" ")) <= 16
      assert(!leftExtends && !rightExtends,
        s"span ($da,$db,$sa,$sb,$len) is not maximal")
    }
  }

  // ---- q207: the probe bounds the candidate set ---------------------

  test("q207: probing 2 of the corpus-derived coarse lists scores fewer " +
    "than all vectors") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry.queries("q207_ivf_pq_search")(spark, dir)
      .collect()
    assert(rows.length == 10)
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count() - 1
    val nCand = rows.head.getLong(4)
    assert(nCand > 0 && nCand < total,
      s"probe did not bound the candidate set: $nCand of $total")
  }
}
