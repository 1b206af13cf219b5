package graft.ops

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the round-5 third batch that the DuckDB oracle
  * cannot express on its own:
  *  - q208: the cluster-aware split can NEVER straddle a duplicate
  *    cluster, and both methods partition the whole corpus.
  *  - q209: attribution on the recrawl corpus must blame exactly the
  *    recrawl sources, and account for every replayed document.
  *  - q210 x q203 cross-gate identity: summing the per-source encoded
  *    token counts must reproduce q203's global post-merge symbol
  *    count — the train and encode halves of the tokenizer loop agree.
  *  - q211: recall bookkeeping is sound, and when the corpus is larger
  *    than the candidate budget the projection must beat the random-M/N
  *    baseline.
  *  - q212: CDF counts and fingerprints must move together — a version
  *    with zero inserts+updates keeps the previous fingerprint, one
  *    with changes must change it.
  */
class Round5FinalSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available: Boolean =
    new java.io.File(dir, "documents.parquet").exists()

  private def run(name: String) =
    graft.SparkEntry.queries(name)(spark, dir).collect()

  test("q208: cluster split never straddles; both methods cover corpus") {
    assume(available)
    val rows = run("q208_cluster_split")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val total = d.count() + d.filter(col("doc_id") % 7 === 0).count()
    val (ctr, cva, cst) = rows("cluster_hash")
    val (dtr, dva, _) = rows("doc_hash")
    assert(cst == 0L, "cluster-hash split must never straddle a cluster")
    assert(ctr + cva == total && dtr + dva == total,
      "both methods must partition the recrawled corpus")
  }

  test("q209: recrawl attribution blames recrawl sources, fully accounted") {
    assume(available)
    val rows = run("q209_dedup_attribution")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (win, lose) = (r.getString(0), r.getString(1))
      assert(!win.endsWith("_recrawl"),
        s"survivor must be the original crawl, got winner=$win")
      assert(lose == s"${win}_recrawl",
        s"loser must be the winner's recrawl, got ($win, $lose)")
    }
    val replayed = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 7 === 0).count()
    assert(rows.map(_.getLong(2)).sum == replayed,
      "every replayed doc must appear in exactly one attribution cell")
  }

  test("q210 x q203: per-source encoded tokens sum to the global count") {
    assume(available)
    val encTotal = run("q210_bpe_encode").map(_.getLong(3)).sum
    val trainFinal = run("q203_bpe_train")
      .maxBy(_.getLong(0)) // step 5 row carries the post-merge count
      .getLong(4)
    assert(encTotal == trainFinal,
      s"encode total $encTotal != train n_syms $trainFinal — the " +
        "tokenizer train and encode halves disagree")
  }

  test("q211: recall bookkeeping sound; beats baseline when it can") {
    assume(available)
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val rows = run("q211_random_projection")
    assert(rows.length == 2)
    rows.foreach { r =>
      val (nExact, nHit, recall) =
        (r.getLong(3), r.getLong(4), r.getLong(5))
      val m = r.getLong(2)
      assert(nHit >= 0 && nHit <= nExact && recall <= 100)
      if (n > 2 * m) // corpus big enough that top-M is a real subset
        assert(nHit * (n - 1) > m * nExact,
          s"projection must beat the random baseline: " +
            s"$nHit/$nExact vs $m/${n - 1}")
      else assert(nHit == nExact,
        "with M >= corpus the candidate set is total — recall must be 1")
    }
  }

  test("q212: fingerprints move with the change-data-feed counts") {
    assume(available)
    val rows = run("q212_time_travel").sortBy(_.getLong(0))
    assert(rows.length == 3)
    assert(rows.head.getLong(3) == rows.head.getLong(1),
      "version 1 inserts everything it contains")
    assert(rows.head.getLong(4) == 0L, "version 1 updates nothing")
    rows.sliding(2).foreach { case Array(prev, cur) =>
      val changed = cur.getLong(3) + cur.getLong(4)
      assert(cur.getLong(1) == prev.getLong(1) + cur.getLong(3),
        "row count must grow by exactly the inserted count")
      if (changed == 0L)
        assert(cur.getLong(2) == prev.getLong(2),
          "no changes -> fingerprint must be stable")
      else
        assert(cur.getLong(2) != prev.getLong(2),
          "changes -> fingerprint must move")
    }
  }
}
