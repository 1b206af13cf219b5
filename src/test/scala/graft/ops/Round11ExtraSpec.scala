package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 extra invariants: the KMV sketch's error bound and merge
  * consistency, the tokenizer-fit arithmetic, and q274's compacted
  * layout (exactly one file per bucket — the claim the hash compare
  * cannot see).
  */
class Round11ExtraSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available(d: String): Boolean =
    new java.io.File(d, "documents.parquet").exists()

  test("q272: saturated sketches are exact, live sketches stay inside " +
    "a loose 4-sigma error bound, and the merged row covers the corpus") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q272_kmv_distinct_sketch")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val (star, per) = rows.partition(_._1 == "*")
    assert(star.length == 1 && per.nonEmpty)
    rows.foreach { case (_, exact, est, kth, err6) =>
      if (kth == 0L) {
        assert(est == exact, "saturated sketch (n < k) must be exact")
        assert(err6 == 0L)
      } else {
        // KMV std error = 1/sqrt(k-1) ~ 12.6% at k=64; 4 sigma bound
        assert(err6 <= 510000L,
          s"KMV error $err6 ppm outside the 4-sigma envelope")
      }
    }
    // the merged sketch estimates the GLOBAL distinct count, which can
    // never exceed the sum of the per-source counts
    assert(star.head._2 <= per.map(_._2).sum)
  }

  test("q273: the arithmetic ties out and the gap is the signed ratio " +
    "difference") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q273_heldout_tokenizer_fit")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (chars, enc, ratio, baseRatio, gap) = (r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(enc <= chars, "merges only ever shrink the symbol count")
      assert(ratio == enc * 1000000L / chars)
      assert(gap == ratio - baseRatio)
      assert(ratio >= 500000L && ratio <= 1000000L,
        "5 merges compress, but never by more than half on this corpus")
    }
  }

  test("q274: the compacted store is one file per bucket and " +
    "fingerprint-identical to the wave store") {
    assume(available(dir), s"$dir absent — skipping")
    graft.SparkEntry
      .queries("q274_dedup_store_compaction")(spark, dir).collect()
    val digest = ArtifactStore.dirDigest(dir)
    val croot = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_dedupstore_c_$digest")
    val bucketDirs = croot.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("hb="))
    assert(bucketDirs.length == 16, "16-way bucket layout")
    bucketDirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1,
        s"${d.getName}: expected exactly ONE compacted file, " +
          s"got ${parts.length}")
    }
    val orig = spark.read.parquet(new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_dedupstore_$digest").toString)
    val comp = spark.read.parquet(croot.toString)
    assert(comp.count() == orig.count())
    assert(comp.select("h", "doc_id", "source").except(
      orig.select("h", "doc_id", "source")).isEmpty,
      "compaction preserves every store row")
  }
}
