package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 invariants beyond the DuckDB hash compare: the rollback
  * gate must leave the pointer at v1 (and serve from it), the
  * streaming HNSW+PQ serve must be a well-formed split-invariant
  * per-query top-10, the batch rank-mode curve must respect its
  * visited bounds in both modes, and the small-k sampled codebook must
  * demonstrably train on an ACTIVE (non-saturated) sample at the hard
  * gate's scale factor.
  */
class Round9OpsSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"
  private val dirHard = "/root/testdata/sf0.01"

  private def available(d: String): Boolean =
    new java.io.File(d, "documents.parquet").exists()

  test("q245: failed validation leaves the pointer at generation 1, " +
    "leaves no temp residue, and the served rows provably come from " +
    "the v1 (base-split) corpus") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q245_generation_rollback")(spark, dir).collect()
    assert(rows.length == 10, "rollback serve must return a full top-10")
    rows.foreach { r =>
      // served ids come from the pointed generation's corpus: v1
      // indexes the base split (vec_id % 10 < 8)
      assert(r.getLong(0) % 10 < 8,
        s"served id ${r.getLong(0)} is outside the v1 corpus")
      assert(r.getLong(4) == 1L, "served generation must be 1")
      assert(r.getInt(5) == 0, "the invalid candidate must not promote")
      // the validation failure is in-band: candidate codes < corpus
      assert(r.getLong(7) < r.getLong(6),
        "candidate code count should fall short of the corpus")
    }
    val proot = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_idxptr_rb_${ArtifactStore.dirDigest(dir)}")
    val ptr = java.nio.file.Files.readString(
      proot.resolve("current.json"))
    assert(ptr.contains("\"gen\":1"), s"pointer moved off v1: $ptr")
    val leftover = java.nio.file.Files.list(proot).toArray
      .map(_.toString).filter(_.endsWith(".tmp"))
    assert(leftover.isEmpty,
      s"pointer writes left temp files behind: ${leftover.mkString(",")}")
    // a re-run must re-validate and serve identically
    val again = graft.SparkEntry
      .queries("q245_generation_rollback")(spark, dir).collect()
    assert(rows.toSeq == again.toSeq, "rollback re-run diverged")
  }

  test("q246: per-query ADC-served top-10s — 8 queries, dense ranks, " +
    "no self-serves, deterministic across executions") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q246_stream_graph_pq_serve")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == (0L until Round7Final.QB).toSet,
      s"expected all ${Round7Final.QB} query ids, got ${byQ.keySet}")
    byQ.foreach { case (qid, rs) =>
      assert(rs.length == 10, s"qid $qid: expected a full top-10")
      assert(rs.map(_._2).sorted.toSeq == (1L to 10L),
        s"qid $qid: ranks must be dense 1..10")
      assert(!rs.exists(_._3 == qid),
        s"qid $qid: the query must never serve itself")
      // ranks follow exact score desc, id asc
      val inOrder = rs.sortBy(_._2)
      assert(inOrder.sliding(2).forall { case Array(a, b) =>
        a._4 > b._4 || (a._4 == b._4 && a._3 < b._3)
      }, s"qid $qid: rank order violates (exact desc, vec_id asc)")
    }
    val again = graft.SparkEntry
      .queries("q246_stream_graph_pq_serve")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == again.toSeq, "streaming re-run diverged")
  }

  test("q247: exactly the two ranking modes, batch visited sets " +
    "bounded by QB*(NPROBE + HOPS*BEAM*DEG), recall counted in 1/80 " +
    "steps out of the per-query brute-force top-10s") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q247_batch_rank_mode_curve")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq("adc", "exact"))
    val slots = Round7Final.QB * 10
    val bound = Round7Final.QB * (2 + 3 * 4 * 6)
    rows.foreach { case (mode, nv, nh, rec) =>
      assert(nv > 0 && nv <= bound, s"$mode visited $nv out of bounds")
      assert(nh >= 0 && nh <= slots, s"$mode n_hit $nh out of range")
      assert(rec == nh.toDouble / slots, s"$mode recall != n_hit/$slots")
    }
  }

  test("q248: the training sample is ACTIVE at the hard gate's scale " +
    "factor — threshold below saturation, admitted rows strictly " +
    "fewer than the corpus, seeds always kept") {
    assume(available(dirHard), s"$dirHard absent — skipping")
    val rows = graft.SparkEntry
      .queries("q248_sampled_codebook_small")(spark, dirHard).collect()
    val n = graft.Tables.table(spark, dirHard, "embeddings").count()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nTrain = r.getLong(4)
      val thr = r.getLong(5)
      assert(thr < KMeans.HASH_MOD,
        s"threshold $thr saturated — the gate no longer exercises " +
          "the sampled path")
      assert(nTrain < n, s"sample $nTrain did not shrink the corpus $n")
      assert(nTrain >= 4L, "the k seed vectors must always be admitted")
    }
    // the k centroids exist with all 64 coordinates
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq ==
      (0L until 4L), "expected exactly k=4 centroids")
    assert(rows.length == 4 * 64, "expected k*dims coordinate rows")
  }
}
