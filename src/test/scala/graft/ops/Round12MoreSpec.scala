package graft.ops

import graft.GraftSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 stateful/composed invariants: the streaming card's
  * batchId-keyed sink must be replay-idempotent, and the composed
  * assembly ring's stage counts must reconcile with the standalone
  * gates they compose.
  */
class Round12MoreSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available(d: String): Boolean =
    new java.io.File(d, "documents.parquet").exists()

  /** Content snapshot: batch-dir names + (count, order-independent row
    * digest) per state part. Part-FILE names legitimately change on an
    * idempotent overwrite; the rows and the batch layout must not.
    */
  private def stateSnapshot(root: String): Map[String, (Seq[String], Long, Long)] =
    Seq("hist", "fps", "seen").map { part =>
      val dirs = new java.io.File(s"$root/$part").listFiles()
        .filter(_.isDirectory).map(_.getName).sorted.toSeq
      val df = spark.read.parquet(s"$root/$part/b*")
      val r = df.agg(count(lit(1)).cast("long"),
        sum(pmod(xxhash64(concat_ws("|", df.columns.map(col): _*)),
          lit(1000000007L)))).head()
      part -> ((dirs, r.getLong(0), r.getLong(1)))
    }.toMap

  test("q279: replaying an already-folded batch leaves the card state " +
    "byte-identical (the batchId-keyed sink is idempotent)") {
    assume(available(dir), s"$dir absent — skipping")
    // build (memoized) state, then snapshot
    graft.SparkEntry.queries("q279_stream_dataset_card")(spark, dir)
      .collect()
    val root = Round12More.buildCardState(spark, dir)
    val before = stateSnapshot(root)
    val card0 = graft.SparkEntry
      .queries("q279_stream_dataset_card")(spark, dir).collect()
      .map(_.toString).toSeq
    // crash-replay batch 1: re-fold the SAME wave content with the same
    // batchId — the b0001 subdirs must be rewritten with identical
    // content and no other batch touched
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("bigint").as("ntk"),
        md5(col("text")).as("h"))
    val wave1 = docs.filter(col("doc_id") % 4 === 1)
      .unionByName(docs.filter(col("doc_id") % 7 === 1))
    Round12More.foldCardBatch(spark, root, wave1, 1L)
    val after = stateSnapshot(root)
    assert(after("hist") == before("hist") &&
      after("fps") == before("fps") && after("seen") == before("seen"),
      "replay must not change row counts or file layout")
    val card1 = graft.SparkEntry
      .queries("q279_stream_dataset_card")(spark, dir).collect()
      .map(_.toString).toSeq
    assert(card1 == card0, "the served card is unchanged by a replay")
  }

  test("q280: composed stage counts reconcile with the standalone " +
    "gates (q267's pass tally and q185's quota law)") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q280_assembly_ring")(spark, dir).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
    // monotone shrink through the filter stages
    val order = Seq("raw", "decon_kept", "repetition_kept", "dedup_kept",
      "mix_selected")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(rows(b)._1 <= rows(a)._1, s"$b must not grow from $a")
    }
    // every stage fires at the gate SF (activeness discipline)
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(rows(b)._1 < rows(a)._1,
        s"stage $b must be ACTIVE (drop something) at the gate SF")
    }
    // q185's quota law: the mix selects exactly TMIX docs when every
    // lang's survivor pool covers its quota (true at this SF), and
    // never more than TMIX by construction
    assert(rows("mix_selected")._1 <= Round12More.TMIX)
    // q264's packing law: seqs = ceil(total_rec / 128), and every
    // split doc is one of the packed docs
    val (nSeqs, t) = rows("packed_seqs")
    assert(nSeqs == (t + 127) / 128)
    assert(rows("split_docs")._1 <= rows("mix_selected")._1)
    // cross-gate reconciliation: the ring's dedup winner rule on the
    // shadow-augmented input keeps exactly the distinct-text count of
    // its repetition-stage survivors
    val (nDedup, _) = rows("dedup_kept")
    val (nRep, _) = rows("repetition_kept")
    assert(nDedup < nRep, "shadows make the dedup stage fire")
  }
}
