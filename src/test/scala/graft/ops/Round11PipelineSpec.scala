package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 orchestration invariants: the epoch audit's conservation
  * and independence band, and the release manifest's artifact
  * discipline (atomic write, no residue, manifest == data).
  */
class Round11PipelineSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available(d: String): Boolean =
    new java.io.File(d, "documents.parquet").exists()

  test("q275: both epochs conserve the corpus, shards stay balanced, " +
    "and the cross-epoch collision rate sits near the 1/32 baseline") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q275_epoch_shuffle_audit")(spark, dir).collect()
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_.getLong(1)).sum == n, "epoch 1 conserves docs")
    assert(rows.map(_.getLong(2)).sum == n, "epoch 2 conserves docs")
    val collisions = rows.map(_.getLong(3)).sum
    // independent 32-way keys collide at rate 1/32; allow [1/3, 3]x
    assert(collisions >= n / 96 && collisions <= 3 * n / 32 + 8,
      s"cross-epoch collisions $collisions far from the n/32 baseline")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(1), "maxsrc1 bounded by shard")
      // 32-way LCG sharding keeps shards within ~4x of the mean
      assert(r.getLong(1) <= 4 * (n / 32) + 8, "epoch-1 shard balance")
    }
  }

  test("q276: the manifest is written atomically (no temp residue), " +
    "matches the data exactly, and covers the survivor corpus") {
    assume(available(dir), s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q276_release_manifest")(spark, dir).collect()
    assert(rows.length == 8, "8 release shards")
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(3), "manifest rows == data rows")
      assert(r.getLong(2) == r.getLong(4), "manifest fp == data fp")
    }
    val nUnique = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("count(distinct text)").head().getLong(0)
    assert(rows.map(_.getLong(1)).sum == nUnique,
      "release covers every surviving (deduped) document")
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_release_${ArtifactStore.dirDigest(dir)}")
    assert(new java.io.File(root, "manifest.json").exists())
    assert(!root.listFiles().exists(_.getName.endsWith(".tmp")),
      "atomic manifest write leaves no temp residue")
  }
}
