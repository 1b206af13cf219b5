package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 maintenance invariants beyond the DuckDB hash compare: the
  * compaction gate must actually leave one file per cell on disk (and
  * have started from a genuinely fragmented layout), and the GC gate
  * must remove exactly the unreferenced generation while the pointed
  * and rollback roots survive with their files.
  */
class Round9MoreSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  private def available: Boolean =
    new java.io.File(dir, "documents.parquet").exists()

  private def parquetFiles(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        Seq(f)
      else Seq.empty
    walk(new java.io.File(root))
  }

  test("q249: compaction leaves exactly one parquet file per cell " +
    "directory, the fragmented source had more, and content identity " +
    "plus the serve result are in-band") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q249_codes_artifact_compaction")(spark, dir).collect()
    assert(rows.length == 10, "compacted serve must return a full top-10")
    rows.foreach { r =>
      assert(r.getInt(5) == 1, "source layout was not fragmented")
      assert(r.getInt(6) == 1, "compaction must reach one file per cell")
      assert(r.getLong(7) == 0L, "row-count delta must be zero")
      assert(r.getLong(8) == 0L, "fingerprint delta must be zero")
    }
    val dg = ArtifactStore.dirDigest(dir)
    val tmp = sys.props("java.io.tmpdir")
    val comp = s"$tmp/graft_idxcomp_$dg/codes"
    val frag = s"$tmp/graft_idxfrag_$dg/codes"
    val cells = new java.io.File(comp).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid=")).toSeq
    assert(cells.nonEmpty)
    cells.foreach { c =>
      assert(parquetFiles(c.toString).size == 1,
        s"${c.getName}: expected exactly one data file after compaction")
    }
    assert(parquetFiles(frag).size > cells.size,
      "fragmented artifact should hold more files than cells")
    val again = graft.SparkEntry
      .queries("q249_codes_artifact_compaction")(spark, dir).collect()
    assert(rows.toSeq == again.toSeq, "compaction re-run diverged")
  }

  test("q250: GC removes exactly the unreferenced generation, keeps " +
    "the pointed and rollback roots with their files, and the pointer " +
    "still names generation 2") {
    assume(available, s"$dir absent — skipping")
    val rows = graft.SparkEntry
      .queries("q250_generation_gc")(spark, dir).collect()
    assert(rows.length == 10, "post-GC serve must return a full top-10")
    rows.foreach { r =>
      assert(r.getLong(4) == 3L, "three generations before GC")
      assert(r.getLong(5) == 2L, "pointed + rollback kept")
      assert(r.getLong(6) == 1L, "exactly the candidate removed")
      assert(r.getInt(7) == 1 && r.getInt(8) == 1,
        "kept generations must retain their data files")
    }
    val proot = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_idxptr_gc_${ArtifactStore.dirDigest(dir)}")
    assert(!java.nio.file.Files.exists(proot.resolve("gen3")),
      "the unreferenced candidate generation must be gone")
    assert(java.nio.file.Files.exists(proot.resolve("gen1")) &&
      java.nio.file.Files.exists(proot.resolve("gen2")),
      "pointed and rollback generations must survive")
    val ptr = java.nio.file.Files.readString(
      proot.resolve("current.json"))
    assert(ptr.contains("\"gen\":2") && ptr.contains("\"prev\""),
      s"pointer lost its generation or rollback field: $ptr")
    val again = graft.SparkEntry
      .queries("q250_generation_gc")(spark, dir).collect()
    assert(rows.toSeq == again.toSeq, "GC re-run diverged")
  }
}
