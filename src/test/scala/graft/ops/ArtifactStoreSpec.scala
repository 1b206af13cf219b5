package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The Hadoop-FS artifact seam: marker round-trip, recursive table
  * signatures (partitioned layouts included), loud failure on missing
  * tables, the re-entrant cross-process build lock, and the shared
  * build protocol (`ensure` + `Memo`) every persisted artifact uses.
  */
class ArtifactStoreSpec extends AnyFunSuite {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_as_").toString

  test("marker round-trip: markerOk only after writeMarker with the " +
    "exact content; atomic variant replaces") {
    val root = tmp()
    try {
      assert(!ArtifactStore.markerOk(root, "v1"))
      ArtifactStore.writeMarker(root, "v1")
      assert(ArtifactStore.markerOk(root, "v1"))
      assert(!ArtifactStore.markerOk(root, "v2"))
      ArtifactStore.writeStringAtomic(
        ArtifactStore.markerPath(root), "v2")
      assert(ArtifactStore.markerOk(root, "v2"))
      assert(ArtifactStore.readString(
        ArtifactStore.markerPath(root)) == "v2")
    } finally ArtifactStore.deleteRecursive(root)
  }

  test("tableFileSig walks partition subdirectories (a rewrite of a " +
    "nested part file moves the signature) and fails loudly on a " +
    "missing table") {
    val dir = tmp()
    try {
      val t = java.nio.file.Paths.get(dir, "docs.parquet", "p=1")
      java.nio.file.Files.createDirectories(t)
      java.nio.file.Files.writeString(t.resolve("part-0"), "aa")
      val s1 = ArtifactStore.tableFileSig(dir, "docs")
      assert(s1.contains("p=1/part-0"),
        s"nested part file missing from signature: $s1")
      java.nio.file.Files.writeString(t.resolve("part-0"), "aaa")
      assert(ArtifactStore.tableFileSig(dir, "docs") != s1,
        "nested rewrite did not move the signature")
      intercept[IllegalArgumentException] {
        ArtifactStore.tableFileSig(dir, "absent")
      }
    } finally ArtifactStore.deleteRecursive(dir)
  }

  test("writeStringAtomic: a reader racing the publish sees old or " +
    "new content, never a missing file or a torn write") {
    val root = tmp()
    val path = s"$root/ptr.json"
    try {
      val bodies = Seq("A" * 64, "B" * 4096) // different lengths: a torn
      // write or a partial temp file would surface as a mixed read
      ArtifactStore.writeStringAtomic(path, bodies(0))
      @volatile var failure: Option[String] = None
      @volatile var done = false
      val reader = new Thread(() => {
        while (!done && failure.isEmpty) {
          try {
            val got = ArtifactStore.readString(path)
            if (!bodies.contains(got))
              failure = Some(s"torn read: ${got.take(20)}... " +
                s"len=${got.length}")
          } catch {
            case e: java.io.FileNotFoundException =>
              failure = Some(s"missing-file window: $e")
          }
        }
      })
      reader.start()
      for (i <- 1 to 200)
        ArtifactStore.writeStringAtomic(path, bodies(i % 2))
      done = true
      reader.join()
      assert(failure.isEmpty, failure.getOrElse(""))
      assert(ArtifactStore.readString(path) == bodies(0))
    } finally ArtifactStore.deleteRecursive(root)
  }

  test("gcScratch: prior-run tempRoot scratch is collected, this " +
    "JVM's own and deterministic digest roots survive includeOwn=false") {
    // a leftover from a "previous run": the exact name shape tempRoot
    // mints, but not registered by this JVM
    val leftover = ArtifactStore.root("graft_gcspec_deadbeef-001")
    ArtifactStore.mkdirs(leftover)
    // a deterministic marker-gated root: must never match the sweep
    val digestRoot = ArtifactStore.root("graft_gcspec_0123456789abcdef")
    ArtifactStore.mkdirs(digestRoot)
    val own = ArtifactStore.tempRoot("graft_gcspec")
    try {
      // scoped to this spec's prefix: the suite pool runs in parallel,
      // and an unscoped sweep here could collect a sibling suite's
      // live scratch (the mains call the unscoped gcScratch, alone in
      // their JVM)
      val deleted = ArtifactStore.gcScratchScoped(
        includeOwn = false, prefix = "graft_gcspec")
      assert(deleted.contains(leftover), s"leftover survived: $deleted")
      assert(!ArtifactStore.exists(leftover))
      assert(ArtifactStore.exists(own), "own live scratch was collected")
      assert(ArtifactStore.exists(digestRoot),
        "deterministic digest root was collected")
      // teardown semantics: includeOwn sweeps this JVM's scratch too
      val deleted2 = ArtifactStore.gcScratchScoped(
        includeOwn = true, prefix = "graft_gcspec")
      assert(deleted2.contains(own))
      assert(!ArtifactStore.exists(own))
      assert(ArtifactStore.exists(digestRoot))
    } finally {
      ArtifactStore.deleteRecursive(digestRoot)
      ArtifactStore.deleteRecursive(leftover)
    }
  }

  test("withBuildLock is re-entrant in-thread, serializes across " +
    "threads, and leaves the lock file behind the root") {
    val root = tmp()
    try {
      // re-entrant: nested acquisition of the same root must not throw
      val v = ArtifactStore.withBuildLock(root) {
        ArtifactStore.withBuildLock(root)(41) + 1
      }
      assert(v == 42)
      // two threads: the section runs strictly serialized
      val order = java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
      val ts = (0 until 2).map { i =>
        new Thread(() => ArtifactStore.withBuildLock(root) {
          order.add(s"in$i"); Thread.sleep(50); order.add(s"out$i")
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      val seq = scala.jdk.CollectionConverters
        .ListHasAsScala(order).asScala.toList
      assert(Set(List("in0", "out0", "in1", "out1"),
        List("in1", "out1", "in0", "out0")).contains(seq),
        s"interleaved build sections: $seq")
      assert(ArtifactStore.exists(s"$root/_build.lock"))
    } finally ArtifactStore.deleteRecursive(root)
    // a build that wipes its own locked root (stream state) keeps the
    // lock file, so the lock stays exclusive across processes
    val name = s"graft_asspec_${System.nanoTime()}"
    val held = ArtifactStore.root(name)
    try ArtifactStore.withBuildLock(held) {
      ArtifactStore.writeString(s"$held/old/part", "x")
      assert(ArtifactStore.scratchDir(name) == held)
      assert(ArtifactStore.listEntries(held) == Seq("_build.lock"))
    } finally ArtifactStore.deleteRecursive(held)
  }

  /** A memo over `root` whose build writes `<root>/data` and counts its
    * own runs; `sig` and `expect` are read per call.
    */
  private class Probe(root: String) {
    val memo = new ArtifactStore.Memo[String, Unit]
    val runs = new java.util.concurrent.atomic.AtomicInteger
    @volatile var sig = "s1"
    @volatile var expect = "v1"
    @volatile var fail = false
    @volatile var pause = 0L
    def serve(): String = memo("k", sig)((root, expect, ())) { (r, _) =>
      runs.incrementAndGet()
      Thread.sleep(pause)
      if (fail) throw new IllegalStateException("build failed")
      ArtifactStore.writeString(s"$r/data", expect)
    }._1
    def marker: Option[String] = {
      val mk = ArtifactStore.markerPath(root)
      if (ArtifactStore.exists(mk)) Some(ArtifactStore.readString(mk))
      else None
    }
  }

  test("protocol: a build that throws publishes no marker, and the " +
    "next call rebuilds") {
    val root = tmp()
    try {
      val p = new Probe(root)
      p.fail = true
      intercept[IllegalStateException](p.serve())
      assert(p.marker.isEmpty, "a failed build published its marker")
      assert(p.memo.builds == 0)
      p.fail = false
      assert(p.serve() == root)
      assert(p.runs.get == 2, "the failed build was not retried")
      assert(p.memo.builds == 1)
      assert(p.marker.contains("v1"))
    } finally ArtifactStore.deleteRecursive(root)
  }

  test("protocol: a marker mismatch rebuilds — whether the marker on " +
    "disk changes or the table signature moves to a new expect") {
    val root = tmp()
    try {
      val p = new Probe(root)
      p.serve()
      p.serve()
      assert(p.memo.builds == 1, "an unchanged artifact was rebuilt")
      // the marker on disk no longer matches the memo's entry
      ArtifactStore.writeString(ArtifactStore.markerPath(root), "stale")
      p.serve()
      assert(p.memo.builds == 2, "a stale on-disk marker was trusted")
      assert(p.marker.contains("v1"))
      // the table changed: new signature, new expected marker
      p.sig = "s2"
      p.expect = "v2"
      p.serve()
      assert(p.memo.builds == 3, "a changed table served the old build")
      assert(p.marker.contains("v2"))
      assert(ArtifactStore.readString(s"$root/data") == "v2")
    } finally ArtifactStore.deleteRecursive(root)
  }

  test("protocol: two threads produce one build — through one memo, " +
    "and through two memos (two sessions) sharing the root") {
    val root = tmp()
    try {
      def race(serves: Seq[() => String]): Unit = {
        val ts = serves.map(f => new Thread(() => { f(); () }))
        ts.foreach(_.start()); ts.foreach(_.join())
      }
      val p = new Probe(root)
      p.pause = 200L
      race(Seq(() => p.serve(), () => p.serve()))
      assert(p.runs.get == 1 && p.memo.builds == 1,
        s"one memo, two threads: ${p.runs.get} builds")
      // a second registry over the same root (another session, or
      // another JVM) must see the published marker inside the lock
      ArtifactStore.deleteRecursive(ArtifactStore.markerPath(root))
      val (a, b) = (new Probe(root), new Probe(root))
      a.pause = 200L; b.pause = 200L
      race(Seq(() => a.serve(), () => b.serve()))
      assert(a.runs.get + b.runs.get == 1,
        s"two memos, two threads: ${a.runs.get + b.runs.get} builds")
      assert(a.memo.builds + b.memo.builds == 1)
      assert(a.marker.contains("v1"))
    } finally ArtifactStore.deleteRecursive(root)
  }

  test("protocol: after drop() the artifact is served from its marker " +
    "with builds unchanged") {
    val root = tmp()
    try {
      val p = new Probe(root)
      p.serve()
      val before = p.memo.builds
      p.memo.drop()
      assert(p.serve() == root)
      assert(p.memo.builds == before && p.runs.get == 1,
        "a dropped registry rebuilt instead of serving from the marker")
    } finally ArtifactStore.deleteRecursive(root)
  }
}
