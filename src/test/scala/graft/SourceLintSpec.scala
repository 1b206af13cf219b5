package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level idiom lint (round-3 verdict task 6 follow-through).
  *
  * The verdict flagged unhinted scalar `crossJoin`s in BehaviorOps: the
  * sides were 1-row aggregates that AQE happens to rescue, but the repo
  * idiom everywhere else is an explicit `broadcast(...)` hint so the plan
  * is broadcast-shaped even with AQE off and the pattern can't be
  * copy-pasted onto a non-scalar frame without the hint coming along.
  * The hints are in place; this spec keeps them in place.
  */
class SourceLintSpec extends AnyFunSuite {

  private val mainDir = new java.io.File("src/main/scala/graft")

  private def scalaFiles(d: java.io.File): Seq[java.io.File] = {
    val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    kids.filter(_.isFile).filter(_.getName.endsWith(".scala")) ++
      kids.filter(_.isDirectory).flatMap(scalaFiles)
  }

  private def read(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  test("every crossJoin in src/main is broadcast-hinted") {
    assume(mainDir.isDirectory, s"source dir $mainDir absent — skipping")
    val bad = for {
      f <- scalaFiles(mainDir)
      content = read(f)
      m <- "crossJoin\\(\\s*".r.findAllMatchIn(content)
      if !content.drop(m.end).startsWith("broadcast(")
    } yield {
      val line = content.take(m.start).count(_ == '\n') + 1
      s"${f.getPath}:$line"
    }
    assert(bad.isEmpty,
      s"crossJoin without an explicit broadcast(...) hint at: " +
        bad.mkString(", ") +
        " — wrap the scalar side in broadcast(...) (repo idiom; see " +
        "BehaviorOps) or use a keyed join if the side is not scalar")
  }

  private val testDir = new java.io.File("src/test/scala/graft")

  /** Files under `d` whose source contains any of `needles`. */
  private def filesWith(d: java.io.File, needles: String*): Seq[String] =
    scalaFiles(d).filter { f =>
      val content = read(f)
      needles.exists(content.contains)
    }.map(_.getName)

  test("SQL functions are registered only in GraftSession") {
    assume(mainDir.isDirectory, s"source dir $mainDir absent — skipping")
    val bad = filesWith(mainDir, "createOrReplaceTempFunction",
      "udf.register").filterNot(_ == "GraftSession.scala")
    assert(bad.isEmpty, s"function registration outside GraftSession: " +
      bad.mkString(", ") + " — add the kernel to GraftSession's table")
  }

  test("specs open their session only through GraftSpark") {
    assume(testDir.isDirectory, s"source dir $testDir absent — skipping")
    // FuzzyResolveSpec needs a session built with the graft extensions
    val allowed = Set("GraftSpark.scala", "FuzzyResolveSpec.scala")
    val bad = filesWith(testDir, "SparkSession" + ".builder()")
      .filterNot(allowed)
    assert(bad.isEmpty, s"spec builds its own session: " +
      bad.mkString(", ") + " — mix in graft.GraftSpark instead")
  }

  test("no stubs or deferred work in src/main") {
    assume(mainDir.isDirectory, s"source dir $mainDir absent — skipping")
    val bad = for {
      f <- scalaFiles(mainDir)
      content = read(f)
      pat <- Seq("???", "TODO", "FIXME")
      if content.contains(pat)
    } yield s"${f.getPath} contains $pat"
    assert(bad.isEmpty, bad.mkString(", "))
  }
}
