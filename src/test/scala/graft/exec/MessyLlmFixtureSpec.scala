package graft.exec

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite
import graft.meta._
import graft.nl.MockLlmClient

/** Recorded RAW-LLM-OUTPUT fixture corpus through the FULL bridge
  * pipeline (P12 fence-strip → P14 literal canonicalization → P15
  * synonyms → P16 hardcoded fix → P17 fuzzy repair → P18 bounded
  * execution — the reference flow at query_llm.py:492-504). BridgeSpec
  * replays the README's clean questions; real model output is messier:
  * CTEs, prose around fences, multiple fences, mixed-case identifiers,
  * trailing semicolons plus commentary, typos and aliases in one
  * statement. Each fixture file under src/test/resources/llm_fixtures/
  * records one raw output plus the exact SQL the pipeline must produce
  * and the row count the execution must return.
  *
  * Fixture format:  `question:` / `expect_rows:` header lines, then the
  * raw model output between ---RAW--- and ---SQL---, then the expected
  * cleaned SQL.
  */
class MessyLlmFixtureSpec extends AnyFunSuite with GraftSpark {

  private def registerQueuedata(): Unit = {
    import spark.implicits._
    Seq(
      ("alpha", "online", "active", "United States", "EU", 8),
      ("beta", "offline", "idle", "France", "EU", 16),
      ("gamma", "online", "active", "France", "US", 4),
      ("delta", "test", "idle", "United States", "US", 32))
      .toDF("queue", "status", "state", "country", "cloud", "corecount")
      .createOrReplaceTempView("queuedata")
  }

  // BridgeSpec's dictionary plus a value→NULL mapping on state, so the
  // corpus also exercises the reference's NULL-mapping branch
  // (query_llm.py:334-338)
  private val dict: DataDictionary = DataDictionary(
    table = "queuedata",
    columns = Seq(
      ColumnMeta("queue", "STRING", importance = 10,
        aliases = Seq("name", "queuename")),
      ColumnMeta("status", "STRING", importance = 10,
        aliases = Seq("condition"),
        canonicalization = Canonicalization(caseRule = Some("lower"),
          mapValues = Seq("ONLINE" -> Some("online")))),
      ColumnMeta("state", "STRING", importance = 2,
        canonicalization = Canonicalization(
          mapValues = Seq("n/a" -> None))),
      ColumnMeta("country", "STRING",
        canonicalization = Canonicalization(
          mapValues = Seq("us" -> Some("United States")))),
      ColumnMeta("cloud", "STRING"),
      ColumnMeta("corecount", "INT", aliases = Seq("cores"))))

  private case class Fixture(
      name: String, question: String, expectRows: Int,
      raw: String, expectedSql: String)

  private def load(name: String): Fixture = {
    val in = getClass.getResourceAsStream(s"/llm_fixtures/$name")
    require(in != null, s"fixture $name missing from test resources")
    val text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    val header = text.split("---RAW---", 2)
    val body = header(1).split("---SQL---", 2)
    val kv = header(0).linesIterator.filter(_.contains(":")).map { l =>
      val Array(k, v) = l.split(":", 2); k.trim -> v.trim
    }.toMap
    Fixture(name, kv("question"), kv("expect_rows").toInt,
      body(0).trim, body(1).trim)
  }

  private val fixtures = Seq(
    "01_fenced_cte.txt",
    "02_trailing_semicolon.txt",
    "03_multi_fence.txt",
    "04_fuzzy_canon_fence.txt",
    "05_mixed_case_idents.txt",
    "06_map_values_null.txt",
    "07_country_map.txt",
    "08_alias_cores.txt",
    "09_lower_func_literal.txt",
    "10_cte_semicolon_commentary.txt")

  fixtures.foreach { fname =>
    test(s"fixture $fname repairs to the recorded SQL and result") {
      registerQueuedata()
      val f = load(fname)
      val llm = new MockLlmClient(fallback = f.raw)
      Bridge.ask(spark, "queuedata", f.question, dict, llm) match {
        case Right(ans) =>
          assert(ans.trace.cleanedSql.trim == f.expectedSql,
            s"${f.name}: repaired SQL diverged from the recording")
          assert(ans.result.rows.length == f.expectRows,
            s"${f.name}: expected ${f.expectRows} rows, " +
              s"got ${ans.result.rows.length}")
        case Left(code) =>
          fail(s"${f.name}: bridge returned exit code $code")
      }
    }
  }
}
