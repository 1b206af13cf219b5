package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import graft.exec.{Bridge, Runner}
import graft.meta.{DataDictionary, SchemaIntrospect}
import graft.nl.{ContextSelect, MockLlmClient, Prompt}
import graft.repair.SqlRepair

/** The `bridge_ask` workload: closed-loop `Bridge.ask` calls from one client
  * thread over the generated queuedata table, with a recorded-output client
  * standing in for the model.
  *
  * Untraced, each ask is one `Bridge.ask` call. Traced, the same stages are
  * called one by one in `Bridge.ask`'s order with a span around each; the
  * checked warm-up asserts that this staged path answers exactly as
  * `Bridge.ask` does.
  */
object BridgeAsk {
  val Table = "queuedata"
  /** Asks per pass: `pass_s` on this workload is the time of this many. */
  val PassAsks = 50

  final case class Answer(sql: String, columns: Seq[String], fetched: Int,
      truncated: Boolean, rowsHash: String)

  /** Order-insensitive digest of the rows; the checker recomputes it from
    * DuckDB's answer with the same cell spelling.
    */
  def rowsHash(rows: Seq[Row]): String = {
    def cell(v: Any): String = if (v == null) "\\N" else v.toString
    val lines = rows.map(_.toSeq.map(cell).mkString("\u001f")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(lines.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Seconds per block of [[PassAsks]] asks; a run too short for one full
    * block reports its asks scaled to one. */
  def passTimes(lat: Seq[Double]): Seq[Double] = {
    val full = lat.grouped(PassAsks).filter(_.size == PassAsks).map(_.sum / 1e3).toSeq
    if (full.nonEmpty || lat.isEmpty) full
    else Seq(lat.sum / 1e3 * PassAsks / lat.size)
  }

  private def answerOf(sql: String, r: Runner.BoundedResult): Answer =
    Answer(sql, r.columns, r.totalFetched, r.truncated, rowsHash(r.rows))

  def run(spark: SparkSession, in: String, seconds: Double, traced: Boolean,
      layers: mutable.Map[String, Double]): Result = {
    val t0 = System.nanoTime()
    graft.Tables.readNormalized(spark, s"$in/queuedata.parquet")
      .createOrReplaceTempView(Table)
    layers("tables.register_ms") = (System.nanoTime() - t0) / 1e6
    val dict = DataDictionary.load(s"$in/dictionary.json")
    val questions = Json.readLines(s"$in/asks.jsonl").map { n =>
      n.get("id").asInt -> (n.get("question").asText, n.get("raw").asText)
    }.toMap
    val seq = Json.read(s"$in/sequence.json")
    val maxRows = seq.get("max_rows").asInt
    val llm = new MockLlmClient(
      canned = questions.values.map { case (q, raw) => Prompt.user(q) -> raw }.toMap,
      fallback = "")

    def ask(id: Int): Answer =
      Bridge.ask(spark, Table, questions(id)._1, dict, llm, maxRows = maxRows) match {
        case Right(a) => answerOf(a.trace.cleanedSql, a.result)
        case Left(code) => throw new RuntimeException(s"Bridge.ask exit code $code")
      }

    // Bridge.ask's stages, one span each, in Bridge.ask's order
    var spans = new Spans
    var promptChars, repairChanged, rowsFetched, truncated = 0L
    def staged(id: Int): Answer = {
      val q = questions(id)._1
      val (df, ddl) = spans.time("meta.introspect") {
        require(SchemaIntrospect.tableExists(spark, Table), s"no table $Table")
        val df = spark.table(Table)
        (df, SchemaIntrospect.buildTableSchema(df))
      }
      val block = spans.time("nl.context") {
        ContextSelect.render(ContextSelect.selectRelevantContext(q, dict, 12))
      }
      val (sys, usr) = spans.time("nl.prompt") {
        (Prompt.system(Table, ddl, block), Prompt.user(q))
      }
      val raw = spans.time("nl.llm")(llm.complete(sys, usr))
      val cols = spans.time("meta.introspect")(SchemaIntrospect.listColumns(df))
      val cleaned = spans.time("repair.repair")(SqlRepair.repair(raw, dict, cols))
      val qdf = spans.time("exec.analyze")(spark.sql(cleaned))
      val res = spans.time("exec.fetch")(Runner.bounded(qdf, maxRows))
      promptChars += sys.length + usr.length
      if (cleaned != SqlRepair.extractCode(raw)) repairChanged += 1
      rowsFetched += res.rows.length
      if (res.truncated) truncated += 1
      answerOf(cleaned, res)
    }

    val answers = mutable.LinkedHashMap[Int, Answer]()
    val failures = new Failures
    // a repeated question must come back exactly as it did the first time
    def record(id: Int, a: Answer): Unit = answers.get(id) match {
      case None => answers(id) = a
      case Some(first) if first != a =>
        failures.add(s"ask $id: answer differs from its first ask")
      case _ =>
    }

    // warm-up: fresh questions, untimed; every answer is checked afterwards
    val warmup = Json.ints(seq.get("warmup"))
    warmup.foreach { id =>
      try {
        val a = ask(id)
        if (traced && staged(id) != a)
          failures.add(s"ask $id: staged stages disagree with Bridge.ask")
        record(id, a)
      } catch { case NonFatal(e) => failures.add(s"ask $id: $e") }
    }

    spans = new Spans
    promptChars = 0; repairChanged = 0; rowsFetched = 0; truncated = 0
    val timed = Json.ints(seq.get("timed"))
    val lat = mutable.ArrayBuffer[Double]()
    val calls = mutable.ArrayBuffer[(Long, Long)]()
    val before = if (traced) Trace.snapshot(spark) else Map.empty[String, Long]
    val setupEndMs = System.currentTimeMillis()
    val start = System.nanoTime()
    while (lat.size < timed.size && (System.nanoTime() - start) / 1e9 < seconds) {
      val id = timed(lat.size)
      val c0 = System.currentTimeMillis()
      val a0 = System.nanoTime()
      val a =
        try Some(if (traced) staged(id) else ask(id))
        catch { case NonFatal(e) => failures.add(s"ask $id: $e"); None }
      lat += (System.nanoTime() - a0) / 1e6
      calls += ((c0, System.currentTimeMillis()))
      a.foreach(record(id, _))
    }
    val n = lat.size.toDouble
    if (traced) {
      layers ++= Trace.layers(Trace.diff(before, Trace.snapshot(spark)), n,
        Trace.driverGapMs(calls.toSeq))
      spans.totalsNs.foreach { case (k, ns) => layers(s"${k}_ms") = ns / 1e6 / n }
      layers("nl.prompt_chars") = promptChars / n
      layers("repair.changed_ratio") = repairChanged / n
      layers("exec.rows") = rowsFetched / n
      layers("exec.truncated_ratio") = truncated / n
    }
    Result(
      setupEndMs = setupEndMs,
      opsMs = lat.toSeq,
      passesS = passTimes(lat.toSeq),
      attempted = warmup.size + lat.size,
      failures = failures,
      extra = Map("answers" -> answers.map { case (id, a) =>
        Map("id" -> id, "sql" -> a.sql, "columns" -> a.columns,
          "fetched" -> a.fetched, "truncated" -> a.truncated,
          "rows_hash" -> a.rowsHash)
      }.toSeq))
  }
}
