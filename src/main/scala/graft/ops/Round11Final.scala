package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-11 serving-side composition shapes.
  *
  *  - q270 RAG CONTEXT ASSEMBLY: the retrieval→dedup→token-budget
  *    packing chain a retrieval-augmented serving layer runs per query:
  *    exact top-20 candidates by fixed-point cosine, duplicate
  *    suppression (best rank wins per text fingerprint), then greedy
  *    prefix packing into a 256-token context budget. The candidate
  *    corpus carries planted exact-duplicate shadows (q184's
  *    discipline: vec_id % 25 == 0 re-enters as vec_id + 1000000 with
  *    the same embedding and text), so the dedup stage provably FIRES
  *    at the gate scale factors. Every stage is a keyed window
  *    (PARTITION BY qid) — the per-query chain parallelizes across any
  *    number of queries.
  *  - q271 CLUSTER QUALITY EVAL: the retrain-signal metric for the
  *    serving codebook — per cell: member count, mean member→centroid
  *    similarity (intra6), the nearest-other-centroid similarity
  *    (sep12, an EXACT integer dot over the fixed-point codebook), and
  *    the separation margin. q260 watches occupancy drift; this gate
  *    watches geometric degradation — the two together decide when the
  *    trained artifact is stale.
  *
  * Reference scope: PalNilsson/ask-duckdb has no serving or index
  * surface (README.md:1-65); 100 TB mandate shapes.
  */
object Round11Final {

  // query slice: vec_id % qmod == 0 with qmod = max(125, n/16) — the
  // query BATCH is corpus-size-independent (~16 queries at any SF, the
  // q211 discipline), so the brute-force referee stage stays O(n), not
  // O(n²/125) (measured slope 1.10 before the cap)
  private val QMOD = 125
  private val TOPC = 20 // retrieval candidates per query
  private val BUDGET = 256L // context token budget

  val queries: Seq[Q] = Seq(
    // E7×E6×assembly: per-query context packing. Rank by cos6 =
    // floor(dot * 1e6 + 0.5) (ties by vec_id), drop lower-ranked exact
    // text duplicates, then take the maximal prefix whose token sum
    // fits the budget (cumulative-sum window — the deterministic
    // packing rule both engines replay exactly). The brute-force
    // candidate stage is the referee shape; a production tier swaps in
    // the persisted index serve (q224/q244) without touching the
    // dedup/packing stages.
    Q(
      "q270_context_budget_packing",
      s"""WITH eplus AS MATERIALIZED (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000, embedding FROM embeddings
         |  WHERE vec_id % 25 = 0),
         |qm AS (SELECT GREATEST($QMOD, COUNT(*) // 16) AS m
         |        FROM embeddings),
         |q AS MATERIALIZED (
         |  SELECT vec_id AS qid, embedding AS qe FROM embeddings, qm
         |  WHERE vec_id % qm.m = 0),
         |scored AS MATERIALIZED (
         |  SELECT q.qid, e.vec_id,
         |    CAST(FLOOR(${Similarity.duckDot("e.embedding", "q.qe")}
         |      * 1000000 + 0.5) AS BIGINT) AS cos6
         |  FROM eplus e, q WHERE e.vec_id % 1000000 <> q.qid),
         |ranked AS MATERIALIZED (
         |  SELECT s.qid, s.vec_id, s.cos6,
         |    ROW_NUMBER() OVER (PARTITION BY s.qid
         |      ORDER BY s.cos6 DESC, s.vec_id ASC) AS rn,
         |    md5(d.text) AS h,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS ntk
         |  FROM scored s
         |  JOIN documents d ON d.doc_id = s.vec_id % 1000000),
         |cand AS MATERIALIZED (
         |  SELECT * FROM ranked WHERE rn <= $TOPC),
         |dd AS MATERIALIZED (
         |  SELECT qid, vec_id, cos6, rn, ntk FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid, h
         |      ORDER BY rn) AS dup_rn
         |    FROM cand) WHERE dup_rn = 1),
         |pk AS MATERIALIZED (
         |  SELECT *, CAST(SUM(ntk) OVER (PARTITION BY qid ORDER BY rn
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM dd),
         |packed AS MATERIALIZED (
         |  SELECT * FROM pk WHERE cum <= $BUDGET)
         |SELECT c.qid,
         |  CAST(COUNT(DISTINCT c.vec_id) AS BIGINT) AS n_cand,
         |  CAST(COUNT(DISTINCT d2.vec_id) AS BIGINT) AS n_dedup,
         |  CAST(COUNT(DISTINCT p.vec_id) AS BIGINT) AS n_packed,
         |  CAST(COALESCE(MAX(p.cum), 0) AS BIGINT) AS ctx_tokens,
         |  COALESCE((SELECT string_agg(CAST(p2.vec_id AS VARCHAR), '-'
         |      ORDER BY p2.rn)
         |    FROM packed p2 WHERE p2.qid = c.qid), '') AS ctx_ids
         |FROM cand c
         |LEFT JOIN dd d2 ON d2.qid = c.qid AND d2.vec_id = c.vec_id
         |LEFT JOIN packed p ON p.qid = c.qid AND p.vec_id = c.vec_id
         |GROUP BY c.qid
         |ORDER BY c.qid""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val eplus = e.select(col("vec_id"), col("embedding"))
        .unionByName(e.filter(col("vec_id") % 25 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            col("embedding")))
      val qmod = math.max(QMOD.toLong, e.count() / 16)
      val q = e.filter(col("vec_id") % qmod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("h"),
          size(split(col("text"), " ")).cast("bigint").as("ntk"))
      val wrank = Window.partitionBy(col("qid"))
        .orderBy(col("cos6").desc, col("vec_id").asc)
      val cand = eplus.crossJoin(broadcast(q))
        .filter(col("vec_id") % 1000000L =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          floor(expr(Similarity.dotExpr("embedding", "qe")) * 1000000
            + 0.5).cast("bigint").as("cos6"))
        .withColumn("rn", row_number().over(wrank))
        .filter(col("rn") <= TOPC)
        .join(docs, col("doc_id") === col("vec_id") % 1000000L)
        .drop("doc_id")
      val wdup = Window.partitionBy(col("qid"), col("h"))
        .orderBy(col("rn"))
      val dd = cand.withColumn("dup_rn", row_number().over(wdup))
        .filter(col("dup_rn") === 1)
        .select(col("qid"), col("vec_id"), col("cos6"), col("rn"),
          col("ntk"))
      val wcum = Window.partitionBy(col("qid")).orderBy(col("rn"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val packed = dd.withColumn("cum", sum(col("ntk")).over(wcum))
        .filter(col("cum") <= BUDGET)
      val perq = cand.groupBy(col("qid"))
        .agg(count(lit(1)).cast("bigint").as("n_cand"))
      val perd = dd.groupBy(col("qid"))
        .agg(count(lit(1)).cast("bigint").as("n_dedup"))
      val perp = packed.groupBy(col("qid"))
        .agg(count(lit(1)).cast("bigint").as("n_packed"),
          max(col("cum")).cast("bigint").as("ctx_tokens"),
          array_join(expr(
            "transform(array_sort(collect_list(struct(rn, vec_id)))," +
              " x -> CAST(x.vec_id AS STRING))"), "-").as("ctx_ids"))
      perq.join(perd, Seq("qid"), "left")
        .join(perp, Seq("qid"), "left")
        .select(col("qid"), col("n_cand"),
          coalesce(col("n_dedup"), lit(0L)).cast("bigint").as("n_dedup"),
          coalesce(col("n_packed"), lit(0L)).cast("bigint")
            .as("n_packed"),
          coalesce(col("ctx_tokens"), lit(0L)).cast("bigint")
            .as("ctx_tokens"),
          coalesce(col("ctx_ids"), lit("")).as("ctx_ids"))
        .orderBy(col("qid"))
    },

    // E7 eval: codebook geometry. intra6 = mean member→own-centroid
    // similarity (fixed-point, summed as exact integers then
    // integer-divided — member counts are positive and member→own
    // dots are positive by construction of the assignment); sep12 =
    // the max inter-centroid dot, computed as an EXACT integer dot
    // over the 1e6-scaled codebook (64 dims × 1e12 per term fits
    // BIGINT with 5 decimal orders to spare); margin = intra6 * 1e6 -
    // sep12, the retrain signal: a cell whose members sit closer to a
    // NEIGHBORING centroid than to their own has gone stale. The k²
    // centroid-pair stage is k = O(√n) rows — broadcast-sized by
    // construction.
    Q(
      "q271_cluster_quality_eval",
      s"""WITH ${KMeans.kkCte()},
         |${KMeans.oracleCtes(KMeans.duckK, VecIndex.CITERS)},
         |asg AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, c.cid, c.cs,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${KMeans.duckDot("e.embedding", "c.cs")} DESC,
         |        c.cid ASC) AS rn
         |  FROM embeddings e, cl${VecIndex.CITERS} c),
         |mem AS MATERIALIZED (
         |  SELECT vec_id, cid,
         |    CAST(FLOOR(${KMeans.duckDot("embedding", "cs")}) AS BIGINT)
         |      AS sim6
         |  FROM asg WHERE rn = 1),
         |intra AS (
         |  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(sim6) // COUNT(*) AS BIGINT) AS intra6
         |  FROM mem GROUP BY cid),
         |cpair AS (
         |  SELECT a.cid,
         |    MAX(list_reduce(list_transform(range(len(a.cs)),
         |      i -> a.cs[i+1] * b.cs[i+1]), (x, y) -> x + y)) AS sep12
         |  FROM cl${VecIndex.CITERS} a JOIN cl${VecIndex.CITERS} b
         |    ON a.cid <> b.cid
         |  GROUP BY a.cid)
         |SELECT c.cid, CAST(COALESCE(i.n, 0) AS BIGINT) AS n,
         |  CAST(COALESCE(i.intra6, 0) AS BIGINT) AS intra6,
         |  CAST(c.sep12 AS BIGINT) AS sep12,
         |  CAST(COALESCE(i.intra6, 0) * 1000000 - c.sep12 AS BIGINT)
         |    AS margin
         |FROM cpair c LEFT JOIN intra i ON i.cid = c.cid
         |ORDER BY c.cid""".stripMargin) { (s, dir) =>
      val e = Tables.table(s, dir, "embeddings")
      val cb = KMeans.codebook(s, e, KMeans.servingK(e), VecIndex.CITERS)
      val mem = KMeans.assign(e, cb)
        .join(broadcast(cb), "cid")
        .select(col("cid"),
          floor(expr(KMeans.dotFold("embedding", "cs")))
            .cast("bigint").as("sim6"))
      val intra = mem.groupBy(col("cid"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          expr("SUM(sim6) div COUNT(*)").cast("bigint").as("intra6"))
      val cpair = cb.as("a")
        .join(broadcast(cb.as("b")),
          col("a.cid") =!= col("b.cid"))
        .select(col("a.cid").as("cid"),
          expr("aggregate(zip_with(a.cs, b.cs, (x, y) -> x * y), " +
            "CAST(0 AS BIGINT), (x, y) -> x + y)").as("cc"))
        .groupBy(col("cid"))
        .agg(max(col("cc")).cast("bigint").as("sep12"))
      // report-row totality: the output is driven from the codebook cid
      // spine (cpair has every cid by construction for k >= 2) with a
      // LEFT JOIN to the measured intra frame — a codebook cell with
      // ZERO assigned members still reports (n=0, intra6=0), and an
      // empty cell is exactly the stale-cell signal this gate exists to
      // surface.
      cpair.join(broadcast(intra), Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("n"), lit(0L)).cast("bigint").as("n"),
          coalesce(col("intra6"), lit(0L)).cast("bigint").as("intra6"),
          col("sep12"),
          (coalesce(col("intra6"), lit(0L)) * 1000000L - col("sep12"))
            .cast("bigint").as("margin"))
        .orderBy(col("cid"))
    })
}
