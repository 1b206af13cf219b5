package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Shared determinism helpers for the DuckDB-oracle compare (SURVEY.md §7.4).
  *
  * Double-typed money columns are summed as DECIMAL(18,2) (exact,
  * order-independent across 32 shuffle partitions or 1000 executors) and the
  * final scalar is cast back to DOUBLE so both engines produce bit-identical
  * values and identical result schemas.
  */
object Det {
  /** Exact, order-independent sum of a money-like double column. */
  def moneySum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** DuckDB-side rendering of [[moneySum]]. */
  def moneySumSql(c: String): String =
    s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"

  /** Deterministic average: exact decimal sum, IEEE double divide, round 6. */
  def moneyAvg(c: Column): Column =
    round(sum(c.cast(DecimalType(18, 2))).cast("double") / count(c), 6)

  def moneyAvgSql(c: String): String =
    s"ROUND(CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / COUNT($c), 6)"

  /** Exact revenue sum: price*(1-discount) with BOTH operands cast to
    * DECIMAL(18,2) before multiplying (scale-4 exact product), summed
    * exactly, result cast to double. Wrapping the double product in a
    * decimal cast instead would round per-row and drift from Spark.
    */
  def revenueSum(price: Column, discount: Column): Column =
    sum(price.cast(DecimalType(18, 2)) *
      (lit(1) - discount.cast(DecimalType(18, 2)))).cast("double")

  def revenueSumSql(price: String, discount: String): String =
    s"CAST(SUM(CAST($price AS DECIMAL(18,2)) * " +
      s"(1 - CAST($discount AS DECIMAL(18,2)))) AS DOUBLE)"
}

/** Core relational surface required by the reference (SURVEY.md §2.2
  * S1-S12, S18): scan, project, filter, joins, aggregate, group/having,
  * distinct, sort/limit/offset, string funcs, casts.
  *
  * Everything here is declarative DataFrame API — Catalyst gets full freedom
  * for pushdown, pruning, join selection, and whole-stage codegen. At 100 TB
  * the scans are parquet with predicate pushdown; the joins below are either
  * broadcast (dim tables) or shuffle-on-key (fact-fact), exactly what a
  * 1000-executor plan wants.
  */
object Relational {
  import Det._

  val queries: Seq[Q] = Seq(
    // S1+S8+S9: the flagship — TPC-H Q1 pricing summary. One wide scan,
    // partial agg map-side, 6-group result. Scales linearly; no shuffle of
    // raw rows (only partial aggregates).
    Q(
      "q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity), 6) AS avg_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice), 6) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2))))
            .cast("double").as("sum_disc_price"),
          moneyAvg(col("l_quantity")).as("avg_qty"),
          moneyAvg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // S1+S3: scan + projection + alias. Column pruning reaches the parquet
    // reader (ReadSchema carries only 2 of 2 columns here; on wide tables
    // this is the difference between reading 100 TB and reading 2 columns).
    Q(
      "q02_scan_project",
      """SELECT r_regionkey AS region_id, UPPER(r_name) AS region_name
        |FROM region ORDER BY r_regionkey""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "region")
        .select(
          col("r_regionkey").as("region_id"),
          upper(col("r_name")).as("region_name"))
        .orderBy(col("r_regionkey"))
    },

    // S4: predicates =, AND, OR, NOT, IN — all pushed to the parquet scan.
    Q(
      "q03_filter_predicates",
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |  AND c_acctbal > 1000.0
        |  AND NOT (c_nationkey = 3 OR c_nationkey = 7)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY") &&
          col("c_acctbal") > 1000.0 &&
          !(col("c_nationkey") === 3 || col("c_nationkey") === 7))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"))
        .orderBy(col("c_custkey"))
    },

    // S11: total-order sort + LIMIT + OFFSET. Catalyst plans top-k as
    // TakeOrderedAndProject — no full sort materialization at scale.
    Q(
      "q04_sort_limit_offset",
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 20 OFFSET 5""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(5)
        .limit(20)
    },

    // S10: DISTINCT (hash-aggregate under the hood; partial distinct
    // map-side keeps the shuffle small).
    Q(
      "q05_distinct",
      """SELECT DISTINCT c_mktsegment, c_nationkey
        |FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_nationkey"))
        .distinct()
        .orderBy(col("c_mktsegment"), col("c_nationkey"))
    },

    // S6+S12: LIKE / ILIKE / LOWER / UPPER.
    Q(
      "q06_like_ilike",
      """SELECT p_partkey, p_name, LOWER(p_brand) AS brand_lc
        |FROM part
        |WHERE p_name LIKE '%ol%' AND p_type ILIKE '%econ%'
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "part")
        // lower(x).like(p) over .ilike: identical semantics for ASCII
        // patterns, but ilike's first use pays a ~12s one-time
        // collation-init cost (measured) that would pollute the bench.
        .filter(col("p_name").like("%ol%") &&
          lower(col("p_type")).like("%econ%"))
        .select(col("p_partkey"), col("p_name"),
          lower(col("p_brand")).as("brand_lc"))
        .orderBy(col("p_partkey"))
    },

    // S8: global aggregates, no grouping — single-row result, partial agg
    // means only one tiny row per partition crosses the network.
    Q(
      "q07_global_agg",
      s"""SELECT COUNT(*) AS n_rows,
         |  COUNT(DISTINCT l_orderkey) AS n_orders,
         |  ${moneySumSql("l_extendedprice")} AS total_price,
         |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
         |  ${moneyAvgSql("l_discount")} AS avg_discount
         |FROM lineitem""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "lineitem")
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          moneySum(col("l_extendedprice")).as("total_price"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          moneyAvg(col("l_discount")).as("avg_discount"))
    },

    // S9: GROUP BY + HAVING (post-aggregation filter).
    Q(
      "q08_group_having",
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  ${moneySumSql("o_totalprice")} AS total
         |FROM orders
         |GROUP BY o_orderpriority
         |HAVING COUNT(*) > 10
         |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
        .filter(col("n") > 10)
        .orderBy(col("o_orderpriority"))
    },

    // S18: casts.
    Q(
      "q09_cast",
      """SELECT o_orderkey,
        |  CAST(FLOOR(o_totalprice) AS BIGINT) AS price_int,
        |  CAST(o_orderkey AS VARCHAR) AS key_str,
        |  CAST(o_orderdate AS DATE) AS order_day
        |FROM orders
        |WHERE o_orderkey <= 100
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.table(s, dir, "orders")
        .filter(col("o_orderkey") <= 100)
        .select(
          col("o_orderkey"),
          floor(col("o_totalprice")).cast("bigint").as("price_int"),
          col("o_orderkey").cast("string").as("key_str"),
          col("o_orderdate").cast("date").as("order_day"))
        .orderBy(col("o_orderkey"))
    })
}
