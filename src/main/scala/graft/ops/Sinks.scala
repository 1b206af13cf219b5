package graft.ops

import org.apache.spark.sql.functions._
import graft.Tables

/** Source/sink surface (SURVEY.md §2.2 S1-S2 beyond plain scans) + the
  * physical-layout levers a 100 TB deployment lives by: partitioned
  * parquet (partition pruning), CSV/JSON interchange, bucketed co-located
  * joins (no shuffle at read time), and manual salting for skewed keys.
  *
  * Sinks write under java.io.tmpdir; reads go through the written layout
  * so the round-trip (including partition-column reconstruction) is what
  * is verified.
  */
object Sinks {

  // one unique store-scratch dir per JVM: sink round-trips are
  // bounded-row demonstrations, so a fresh root per session is cheap
  // and avoids cross-JVM interleaving on a shared name
  private lazy val scratch: String = ArtifactStore.tempRoot("graft_sinks")

  val queries: Seq[Q] = Seq(
    // S2: partitioned parquet sink + partition-pruned read-back. The
    // pruning means a predicate on the partition column reads only that
    // directory — at 100 TB this is the difference between one partition
    // and the whole dataset.
    Q(
      "q62_partitioned_sink",
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderstatus IN ('O', 'F')
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val out = s"$scratch/orders_by_status"
      Tables.table(s, dir, "orders")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(out)
      s.read.parquet(out)
        .filter(col("o_orderstatus").isin("O", "F")) // partition-pruned
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          Det.moneySum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    },

    // S2: CSV and JSON interchange round-trip (schema-preserving read with
    // explicit schema — never infer in production paths).
    Q(
      "q63_csv_json_roundtrip",
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""".stripMargin) { (s, dir) =>
      val csvOut = s"$scratch/region_csv"
      val jsonOut = s"$scratch/region_json"
      val region = Tables.table(s, dir, "region")
        .select(col("r_regionkey"), col("r_name"))
      region.write.mode("overwrite").option("header", "true").csv(csvOut)
      s.read.schema(region.schema).option("header", "true").csv(csvOut)
        .write.mode("overwrite").json(jsonOut)
      s.read.schema(region.schema).json(jsonOut)
        .orderBy(col("r_regionkey"))
    },

    // S2: ORC interchange (the other columnar format Spark ships native).
    Q(
      "q78_orc_roundtrip",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
      val out = s"$scratch/nation_orc"
      val nation = Tables.table(s, dir, "nation")
      nation.write.mode("overwrite").orc(out)
      s.read.orc(out)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy(col("n_nationkey"))
    },

    // Bucketed co-located join: both sides bucketed by the join key into
    // the warehouse → SortMergeJoin with NO exchange on either side. The
    // require() asserts the shuffle-free plan; at scale this is how
    // repeated fact-fact joins amortize their shuffle to write time.
    Q(
      "q64_bucketed_join",
      s"""SELECT l.l_orderkey, COUNT(*) AS n_items,
         |  ${Det.moneySumSql("l.l_extendedprice")} AS order_rev
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |WHERE o.o_orderstatus = 'O' AND l.l_orderkey < 1000
         |GROUP BY l.l_orderkey
         |ORDER BY l.l_orderkey""".stripMargin) { (s, dir) =>
      s.conf.set("spark.sql.sources.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // table names carry the source dir so sf0.01 verify and sf0.1 bench
      // never share bucketed data
      val tag = ArtifactStore.dirDigest(dir)
      val liTbl = s"graft_lineitem_bucketed_$tag"
      val oTbl = s"graft_orders_bucketed_$tag"
      // external tables under the per-JVM scratch dir: no stale managed
      // locations across sessions (a leftover spark-warehouse dir would
      // make managed saveAsTable fail on LOCATION_ALREADY_EXISTS)
      if (!s.catalog.tableExists(liTbl)) {
        Tables.table(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice")
          .write.mode("overwrite").option("path", s"$scratch/$liTbl")
          .bucketBy(8, "l_orderkey")
          .sortBy("l_orderkey").saveAsTable(liTbl)
        Tables.table(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus")
          .write.mode("overwrite").option("path", s"$scratch/$oTbl")
          .bucketBy(8, "o_orderkey")
          .sortBy("o_orderkey").saveAsTable(oTbl)
      }
      val l = s.table(liTbl)
      val o = s.table(oTbl).filter(col("o_orderstatus") === "O")
      val joined = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .filter(col("l_orderkey") < 1000)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          Det.moneySum(col("l_extendedprice")).as("order_rev"))
        .orderBy(col("l_orderkey"))
      // co-located: the join itself must need no shuffle of either side
      // forcing executedPlan binds the physical plan NOW, so restoring the
      // broadcast threshold below cannot re-plan it
      val planTxt = joined.queryExecution.executedPlan.toString
      require(!planTxt.contains("Exchange hashpartitioning(l_orderkey"),
        "bucketed join unexpectedly shuffled the lineitem side")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      joined
    },

    // Salted skew join: the classic hot-key defense — explode the build
    // side over N salts, scatter the probe side — expressed end-to-end;
    // result provably identical to the unsalted join (the oracle).
    Q(
      "q65_salted_join",
      """SELECT n.n_name AS nation_name, COUNT(*) AS n_customers
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name
        |ORDER BY nation_name""".stripMargin) { (s, dir) =>
      val salts = 8
      // probe side: deterministic salt from the row key
      val c = Tables.table(s, dir, "customer")
        .withColumn("salt", pmod(col("c_custkey"), lit(salts)).cast("int"))
      // build side: replicate each key across every salt value
      val n = Tables.table(s, dir, "nation")
        .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
      c.join(n, c("c_nationkey") === n("n_nationkey") &&
          c("salt") === n("salt"))
        .groupBy(col("n_name").as("nation_name"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("nation_name"))
    })
}
