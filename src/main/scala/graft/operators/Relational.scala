package graft.operators

import graft.{Op, OpCatalog, Tables}
import graft.functions.Rounding.roundVal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator set over the TPC-H-ish star schema (SURVEY.md §2.3
  * E1–E9). The reference itself has no relational surface beyond scan /
  * project / limit-1 (SURVEY.md §2.2, evidence `app.py:111-183`); these give
  * the ABSENT categories a concrete, DuckDB-checkable embodiment.
  *
  * Declared-oracle contract: sort keys are non-null (true of this corpus;
  * Spark defaults NULLS FIRST on ASC where DuckDB defaults NULLS LAST, so
  * null-keyed ordering would need explicit NULLS clauses on both sides).
  *
  * Determinism rules (SURVEY.md §7.4): money sums go through DECIMAL casts
  * (exact, associative — identical in Spark and DuckDB regardless of
  * aggregation order); doubles only where magnitudes keep float error far
  * below the rounding step; every result totally ordered with id tiebreakers.
  *
  * Scale notes (100 TB mindset):
  *  - only bounded dims (`region` 5 rows, `nation` 25 rows) are broadcast
  *    unconditionally; `customer`/`part`/`orders` scale with SF, so their
  *    joins stay shuffle joins and AQE decides broadcast at runtime.
  *  - aggregations are plain `groupBy` — Spark's hash agg does map-side
  *    partial aggregation automatically; no driver-side collects anywhere.
  *  - filters sit directly on scans so Catalyst pushes them into parquet
  *    (`PushedFilters`) and prunes columns (`ReadSchema`).
  */
object Relational extends OpCatalog {

  /** `CAST(c AS DECIMAL(12,2))` — exact money arithmetic, see scaladoc. */
  private def dec(c: Column): Column = c.cast("decimal(12,2)")

  /** Finalize an exact DECIMAL sum for output: round to cents, then cast to
    * DOUBLE. The rounded unscaled value stays far below 2^53, so the
    * decimal→double conversion is bit-identical in Spark and DuckDB (both
    * correctly rounded), and DuckDB's decimal round is also half-away-from-
    * zero like Spark's HALF_UP — fully deterministic across engines. */
  private def money(decimalSum: Column): Column =
    round(decimalSum, 2).cast("double")

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1-shaped pricing summary: filter → hash agg → sort (E2).
    * Flagship query (`SparkEntry.entry`). */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        money(sum(dec(col("l_quantity")))).as("sum_qty"),
        money(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
        money(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))))
          .as("sum_disc_price"),
        money(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))
          * dec(lit(1) + col("l_tax")))).as("sum_charge"),
        roundVal(avg(col("l_quantity")), 4).as("avg_qty"),
        roundVal(avg(col("l_extendedprice")), 4).as("avg_price"),
        roundVal(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val pricingSummarySql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_disc_price,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2)) * CAST(1 + l_tax AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_charge,
      |  floor((avg(l_quantity)) * 1e4 + 0.5) / 1e4 AS avg_qty,
      |  floor((avg(l_extendedprice)) * 1e4 + 0.5) / 1e4 AS avg_price,
      |  floor((avg(l_discount)) * 1e4 + 0.5) / 1e4 AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  /** Selective filter + narrow projection (E1): predicate and the 4-column
    * read schema must both reach the parquet scan. */
  def filterProject(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 45 &&
        col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
        col("l_discount") < 0.03)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private val filterProjectSql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '2000-01-01' AND l_discount < 0.03
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q03
  /** Equi-join with a broadcast bounded dim (E3): orders ⋈ customer is a
    * shuffle join (customer scales with SF — AQE may still broadcast it at
    * small SF), nation is 25 rows → explicit broadcast. */
  def joinBroadcastDim(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"))
      .agg(money(sum(dec(col("o_totalprice")))).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("n_name"), col("c_mktsegment"))
  }

  private val joinBroadcastDimSql =
    """SELECT n_name, c_mktsegment,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue,
      |  count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name, c_mktsegment
      |ORDER BY n_name, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q04
  /** Large-table shuffle join (E3): lineitem ⋈ orders on the fact key. Both
    * sides scale with SF → sort-merge/shuffled-hash territory; the date
    * filters push down to both scans before the shuffle. */
  def joinLarge(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") =!= "P")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        money(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))))
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }

  private val joinLargeSql =
    """SELECT o_orderpriority,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND o_orderstatus <> 'P'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q05
  /** TPC-H Q5-shaped multi-join: fact ⋈ fact ⋈ dims with region filter and
    * date range (E3). nation/region broadcast; the customer⋈orders⋈lineitem
    * chain shuffles on its keys. */
  def multiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir).filter(col("r_name") === "ASIA")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(li, o("o_orderkey") === li("l_orderkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(money(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))))
        .as("revenue"))
      .orderBy(col("n_name"))
  }

  private val multiJoinSql =
    """SELECT n_name,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q06
  /** Left-semi join (E4): customers having at least one 'F' order, counted
    * per nation. Semi joins shuffle only keys — no row multiplication. */
  def semiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        money(sum(dec(col("c_acctbal")))).as("sum_bal"))
      .orderBy(col("c_nationkey"))
  }

  private val semiJoinSql =
    """SELECT c_nationkey, count(*) AS n_customers,
      |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_bal
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q07
  /** Left-anti join (E4): customers with no high-value order, per segment.
    * (Every customer has at least one order in this testdata, so the anti
    * join is against the filtered order set to keep the result non-empty.) */
  def antiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 300000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        min(col("c_custkey")).as("min_custkey"))
      .orderBy(col("c_mktsegment"))
  }

  private val antiJoinSql =
    """SELECT c_mktsegment, count(*) AS n_customers,
      |  CAST(min(c_custkey) AS BIGINT) AS min_custkey
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q08
  /** Ranking window (E5): top-3 orders per customer by total price. One
    * shuffle on the partition key, no join. */
  def windowRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .withColumn("rk", rank().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"),
        col("o_totalprice").as("total"))
      .orderBy(col("o_custkey"), col("rk"), col("o_orderkey"))
  }

  private val windowRankSql =
    """SELECT o_custkey, rk, o_orderkey, o_totalprice AS total
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders)
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q09
  /** Analytic frame window (E5): per-customer running revenue in order-date
    * order (ROWS UNBOUNDED PRECEDING..CURRENT ROW). */
  def windowRunning(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .withColumn("running",
        round(sum(dec(col("o_totalprice"))).over(w), 2).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        col("running"))
      .orderBy(col("o_custkey"), col("odate"), col("o_orderkey"))
  }

  private val windowRunningSql =
    """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running
      |FROM orders
      |ORDER BY o_custkey, odate, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q10
  /** Global sort + top-k (E6): Spark plans `TakeOrderedAndProject` — per-
    * partition top-k then a k-row merge on the driver, no full sort at scale. */
  def topK(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("total"))
  }

  private val topKSql =
    """SELECT o_orderkey, o_custkey, o_totalprice AS total
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q11
  /** Set operations (E7): UNION / INTERSECT / EXCEPT cardinalities of two
    * customer-key sets (BUILDING segment vs high account balance). */
  def setOps(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val a = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val b = c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
    val u = a.union(b).distinct().agg(count(lit(1)).as("n"))
      .select(lit("union").as("op"), col("n"))
    val i = a.intersect(b).agg(count(lit(1)).as("n"))
      .select(lit("intersect").as("op"), col("n"))
    val e = a.except(b).agg(count(lit(1)).as("n"))
      .select(lit("except").as("op"), col("n"))
    u.union(i).union(e).orderBy(col("op"))
  }

  private val setOpsSql =
    """WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      |     b AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      |SELECT op, n FROM (
      |  SELECT 'union' AS op, (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS n
      |  UNION ALL
      |  SELECT 'intersect', (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
      |  UNION ALL
      |  SELECT 'except', (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)))
      |ORDER BY op""".stripMargin

  // ---------------------------------------------------------------- q12
  /** ROLLUP (E8): nation × segment subtotals over customer balances. NULL
    * grouping slots are coalesced to 'ALL' so ordering is NULL-free. */
  def rollupAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .rollup(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        money(sum(dec(col("c_acctbal")))).as("sum_bal"),
        // grouping() distinguishes subtotal slots from genuine NULL data —
        // plain coalesce would collide the two into the same 'ALL' key
        // (grouping() is only legal inside the rollup's own agg list)
        grouping(col("n_name")).as("g_nation"),
        grouping(col("c_mktsegment")).as("g_segment"))
      .select(
        when(col("g_nation") === 1, "ALL")
          .otherwise(coalesce(col("n_name"), lit("NULL"))).as("nation"),
        when(col("g_segment") === 1, "ALL")
          .otherwise(coalesce(col("c_mktsegment"), lit("NULL"))).as("segment"),
        col("n_customers"), col("sum_bal"))
      .orderBy(col("nation"), col("segment"))
  }

  private val rollupAggSql =
    """SELECT
      |  CASE WHEN grouping(n_name) = 1 THEN 'ALL'
      |       ELSE coalesce(n_name, 'NULL') END AS nation,
      |  CASE WHEN grouping(c_mktsegment) = 1 THEN 'ALL'
      |       ELSE coalesce(c_mktsegment, 'NULL') END AS segment,
      |  count(*) AS n_customers,
      |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP (n_name, c_mktsegment)
      |ORDER BY nation, segment""".stripMargin

  // ---------------------------------------------------------------- q13
  /** CUBE (E8): all grouping combinations of order status × priority. */
  def cubeAgg(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        money(sum(dec(col("o_totalprice")))).as("revenue"),
        grouping(col("o_orderstatus")).as("g_status"),
        grouping(col("o_orderpriority")).as("g_priority"))
      .select(
        when(col("g_status") === 1, "ALL")
          .otherwise(coalesce(col("o_orderstatus"), lit("NULL"))).as("status"),
        when(col("g_priority") === 1, "ALL")
          .otherwise(coalesce(col("o_orderpriority"), lit("NULL"))).as("priority"),
        col("n_orders"), col("revenue"))
      .orderBy(col("status"), col("priority"))
  }

  private val cubeAggSql =
    """SELECT
      |  CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL'
      |       ELSE coalesce(o_orderstatus, 'NULL') END AS status,
      |  CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL'
      |       ELSE coalesce(o_orderpriority, 'NULL') END AS priority,
      |  count(*) AS n_orders,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  // ---------------------------------------------------------------- q14
  /** Exact DISTINCT aggregation (E9): distinct customers and order-date days
    * per order status. (The approximate twin, HLL `approx_count_distinct`,
    * is exercised in ScalaTest — not oracle-comparable by design.) */
  def distinctAgg(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_custs"),
        countDistinct(col("o_orderdate")).as("n_days"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))
  }

  private val distinctAggSql =
    """SELECT o_orderstatus,
      |  count(DISTINCT o_custkey) AS n_custs,
      |  count(DISTINCT o_orderdate) AS n_days,
      |  count(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q15
  /** Part-dim broadcast join (E3): revenue by brand. `part` scales with SF
    * but stays dim-sized relative to lineitem → explicit broadcast is the
    * right call up to ~10M parts; beyond that drop the hint and let AQE
    * decide (documented tradeoff). */
  def brandRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        money(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))))
          .as("revenue"),
        roundVal(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("p_brand"))
  }

  private val brandRevenueSql =
    """SELECT p_brand,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue,
      |  floor((avg(l_quantity)) * 1e4 + 0.5) / 1e4 AS avg_qty,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q16
  /** Supplier-side dim join + agg: balances per nation name. */
  def supplierBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    s.join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        money(sum(dec(col("s_acctbal")))).as("sum_bal"),
        max(col("s_acctbal")).as("max_bal"))
      .orderBy(col("n_name"))
  }

  private val supplierBalanceSql =
    """SELECT n_name, count(*) AS n_suppliers,
      |  CAST(round(sum(CAST(s_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_bal,
      |  max(s_acctbal) AS max_bal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q17
  /** Metadata-driven row counts (reference O2: footer `num_rows` probe,
    * `app.py:91,100`): parquet `count(*)` is answered from footer stats in
    * both engines — no data pages read. On the Spark side this requires
    * the DSv2 reader + `parquet.aggregatePushdown` (both set by
    * [[graft.GraftSession.tune]]); the plan shows
    * `PushedAggregation: [COUNT(*)]` on every scan (`graft.Explain`). */
  def scanMeta(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.names.map { t =>
      Tables(spark, sfDir, t).agg(count(lit(1)).as("n_rows"))
        .select(lit(t).as("tbl"), col("n_rows"))
    }.reduce(_ union _).orderBy(col("tbl"))
  }

  private val scanMetaSql =
    """SELECT tbl, n_rows FROM (
      |  SELECT 'region' AS tbl, count(*) AS n_rows FROM region
      |  UNION ALL SELECT 'nation', count(*) FROM nation
      |  UNION ALL SELECT 'customer', count(*) FROM customer
      |  UNION ALL SELECT 'supplier', count(*) FROM supplier
      |  UNION ALL SELECT 'part', count(*) FROM part
      |  UNION ALL SELECT 'orders', count(*) FROM orders
      |  UNION ALL SELECT 'lineitem', count(*) FROM lineitem
      |  UNION ALL SELECT 'events', count(*) FROM events
      |  UNION ALL SELECT 'documents', count(*) FROM documents
      |  UNION ALL SELECT 'embeddings', count(*) FROM embeddings)
      |ORDER BY tbl""".stripMargin

  // --------------------------------------------------------------- q126
  /** Calendar time series with month-over-month deltas: monthly order
    * count + revenue off `date_trunc('month')`, then `lag` over the
    * month grid for absolute and relative growth — the trend-report
    * shape (MoM%, the first month NULL by definition). Calendar
    * bucketing (month boundaries, not fixed-width epochs) is what the
    * epoch-integer windows of q21/q82 deliberately avoid; here it IS the
    * semantics, and both engines truncate timestamps on the same
    * proleptic-Gregorian calendar under the session's pinned UTC.
    *
    * Scale: one map-combined agg onto a months-sized grid; the lag
    * window is ordered over THAT grid (≤ a few hundred rows however big
    * the fact table) — a single-partition sort of a tiny frame, never of
    * the data. Revenue fixes to DECIMAL before summing (the q01 money
    * rule) so MoM ratios derive from identical 2dp doubles on both
    * engines. */
  def monthlyTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = Tables.orders(spark, sfDir)
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM")
        .as("month"))
      .agg(count(lit(1)).as("n_orders"),
        money(sum(dec(col("o_totalprice")))).as("revenue"))
    val grid = Window.orderBy(col("month"))
    monthly
      .withColumn("prev_revenue", lag(col("revenue"), 1).over(grid))
      .select(col("month"), col("n_orders"), col("revenue"),
        roundVal(col("revenue") - col("prev_revenue"), 2).as("mom_delta"),
        roundVal((col("revenue") - col("prev_revenue")) / col("prev_revenue"), 4)
          .as("mom_pct"))
      .orderBy(col("month"))
  }

  private val monthlyTrendSql =
    """WITH monthly AS (
      |  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
      |    count(*) AS n_orders,
      |    CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
      |      AS revenue
      |  FROM orders GROUP BY 1)
      |SELECT month, n_orders, revenue,
      |  floor((revenue - lag(revenue) OVER (ORDER BY month)) * 1e2 + 0.5)
      |    / 1e2 AS mom_delta,
      |  floor(((revenue - lag(revenue) OVER (ORDER BY month))
      |    / lag(revenue) OVER (ORDER BY month)) * 1e4 + 0.5) / 1e4 AS mom_pct
      |FROM monthly ORDER BY month""".stripMargin

  override val ops: Seq[Op] = Seq(
    Op("q126_monthly_trend", monthlyTrend, Some(monthlyTrendSql),
      "calendar monthly order/revenue series with MoM delta and pct (date_trunc grid + lag over the tiny month frame)"),
    Op("q01_pricing_summary", pricingSummary, Some(pricingSummarySql),
      "TPC-H Q1 shape: filter + hash agg + sort over lineitem"),
    Op("q02_filter_project", filterProject, Some(filterProjectSql),
      "selective filter + narrow projection, pushed to parquet scan"),
    Op("q03_join_broadcast_dim", joinBroadcastDim, Some(joinBroadcastDimSql),
      "orders⋈customer⋈broadcast(nation) + agg"),
    Op("q04_join_large", joinLarge, Some(joinLargeSql),
      "lineitem⋈orders shuffle join with pushed filters"),
    Op("q05_multi_join", multiJoin, Some(multiJoinSql),
      "TPC-H Q5 shape: 5-table join, region filter, date range"),
    Op("q06_semi_join", semiJoin, Some(semiJoinSql),
      "left-semi join (EXISTS) + agg"),
    Op("q07_anti_join", antiJoin, Some(antiJoinSql),
      "left-anti join (NOT EXISTS) + agg"),
    Op("q08_window_rank", windowRank, Some(windowRankSql),
      "rank() window: top-3 orders per customer"),
    Op("q09_window_running", windowRunning, Some(windowRunningSql),
      "running-sum frame window per customer"),
    Op("q10_topk", topK, Some(topKSql),
      "global top-k (TakeOrderedAndProject)"),
    Op("q11_setops", setOps, Some(setOpsSql),
      "UNION/INTERSECT/EXCEPT cardinalities"),
    Op("q12_rollup", rollupAgg, Some(rollupAggSql),
      "ROLLUP subtotals over nation × segment"),
    Op("q13_cube", cubeAgg, Some(cubeAggSql),
      "CUBE over status × priority"),
    Op("q14_distinct_agg", distinctAgg, Some(distinctAggSql),
      "exact COUNT(DISTINCT) aggregation"),
    Op("q15_brand_revenue", brandRevenue, Some(brandRevenueSql),
      "lineitem⋈broadcast(part) revenue by brand"),
    Op("q16_supplier_balance", supplierBalance, Some(supplierBalanceSql),
      "supplier⋈nation agg"),
    Op("q17_scan_meta", scanMeta, Some(scanMetaSql),
      "metadata-only row counts (reference O2 probe)"))
}
