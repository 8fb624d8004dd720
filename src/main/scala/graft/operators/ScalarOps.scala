package graft.operators

import graft.{Op, OpCatalog, Tables}
import graft.functions.Rounding.roundVal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar-function surface (SURVEY.md §2.2 "scalar functions" row — ABSENT
  * in the reference, concrete here): string, date, math, conditional
  * expressions, GROUPING SETS, and approximate distinct. All built-in
  * `functions._` — codegen'd, no UDFs in any hot path.
  */
object ScalarOps extends OpCatalog {

  /** Shared relative-tolerance flag for the approx-vs-exact queries
    * (q27 at 10%, q67 at 5%) — ONE definition so the next tolerance
    * tweak cannot land in one query's private copy and silently
    * desynchronize the cross-engine flag semantics (both SQL twins
    * spell out the identical expression). `exact` is non-negative in
    * both uses, so `abs(exact)` is written for form, not effect. */
  private def withinTol(approx: org.apache.spark.sql.Column,
      exact: org.apache.spark.sql.Column, tol: Double) =
    abs(approx.cast("double") - exact) <= abs(exact) * tol

  // ---------------------------------------------------------------- q18
  /** String + date + math function showcase over orders (bounded output:
    * orderkey < 200). Every function chosen to have an exact DuckDB twin. */
  def scalarFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") < 200)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        upper(col("o_orderstatus")).as("status_up"),
        lower(col("o_orderpriority")).as("prio_lo"),
        substring(col("o_orderpriority"), 1, 1).as("prio_digit"),
        regexp_extract(col("o_orderpriority"), "([0-9]+)", 1).as("prio_num"),
        length(col("o_orderpriority")).as("prio_len"),
        concat_ws("/", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
        replace(col("o_orderpriority"), lit("-"), lit("_")).as("prio_us"),
        trim(lit("  x  ")).as("trimmed"),
        floor(col("o_totalprice") / 1000).cast("long").as("price_k"),
        ceil(col("o_totalprice") / 1000).cast("long").as("price_k_up"),
        roundVal(sqrt(col("o_totalprice")), 4).as("price_sqrt"),
        roundVal(abs(col("o_totalprice") - 250000), 2).as("price_dev"),
        pmod(col("o_orderkey"), lit(7)).as("key_mod7"),
        roundVal(pow(lit(1.05), col("o_orderkey") % 10), 4).as("compound"))
      .orderBy(col("o_orderkey"))
  }

  private val scalarFuncsSql =
    """SELECT o_orderkey,
      |  year(o_orderdate) AS yr,
      |  month(o_orderdate) AS mo,
      |  day(o_orderdate) AS dom,
      |  upper(o_orderstatus) AS status_up,
      |  lower(o_orderpriority) AS prio_lo,
      |  substring(o_orderpriority, 1, 1) AS prio_digit,
      |  regexp_extract(o_orderpriority, '([0-9]+)', 1) AS prio_num,
      |  length(o_orderpriority) AS prio_len,
      |  concat_ws('/', o_orderstatus, o_orderpriority) AS tag,
      |  replace(o_orderpriority, '-', '_') AS prio_us,
      |  trim('  x  ') AS trimmed,
      |  CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k,
      |  CAST(ceil(o_totalprice / 1000) AS BIGINT) AS price_k_up,
      |  floor((sqrt(o_totalprice)) * 1e4 + 0.5) / 1e4 AS price_sqrt,
      |  floor((abs(o_totalprice - 250000)) * 1e2 + 0.5) / 1e2 AS price_dev,
      |  CAST(((o_orderkey % 7) + 7) % 7 AS BIGINT) AS key_mod7,
      |  floor((power(1.05, mod(o_orderkey, 10))) * 1e4 + 0.5) / 1e4 AS compound
      |FROM orders
      |WHERE o_orderkey < 200
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Conditional expressions: CASE/WHEN ladders, coalesce, nullif,
    * least/greatest — aggregated so the result is compact. */
  def conditionalFuncs(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .withColumn("price_band",
        when(col("o_totalprice") < 100000, "low")
          .when(col("o_totalprice") < 300000, "mid")
          .otherwise("high"))
      .withColumn("status_or_prio",
        coalesce(nullif(col("o_orderstatus"), lit("O")), col("o_orderpriority")))
      .withColumn("clamped",
        least(greatest(col("o_totalprice"), lit(50000.0)), lit(450000.0)))
      .groupBy(col("price_band"), col("status_or_prio"))
      .agg(count(lit(1)).as("n"),
        roundVal(avg(col("clamped")), 4).as("avg_clamped"))
      .orderBy(col("price_band"), col("status_or_prio"))
  }

  private val conditionalFuncsSql =
    """SELECT price_band, status_or_prio, count(*) AS n,
      |  floor((avg(clamped)) * 1e4 + 0.5) / 1e4 AS avg_clamped
      |FROM (
      |  SELECT
      |    CASE WHEN o_totalprice < 100000 THEN 'low'
      |         WHEN o_totalprice < 300000 THEN 'mid'
      |         ELSE 'high' END AS price_band,
      |    coalesce(nullif(o_orderstatus, 'O'), o_orderpriority) AS status_or_prio,
      |    least(greatest(o_totalprice, 50000.0), 450000.0) AS clamped
      |  FROM orders)
      |GROUP BY price_band, status_or_prio
      |ORDER BY price_band, status_or_prio""".stripMargin


  // ---------------------------------------------------------------- q28
  /** Correlated scalar subquery: orders priced above 1.5x their own
    * customer's average — exercised through the SQL entry so Catalyst's
    * subquery decorrelation (RewriteCorrelatedScalarSubquery) runs. */
  def correlatedSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    graft.TempViews.withView(Tables.orders(spark, sfDir), "graft_orders_cs") {
      v => spark.sql(
        s"""SELECT o_custkey, count(*) AS n_big, max(o_totalprice) AS max_price
           |FROM $v o
           |WHERE o_totalprice > (SELECT floor((1.5 * avg(i.o_totalprice)) * 1e2 + 0.5) / 1e2
           |                      FROM $v i
           |                      WHERE i.o_custkey = o.o_custkey)
           |GROUP BY o_custkey
           |ORDER BY o_custkey""".stripMargin)
    }
  }

  private val correlatedSubquerySql =
    """SELECT o_custkey, count(*) AS n_big, max(o_totalprice) AS max_price
      |FROM orders o
      |WHERE o_totalprice > (SELECT floor((1.5 * avg(i.o_totalprice)) * 1e2 + 0.5) / 1e2
      |                      FROM orders i
      |                      WHERE i.o_custkey = o.o_custkey)
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q26
  /** GROUPING SETS (E8, the general form beyond rollup/cube) via the SQL
    * entry point over a temp view — DataFrame API has no direct grouping
    * sets; `spark.sql` is the idiomatic route. */
  def groupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    graft.TempViews.withView(Tables.orders(spark, sfDir), "graft_orders_gs") {
      v => spark.sql(
        s"""SELECT
           |  CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL'
           |       ELSE coalesce(o_orderstatus, 'NULL') END AS status,
           |  CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL'
           |       ELSE coalesce(o_orderpriority, 'NULL') END AS priority,
           |  count(*) AS n_orders
           |FROM $v
           |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
           |ORDER BY status, priority""".stripMargin)
    }
  }

  private val groupingSetsSql =
    """SELECT
      |  CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL'
      |       ELSE coalesce(o_orderstatus, 'NULL') END AS status,
      |  CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL'
      |       ELSE coalesce(o_orderpriority, 'NULL') END AS priority,
      |  count(*) AS n_orders
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY status, priority""".stripMargin

  // ---------------------------------------------------------------- q27
  /** Approximate distinct (E9's HLL twin): `approx_count_distinct` next to
    * the exact count. Raw sketch estimates are engine-specific, so the
    * oracle-comparable surface is the exact counts plus a WITHIN-TOLERANCE
    * flag (|approx−exact| ≤ 10%·exact): both engines run their own HLL at
    * ~2% target error, so the flag is deterministically true on both sides
    * — a real cross-engine check that each sketch lands where it claims.
    * `ScalarOpsSpec` additionally bounds Spark's raw estimates at 2% rsd.
    *
    * The exact and approximate sides run as SEPARATE aggregations joined
    * on the 3-row group key, deliberately: combining HLL aggregates with
    * multi-column `countDistinct` in one `agg` plants the ~5 KB HLL
    * buffers inside the distinct-rewrite's Expand groups — one buffer pair
    * per (group, distinct value), ~1.2M groups at sf0.1 — measured 10.2 s
    * vs 3.4 s split at `local[32]`. Split, the HLL pass keeps 3 groups
    * (one buffer each) and the exact pass stays all-long-buffers. */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    // the split is DELIBERATE — see the scaladoc above (re-measured in
    // round 15: the fused form replayed at 17.5 s vs 1.7 s split)
    val li = Tables.lineitem(spark, sfDir)
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"))
    val approx = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
    exact.join(broadcast(approx), "l_returnflag")
      .select(col("l_returnflag"),
        col("exact_orders"), col("exact_parts"),
        withinTol(col("approx_orders"), col("exact_orders"), 0.1)
          .as("approx_orders_ok"),
        withinTol(col("approx_parts"), col("exact_parts"), 0.1)
          .as("approx_parts_ok"))
      .orderBy(col("l_returnflag"))
  }

  private val approxDistinctSql =
    """SELECT l_returnflag, exact_orders, exact_parts,
      |  abs(approx_orders - exact_orders) <= exact_orders * 0.1 AS approx_orders_ok,
      |  abs(approx_parts - exact_parts) <= exact_parts * 0.1 AS approx_parts_ok
      |FROM (
      |  SELECT l_returnflag,
      |    count(DISTINCT l_orderkey) AS exact_orders,
      |    CAST(approx_count_distinct(l_orderkey) AS DOUBLE) AS approx_orders,
      |    count(DISTINCT l_partkey) AS exact_parts,
      |    CAST(approx_count_distinct(l_partkey) AS DOUBLE) AS approx_parts
      |  FROM lineitem
      |  GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Exact percentiles (statistical aggregates): median/p90 per order
    * status. Spark's `percentile` and DuckDB's `quantile_cont` share the
    * linear-interpolation definition (index p·(n-1)); interpolation on
    * 2-decimal inputs keeps doubles well inside the 4dp rounding margin.
    * (`approx_percentile`'s sketch twin stays engine-specific → spec.) */
  def percentiles(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        roundVal(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        roundVal(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        roundVal(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"),
        roundVal(stddev_pop(col("o_totalprice")), 2).as("sd"))
      .orderBy(col("o_orderstatus"))
  }

  private val percentilesSql =
    """SELECT o_orderstatus, count(*) AS n,
      |  floor((quantile_cont(o_totalprice, 0.5)) * 1e4 + 0.5) / 1e4 AS p50,
      |  floor((quantile_cont(o_totalprice, 0.9)) * 1e4 + 0.5) / 1e4 AS p90,
      |  floor((quantile_cont(o_totalprice, 0.99)) * 1e4 + 0.5) / 1e4 AS p99,
      |  floor((stddev_pop(o_totalprice)) * 1e2 + 0.5) / 1e2 AS sd
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q67
  /** Approximate percentiles — q47's SCALE twin. Exact `percentile`
    * buffers every group's values in the agg state, so it is for
    * bounded-cardinality groups only (3 statuses here); at 100 TB with
    * high-cardinality keys the right operator is `approx_percentile`
    * (Greenwald–Khanna sketch): fixed-size state per group, map-side
    * combinable, one shuffle of sketches instead of raw values.
    *
    * Raw sketch outputs are engine-specific (Spark GK vs DuckDB t-digest),
    * so — exactly like q27's HLL — the oracle-comparable surface is the
    * exact percentiles plus WITHIN-TOLERANCE flags (|approx−exact| ≤
    * 5%·exact). Both sketches land far inside 5% at these group sizes, so
    * the flags are deterministically true on both sides: a real
    * cross-engine check that each engine's sketch honors its error bound.
    * `ScalarOpsSpec` additionally bounds Spark's raw GK estimates by the
    * rank-error guarantee (accuracy=1000 → ε=0.001 rank error).
    *
    * Known fragility, accepted: the declared-oracle hash depends on BOTH
    * engines' sketches landing within the 5% tolerance. Spark's GK bound is
    * deterministic, but DuckDB's t-digest is not contractually so under
    * parallel aggregation — if an oracle run at a larger SF ever shows a
    * flag flip, the remedy is to widen the tolerance or demote q67 to
    * rows-only + spec (the GK rank-error law in ScalarOpsSpec is the real
    * correctness check; the flags are a cross-engine smoke signal). */
  def approxPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        roundVal(expr("percentile(o_totalprice, 0.5)"), 4).as("p50_exact"),
        roundVal(expr("percentile(o_totalprice, 0.9)"), 4).as("p90_exact"),
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("p50_approx"),
        expr("approx_percentile(o_totalprice, 0.9, 1000)").as("p90_approx"))
      .select(col("o_orderstatus"), col("n"),
        col("p50_exact"), col("p90_exact"),
        withinTol(col("p50_approx"), col("p50_exact"), 0.05).as("p50_ok"),
        withinTol(col("p90_approx"), col("p90_exact"), 0.05).as("p90_ok"))
      .orderBy(col("o_orderstatus"))
  }

  private val approxPercentilesSql =
    """SELECT o_orderstatus, n, p50_exact, p90_exact,
      |  abs(p50_approx - p50_exact) <= abs(p50_exact) * 0.05 AS p50_ok,
      |  abs(p90_approx - p90_exact) <= abs(p90_exact) * 0.05 AS p90_ok
      |FROM (
      |  SELECT o_orderstatus, count(*) AS n,
      |    floor((quantile_cont(o_totalprice, 0.5)) * 1e4 + 0.5) / 1e4 AS p50_exact,
      |    floor((quantile_cont(o_totalprice, 0.9)) * 1e4 + 0.5) / 1e4 AS p90_exact,
      |    approx_quantile(o_totalprice, 0.5) AS p50_approx,
      |    approx_quantile(o_totalprice, 0.9) AS p90_approx
      |  FROM orders
      |  GROUP BY o_orderstatus)
      |ORDER BY o_orderstatus""".stripMargin

  override val ops: Seq[Op] = Seq(
    Op("q47_percentiles", percentiles, Some(percentilesSql),
      "exact percentile/stddev statistical aggregates"),
    Op("q67_approx_percentiles", approxPercentiles, Some(approxPercentilesSql),
      "approx_percentile sketch twin with cross-engine tolerance flags (high-cardinality scale path)"),
    Op("q18_scalar_funcs", scalarFuncs, Some(scalarFuncsSql),
      "string/date/math scalar function showcase"),
    Op("q19_conditional_funcs", conditionalFuncs, Some(conditionalFuncsSql),
      "CASE/coalesce/nullif/least/greatest conditionals"),
    Op("q28_correlated_subquery", correlatedSubquery, Some(correlatedSubquerySql),
      "correlated scalar subquery (decorrelated by Catalyst)"),
    Op("q26_grouping_sets", groupingSets, Some(groupingSetsSql),
      "GROUPING SETS via the SQL entry point"),
    Op("q27_approx_distinct", approxDistinct, Some(approxDistinctSql),
      "HLL approx_count_distinct vs exact with cross-engine tolerance flags"))
}
