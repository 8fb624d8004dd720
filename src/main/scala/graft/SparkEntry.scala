package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator catalog into the `queries` / `oracleSql` maps
  * the driver consumes (`Verify.scala` dumps results + oracle SQL for the
  * DuckDB compare; `Bench.scala` times them).
  */
object SparkEntry {
  private def catalogs: Seq[OpCatalog] = Seq(
    operators.Relational,
    operators.ScalarOps,
    operators.SkewOps,
    operators.EventOps,
    operators.TextOps,
    operators.PipelineOps,
    operators.CurationOps,
    operators.VectorOps,
    operators.IngestOps,
    operators.MultimodalOps,
    operators.NightlyOps)

  lazy val ops: Seq[Op] = {
    val all = catalogs.flatMap(_.ops)
    val dups = all.groupBy(_.name).filter(_._2.size > 1).keys
    require(dups.isEmpty,
      s"duplicate query names would silently shadow each other: ${dups.mkString(", ")}")
    // a rows-only op must say WHY no oracle can exist and which spec
    // vouches for it (rendered into OPERATORS.md) — no silent weak checks
    val unlabeled = all.filter(o => o.oracle.isEmpty && o.whyNoOracle.isEmpty)
    require(unlabeled.isEmpty,
      s"rows-only ops missing a whyNoOracle label: ${unlabeled.map(_.name).mkString(", ")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  // defs are the driver's contract; the lazy vals behind them keep the
  // catalog maps from being rebuilt inside Bench/JobProfile's timed loops
  private lazy val queriesMap: Map[String, (SparkSession, String) => DataFrame] =
    ops.map(o => o.name -> o.build).toMap
  private lazy val oracleSqlMap: Map[String, String] =
    ops.flatMap(o => o.oracle.map(sql => o.name -> sql)).toMap

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = queriesMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = oracleSqlMap
}
