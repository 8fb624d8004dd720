package graft.operators

import graft.{Op, OpCatalog, Tables}
import graft.functions.Rounding.roundVal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-mitigation techniques as first-class, result-identical operators.
  * AQE's skew-join split (enabled in `GraftSession.tune`) is the first
  * line of defense; explicit salting is the portable fallback when a key's
  * rows must still meet a replicated build side (e.g. one user owns 30% of
  * events). Salting changes the PLAN, never the RESULT — so the oracle is
  * the plain join.
  */
object SkewOps extends OpCatalog {

  // ---------------------------------------------------------------- q29
  /** Salted broadcast-free join: events (fact; user_id is the potentially
    * skewed key) ⋈ customer (dim). The dim side is exploded into
    * `salts` replicas, the fact side picks a DETERMINISTIC salt
    * (`event_id % salts` — not rand(), which would break retry/replay
    * determinism), so one hot user's rows spread over `salts` reducers.
    * Aggregation after the join collapses the salt again. */
  def saltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val salts = 8
    val ev = Tables.events(spark, sfDir)
      // coalesce: a NULL key must still land in SOME salt bucket, or the
      // salted join would silently drop rows the plain join keeps
      .withColumn("salt",
        pmod(coalesce(col("event_id"), lit(0L)), lit(salts)).cast("int"))
    val dim = Tables.customer(spark, sfDir)
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    ev.join(dim,
        ev("user_id") === dim("c_custkey") && ev("salt") === dim("salt"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(12,2)")), 2).cast("double")
          .as("sum_value"))
      .orderBy(col("c_mktsegment"))
  }

  private val saltedJoinSql =
    """SELECT c_mktsegment, count(*) AS n_events,
      |  CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q49
  /** Range (non-equi) join: events banded by value ranges from an inline
    * dim. Spark plans broadcast-nested-loop with the tiny band table
    * broadcast — the right physical shape for interval lookups against a
    * bounded dim (for two LARGE interval sets the play is binning both
    * sides to an equi key first; documented, not needed here). */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("tiny", 0.0, 5.0), ("small", 5.0, 20.0),
      ("medium", 20.0, 60.0), ("large", 60.0, Double.PositiveInfinity))
      .toDF("band", "lo", "hi")
    Tables.events(spark, sfDir)
      .join(broadcast(bands),
        col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(12,2)")), 2).cast("double")
          .as("sum_value"))
      .orderBy(col("band"))
  }

  private val rangeJoinSql =
    """SELECT band, count(*) AS n_events,
      |  CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
      |FROM events JOIN (
      |  SELECT 'tiny' AS band, 0.0 AS lo, 5.0 AS hi
      |  UNION ALL SELECT 'small', 5.0, 20.0
      |  UNION ALL SELECT 'medium', 20.0, 60.0
      |  UNION ALL SELECT 'large', 60.0, CAST('infinity' AS DOUBLE)) bands
      |ON value >= lo AND value < hi
      |GROUP BY band
      |ORDER BY band""".stripMargin

  // ---------------------------------------------------------------- q112
  /** Join-key skew profile — the DIAGNOSTIC that decides whether q29's
    * salting (or AQE's skew split) is even needed: top-10 heaviest join
    * keys on the fact side with row count, share, and a hot-key verdict
    * (`cnt·n_keys > 10·total` in overflow-safe double arithmetic —
    * "this key holds >10× the mean"). Run before every large
    * production join; a flat profile
    * means the plain shuffle join is already optimal.
    *
    * Scale: one map-combined agg on the join key; the totals ride as a
    * 1-row broadcast (q70's scalar pattern — never a window over the
    * key-sized frame, which would single-partition-sort every distinct
    * key at 100 TB); top-10 is a TakeOrderedAndProject. */
  def keySkewProfile(spark: SparkSession, sfDir: String): DataFrame = {
    keySkewProfileOf(Tables.events(spark, sfDir), "user_id")
  }

  /** Core of q112 over any frame and key column — spec entry point. */
  private[graft] def keySkewProfileOf(df: DataFrame, key: String): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(totals))
      .select(col(key), col("cnt"),
        roundVal(col("cnt") / col("total").cast("double"), 6).as("share"),
        // the verdict compares in DOUBLE, not Long: the integer form
        // `cnt * n_keys > total * 10` wraps Long at exactly the 100 TB
        // posture this diagnostic documents (1e10-row key × 1e9 keys =
        // 1e19 > Long.Max under non-ANSI arithmetic → hot_10x FALSE for
        // precisely the pathological key). IEEE doubles evaluate the
        // same expression identically in DuckDB, and at a 10× heuristic
        // the >2^53 mantissa edge is immaterial.
        (col("cnt").cast("double") * col("n_keys") >
          col("total").cast("double") * lit(10.0)).as("hot_10x"))
      .orderBy(col("cnt").desc, col(key))
      .limit(10)
  }

  private val keySkewProfileSql =
    """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
      |             CAST(count(*) AS BIGINT) AS n_keys FROM c)
      |SELECT user_id, CAST(cnt AS BIGINT) AS cnt,
      |  floor((cnt / CAST(total AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS share,
      |  (CAST(cnt AS DOUBLE) * n_keys > CAST(total AS DOUBLE) * 10.0) AS hot_10x
      |FROM c, t ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin

  override val ops: Seq[Op] = Seq(
    Op("q112_key_skew_profile", keySkewProfile, Some(keySkewProfileSql),
      "top-10 heaviest join keys with share + overflow-safe 10x-mean hot verdict (the pre-join skew diagnostic)"),
    Op("q29_salted_join", saltedJoin, Some(saltedJoinSql),
      "skew-salted join (deterministic salt), result == plain join"),
    Op("q49_range_join", rangeJoin, Some(rangeJoinSql),
      "range/interval join against a broadcast band dim"))
}
