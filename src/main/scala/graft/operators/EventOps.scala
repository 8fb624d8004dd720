package graft.operators

import graft.{Op, OpCatalog, Tables}
import graft.functions.Rounding.roundVal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-table operators (SURVEY.md §2.3 E15–E18): JSON extraction,
  * event-time tumbling/sliding windows, gap sessionization, as-of join and
  * a pivot. These are the batch embodiments of streaming semantics — the
  * same windows run under Structured Streaming in `graft.streaming`.
  *
  * `events.ts` is parquet TIMESTAMP(NANOS); [[graft.Tables.events]]
  * normalizes whatever the reader yields (nanos LongType on older Sparks
  * honoring `nanosAsLong`, TIMESTAMP_NTZ on current 4.1.x) back to the
  * nanos-long contract these operators are written against. All time
  * arithmetic here is integer math on epoch millis — exact in both Spark
  * and the DuckDB oracle, immune to timestamp-precision mismatches
  * (SURVEY.md §7.4 risk 2).
  *
  * Scale notes: every operator shuffles once on its natural key (window
  * bucket / user_id); sessionization and as-of use analytic windows — a
  * single sort within user partitions, no self-join blowup. Skewed users
  * are handled by AQE skew-join/partition-split at runtime.
  */
object EventOps extends OpCatalog {

  private def dec(c: Column): Column = c.cast("decimal(12,2)")
  private def money(decimalSum: Column): Column =
    round(decimalSum, 2).cast("double")

  /** events with an epoch-millis column derived from the nanos long. */
  private def eventsMs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).withColumn("ms", expr("ts div 1000000"))

  // ---------------------------------------------------------------- q20
  /** JSON extraction (E15): pull `$.k` out of the props JSON string and
    * aggregate per event type. `get_json_object` is codegen'd — no UDF. */
  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.events(spark, sfDir)
      // try_cast: a non-integer k must yield NULL, not an ANSI cast crash
      .withColumn("k", expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        roundVal(avg(col("k")), 4).as("avg_k"),
        sum(col("k")).as("sum_k"),
        money(sum(dec(col("value")))).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Oracle twin of Spark's ANSI `try_cast(string AS BIGINT)`: DuckDB's
    * bare TRY_CAST ROUNDS fractional/scientific numeric strings
    * ('1.5'→2, '1e3'→1000 on the pinned jdbc 1.0.0) where Spark yields
    * NULL (EventOpsSpec pins that), so the oracle gates on the integer
    * SHAPE first and TRY_CASTs only those — overflow beyond BIGINT then
    * nulls identically on both sides. ONE definition for q20/q125
    * (round-9 review: the previous bare TRY_CAST re-opened exactly the
    * class the json_extract_STRING comment claims to close). */
  private val intCastK: String =
    "CASE WHEN regexp_full_match(trim(json_extract_string(props, '$.k'))," +
      " '[+-]?[0-9]+')" +
      " THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END"

  // json_extract_STRING, not json_extract: Spark's get_json_object
  // yields the UNQUOTED string, so the oracle must cast the string form
  // too — casting the JSON-typed value diverges on quoted numbers
  // ('"7"' casts via JSON rules); the cast itself is [[intCastK]]
  private val jsonExtractSql =
    ("""SELECT event_type, count(*) AS n_events,
      |  floor((avg(""" + intCastK + """)) * 1e4 + 0.5) / 1e4 AS avg_k,
      |  CAST(sum(""" + intCastK + """) AS BIGINT) AS sum_k,
      |  CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""").stripMargin

  /** Per-user consecutive-event TRANSITION frame — ONE definition of the
    * edge rule (the (ms, event_id) total order, the lead, the
    * terminal-event filter) for q85/q123/q129, which each re-spelled it
    * (the SessionGapMs/anomalyPredicate single-definition discipline;
    * round-9 review). Emits (user_id, event_id, ms, event_type, to_type,
    * gap_ms); the extra lead rides the SAME window sort. */
  private[graft] def transitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("event_id"), col("ms"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .withColumn("gap_ms", lead(col("ms"), 1).over(w) - col("ms"))
      .filter(col("to_type").isNotNull)
  }

  // ---------------------------------------------------------------- q21
  /** Tumbling event-time window (E16): Spark's native `window()` operator,
    * 1-hour buckets. Output key is the bucket start in epoch millis —
    * `window()` aligns to the epoch, so the oracle's integer bucket math
    * (`ms // 3600000 * 3600000`) lands on the identical grid. */
  def eventTumbling(spark: SparkSession, sfDir: String): DataFrame = {
    eventsMs(spark, sfDir)
      .withColumn("tsc", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("tsc"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        money(sum(dec(col("value")))).as("sum_value"))
      .select(unix_millis(col("window.start")).as("win_start"),
        col("n_events"), col("n_users"), col("sum_value"))
      .orderBy(col("win_start"))
  }

  private val eventTumblingSql =
    // floor-ALIGNED start (Spark's window(): start <= t), not // which
    // truncates toward zero — divergent for pre-epoch (negative-ms)
    // timestamps (round-9 review); the floor-mod form is sign-safe
    """SELECT epoch_ms(ts) - ((epoch_ms(ts) % 3600000) + 3600000) % 3600000
      |    AS win_start,
      |  count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY win_start
      |ORDER BY win_start""".stripMargin

  // ---------------------------------------------------------------- q22
  /** Sliding event-time window (E16): 1-hour windows every 30 minutes —
    * each event lands in two buckets. The oracle reproduces the expansion
    * with a 2-row unnest cross join. */
  def eventSliding(spark: SparkSession, sfDir: String): DataFrame = {
    eventsMs(spark, sfDir)
      .withColumn("tsc", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("tsc"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        money(sum(dec(col("value")))).as("sum_value"))
      .select(unix_millis(col("window.start")).as("win_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("win_start"))
  }

  private val eventSlidingSql =
    """SELECT win_start, count(*) AS n_events,
      |  CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT epoch_ms(ts) - ((epoch_ms(ts) % 1800000) + 1800000) % 1800000
      |      - off * 1800000 AS win_start, value
      |  FROM events, (SELECT unnest([0, 1]) AS off) offs)
      |GROUP BY win_start
      |ORDER BY win_start""".stripMargin

  // ---------------------------------------------------------------- q23
  /** THE session rule, in one place: a session ends after 30 idle
    * minutes; ids are per-user cumulative sums over the lag-detected
    * boundaries (one window sort per user, linear in events, no
    * self-join). Shared by q23's summary and q105's path mining so the
    * gap constant and boundary predicate cannot drift apart (their SQL
    * twins spell the identical formulation). */
  private[graft] val SessionGapMs = 1800000L

  private[graft] def withSessionIds(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
    events
      .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ms").isNull ||
          col("ms") - col("prev_ms") > SessionGapMs, 1).otherwise(0))
      .withColumn("sess", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Gap-based sessionization (E17) over [[withSessionIds]]'s rule;
    * DuckDB mirrors it verbatim. */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val sessions = withSessionIds(eventsMs(spark, sfDir))
      .groupBy(col("user_id"), col("sess"))
      .agg(count(lit(1)).as("sess_events"),
        ((max(col("ms")) - min(col("ms"))) / 1000).cast("long")
          .as("sess_dur_s"))
    sessions.groupBy(col("user_id"))
      .agg(max(col("sess")).as("n_sessions"),
        sum(col("sess_events")).as("n_events"),
        max(col("sess_events")).as("max_session_events"),
        max(col("sess_dur_s")).as("max_session_dur_s"))
      .orderBy(col("user_id"))
  }

  private val sessionizeSql =
    """WITH g AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id, ms,
      |    sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ms, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM g),
      |per_sess AS (
      |  SELECT user_id, sess, count(*) AS sess_events,
      |    (max(ms) - min(ms)) // 1000 AS sess_dur_s
      |  FROM s GROUP BY user_id, sess)
      |SELECT user_id,
      |  CAST(max(sess) AS BIGINT) AS n_sessions,
      |  CAST(sum(sess_events) AS BIGINT) AS n_events,
      |  CAST(max(sess_events) AS BIGINT) AS max_session_events,
      |  CAST(max(sess_dur_s) AS BIGINT) AS max_session_dur_s
      |FROM per_sess
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q24
  /** As-of join shape (E18): for every purchase, the most recent prior
    * click by the same user. Implemented the scalable way — a single
    * union-free analytic pass (`last(..., ignoreNulls)` over a
    * rows-preceding frame), not a pairwise self-join: linear per user at
    * any scale. */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    eventsMs(spark, sfDir)
      .withColumn("click_id",
        when(col("event_type") === "click", col("event_id")))
      .withColumn("last_click", last(col("click_id"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        coalesce(col("last_click"), lit(-1L)).as("click_id"))
      .orderBy(col("purchase_id"))
  }

  private val asofJoinSql =
    """SELECT event_id AS purchase_id, user_id,
      |  coalesce(last_click, -1) AS click_id
      |FROM (
      |  SELECT event_id, user_id, event_type,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
      |  FROM events)
      |WHERE event_type = 'purchase'
      |ORDER BY purchase_id""".stripMargin

  // ---------------------------------------------------------------- q25
  /** Pivot (wide aggregation): event-type counts per user cohort. Pivot
    * values are declared explicitly — no extra distinct-collect job. */
  def pivotCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, sfDir)
      .withColumn("cohort", col("user_id") % 10)
      .groupBy(col("cohort"))
      .pivot("event_type", types)
      .count()
      .select(col("cohort") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy(col("cohort"))
  }

  private val pivotCountsSql =
    """SELECT user_id % 10 AS cohort,
      |  count(*) FILTER (WHERE event_type = 'click') AS click,
      |  count(*) FILTER (WHERE event_type = 'error') AS error,
      |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  count(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events
      |GROUP BY cohort
      |ORDER BY cohort""".stripMargin

  // --------------------------------------------------------------- q128
  /** Unpivot (melt): q25's wide cohort×type count matrix back to long
    * (cohort, event_type, n) form — the wide-to-long reshape that turns
    * report tables into joinable/aggregable fact rows, via the native
    * `Dataset.unpivot` (Spark 3.4's melt; DuckDB's UNPIVOT replays it).
    * Zero cells survive the round trip (the pivot coalesces absent
    * combinations to 0), so unpivot∘pivot is the COMPLETE long grid —
    * |cohorts|·|types| rows — not just observed pairs. Plan: q25's grid
    * agg plus a generate-only expansion of the 10-row wide frame;
    * nothing corpus-sized moves. */
  def unpivotCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    pivotCounts(spark, sfDir)
      .unpivot(Array(col("cohort")), types.map(col).toArray,
        "event_type", "n")
      .orderBy(col("cohort"), col("event_type"))
  }

  private val unpivotCountsSql =
    """SELECT cohort, event_type, n FROM (
      |  SELECT user_id % 10 AS cohort,
      |    count(*) FILTER (WHERE event_type = 'click') AS click,
      |    count(*) FILTER (WHERE event_type = 'error') AS error,
      |    count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |    count(*) FILTER (WHERE event_type = 'signup') AS signup,
      |    count(*) FILTER (WHERE event_type = 'view') AS view
      |  FROM events GROUP BY cohort)
      |UNPIVOT (n FOR event_type IN (click, error, purchase, signup, view))
      |ORDER BY cohort, event_type""".stripMargin

  // --------------------------------------------------------------- q129
  /** Recursive CTE (Spark 4's `WITH RECURSIVE`, SPARK-24497): BFS
    * min-hop reachability from 'signup' over the OBSERVED transition
    * graph (q85's distinct edges) — which event types users can reach
    * and in how few steps. The recursion runs on the |types|²-bounded
    * edge grid, NOT the corpus: the event scan contributes exactly one
    * windowed pass to derive edges, then each recursive step is a
    * grid-sized join bounded by hops < 4. This is the declarative form
    * of the iteration `GraphOps` hand-drives for dedup components —
    * right here because the frontier is tiny and the depth is bounded;
    * wrong for billion-node closure, where the large-star/small-star
    * rounds with checkpointing stay the scale path (q60's scaladoc).
    * Min-hop per type folds the multiple reach paths deterministically. */
  def recursiveReach(spark: SparkSession, sfDir: String): DataFrame = {
    recursiveReachOf(eventsMs(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ms"), col("event_type")))
  }

  /** Core of q129 over any (user_id, event_id, ms, event_type) frame.
    * The edge grid is MATERIALIZED (localCheckpoint) before the
    * recursion: a CTE referenced from the recursive member may be
    * re-expanded per iteration, which would re-run the corpus windowed
    * pass once per hop — checkpointing pins "one corpus pass" by
    * construction, and the recursion then joins only the ≤\|types\|²
    * cached grid. The frontier-size law this buys: every recursive step
    * joins a ≤\|types\|-row frontier against the ≤\|types\|²-row grid, so
    * per-iteration work is GRID-sized (and `maxHops`-bounded) no matter
    * how long the underlying event chains are — the corpus contributes
    * exactly the one windowed edge-derivation pass
    * (`ScaleStressSpec` plants a long chain and pins both properties).
    * The temp view is dropped as soon as the plan is built (analysis
    * binds the relation eagerly); the checkpointed grid's blocks live
    * exactly as long as the returned frame references them, then the
    * ContextCleaner reclaims them. */
  private[graft] def recursiveReachOf(events: DataFrame,
      maxHops: Int = 4): DataFrame = {
    val spark = events.sparkSession
    val edges = transitions(events)
      .select(col("event_type").as("from_type"), col("to_type"))
      .distinct()
      .localCheckpoint()
    graft.TempViews.withView(edges, "graft_edges_reach") { view =>
      spark.sql(
        s"""WITH RECURSIVE reach(t, hops) AS (
           |  SELECT 'signup', 0
           |  UNION ALL
           |  SELECT e.to_type, r.hops + 1
           |  FROM reach r JOIN $view e ON e.from_type = r.t
           |  WHERE r.hops < $maxHops)
           |SELECT t AS event_type, CAST(min(hops) AS BIGINT) AS min_hops
           |FROM reach GROUP BY t ORDER BY t""".stripMargin)
    }
  }

  private val recursiveReachSql =
    """WITH RECURSIVE edges AS (
      |  SELECT DISTINCT from_type, to_type FROM (
      |    SELECT event_type AS from_type,
      |      lead(event_type) OVER (PARTITION BY user_id
      |        ORDER BY epoch_ms(ts), event_id) AS to_type
      |    FROM events)
      |  WHERE to_type IS NOT NULL),
      |reach(t, hops) AS (
      |  SELECT 'signup', 0
      |  UNION ALL
      |  SELECT e.to_type, r.hops + 1
      |  FROM reach r JOIN edges e ON e.from_type = r.t
      |  WHERE r.hops < 4)
      |SELECT t AS event_type, CAST(min(hops) AS BIGINT) AS min_hops
      |FROM reach GROUP BY t ORDER BY t""".stripMargin

  // ---------------------------------------------------------------- q81
  /** Ordered funnel conversion — signup → first view AFTER signup → first
    * purchase AFTER that view. The sequential-pattern query every product
    * analytics stack runs; formulated as a cascade of per-user
    * min-timestamp aggregations (stage k+1 filters on stage k's time),
    * NOT a row-pattern scan: each stage is one user-keyed agg plus one
    * user-keyed equi-join, so all three stages reuse the same hash
    * partitioning and the filtered stage frames shrink monotonically —
    * AQE broadcasts them as they fall under the threshold. Counts only
    * integer epoch-millis comparisons — cross-engine exact. */
  def funnelConversion(spark: SparkSession, sfDir: String): DataFrame = {
    val e = eventsMs(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ms"))
    val s = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ms")).as("t0"))
    val v = e.filter(col("event_type") === "view").join(s, "user_id")
      .filter(col("ms") >= col("t0"))
      .groupBy(col("user_id")).agg(min(col("ms")).as("t1"))
    val p = e.filter(col("event_type") === "purchase").join(v, "user_id")
      .filter(col("ms") >= col("t1"))
      .groupBy(col("user_id")).agg(min(col("ms")).as("t2"))
    Seq(s -> "1_signup", v -> "2_view_after_signup",
        p -> "3_purchase_after_view")
      .map { case (df, stage) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(stage).as("stage"), col("n_users"))
      }
      .reduce(_ unionByName _)
      .orderBy(col("stage"))
  }

  private val funnelConversionSql =
    """WITH s AS (
      |  SELECT user_id, min(epoch_ms(ts)) AS t0 FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |v AS (
      |  SELECT e.user_id, min(epoch_ms(e.ts)) AS t1 FROM events e
      |  JOIN s ON e.user_id = s.user_id
      |  WHERE e.event_type = 'view' AND epoch_ms(e.ts) >= s.t0
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(epoch_ms(e.ts)) AS t2 FROM events e
      |  JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= v.t1
      |  GROUP BY e.user_id)
      |SELECT '1_signup' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s
      |UNION ALL
      |SELECT '2_view_after_signup', CAST(count(*) AS BIGINT) FROM v
      |UNION ALL
      |SELECT '3_purchase_after_view', CAST(count(*) AS BIGINT) FROM p
      |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- q82
  /** Weekly retention cohorts: users grouped by the epoch-week of their
    * FIRST event; retention cell (cohort_week, week_offset) counts the
    * cohort's users active k whole weeks after their own first event.
    * Two shuffles, both on user_id (first-event agg + join back — the
    * exchange is reused), then one agg on the tiny (cohort, offset) grid.
    * All integer epoch-millis division — cross-engine exact. */
  def retentionCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    val week = 604800000L // 7 * 86400000 ms
    val e = eventsMs(spark, sfDir).select(col("user_id"), col("ms"))
    val first = e.groupBy(col("user_id")).agg(min(col("ms")).as("t0"))
    e.join(first, "user_id")
      .select(col("user_id"),
        expr(s"t0 div ${week}L").as("cohort_week"),
        expr(s"(ms - t0) div ${week}L").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  private val retentionCohortsSql =
    """WITH first AS (
      |  SELECT user_id, min(epoch_ms(ts)) AS t0 FROM events GROUP BY user_id)
      |SELECT f.t0 // 604800000 AS cohort_week,
      |  (epoch_ms(e.ts) - f.t0) // 604800000 AS week_offset,
      |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
      |FROM events e JOIN first f ON e.user_id = f.user_id
      |GROUP BY cohort_week, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin

  // ---------------------------------------------------------------- q85
  /** Markov transition matrix over per-user event sequences — P(next event
    * type | current event type), the behavioral-model fingerprint behind
    * session analysis, anomaly scoring, and next-action prediction. One
    * `lead` window per user gives each event its successor; the
    * (from, to) pair counts aggregate to a ≤|types|² grid; the row
    * probability is a window sum OVER THAT GRID (a few dozen rows), never
    * the event stream. Ordering is total — (epoch-ms, event_id) — so the
    * successor of every event is engine-independent even under same-ms
    * ties. Scale: ONE shuffle of the events on user_id (the window),
    * map-side partial agg to the grid, and a broadcast-sized window after
    * — the same single-heavy-exchange shape as q24's as-of join. */
  def eventTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val grid = transitions(eventsMs(spark, sfDir))
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"))
    grid
      .withColumn("p", roundVal(col("cnt") /
        sum(col("cnt")).over(Window.partitionBy(col("from_type")))
          .cast("double"), 4))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val eventTransitionsSql =
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts), event_id) AS to_type
      |  FROM events),
      |grid AS (
      |  SELECT from_type, to_type, count(*) AS cnt FROM seq
      |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
      |SELECT from_type, to_type, cnt,
      |  floor((cnt / CAST(sum(cnt) OVER (PARTITION BY from_type) AS DOUBLE)) * 1e4 + 0.5) / 1e4
      |    AS p
      |FROM grid
      |ORDER BY from_type, to_type""".stripMargin

  // ---------------------------------------------------------------- q88
  /** Event-rate anomaly detection: hours whose event count exceeds the
    * type's mean by >3 sample standard deviations — the ops-monitoring
    * shape (error-burst / traffic-spike detection) run as a batch sweep.
    *
    * The anomaly PREDICATE is evaluated in pure integer arithmetic so the
    * flagged row set is hash-exact cross-engine (a float z > 3.0 filter
    * could flap on a boundary row):
    * `cnt > a + 3·sd` with `a = S/n`, `sd² = (nQ − S²)/(n(n−1))` is
    * equivalent (for cnt·n > S) to `(cnt·n − S)²·(n−1) > 9·n·(nQ − S²)`
    * — all BIGINT terms from integer counts. Reported z itself is the
    * one float, `round(·,4)` per policy. Long headroom: |cnt·n| must stay
    * below ~1.7e6·√n; at hour-grain this holds to ~billions of events
    * per type — past that, swap the compare to DECIMAL(38) (Spark) /
    * HUGEINT (DuckDB) without changing the algebra.
    *
    * Scale: one shuffle to the (type, hour) grid (map-side partial), one
    * ≤|types| aggregate joined back broadcast — the event stream is
    * never windowed or re-shuffled. */
  /** The integer-exact >3-sample-sd predicate over columns
    * (cnt, s=Σcnt, q=Σcnt², n) — ONE definition (q73's rule) shared by
    * batch q88 and the streaming screen twin
    * ([[graft.streaming.StreamingOps.anomalyScreenStream]]). */
  private[graft] def anomalyPredicate: org.apache.spark.sql.Column = {
    val d = col("cnt") * col("n") - col("s") // (cnt − mean)·n, integer
    d > 0 &&
      d * d * (col("n") - 1) > lit(9) * col("n") *
        (col("n") * col("q") - col("s") * col("s"))
  }

  /** The reported z score (the one rounded float) for rows with the
    * stats columns attached — shared with the streaming twin. */
  private[graft] def zScoreExpr: org.apache.spark.sql.Column =
    roundVal((col("cnt") - col("s") / col("n").cast("double")) /
      sqrt((col("n") * col("q") - col("s") * col("s")) /
        (col("n") * (col("n") - 1)).cast("double")), 4)

  /** Per-type integer stat triple (s, q, n) over an hourly-count grid. */
  private[graft] def hourStats(h: DataFrame): DataFrame =
    h.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("s"),
        sum(col("cnt") * col("cnt")).as("q"),
        count(lit(1)).as("n"))

  def anomalyHours(spark: SparkSession, sfDir: String): DataFrame = {
    val h = eventsMs(spark, sfDir)
      .select(col("event_type"), expr("ms div 3600000").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("cnt"))
    h.join(broadcast(hourStats(h)), "event_type")
      .filter(anomalyPredicate)
      .select(col("event_type"), col("hour"), col("cnt"),
        zScoreExpr.as("z"))
      .orderBy(col("event_type"), col("hour"))
  }

  private val anomalyHoursSql =
    """WITH h AS (
      |  SELECT event_type, epoch_ms(ts) // 3600000 AS hour,
      |    count(*) AS cnt
      |  FROM events GROUP BY event_type, hour),
      |s AS (
      |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS s,
      |    CAST(sum(cnt * cnt) AS BIGINT) AS q,
      |    count(*) AS n
      |  FROM h GROUP BY event_type)
      |SELECT h.event_type, h.hour, h.cnt,
      |  floor(((h.cnt - s.s / CAST(s.n AS DOUBLE)) /
      |    sqrt((s.n * s.q - s.s * s.s) /
      |      CAST(s.n * (s.n - 1) AS DOUBLE))) * 1e4 + 0.5) / 1e4 AS z
      |FROM h JOIN s USING (event_type)
      |WHERE (h.cnt * s.n - s.s) > 0
      |  AND (h.cnt * s.n - s.s) * (h.cnt * s.n - s.s) * (s.n - 1)
      |      > 9 * s.n * (s.n * s.q - s.s * s.s)
      |ORDER BY event_type, hour""".stripMargin

  // ---------------------------------------------------------------- q114
  /** First-touch attribution with a BOUNDED look-back: for every
    * purchase, the earliest view by the same user in the strictly-prior
    * 7-day window — the marketing-attribution complement of q24's as-of
    * join (as-of finds the LAST prior event, unbounded; first-touch
    * finds the FIRST, inside an expiry horizon). The value-based RANGE
    * frame is the point: a ROWS frame counts events, not time, and an
    * unbounded frame attributes to touches a quarter old.
    *
    * Scale: ONE user_id shuffle; the range frame is evaluated in a
    * single ordered pass per user (no self-join); purchases filter
    * AFTER the window (they need the views in-frame). Integer epoch-ms
    * in and out — no timestamp arithmetic to drift. Same-ms views are
    * excluded by the `-1` upper bound (strictly prior), and reporting
    * the min VIEW TIME (not an event id) keeps ties harmless. */
  def firstTouch(spark: SparkSession, sfDir: String): DataFrame = {
    val week = 7L * 86400000L
    val lookback = Window.partitionBy(col("user_id")).orderBy(col("ms"))
      .rangeBetween(-week, -1L)
    eventsMs(spark, sfDir)
      .withColumn("first_view_ms",
        min(when(col("event_type") === "view", col("ms"))).over(lookback))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ms").as("purchase_ms"),
        col("first_view_ms"),
        col("first_view_ms").isNotNull.as("attributed"))
      .orderBy(col("event_id"))
  }

  private val firstTouchSql =
    """WITH g AS (
      |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms
      |  FROM events),
      |w AS (
      |  SELECT event_id, user_id, event_type, ms,
      |    min(CASE WHEN event_type = 'view' THEN ms END) OVER (
      |      PARTITION BY user_id ORDER BY ms
      |      RANGE BETWEEN 604800000 PRECEDING AND 1 PRECEDING)
      |      AS first_view_ms
      |  FROM g)
      |SELECT event_id, user_id, ms AS purchase_ms, first_view_ms,
      |  first_view_ms IS NOT NULL AS attributed
      |FROM w WHERE event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q105
  /** Top-10 within-session event-type trigram paths — the product-analytics
    * "what do users actually do" read (q23's session semantics × q85's
    * transition idea, extended to length-3 paths). Sessions use the same
    * 30-minute-gap rule as q23; inside each session, consecutive
    * (t1, t2, t3) triples are formed with two `lead`s, then counted on
    * the ≤|types|³ grid.
    *
    * Scale: ONE user_id hash shuffle feeds every window here — the
    * session-boundary windows cluster on user_id, and the per-session
    * lead window clusters on (user_id, sess), which hash(user_id)
    * already satisfies (ClusteredDistribution on a superset of the
    * partitioning keys), so Spark inserts only a sort, not a second
    * exchange. The trigram agg map-combines to the type-cube grid and
    * the top-10 is a TakeOrderedAndProject, never a global sort. */
  def eventPaths(spark: SparkSession, sfDir: String): DataFrame = {
    eventPathsOf(eventsMs(spark, sfDir))
  }

  /** Core of q105 over any (user_id, event_id, event_type, ms) frame —
    * spec entry point. */
  private[graft] def eventPathsOf(events: DataFrame): DataFrame = {
    val bySess = Window.partitionBy(col("user_id"), col("sess"))
      .orderBy(col("ms"), col("event_id"))
    withSessionIds(events) // q23's rule, one definition
      .withColumn("t1", col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(bySess))
      .withColumn("t3", lead(col("event_type"), 2).over(bySess))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .groupBy(col("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("t1"), col("t2"), col("t3"))
      .limit(10)
  }

  private val eventPathsSql =
    """WITH g AS (
      |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms,
      |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts), event_id) AS prev_ms
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id, event_type, ms,
      |    sum(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ms, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM g),
      |t AS (
      |  SELECT event_type AS t1,
      |    lead(event_type, 1) OVER (PARTITION BY user_id, sess
      |      ORDER BY ms, event_id) AS t2,
      |    lead(event_type, 2) OVER (PARTITION BY user_id, sess
      |      ORDER BY ms, event_id) AS t3
      |  FROM s)
      |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_paths
      |FROM t WHERE t2 IS NOT NULL AND t3 IS NOT NULL
      |GROUP BY t1, t2, t3
      |ORDER BY n_paths DESC, t1, t2, t3
      |LIMIT 10""".stripMargin

  // --------------------------------------------------------------- q123
  /** Transition dwell time: for every (from_type → to_type) edge of q85's
    * transition graph, the distribution of time spent between the two
    * events — count, median, p90 gap in seconds. q85 says WHERE users go
    * next; this says HOW LONG they linger first — the engagement/latency
    * read (a slow view→purchase edge is a funnel stall, a near-zero gap
    * is bot-shaped).
    *
    * One pass: both `lead`s (next type, next ms) ride the SAME
    * (user_id | ms, event_id) window — one shuffle, one sorted scan —
    * then a |types|²-grid agg. Gaps are integer ms end to end; the only
    * doubles are the final percentile interpolations, which Spark's
    * `percentile` and DuckDB's `quantile_cont` define identically
    * (index p·(n−1) — q47's cross-engine contract), rounded at 4dp
    * after the /1000 to seconds. Exact `percentile` buffers each grid
    * cell's gaps in agg state — right for a bounded type alphabet; for
    * high-cardinality edges at 100 TB, swap in `approx_percentile`
    * exactly as q67 does for q47 (same flag-based oracle recipe). */
  def transitionDwell(spark: SparkSession, sfDir: String): DataFrame = {
    transitions(eventsMs(spark, sfDir))
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"),
        roundVal(expr("percentile(gap_ms, 0.5)") / 1000.0, 4).as("p50_gap_s"),
        roundVal(expr("percentile(gap_ms, 0.9)") / 1000.0, 4).as("p90_gap_s"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val transitionDwellSql =
    """WITH seq AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER w AS to_type,
      |    lead(epoch_ms(ts)) OVER w - epoch_ms(ts) AS gap_ms
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id))
      |SELECT from_type, to_type, count(*) AS cnt,
      |  floor((quantile_cont(gap_ms, 0.5) / 1000.0) * 1e4 + 0.5) / 1e4 AS p50_gap_s,
      |  floor((quantile_cont(gap_ms, 0.9) / 1000.0) * 1e4 + 0.5) / 1e4 AS p90_gap_s
      |FROM seq WHERE to_type IS NOT NULL
      |GROUP BY from_type, to_type
      |ORDER BY from_type, to_type""".stripMargin

  // --------------------------------------------------------------- q125
  /** Semi-structured props via the VARIANT type (Spark 4's path for JSON
    * at rest — binary-encoded, field access without re-parsing, the
    * format shredded parquet storage targets): `try_parse_json` once,
    * then `try_variant_get` per field. q20 reads the same props with
    * codegen'd `get_json_object` (string re-scan per field); VARIANT
    * parses once and serves every later extraction from the binary form
    * — at 100 TB with many-field props that is parse-once vs
    * parse-per-field. `try_parse_json` + `try_variant_get` (not the
    * throwing forms) so corrupt payloads and type-mismatched fields
    * degrade to NULL instead of failing the job — same
    * tolerance contract as q20's `try_cast`.
    *
    * Output: per (event_type, k mod 10) histogram of the extracted k —
    * a grid agg proving the extracted values flow into relational
    * compute, not just projection. */
  def variantExtract(spark: SparkSession, sfDir: String): DataFrame = {
    variantExtractOf(Tables.events(spark, sfDir))
  }

  private[graft] def variantExtractOf(events: DataFrame): DataFrame =
    events
      // extract as STRING, cast outside: 'bigint' extraction applies
      // typed variant-cast rules (boolean true -> 1, 1.5 truncates)
      // that DuckDB's TRY_CAST-of-extracted-string cannot mirror —
      // string-then-try_cast evaluates identically in both engines for
      // every payload shape, and the parse-once VARIANT path this query
      // demonstrates is the try_parse_json, unchanged
      .withColumn("k", expr(
        "try_cast(try_variant_get(try_parse_json(props), '$.k', 'string') AS BIGINT)"))
      .filter(col("k").isNotNull)
      .groupBy(col("event_type"), pmod(col("k"), lit(10L)).as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"), col("k_mod"))

  private val variantExtractSql =
    ("""SELECT event_type, (k % 10 + 10) % 10 AS k_mod,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_k
      |FROM (
      |  SELECT event_type,
      |    """ + intCastK + """ AS k
      |  FROM events)
      |WHERE k IS NOT NULL
      |GROUP BY event_type, k_mod
      |ORDER BY event_type, k_mod""").stripMargin

  override val ops: Seq[Op] = Seq(
    Op("q129_recursive_reach", recursiveReach, Some(recursiveReachSql),
      "WITH RECURSIVE BFS: min-hop reachability from signup over the observed transition graph (grid-sized recursion)"),
    Op("q128_unpivot", unpivotCounts, Some(unpivotCountsSql),
      "wide-to-long melt of q25's pivot via native Dataset.unpivot -- complete grid incl. zero cells"),
    Op("q125_variant_extract", variantExtract, Some(variantExtractSql),
      "semi-structured props via VARIANT (try_parse_json + variant_get): per-(event_type, k mod 10) histogram -- parse-once JSON path"),
    Op("q123_transition_dwell", transitionDwell, Some(transitionDwellSql),
      "dwell-time distribution per transition edge: count + median/p90 gap seconds (funnel-stall / bot-gap read on q85's graph)"),
    Op("q88_anomaly_hours", anomalyHours, Some(anomalyHoursSql),
      "event-rate anomaly sweep: hours >3 sample sd above their type mean, integer-exact predicate"),
    Op("q85_event_transitions", eventTransitions, Some(eventTransitionsSql),
      "Markov next-event transition matrix: per-user lead window + grid-level probabilities"),
    Op("q81_funnel_conversion", funnelConversion, Some(funnelConversionSql),
      "ordered funnel: signup -> view-after -> purchase-after user counts"),
    Op("q82_retention_cohorts", retentionCohorts, Some(retentionCohortsSql),
      "weekly retention cohorts relative to each user's first event"),
    Op("q20_json_extract", jsonExtract, Some(jsonExtractSql),
      "JSON field extraction + agg over events.props"),
    Op("q21_event_tumbling", eventTumbling, Some(eventTumblingSql),
      "1-hour tumbling event-time windows (native window())"),
    Op("q22_event_sliding", eventSliding, Some(eventSlidingSql),
      "1-hour / 30-min sliding event-time windows"),
    Op("q23_sessionize", sessionize, Some(sessionizeSql),
      "gap-based sessionization (30-min idle timeout)"),
    Op("q24_asof_join", asofJoin, Some(asofJoinSql),
      "as-of join: last prior click per purchase, analytic-window impl"),
    Op("q25_pivot", pivotCounts, Some(pivotCountsSql),
      "pivot: event-type counts per user cohort"),
    Op("q105_event_paths", eventPaths, Some(eventPathsSql),
      "top-10 within-session event trigram paths (session rule of q23, one user_id shuffle, grid agg + top-k)"),
    Op("q114_first_touch", firstTouch, Some(firstTouchSql),
      "first-touch attribution: earliest view in the strictly-prior 7-day RANGE window per purchase (bounded-horizon as-of complement)"))
}
