package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver testdata star schema (TESTDATA.md / FIXTURES.md).
  *
  * Each table is a single parquet file per scale factor. At cluster scale
  * these would be partitioned directories; `spark.read.parquet` handles both
  * shapes identically, so nothing here assumes single-file inputs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS). What the reader yields for it
    * has CHANGED across Spark builds: with
    * `spark.sql.legacy.parquet.nanosAsLong=true` older readers produce a
    * nanos-since-epoch LongType, while current 4.1.x ignores that legacy
    * conf and produces TIMESTAMP_NTZ (nanos truncated to micros). Every
    * event operator is written against the nanos-long contract, so this
    * loader normalizes by dispatching on the READ schema (the reference's
    * own dtype-dispatch move, `app.py:136` — dispatch on what arrived,
    * not on what was configured): LongType passes through; a timestamp
    * column is rebuilt as nanos. Sub-microsecond digits are lost on the
    * NTZ path — immaterial here because every consumer floors to ms (as
    * does the DuckDB oracle's `epoch_ms`). The NTZ→instant cast uses the
    * session timezone, which every entry point pins to UTC. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr(
            "unix_micros(cast(ts as timestamp)) * 1000L"))
      case TimestampType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000L"))
      case other =>
        throw new IllegalStateException(
          s"events.ts read as unsupported type $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Name → normalizing loader ([[events]]' ts dispatch included) —
    * callers registering every table (e.g. the ad-hoc SQL view setup)
    * must get the same columns the operators consume, not the raw read. */
  def loader(name: String): (SparkSession, String) => DataFrame = name match {
    case "events" => events
    case t => (s, d) => apply(s, d, t)
  }
}

/** The session invariant: a session is tuned ONCE, by its owner, when it
  * is built — [[GraftSession.local]] for every main and the test fixture,
  * or an explicit [[GraftSession.tune]] by an embedder that builds its own
  * session. Operator builders never touch session confs or the function
  * registry, so a conf the caller sets survives building and running any
  * query. The tuned confs turn adaptive execution on, so shuffle partition
  * counts, skew joins and broadcast decisions re-plan at runtime — the
  * knobs that matter when the same plan runs at 1000× the data.
  */
object GraftSession {
  /** Spread a small-file scan across the session's cores ahead of a
    * CPU-heavy per-row stage (explode / lambda / regex over every token).
    * The fixture tables are single parquet files with ONE row group, so
    * Spark hands the whole scan to ONE task — and a non-shuffling pipeline
    * after it (explode → map-side partial agg) stays on that one core no
    * matter how many are idle. Hash-repartitioning on the row key is a
    * kilobyte-scale shuffle here, is deterministic, and lets a downstream
    * groupBy whose keys contain the spread key reuse the exchange. At
    * cluster scale inputs arrive in thousands of splits and this becomes a
    * cheap no-op-sized insurance, not a cost. */
  def spread(df: org.apache.spark.sql.DataFrame,
      keys: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)

  /** Cores for [[local]]: `SPARK_GRAFT_CPUS`, or the machine's core count
    * when it is unset or not a positive number. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .flatMap(_.trim.toIntOption).filter(_ > 0)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session builder: master `local[cpus]` unless `SPARK_MASTER`
    * names a deployment, `cpus` shuffle partitions, UTC, no UI, WARN logs,
    * and [[tune]] exactly once. Static confs a caller needs (e.g. a
    * warehouse dir) go in as `spark.*` system properties before the call. */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }

  /** Set the engine's runtime SQL confs and register its functions on a
    * live session. Called once per session by its owner (see above). */
  def tune(spark: SparkSession): SparkSession = {
    // The nanos-long contract in [[Tables.events]] rebuilds TIMESTAMP_NTZ
    // as nanos via an NTZ→instant cast that consults the SESSION timezone;
    // an embedder's own session would otherwise inherit the machine TZ and
    // shift every timestamp by the local offset. timeZone is
    // runtime-settable, so [[local]]'s builder-time pin is repeated here.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // coalesce to the advisory partition SIZE rather than preserving
    // parallelism: small shuffles collapse to few real tasks instead of
    // `shuffle.partitions` near-empty ones, and at 100 TB reducers are
    // sized by bytes, not by a static partition count (the setting Spark's
    // AQE docs recommend for production)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "false")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // answer bare MIN/MAX/COUNT(*) from parquet footer statistics instead
    // of scanning data pages (q17/q50's metadata-probe queries — at 100 TB
    // this is the difference between a footer read and a full-table scan).
    // Aggregate pushdown is implemented only in the DSv2 parquet reader, so
    // path-based parquet scans are routed to V2 (catalog/bucketed tables
    // keep their V1 path — table resolution doesn't consult this list).
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList",
      "avro,csv,json,kafka,orc,text")
    // events.ts is parquet TIMESTAMP(NANOS): older readers honor this
    // legacy conf (nanos → LongType); current 4.1.x ignores it and yields
    // TIMESTAMP_NTZ. Kept for the older path; [[Tables.events]] dispatches
    // on the schema actually read, so event ops work under either reader.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // custom expressions as SQL functions (simhash64, cosine_similarity,
    // st_point, ...)
    GraftFunctions.register(spark)
    spark
  }
}
