package graft

import graft.operators.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The `graftvt` named-format read surface: current/versionAsOf/
  * timestampAsOf resolution must match the library calls exactly
  * (answer-invariance of the interop layer), SQL views over it work,
  * vacuumed targets fail loudly, and filter pushdown prunes the same
  * dirs the library paths prune. */
class GraftVtSourceSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType),
    StructField("bucket", IntegerType)))

  private def rowsDf(rows: (Long, String, Int)*): DataFrame =
    rows.toDF("k", "v", "bucket")

  private def contents(df: DataFrame): Set[(Long, String, Int)] =
    df.select(col("k"), col("v"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  private def newRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_vtsrc_$tag").toString

  private def fmt(root: String) =
    spark.read.format("graftvt").option("path", root)

  test("format reads match the library calls: current, versionAsOf, timestampAsOf; vacuumed versions fail loudly") {
    val root = newRoot("resolve")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1)))
    val t1 = VersionedTable.currentSnapshot(spark, root).get
      .committedAtMs.get
    Thread.sleep(5) // distinct commit instants for the asOf law
    VersionedTable.publishDelta(spark, root, Seq(1), rowsDf((20L, "B", 1)))
    // current == readCurrent
    assert(contents(fmt(root).load()) ==
      contents(VersionedTable.readCurrent(spark, root, schema)))
    // versionAsOf == snapshotAt read — the retained v1, exactly
    assert(contents(fmt(root).option("versionAsOf", "1").load()) ==
      Set((1L, "a", 0), (2L, "b", 1)))
    // timestampAsOf == snapshotAsOf read (v1's commit instant)
    assert(contents(fmt(root).option("timestampAsOf", t1.toString).load()) ==
      Set((1L, "a", 0), (2L, "b", 1)))
    // schema derived from the manifest record (no .schema() needed), and
    // an explicit schema also works (the legacy-manifest escape hatch)
    assert(fmt(root).load().schema.fieldNames.sorted.toSeq ==
      Seq("bucket", "k", "v"))
    assert(contents(fmt(root).schema(schema).load()) ==
      contents(VersionedTable.readCurrent(spark, root, schema)))
    // vacuumed version: loud error, never another state
    VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    val e = intercept[IllegalStateException] {
      fmt(root).option("versionAsOf", "1").load()
    }
    assert(e.getMessage.contains("not retained"))
    // mutually exclusive time-travel options
    intercept[IllegalArgumentException] {
      fmt(root).option("versionAsOf", "1")
        .option("timestampAsOf", "123").load()
    }
  }

  test("SQL-level reads: a temporary view USING graftvt serves the pinned snapshot") {
    val root = newRoot("sql")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1)))
    VersionedTable.publishDelta(spark, root, Seq(1), rowsDf((20L, "B", 1)))
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW vt_v1
      USING graftvt OPTIONS (path '$root', versionAsOf '1')""")
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW vt_cur
      USING graftvt OPTIONS (path '$root')""")
    assert(spark.sql("SELECT k FROM vt_v1 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(spark.sql("SELECT k FROM vt_cur ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 20L))
    // aggregation + projection through the relation
    assert(spark.sql(
      "SELECT count(*) FROM vt_cur WHERE bucket = 1").collect()
      .head.getLong(0) == 1L)
  }

  test("pushdown prunes like the library paths: partition filters select dirs, range filters ride the zone map — answers unchanged") {
    val root = newRoot("prune")
    // k ranges disjoint per bucket (zone-map layout)
    val data = spark.range(0, 400).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"),
      (col("id") / 100).cast("int").as("bucket"))
    VersionedTable.publishFull(spark, root, "bucket", data)
    val snap = VersionedTable.currentSnapshot(spark, root).get
    val rel = new graft.sources.GraftVt()
      .createRelation(spark.sqlContext,
        Map("path" -> root)).asInstanceOf[graft.sources.GraftVtRelation]
    import org.apache.spark.sql.sources._
    // partition-value pushdown: bucket IN (1,2) reads those dirs' rows
    val byPart = rel.buildScan(Array("k"),
      Array(In("bucket", Array(1, 2)))).map(_.getLong(0)).collect()
    assert(byPart.length == 200 && byPart.forall(k => k >= 100 && k < 300))
    // zone-map pushdown: k BETWEEN 150 AND 249 through SQL — answer
    // parity with the library read+filter
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW vt_zone
      USING graftvt OPTIONS (path '$root')""")
    val viaSql = spark.sql(
      "SELECT k FROM vt_zone WHERE k BETWEEN 150 AND 249 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == (150L to 249L))
    // and the pruning itself (dir-level) matches readRange's law
    val pruned = VersionedTable.readRange(spark, snap, root, schema,
      "k", 150L, 249L)
    assert(pruned.inputFiles.map(f => new org.apache.hadoop.fs.Path(f)
      .getParent.getName).toSet == Set("bucket=1", "bucket=2"))
  }

  test("string pushdown: lang = 'de' through SQL skips dirs via the string zone map — answers unchanged") {
    val root = newRoot("strprune")
    // lang-clustered corpus layout: each bucket one lang slice
    val data = spark.range(0, 400).select(col("id").as("k"),
      element_at(array(lit("de"), lit("en"), lit("fr"), lit("pt")),
        (col("id") / 100).cast("int") + 1).as("lang"),
      (col("id") / 100).cast("int").as("bucket"))
    VersionedTable.publishFull(spark, root, "bucket", data)
    val snap = VersionedTable.currentSnapshot(spark, root).get
    assert(snap.stats("bucket=0")("lang") ==
      VersionedTable.ColStat("string", "de", "de"))
    val rel = new graft.sources.GraftVt()
      .createRelation(spark.sqlContext,
        Map("path" -> root)).asInstanceOf[graft.sources.GraftVtRelation]
    import org.apache.spark.sql.sources._
    // the format's filter conversion routes the string equality into
    // pruneParts: only the de-dir's rows flow through the scan
    val viaRel = rel.buildScan(Array("k"),
      Array(EqualTo("lang", "de"))).map(_.getLong(0)).collect()
    assert(viaRel.length == 100 && viaRel.forall(_ < 100),
      "string EqualTo must prune to the single overlapping dir")
    // SQL answer parity (row-level re-filter keeps exact semantics)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW vt_strzone
      USING graftvt OPTIONS (path '$root')""")
    assert(spark.sql(
      "SELECT count(*) FROM vt_strzone WHERE lang = 'de'")
      .head.getLong(0) == 100L)
    assert(spark.sql(
      "SELECT count(*) FROM vt_strzone WHERE lang IN ('en','fr')")
      .head.getLong(0) == 200L)
    assert(spark.sql(
      "SELECT count(*) FROM vt_strzone WHERE lang >= 'pt'")
      .head.getLong(0) == 100L)
    // dir-level law straight off the library path for the same bound
    assert(VersionedTable.pruneParts(snap, "lang",
      Some("de"), Some("de")).keySet == Set("bucket=0"))
  }

  test("format writes are atomic versioned publishes: Overwrite commits the next version, ErrorIfExists bootstraps only, Append is rejected by design") {
    val root = newRoot("write")
    val v1 = rowsDf((1L, "a", 0), (2L, "b", 1))
    v1.write.format("graftvt").option("partCol", "bucket")
      .mode("error").save(root)
    assert(contents(fmt(root).load()) == contents(v1))
    assert(VersionedTable.currentSnapshot(spark, root).get.version == 1L)
    // a second bootstrap refuses; an Overwrite COMMITS v2 (history kept)
    intercept[IllegalStateException] {
      v1.write.format("graftvt").option("partCol", "bucket")
        .mode("error").save(root)
    }
    val v2 = rowsDf((1L, "a", 0), (20L, "B", 1))
    v2.write.format("graftvt").option("partCol", "bucket")
      .mode("overwrite").save(root)
    assert(contents(fmt(root).load()) == contents(v2))
    assert(contents(fmt(root).option("versionAsOf", "1").load()) ==
      contents(v1), "Overwrite is a commit, not a truncate — v1 retained")
    // zone maps stamped by the format write like any library publish
    assert(VersionedTable.currentSnapshot(spark, root).get
      .stats.nonEmpty)
    // Append would silently duplicate keys — rejected with the delta hint
    val e = intercept[IllegalArgumentException] {
      v2.write.format("graftvt").option("partCol", "bucket")
        .mode("append").save(root)
    }
    assert(e.getMessage.contains("publishDelta"))
    // a write without partCol fails before touching the table
    intercept[IllegalArgumentException] {
      v2.write.format("graftvt").mode("overwrite").save(newRoot("nopc"))
    }
  }

  test("extras read through the format; legacy manifests demand an explicit schema") {
    val root = newRoot("extra")
    val statsDf = Seq((5L, 42L)).toDF("n_docs", "total_len")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0)), extras = Map("stats" -> statsDf))
    val st = fmt(root).option("extra", "stats")
      .schema(StructType(Seq(StructField("n_docs", LongType),
        StructField("total_len", LongType)))).load().collect()
    assert(st.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 42L)))
    // extras need an explicit schema (no manifest field record for them)
    intercept[IllegalArgumentException] {
      fmt(root).option("extra", "stats").load()
    }
  }

  // ------------------------------------------------- change feed stream
  private def cdcReader(root: String, starting: Long = 1L) =
    spark.readStream.format("graftvt")
      .option("readChangeFeed", "true").option("keyCol", "k")
      .option("startingVersion", starting.toString)
      .load(root)

  private def asFeedTuples(df: DataFrame)
      : Set[(Long, String, Int, String)] =
    df.select(col("k"), col("v"), col("bucket"), col("change_type"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)).orNull,
        r.getInt(2), r.getString(3))).toSet

  private def feedRows(table: String, cv: Long)
      : Set[(Long, String, Int, String)] =
    asFeedTuples(spark.table(table).filter(col("commit_version") === cv))

  private def allFeedRows(table: String): Set[(Long, String, Int, String)] =
    asFeedTuples(spark.table(table))

  /** The library feed for a span, shaped like the source's output. */
  private def spanFeed(root: String, fromV: Long,
      toV: Long): Set[(Long, String, Int, String)] = {
    val from = VersionedTable.snapshotAt(spark, root, fromV).get
    val to = VersionedTable.snapshotAt(spark, root, toV).get
    asFeedTuples(
      VersionedTable.changes(spark, root, from, to, schema, "k"))
  }

  test("change feed stream: offsets are committed versions — batches replay the q143 feed, checkpoint resumes across restarts") {
    val root = newRoot("cdc")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cdc_ckpt").toString
    // a FILE sink: the memory sink refuses checkpoint recovery, and
    // recovery is exactly what this test proves
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_cdc_out").toString
    VersionedTable.publishFull(spark, root,
      "bucket", rowsDf((1L, "a", 0), (2L, "b", 1), (3L, "c", 2)))
    def drain(): Unit = {
      val q = cdcReader(root).writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow run must finish")
    }
    def sunk(cv: Long) = asFeedTuples(
      spark.read.parquet(outDir).filter(col("commit_version") === cv))
    def sunkCount() = spark.read.parquet(outDir).count()
    // the source's declared schema is the feed shape (manifest-derived
    // row schema is name-sorted, like the batch surface)
    assert(cdcReader(root).schema.fieldNames.toSeq ==
      Seq("bucket", "k", "v", "change_type", "commit_version"))
    // run 1: replay from birth — v1's rows as inserts, stamped v1
    drain()
    assert(sunk(1L) == Set(
      (1L, "a", 0, "insert"), (2L, "b", 1, "insert"),
      (3L, "c", 2, "insert")))
    assert(sunkCount() == 3)
    // v2: an upsert and a delete in bucket 1 + untouched buckets
    VersionedTable.publishDelta(spark, root, Seq(1),
      rowsDf((20L, "B", 1)))
    // run 2 RESTARTS from the checkpoint: exactly the v1→v2 span feed,
    // identical to the library q143 call — never a replay of batch 1
    drain()
    assert(sunk(2L) == spanFeed(root, 1L, 2L))
    assert(sunk(2L).map(_._4) == Set("insert", "delete"),
      "the v1→v2 span is one insert (k=20) and one delete (k=2)")
    assert(sunkCount() == 5, "no replay of the v1 batch")
    // quiet span: no new version — a re-run sinks zero new rows
    drain()
    assert(sunkCount() == 5, "a quiet span must produce no batch rows")
  }

  test("change feed stream from a stored cursor (startingVersion = 2): a quiet trigger emits nothing, one publish emits exactly its delta, a two-commit gap emits the net diff") {
    val root = newRoot("cdccursor")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cdccursor_ck").toString
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1)))
    val batches = scala.collection.mutable
      .ArrayBuffer[Set[(Long, String, Int, String, Long)]]()
    // one trigger: every committed version past the cursor, as one batch
    def trigger(): Unit = {
      val q = cdcReader(root, starting = 2L).writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (feed: DataFrame, _: Long) =>
          val rows = feed.select(col("k"), col("v"), col("bucket"),
              col("change_type"), col("commit_version")).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
              r.getString(3), r.getLong(4))).toSet
          batches.synchronized { batches += rows; () }
        }.start()
      assert(q.awaitTermination(120000), "AvailableNow run must finish")
    }
    // the cursor stored with the sink is v1: nothing committed since
    trigger()
    assert(batches.isEmpty, "no publish since the cursor → silent trigger")
    // one commit, one trigger: exactly that delta's change rows, stamped
    // with the commit version the cursor advances to
    VersionedTable.publishDelta(spark, root, Seq(1),
      rowsDf((2L, "B2", 1), (3L, "c", 1)))
    trigger()
    assert(batches.toList == List(Set(
      (2L, "b", 1, "update_pre", 2L), (2L, "B2", 1, "update_post", 2L),
      (3L, "c", 1, "insert", 2L))),
      "the trigger after a publish emits exactly the delta's feed")
    // two commits land between triggers: the next one emits the NET
    // v2→v4 diff in one batch (row 3 inserted-at-v2 then deleted-at-v4
    // never re-appears; 1's update and 3's delete ride commit 4)
    VersionedTable.publishDelta(spark, root, Seq(0), rowsDf((1L, "A", 0)))
    VersionedTable.publishDelta(spark, root, Seq(1), rowsDf((2L, "B2", 1)))
    trigger()
    assert(batches.toList.drop(1) == List(Set(
      (1L, "a", 0, "update_pre", 4L), (1L, "A", 0, "update_post", 4L),
      (3L, "c", 1, "delete", 4L))),
      "a multi-commit gap collapses to the net diff at the new cursor")
    trigger()
    assert(batches.length == 2, "the drained cursor goes silent again")
  }

  test("change feed stream: live publishes while the query runs land as their own spans — the stream==batch law") {
    val root = newRoot("cdclive")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1)))
    val q = cdcReader(root).writeStream.format("memory")
      .queryName("cdc_live").option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_cdclive_ck").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("50 milliseconds"))
      .start()
    def awaitCv(cv: Long): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      def seen() = spark.table("cdc_live")
        .filter(col("commit_version") === cv).limit(1).count() > 0
      while (!seen() && System.nanoTime() < deadline) {
        q.exception.foreach(e => throw e)
        Thread.sleep(50)
      }
      q.exception.foreach(e => throw e)
      assert(seen(), s"deadline waiting for commit_version=$cv rows")
    }
    try {
      awaitCv(1L)
      VersionedTable.publishDelta(spark, root, Seq(0), rowsDf((10L, "A", 0)))
      awaitCv(2L)
      VersionedTable.publishDelta(spark, root, Seq(1), rowsDf())
      awaitCv(3L)
      assert(feedRows("cdc_live", 2L) == spanFeed(root, 1L, 2L),
        "the live v1→v2 span equals the library feed")
      assert(feedRows("cdc_live", 3L) == spanFeed(root, 2L, 3L),
        "the live v2→v3 span (bucket 1 emptied) equals the library feed")
    } finally q.stop()
  }

  test("change feed stream: a checkpoint asleep past vacuum fails loudly; option validation") {
    val root = newRoot("cdcvac")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cdcvac_ck").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_cdcvac_out").toString
    VersionedTable.publishFull(spark, root, "bucket", rowsDf((1L, "a", 0)))
    val q1 = cdcReader(root).writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q1.awaitTermination(120000))
    // the table moves on twice and retention drops the checkpointed v1
    VersionedTable.publishDelta(spark, root, Seq(0), rowsDf((2L, "b", 0)))
    VersionedTable.publishDelta(spark, root, Seq(0), rowsDf((3L, "c", 0)))
    VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    val q2 = cdcReader(root).writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination(120000)
    }
    assert(e.getMessage.contains("not retained") ||
      Option(e.getCause).exists(_.getMessage.contains("not retained")),
      s"a vacuumed offset must fail loudly, got: ${e.getMessage}")
    // option validation: the stream is the change feed, with a key
    intercept[IllegalArgumentException] {
      spark.readStream.format("graftvt").load(root)
    }
    intercept[IllegalArgumentException] {
      spark.readStream.format("graftvt")
        .option("readChangeFeed", "true").load(root)
    }
  }
}
