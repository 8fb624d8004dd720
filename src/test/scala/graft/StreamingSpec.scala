package graft

import graft.operators.EventOps
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.UserEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming/batch equivalence: the streaming operators must produce the
  * batch answers when fed the same (bounded) events. */
class StreamingSpec extends SparkSpec {

  private def eventsBatch = {
    Tables.events(spark, sfDir)
      .withColumn("tsc", expr("timestamp_micros(ts div 1000)"))
      .select(col("tsc").as("ts"), col("user_id"), col("event_type"),
        col("value"), col("event_id"))
  }

  test("streaming tumbling counts == batch tumbling counts (MemoryStream)") {
    import spark.implicits._
    val rows = eventsBatch.collect().map(r =>
      (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4)))
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, Double, Long)]
    // two micro-batches to exercise incremental state
    val (b1, b2) = rows.splitAt(rows.length / 2)
    mem.addData(b1.toSeq)
    mem.addData(b2.toSeq)
    val streamDf = mem.toDF()
      .toDF("ts", "user_id", "event_type", "value", "event_id")
    val streamed = StreamingOps.runToMemory(
      StreamingOps.tumblingCounts(streamDf), "tumbling_test")
      .orderBy("win_start").collect().toSeq
    val batch = StreamingOps.tumblingCounts(eventsBatch)
      .orderBy("win_start").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming sliding counts == batch sliding counts (MemoryStream)") {
    import spark.implicits._
    val rows = eventsBatch.collect().map(r =>
      (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4)))
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, Double, Long)]
    val (b1, b2) = rows.splitAt(rows.length / 2)
    mem.addData(b1.toSeq)
    mem.addData(b2.toSeq)
    val streamDf = mem.toDF()
      .toDF("ts", "user_id", "event_type", "value", "event_id")
    val streamed = StreamingOps.runToMemory(
      StreamingOps.slidingCounts(streamDf), "sliding_test")
      .orderBy("win_start").collect().toSeq
    val batch = StreamingOps.slidingCounts(eventsBatch)
      .orderBy("win_start").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // overlap sanity: sliding emits ~2x the tumbling window count
    val tumbling = StreamingOps.tumblingCounts(eventsBatch).count()
    assert(streamed.length > tumbling,
      "1h/30m sliding windows must outnumber 1h tumbling windows")
  }

  test("session_window batch result == lag+cumsum sessionization (q23)") {
    // roll the per-session rows up per user (downstream of the single
    // stateful agg — see StreamingOps.sessionCounts scaladoc)
    val sw = StreamingOps.sessionCounts(eventsBatch)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("sess_events")).as("n_events"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val q23 = EventOps.sessionize(spark, sfDir)
      .select(col("user_id"), col("n_sessions"), col("n_events"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(sw == q23,
      "native session_window must agree with the analytic formulation")
  }

  test("sessionCounts runs as an actual streaming query (single stateful agg)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // session windows only support Append mode in streaming: sessions emit
    // once the watermark passes them, so feed early events, then much later
    // ones to advance the watermark beyond the early sessions
    val rows = eventsBatch.orderBy(col("ts")).collect().map(r =>
      (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4)))
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, Double, Long)]
    mem.addData(rows.take(300).toSeq)
    mem.addData(rows.takeRight(100).toSeq) // ~a month later -> watermark jumps
    val streamDf = mem.toDF()
      .toDF("ts", "user_id", "event_type", "value", "event_id")
    val streamed = StreamingOps.runToMemory(
      StreamingOps.sessionCounts(streamDf), "session_stream_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
    assert(streamed.count() > 0,
      "watermark-passed sessions must be emitted in append mode")
  }

  test("exactly-once JDBC sink: batch replay converges, stream lands once (Derby)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val url = s"jdbc:derby:${tempDir("graft_eo")}/db;create=true"
    def tableCount(t: String) = spark.read.format("jdbc")
      .option("url", url).option("dbtable", t).load()
    // 1) the idempotence law itself: same (batch, batchId) written twice
    //    must land once — this is what makes Structured Streaming's
    //    same-id replay exactly-once in END STATE
    val b = (0 until 10).map(i => (i.toLong, i * 1.5)).toDF("id", "v")
    StreamingOps.writeBatchIdempotent(b, 7L, url, "eo_law")
    StreamingOps.writeBatchIdempotent(b, 7L, url, "eo_law")
    assert(tableCount("eo_law").count() == 10)
    // a DIFFERENT batch id is new data, not a replay
    StreamingOps.writeBatchIdempotent(b, 8L, url, "eo_law")
    assert(tableCount("eo_law").count() == 20)
    // 2) a real stream through the sink: every row exactly once, batch ids
    //    persisted, and a replay of the final batch changes nothing
    val mem = MemoryStream[(Long, Double)]
    val rows = (0 until 50).map(i => (i.toLong, i / 2.0))
    val (r1, r2) = rows.splitAt(25)
    mem.addData(r1)
    mem.addData(r2)
    val ckpt = tempDir("graft_eo_ckpt").toString
    val q = StreamingOps.jdbcSinkStream(
      mem.toDF().toDF("id", "v"), url, "eo_stream", ckpt)
    try q.processAllAvailable() finally q.stop()
    val landed = tableCount("eo_stream")
    assert(landed.count() == 50)
    assert(landed.select("id").distinct().count() == 50)
    val lastBatch = landed.agg(max(col("graft_batch_id"))).collect()(0).getLong(0)
    // materialize the replayed batch BEFORE the write: a real replay feeds
    // source data, not a lazy self-read of the sink table being rewritten
    val lastRows = landed.filter(col("graft_batch_id") === lastBatch)
      .select("id", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq.toDF("id", "v")
    StreamingOps.writeBatchIdempotent(lastRows, lastBatch, url, "eo_stream")
    assert(tableCount("eo_stream").count() == 50,
      "replaying the last batch with its own id must not duplicate rows")
  }

  test("stateful streaming runs on the RocksDB state store (production backend)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // The default HDFSBackedStateStoreProvider keeps every key in executor
    // heap — at 100 TB-scale state (billions of dedup keys, wide session
    // maps) the production choice is the RocksDB provider: state lives
    // off-heap/on-disk per partition and memory stays bounded. Same query,
    // same results — asserted here by re-running the tumbling agg against
    // the batch answer with the provider swapped.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rows = eventsBatch.collect().map(r =>
        (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getDouble(3),
          r.getLong(4)))
      val mem = MemoryStream[(java.sql.Timestamp, Long, String, Double, Long)]
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toSeq)
      mem.addData(b2.toSeq)
      val streamed = StreamingOps.runToMemory(
        StreamingOps.tumblingCounts(
          mem.toDF().toDF("ts", "user_id", "event_type", "value", "event_id")),
        "rocksdb_tumbling_test")
        .orderBy("win_start").collect().toSeq
      val batch = StreamingOps.tumblingCounts(eventsBatch)
        .orderBy("win_start").collect().toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream-stream interval join == batch interval join (view->click attribution)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def typed(t: String) = eventsBatch.filter(col("event_type") === t)
    def rowsOf(t: String) = typed(t).collect().map(r =>
      (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4)))
    val memV = MemoryStream[(java.sql.Timestamp, Long, String, Double, Long)]
    val memC = MemoryStream[(java.sql.Timestamp, Long, String, Double, Long)]
    // two micro-batches per side so matches span batch boundaries
    for ((mem, rows) <- Seq(memV -> rowsOf("view"), memC -> rowsOf("click"))) {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toSeq)
      mem.addData(b2.toSeq)
    }
    val names = Seq("ts", "user_id", "event_type", "value", "event_id")
    val streamed = StreamingOps.runToMemory(
      StreamingOps.viewClickJoin(
        memV.toDF().toDF(names: _*), memC.toDF().toDF(names: _*)),
      "interval_join_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val batch = StreamingOps.viewClickJoin(typed("view"), typed("click"))
      .orderBy("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty, "fixture must produce view->click matches")
  }

  test("streaming dropDuplicates removes re-delivered events (dedup with watermark)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rows = eventsBatch.collect().map(r =>
      (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getLong(4)))
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, Double, Long)]
    val (b1, b2) = rows.splitAt(rows.length / 2)
    mem.addData(b1.toSeq)
    mem.addData(b2.toSeq)
    mem.addData(b1.take(100).toSeq) // re-deliver duplicates
    val streamDf = mem.toDF()
      .toDF("ts", "user_id", "event_type", "value", "event_id")
    val streamed = StreamingOps.runToMemory(
      StreamingOps.dedupStream(streamDf), "dedup_test")
      .orderBy("event_type").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val batch = eventsBatch.dropDuplicates("event_id")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy("event_type").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(streamed == batch, "re-delivered events must be deduped in-stream")
  }

  test("stream-static contamination screen == batch, stateless across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // benchmark = hash-mod slice of documents (as in q69); stream = the rest
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val bench = StreamingOps.benchmarkGramSet(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0))
    val corpusRows = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val (b1, b2) = corpusRows.splitAt(corpusRows.length / 2)
    mem.addData(b1.toSeq)
    mem.addData(b2.toSeq)
    val streamed = StreamingOps.runToMemory(
      StreamingOps.contaminationScreen(
        mem.toDF().toDF("doc_id", "text"), bench),
      "contamination_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    val batch = StreamingOps.contaminationScreen(
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), bench)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(streamed == batch, "append-mode screen must equal the batch screen")
    assert(streamed.nonEmpty, "fixture must contain contaminated docs")
    // consistency with the declared q69: same set of contaminated doc ids
    val q69docs = graft.operators.PipelineOps.contamination(spark, sfDir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(streamed.map(_._1).toSet == q69docs,
      "screen must flag exactly the docs q69 attributes")
  }

  test("streaming Bloom dedup screen == batch, drops every re-delivery, stateless") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val seen = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val sketch = StreamingOps.seenSketch(seen)
    // arriving: the odd docs (novel — fixture has no exact dups) plus
    // planted re-deliveries of every 10th seen doc under fresh ids
    val redelivered = seen.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text"))
    val arriving = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .unionByName(redelivered)
    val rows = arriving.collect().map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    val (b1, b2) = rows.splitAt(rows.length / 2)
    mem.addData(b1.toSeq)
    mem.addData(b2.toSeq)
    val streamed = StreamingOps.runToMemory(
      StreamingOps.bloomScreenStream(mem.toDF().toDF("doc_id", "text"), sketch),
      "bloom_screen_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(_.getLong(0)).toSet
    val batch = StreamingOps.bloomScreenStream(arriving, sketch)
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch, "append-mode screen must equal the batch screen")
    // no false negatives: every planted re-delivery is dropped
    val replantedIds = redelivered.collect().map(_.getLong(0)).toSet
    assert(streamed.intersect(replantedIds).isEmpty,
      "a Bloom screen can never pass a true re-delivery")
    // survivors are novel docs, minus at most fpp of them (mis-flags)
    val novelIds = rows.map(_._1).toSet -- replantedIds
    assert(streamed.subsetOf(novelIds))
    assert(streamed.size >= (novelIds.size * 0.95).toInt,
      s"screen dropped too many novel docs: ${streamed.size}/${novelIds.size}")
    assert(streamed.nonEmpty)
    // null-text docs PASS as novel even when the seen corpus also held
    // null text: xxhash64 hashes null to its seed (42), so without the
    // explicit text-presence gate both sides land on the constant and
    // the unscreenable doc silently vanishes (round-10 review)
    val nullSketch = StreamingOps.seenSketch(
      Seq((1L, null: String), (2L, "real seen text")).toDF("doc_id", "text"))
    val survivors = StreamingOps.bloomScreenStream(
        Seq((10L, null: String), (11L, "real seen text"), (12L, "novel"))
          .toDF("doc_id", "text"), nullSketch)
      .collect().map(_.getLong(0)).toSet
    assert(survivors.contains(10L),
      "an unscreenable null-text doc must pass as novel, not vanish")
    assert(!survivors.contains(11L), "a true re-delivery still drops")
  }

  test("streaming PII scrub == batch scrub, zero residual on planted markers") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // planted PII + clean docs; mixed across two micro-batches
    val rows = Seq(
      (1L, "call me at 555-0142 or mail root12@example.org today"),
      (2L, "server at 10.0.12.7 and backup at 192.168.0.1"),
      (3L, "no pii in this perfectly ordinary sentence"),
      (4L, "a@b.c then 777-9 then 8.8.8.8 all three kinds"),
      (5L, "almost pii: 12-34 (short prefix) and name at host (spaced)"))
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows.take(2))
    mem.addData(rows.drop(2))
    val streamed = StreamingOps.runToMemory(
      StreamingOps.piiScrubStream(mem.toDF().toDF("doc_id", "text")),
      "pii_scrub_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    val batch = StreamingOps.piiScrubStream(rows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(streamed == batch, "append-mode scrub must equal the batch scrub")
    assert(streamed.map(_._2) == Seq(2, 2, 0, 3, 0), s"counts: ${streamed.map(_._2)}")
    // scrub completeness: re-counting on the scrubbed text finds nothing
    val residual = StreamingOps.piiScrubStream(
      streamed.map(r => (r._1, r._3)).toDF("doc_id", "text"))
      .agg(sum(col("n_redacted"))).collect()(0).getLong(0)
    assert(residual == 0, s"scrubbed text still matches PII patterns: $residual")
    assert(streamed(0)._3.contains("<PHONE>") && streamed(0)._3.contains("<EMAIL>"))
    assert(streamed(1)._3.contains("<IP>") && !streamed(1)._3.contains("10.0.12.7"))
  }

  test("streaming normalization == batch, idempotent on its own output") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // denormalized markers of every q83 class + an already-clean doc
    val rows = Seq(
      (1L, "composed cafe\u0301 here"),  // combining acute
      (2L, "gaps   between    words"),      // multi-space runs
      (3L, "bell\u0007and\u200Bzero-width"), // control + zero-width
      (4L, "hard\u00A0space"),            // NBSP
      (5L, "already clean ascii"))
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows.take(3))
    mem.addData(rows.drop(3))
    val streamed = StreamingOps.runToMemory(
      StreamingOps.normalizeStream(mem.toDF().toDF("doc_id", "text")),
      "normalize_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
    val batch = StreamingOps.normalizeStream(rows.toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(streamed == batch, "append-mode normalize must equal batch")
    assert(streamed.map(_._3) == Seq(true, true, true, true, false))
    assert(streamed(0)._2 == "composed caf\u00e9 here")
    assert(streamed(1)._2 == "gaps between words")
    assert(streamed(2)._2 == "bellandzero-width")
    assert(streamed(3)._2 == "hard space")
    // a second pass over normalized output changes nothing
    val second = StreamingOps.normalizeStream(
      streamed.map(r => (r._1, r._2)).toDF("doc_id", "text"))
      .filter(col("changed")).count()
    assert(second == 0, "normalization must be idempotent")
  }

  test("streaming anomaly screen == batch q88 flags, stateless across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // the real hourly grid from the fixture, split across micro-batches;
    // stats computed from the same history (the static side)
    val grid = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("(ts div 1000000) div 3600000").as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("cnt"))
    val stats = graft.operators.EventOps.hourStats(grid)
    val rows = grid.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val mem = MemoryStream[(String, Long, Long)]
    val (b1, b2) = rows.splitAt(rows.length / 2)
    mem.addData(b1.toSeq)
    mem.addData(b2.toSeq)
    val streamed = StreamingOps.runToMemory(
      StreamingOps.anomalyScreenStream(
        mem.toDF().toDF("event_type", "hour", "cnt"), stats),
      "anomaly_screen_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(3)))
    assert(streamed.length == rows.length, "screen is a per-row map")
    val streamedFlagged = streamed.filter(_._3).map(t => (t._1, t._2)).toSet
    val batchFlagged = graft.operators.EventOps.anomalyHours(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(streamedFlagged == batchFlagged,
      s"stream flags != q88: only-stream=${streamedFlagged -- batchFlagged} only-batch=${batchFlagged -- streamedFlagged}")
    assert(streamedFlagged.nonEmpty)
  }

  test("streaming MAD screen == batch q104 outlier counts, stateless across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    // the static side: per-lang median/MAD from the batch operator itself
    val stats = graft.operators.CurationOps.outlierMad(spark, sfDir)
      .select(col("lang"), col("med_chars"), col("mad_chars"))
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val mem = MemoryStream[(Long, String, Long)]
    val (b1, b2) = rows.splitAt(rows.length / 2)
    mem.addData(b1.toSeq)
    mem.addData(b2.toSeq)
    val streamed = StreamingOps.runToMemory(
      StreamingOps.madScreenStream(
        mem.toDF().toDF("doc_id", "lang", "n_chars"), stats),
      "mad_screen_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(3)))
    assert(streamed.length == rows.length, "screen is a per-row map")
    // per-lang flagged counts must equal batch q104's n_outliers exactly
    val streamedByLang = streamed.filter(_._3).groupBy(_._2)
      .map { case (l, xs) => l -> xs.length.toLong }
    val batchByLang = graft.operators.CurationOps.outlierMad(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
      .filter(_._2 > 0)
    assert(streamedByLang == batchByLang,
      s"stream flags != q104: stream=$streamedByLang batch=$batchByLang")
  }

  test("streaming semantic screen: flags == brute-force max-cosine vs the same static centers") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // static centers: two orthogonal axes; streamed vectors planted near,
    // between, and far from them
    val centers = Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 0f))
    val vecs = Seq(
      (1L, Seq(0.99f, 0.1f, 0f)),   // near center 1
      (2L, Seq(0.1f, 0.99f, 0f)),   // near center 2
      (3L, Seq(0.6f, 0.6f, 0f)),    // between: cos ≈ 0.707 to both
      (4L, Seq(0f, 0f, 1f)))        // orthogonal to both
    val mem = MemoryStream[(Long, Seq[Float])]
    mem.addData(vecs.take(2))
    mem.addData(vecs.drop(2))
    val out = StreamingOps.runToMemory(
      StreamingOps.semanticScreenStream(
        mem.toDF().toDF("vec_id", "embedding"), centers, tau = 0.9),
      "semantic_screen_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2)))
      .toMap
    // independent driver-side brute force over the same doubles
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    vecs.foreach { case (id, v) =>
      val expect = centers.map(c => cos(v, c)).max
      assert(math.abs(out(id)._1 - expect) < 5e-5, s"vec $id sim")
      assert(out(id)._2 == (expect >= 0.9), s"vec $id flag")
    }
    assert(out(1L)._2 && out(2L)._2 && !out(3L)._2 && !out(4L)._2)
  }

  test("anomaly screen with n=1 stats emits null z, not NaN") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // a type whose whole history is ONE hour: variance degrees n*(n-1)=0.
    // Batch q88 never hits this (predicate filters first); the screen
    // emits every row, so z must be null-guarded rather than 0/0
    val stats = Seq(("solo", 7L, 49L, 1L), ("busy", 30L, 250L, 4L))
      .toDF("event_type", "s", "q", "n")
    val mem = MemoryStream[(String, Long, Long)]
    mem.addData(Seq(("solo", 100L, 7L), ("busy", 100L, 25L)))
    val out = StreamingOps.runToMemory(
      StreamingOps.anomalyScreenStream(
        mem.toDF().toDF("event_type", "hour", "cnt"), stats),
      "anomaly_screen_n1_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(r => (r.getString(0), r.isNullAt(4))).toMap
    assert(out("solo"), "n=1 type must emit null z")
    assert(!out("busy"), "n>1 type must still emit a real z")
  }

  test("CDC four-class replay law: stream emissions == batch full-outer diff, removals included") {
    import spark.implicits._
    import graft.streaming.StreamingOps.DocVersion
    implicit val sc = spark.sqlContext
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val v1 = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val v2 = docs.filter(col("doc_id") % 89 =!= 0)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 97 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("h"))
      .unionAll(docs.filter(col("doc_id") % 101 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          md5(col("text")).as("h")))
    // batch truth: q100's full-outer-join classification on the snapshots
    val expected = v1.withColumnRenamed("h", "h1")
      .join(v2.withColumnRenamed("h", "h2"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("changed").as("status"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def ids(s: String) = expected.collect { case (id, st) if st == s => id }.toSet
    // CDC feed: batch 1 bootstraps v1 as upserts; batch 2 is v2's upserts
    // plus a TOMBSTONE for every id that vanished — what a log-compacted
    // CDC topic actually carries between crawl snapshots
    val b1 = v1.collect().map(r => DocVersion(r.getLong(0), 1L, r.getString(1)))
    val v1Ids = b1.map(_.doc_id).toSet
    val b2up = v2.collect().map(r => DocVersion(r.getLong(0), 2L, r.getString(1)))
    val b2 = b2up.toSeq ++
      (v1Ids -- b2up.map(_.doc_id)).map(DocVersion(_, 2L, "", tombstone = true))
    val removedId = ids("removed").head
    val unchangedId = ids("unchanged").head
    val mem = MemoryStream[DocVersion]
    val q = StreamingOps.changeScreenStream(mem.toDS()).toDF()
      .writeStream.format("memory").queryName("cdc_fourclass_test")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .start()
    val emitted = try {
      mem.addData(b1.toSeq)
      q.processAllAvailable()
      mem.addData(b2)
      q.processAllAvailable()
      // batch 3: tombstone for an id never admitted (must be silent), a
      // re-crawl of a removed id (state was freed -> 'added' again), and
      // a same-batch upsert+tombstone that must NET to the later seq
      mem.addData(Seq(
        DocVersion(999999999L, 3L, "", tombstone = true),
        DocVersion(removedId, 4L, "recrawled"),
        DocVersion(unchangedId, 5L, "zz"),
        DocVersion(unchangedId, 6L, "", tombstone = true)))
      q.processAllAvailable()
      spark.table("cdc_fourclass_test")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    } finally q.stop()
    def emittedIds(s: String) = emitted.filter(_._2 == s).map(_._1)
    // the law, class by class, against the batch diff:
    assert(emittedIds("changed").toSet == ids("changed"), "changed class")
    assert(emittedIds("removed").toSet == ids("removed") + unchangedId,
      "removed class (incl. the batch-3 netted tombstone)")
    assert(emittedIds("added").toSet == v1Ids ++ ids("added") + removedId,
      "added = bootstrap + new ids + re-crawl after removal")
    // unchanged = SILENCE: each unchanged id appears exactly once overall
    // (its bootstrap 'added'), never re-emitted by batch 2
    assert(ids("unchanged").forall(id => emitted.count(_._1 == id) <= 2),
      "unchanged ids must not be re-emitted by the v2 batch")
    assert(emitted.count(_._1 == unchangedId) == 2, // bootstrap + netted removal
      "same-batch upsert+tombstone must net to ONE removal")
    // removal frees state: the re-crawled id was added twice (b1 + b3)
    assert(emitted.count(_ == (removedId, "added")) == 2)
    // a tombstone for an unseen key emits nothing (it does store a
    // retention-window seq marker, guarding against a reordered
    // pre-tombstone version arriving after it)
    assert(!emitted.exists(_._1 == 999999999L), "unseen tombstone must be silent")
    assert(ids("removed").nonEmpty && ids("changed").nonEmpty &&
      ids("added").nonEmpty && ids("unchanged").nonEmpty,
      "fixture must exercise all four classes")
  }

  test("mapGroupsWithState user totals == batch groupBy across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val evs = eventsBatch.select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ms"), col("event_type"))
      .as[UserEvent].collect()
    val mem = MemoryStream[UserEvent]
    val (b1, b2) = evs.splitAt(evs.length / 2)
    mem.addData(b1.toSeq)
    mem.addData(b2.toSeq)
    val streamed = StreamingOps.runToMemory(
      StreamingOps.userTotals(mem.toDS()).toDF(), "usertotals_test",
      org.apache.spark.sql.streaming.OutputMode.Update())
    // in Update mode the memory sink keeps every update; take the latest per user
    val latest = streamed.groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"))
      .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = eventsBatch.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n")).orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(latest == batch)
  }

  test("streaming A-Res reservoir merged == batch q116 sample, order-invariant") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val k = 10
    val batch = graft.operators.CurationOps.weightedSampleOf(docs, k)
      .select(col("sample_rank"), col("doc_id"), col("rkey"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq

    def runStream(rows: Seq[(Long, Long)], nBatches: Int): Seq[(Int, Long, Double)] = {
      val mem = MemoryStream[(Long, Long)]
      val per = math.max(1, rows.length / nBatches)
      rows.grouped(per).foreach(b => mem.addData(b))
      val name = s"reservoir_test_${rows.hashCode.abs}_$nBatches"
      val snaps = StreamingOps.runToMemory(
        StreamingOps.reservoirStream(
          mem.toDF().toDF("doc_id", "n_chars"), k, nBuckets = 4).toDF(),
        name, org.apache.spark.sql.streaming.OutputMode.Update())
      // update-mode memory sink keeps every emission: latest seq per bucket
      // is the live reservoir; the consumer merge is k-smallest over them
      val latest = snaps.withColumn("mx",
          max(col("seq")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("bucket"))))
        .filter(col("seq") === col("mx"))
        .select(explode(col("entries")).as("e"))
        .select(col("e.rkey"), col("e.doc_id"))
        .collect().map(r => (r.getDouble(0), r.getLong(1)))
      latest.sortBy(identity).take(k).zipWithIndex
        .map { case ((rkey, id), i) => (i + 1, id, rkey) }.toSeq
    }

    val rows = docs.select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(runStream(rows, 3) == batch,
      "3-batch streamed reservoir must merge to the batch sample")
    assert(runStream(rows.reverse, 5) == batch,
      "arrival order and batch split must not change the sample")
  }

  test("streaming Misra-Gries screen contains every exact heavy hitter (q84 twin)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val k = 31
    val nBuckets = 4
    val toks = Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .collect().map(_.getString(0)).toSeq
    val n = toks.length.toLong
    val exactHH = toks.groupBy(identity).view.mapValues(_.length.toLong)
      .filter { case (_, c) => c > n / (k + 1) }.keySet

    val mem = MemoryStream[String]
    toks.grouped(math.max(1, toks.length / 3)).foreach(b => mem.addData(b))
    val snaps = StreamingOps.runToMemory(
      StreamingOps.heavyHitterStream(
        mem.toDF().toDF("tok"), k, nBuckets).toDF(),
      "mg_stream_test",
      org.apache.spark.sql.streaming.OutputMode.Update())
    val candidates = snaps.withColumn("mx",
        max(col("seq")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("bucket"))))
      .filter(col("seq") === col("mx"))
      .select(explode(map_keys(col("summary"))).as("tok"))
      .collect().map(_.getString(0)).toSet

    assert(exactHH.nonEmpty, "fixture must have heavy tokens at this k")
    assert(exactHH.subsetOf(candidates),
      s"MG containment violated: missing ${exactHH.diff(candidates)}")
    assert(candidates.size <= k * nBuckets,
      s"candidate set exceeds k*buckets: ${candidates.size}")
    // the exact second pass over candidates recovers true counts — the
    // same two-pass recovery q84 runs in batch
    val top = toks.filter(candidates).groupBy(identity).view
      .mapValues(_.length).maxBy { case (t, c) => (c, t) }
    val trueTop = toks.groupBy(identity).view
      .mapValues(_.length).maxBy { case (t, c) => (c, t) }
    assert(top == trueTop, "candidates must include the true top token")
  }

  test("restart from checkpoint: file-source stream resumes with no loss, no dupes") {
    import spark.implicits._
    // The production recovery property none of the single-run laws touch:
    // a streaming query is STOPPED and a NEW query object restarts from
    // the same checkpoint — committed source offsets must not be re-read
    // (no dupes), uncommitted files must be picked up (no loss), and the
    // idempotent JDBC sink must converge across the restart boundary.
    val srcDir = tempDir("graft_restart_src").toString
    val ckpt = tempDir("graft_restart_ckpt").toString
    val url = s"jdbc:derby:${tempDir("graft_restart_db")}/db;create=true"
    def stream() = spark.readStream
      .schema("id LONG, v DOUBLE")
      .parquet(srcDir)
    (0 until 25).map(i => (i.toLong, i / 2.0)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q1 = StreamingOps.jdbcSinkStream(stream(), url, "restart_law", ckpt)
    try q1.processAllAvailable() finally q1.stop()
    // files arriving while the query is DOWN
    (25 until 50).map(i => (i.toLong, i / 2.0)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = StreamingOps.jdbcSinkStream(stream(), url, "restart_law", ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val landed = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "restart_law").load()
    assert(landed.count() == 50, "restart must neither drop nor replay rows")
    assert(landed.select("id").distinct().count() == 50)
    val ids = landed.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until 50L).toSeq,
      "every pre- and post-restart row lands exactly once")
  }

  test("streaming HLL sketch estimates == batch exactly (order-free registers)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val batch = StreamingOps.sketchDistinctStream(docs)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

    val rows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // shuffled arrival across 4 micro-batches: the sketch must not care
    val shuffled = rows.sortBy { case (id, _, _) => id * 2654435761L % 997 }
    val mem = MemoryStream[(Long, String, String)]
    shuffled.grouped(math.max(1, shuffled.length / 4))
      .foreach(b => mem.addData(b))
    val streamed = StreamingOps.runToMemory(
      StreamingOps.sketchDistinctStream(
        mem.toDF().toDF("doc_id", "source", "text")),
      "hll_stream_test",
      org.apache.spark.sql.streaming.OutputMode.Complete())
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamed == batch,
      "HLL register state must make stream estimates EQUAL batch, not close")
  }

  test("streaming IVF retrieval twin: union of per-batch artifact answers == one batched probe (stateless)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val root = tempDir("graft_ivf_stream").toString
    graft.operators.IvfIndex.buildVersioned(spark, corpus, root)
    val queryRows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(queryRows.length >= 4, "fixture must provide a real batch")
    val nProbe = 3
    val k = 5
    val mem = MemoryStream[(Long, Array[Float])]
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double)]()
    val q = StreamingOps.ivfServeStreamVersioned(
        mem.toDS().toDF("q_id", "q_emb"), root, nProbe, k) { ans =>
      buf.synchronized {
        buf ++= ans.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      }
    }.start()
    try {
      // two REAL micro-batches: the twin must serve each batch from the
      // unchanging v1 snapshot with no state carried between them
      val (b1, b2) = queryRows.splitAt(queryRows.length / 2)
      mem.addData(b1.toSeq)
      q.processAllAvailable()
      mem.addData(b2.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val queriesDf = queryRows.toSeq.toDF("q_id", "q_emb")
    val batchAns = graft.operators.IvfIndex
      .probeBatchVersioned(spark, root, queriesDf, nProbe, k)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(buf.toSet == batchAns,
      "per-query independence: streamed answers must equal the one-shot " +
        "batched probe exactly")
    assert(buf.size == batchAns.size, "no duplicate emissions across batches")
  }

  test("streaming BM25 with live index rollover: a mid-stream publish serves v2 at the next batch, no restart") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.{Bm25Index, CurationOps, IndexMaintenance}
    val docsV1 = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val docsV2 = CurationOps.plantedV2(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("text"))
    val root = tempDir("graft_bm25_roll").toString
    Bm25Index.buildVersioned(spark, docsV1, root)
    val battery = Seq(1L -> Seq("window", "spark", "stream"),
      2L -> Seq("query", "join"))
    val mem = MemoryStream[(Long, Seq[String])]
    val buf = scala.collection.mutable
      .ArrayBuffer[(Long, Long, Double, Long)]()
    var perBatchSizes = List.empty[Int]
    val q = StreamingOps.bm25ServeStream(
        mem.toDS().toDF("q_id", "terms"), root) { ans =>
      buf.synchronized {
        val rows = ans.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        buf ++= rows
        perBatchSizes ::= rows.length
      }
    }.start()
    try {
      mem.addData(battery)
      q.processAllAvailable()
      val v1Served = buf.toList
      // the nightly delta publishes WHILE the stream is live — the
      // shared content diff, exactly what q136/q138 apply
      val (upserts, removed) = IndexMaintenance.contentDiff(docsV1, docsV2,
        Seq("text"))
      Bm25Index.updateFromVersioned(spark, root, upserts, removed)
      mem.addData(battery)
      q.processAllAvailable()
      // pre-publish batch served v1's answers, post-publish batch v2's —
      // the rollover happened at the batch boundary with no restart
      val v2Served = buf.toList.drop(v1Served.length)
      // recompute each side's expectation from fresh from-scratch builds
      // (the rolling reader has already moved to v2)
      def want(docs: org.apache.spark.sql.DataFrame, prefix: String) = {
        val ref = tempDir(prefix).toString
        Bm25Index.buildVersioned(spark, docs, ref)
        battery.flatMap { case (qid, ts) =>
          Bm25Index.probeVersioned(spark, ref, ts).collect().map(r =>
            (qid, r.getLong(0), r.getDouble(1), r.getLong(2)))
        }.sortBy { case (qid, doc, sc, _) => (qid, -sc, doc) }
      }
      val wantV1 = want(docsV1, "graft_bm25_roll_r1")
      val wantV2 = want(docsV2, "graft_bm25_roll_r2")
      assert(v1Served == wantV1, "pre-publish batch must serve v1's index")
      assert(v2Served == wantV2, "post-publish batch must serve v2's index")
      assert(wantV1 != wantV2,
        "fixture must actually change the answers or the law is vacuous")
      // poisoned rows DEGRADE, never abort: null terms, empty terms, and
      // null tokens are skipped while the well-formed query in the same
      // micro-batch is still answered (an exception in foreachBatch
      // would kill the query and checkpoint-replay the same poison)
      val before = buf.length
      mem.addData(Seq((90L, null: Seq[String]), (91L, Seq.empty[String]),
        (92L, Seq(null: String, "")), (1L, Seq("window", "spark", "stream"))))
      q.processAllAvailable()
      assert(q.isActive, "a malformed query must not kill the stream")
      val poisoned = buf.toList.drop(before)
      assert(poisoned.nonEmpty && poisoned.forall(_._1 == 1L),
        "the clean query in a poisoned batch is answered; poison skipped")
    } finally q.stop()
  }

  test("serve streams answer a replayed request once and drop a q_id that arrives with two payloads, without stopping") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.{Bm25Index, IvfIndex}
    // BM25: one micro-batch carries q1 twice (a replayed request) and
    // q3 with two different term lists
    val bmRoot = tempDir("graft_bm25_replay").toString
    Bm25Index.buildVersioned(spark, Tables.documents(spark, sfDir), bmRoot)
    val battery = Seq(1L -> Seq("window", "spark", "stream"),
      2L -> Seq("query", "join"))
    val bmMem = MemoryStream[(Long, Seq[String])]
    val bmBuf = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val bq = StreamingOps.bm25ServeStream(
        bmMem.toDS().toDF("q_id", "terms"), bmRoot) { ans =>
      bmBuf.synchronized { bmBuf ++= ans.collect().map(_.toSeq) }
    }.start()
    try {
      bmMem.addData(battery ++ Seq(battery.head, 3L -> Seq("merge"),
        3L -> Seq("the")))
      bq.processAllAvailable()
      assert(bq.isActive, "a conflicting q_id must not kill the stream")
    } finally bq.stop()
    assert(bmBuf.toList == Bm25Index.probeBatchVersioned(spark, bmRoot,
        battery).collect().map(_.toSeq).toList,
      "q1 answered once, q2 answered, q3 dropped")
    // IVF: the same replay and conflict through the vector families'
    // shared micro-batch keying
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ivfRoot = tempDir("graft_ivf_replay").toString
    IvfIndex.buildVersioned(spark, e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding")), ivfRoot)
    val rows = e.filter(col("vec_id") < 6)
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (answered, conflict) = rows.splitAt(3)
    val ivfMem = MemoryStream[(Long, Array[Float])]
    val ivfBuf = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double)]()
    val iq = StreamingOps.ivfServeStreamVersioned(
        ivfMem.toDS().toDF("q_id", "q_emb"), ivfRoot, 3, 5) { ans =>
      ivfBuf.synchronized {
        ivfBuf ++= ans.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      }
    }.start()
    try {
      ivfMem.addData(answered.toSeq ++ answered.take(1) ++
        conflict.map(r => (99L, r._2)))
      iq.processAllAvailable()
      assert(iq.isActive, "a conflicting q_id must not kill the stream")
    } finally iq.stop()
    val want = IvfIndex.probeBatchVersioned(spark, ivfRoot,
        answered.toSeq.toDF("q_id", "q_emb"), 3, 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(ivfBuf.toList.sorted == want.toList.sorted,
      "the replayed query answered once, q_id 99 dropped")
  }

  /** Shared vector-delta fixture for the versioned-serving rollover
    * twins — THE planted delta ([[graft.operators.VectorOps
    * .plantedVecV2]], the same definition q140/q141's oracles check),
    * plus the v1 corpus the reference builds start from. */
  private def vectorDeltaFixture(): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpusV1 = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val (upserts, removed, corpusV2) =
      graft.operators.VectorOps.plantedVecV2(e)
    (corpusV1, upserts, removed, corpusV2)
  }

  test("streaming IVF with live index rollover: a mid-stream publish serves v2 at the next batch, no restart") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.IvfIndex
    val (corpusV1, upserts, removed, corpusV2) = vectorDeltaFixture()
    val root = tempDir("graft_ivf_roll").toString
    IvfIndex.buildVersioned(spark, corpusV1, root)
    val queryRows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val queriesDf = queryRows.toSeq.toDF("q_id", "q_emb")
    val (nProbe, k) = (3, 5)
    val mem = MemoryStream[(Long, Array[Float])]
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double)]()
    val q = StreamingOps.ivfServeStreamVersioned(
        mem.toDS().toDF("q_id", "q_emb"), root, nProbe, k) { ans =>
      buf.synchronized {
        buf ++= ans.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      }
    }.start()
    def ordered(xs: Seq[(Long, Int, Long, Double)]) =
      xs.sortBy { case (qid, rnk, _, _) => (qid, rnk) }
    try {
      mem.addData(queryRows.toSeq)
      q.processAllAvailable()
      val v1Served = buf.toList
      // the nightly delta publishes WHILE the stream is live — frozen
      // codebook, affected-cell COW rewrite, ONE atomic snapshot
      IvfIndex.updateFromVersioned(spark, root, upserts, removed)
      mem.addData(queryRows.toSeq)
      q.processAllAvailable()
      val v2Served = buf.toList.drop(v1Served.length)
      // expectations from FROM-SCRATCH snapshots: a fresh v1 build, and
      // v2 assigned whole under v1's frozen codebook (no delta math)
      def served(ref: String) =
        IvfIndex.probeBatchVersioned(spark, ref, queriesDf, nProbe, k)
          .collect().map(r =>
            (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      val refV1 = tempDir("graft_ivf_roll_r1").toString
      IvfIndex.buildVersioned(spark, corpusV1, refV1)
      val wantV1 = served(refV1)
      val frozen = graft.operators.VersionedTable.readExtra(spark,
        graft.operators.VersionedTable.currentSnapshot(spark, refV1).get,
        refV1, "codebook", IvfIndex.codebookSchema).localCheckpoint()
      val refV2 = tempDir("graft_ivf_roll_r2").toString
      graft.operators.VersionedTable.publishFull(spark, refV2, "cell",
        graft.operators.VectorOps.assignCells(corpusV2, frozen),
        Map("codebook" -> frozen))
      val wantV2 = served(refV2)
      assert(ordered(v1Served) == ordered(wantV1),
        "pre-publish batch must serve v1's index")
      assert(ordered(v2Served) == ordered(wantV2),
        "post-publish batch must serve v2's index — rollover at the " +
          "batch boundary with no restart")
      assert(ordered(wantV1) != ordered(wantV2),
        "fixture must actually change the answers or the law is vacuous")
      // poison degrades: a null-embedding query is dropped, the clean
      // queries in the same micro-batch are still answered
      val before = buf.length
      mem.addData(Seq((90L, null: Array[Float])) ++ queryRows.take(1))
      q.processAllAvailable()
      assert(q.isActive, "a malformed query must not kill the stream")
      val poisoned = buf.toList.drop(before)
      assert(poisoned.nonEmpty && poisoned.forall(_._1 == queryRows.head._1),
        "the clean query in a poisoned batch is answered; poison skipped")
    } finally q.stop()
  }

  test("streaming PQ with live index rollover: version-paired rerank corpus, v2 served post-publish") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.PqIndex
    val (corpusV1, upserts, removed, corpusV2) = vectorDeltaFixture()
    val root = tempDir("graft_pq_roll").toString
    PqIndex.buildVersioned(spark, corpusV1, root)
    // the rerank store is bound PER RESOLVED VERSION — serving v2 codes
    // against v1 embeddings would score the wrong vector for every
    // upserted id (probeBatchVersioned's version-pairing contract)
    val corpusOf: Long => org.apache.spark.sql.DataFrame =
      v => if (v <= 1L) corpusV1 else corpusV2
    val queryRows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val queriesDf = queryRows.toSeq.toDF("q_id", "q_emb")
    val k = 5
    val mem = MemoryStream[(Long, Array[Float])]
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double)]()
    val q = StreamingOps.pqServeStream(
        mem.toDS().toDF("q_id", "q_emb"), root, corpusOf, k) { ans =>
      buf.synchronized {
        buf ++= ans.collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      }
    }.start()
    def ordered(xs: Seq[(Long, Int, Long, Double)]) =
      xs.sortBy { case (qid, rnk, _, _) => (qid, rnk) }
    try {
      mem.addData(queryRows.toSeq)
      q.processAllAvailable()
      val v1Served = buf.toList
      PqIndex.updateFromVersioned(spark, root, upserts, removed)
      mem.addData(queryRows.toSeq)
      q.processAllAvailable()
      val v2Served = buf.toList.drop(v1Served.length)
      // expectations from a fresh v1 build, then v2 RE-ENCODED whole
      // under its frozen codebook (the degenerate full-corpus delta —
      // no delta-routing math on the reference side)
      def served(ref: String, corpus: org.apache.spark.sql.DataFrame) =
        PqIndex.probeBatchVersioned(spark, ref, queriesDf, _ => corpus, k)
          .collect().map(r =>
            (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      val ref = tempDir("graft_pq_roll_ref").toString
      PqIndex.buildVersioned(spark, corpusV1, ref)
      val wantV1 = served(ref, corpusV1)
      PqIndex.updateFromVersioned(spark, ref, corpusV2,
        corpusV1.select(col("vec_id")))
      val wantV2 = served(ref, corpusV2)
      assert(ordered(v1Served) == ordered(wantV1),
        "pre-publish batch must serve v1's codes against v1's embeddings")
      assert(ordered(v2Served) == ordered(wantV2),
        "post-publish batch must serve v2's codes against v2's embeddings")
      assert(ordered(wantV1) != ordered(wantV2),
        "fixture must actually change the answers or the law is vacuous")
    } finally q.stop()
  }

  test("online CDC maintenance: the stats grid tracks every mid-stream publish, cursor-in-the-manifest makes replayed ticks no-ops") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.VersionedTable
    def corpusDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        typedLit(Seq(0.5f, -0.5f)).as("embedding"),
        pmod(col("doc_id"), lit(16L)).as("bucket"))
    val corpusRoot = tempDir("graft_cdc_maint_c").toString
    val statsRoot = tempDir("graft_cdc_maint_s").toString
    val v1 = corpusDf((1L, "aa"), (2L, "bbb"), (17L, "cccc"), (33L, "d"))
    VersionedTable.publishFull(spark, corpusRoot, "bucket", v1)
    // bootstrap the grid WITH its cursor (the nightly's bootstrap shape)
    def gridOf(corpus: org.apache.spark.sql.DataFrame) = corpus
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("text")).cast("long")), lit(0L))
          .as("n_chars"))
    VersionedTable.publishFull(spark, statsRoot, "bucket", gridOf(v1),
      properties = Map(Nightly.CorpusVersionProp -> "1"))
    def grid(): Set[(Long, Long, Long)] =
      VersionedTable.readCurrent(spark, statsRoot, Nightly.statsSchema)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    def manifestCount(): Int = {
      val s = java.nio.file.Files
        .list(java.nio.file.Paths.get(statsRoot, "manifests"))
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path]
        .getFileName.toString).count(_.startsWith("v")) // not .crc sidecars
      finally s.close()
    }
    val mem = MemoryStream[Long]
    val q = StreamingOps.cdcMaintainIndexesStream(mem.toDS().toDF("tick"),
      corpusRoot, statsRoot = Some(statsRoot)).start()
    try {
      mem.addData(1L)
      q.processAllAvailable()
      assert(manifestCount() == 1, "no publish since the cursor → no-op")
      // publish v2: doc 2 rewritten, 17 deleted (bucket 1 emptied of it),
      // 40 inserted (bucket 8 is new to the grid)
      val v2 = corpusDf((1L, "aa"), (2L, "bb2"), (33L, "d"), (40L, "eeeee"))
      VersionedTable.publishDelta(spark, corpusRoot, Seq(1L, 2L, 8L),
        v2.filter(col("bucket").isin(1L, 2L, 8L)))
      mem.addData(2L)
      q.processAllAvailable()
      // stream==batch law: the online grid equals a direct v2 recompute
      assert(grid() == gridOf(v2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
        "the online-maintained grid must equal a direct recompute on v2")
      assert(VersionedTable.currentSnapshot(spark, statsRoot).get
        .properties(Nightly.CorpusVersionProp) == "2",
        "the cursor commits WITH the grid")
      val afterV2 = manifestCount()
      // replayed/duplicate ticks: cursor ≥ current → zero new commits
      mem.addData(3L, 4L)
      q.processAllAvailable()
      assert(manifestCount() == afterV2,
        "a replayed tick must not re-apply the span (exactly-once by " +
          "cursor-in-the-manifest)")
      // a multi-commit gap collapses to one net application
      VersionedTable.publishDelta(spark, corpusRoot, Seq(8L),
        corpusDf((40L, "eee2")))
      val v4 = corpusDf((1L, "aa"), (2L, "bb2"), (33L, "d"))
      VersionedTable.publishDelta(spark, corpusRoot, Seq(8L),
        v4.filter(col("bucket") === 8L)) // doc 40 deleted again
      mem.addData(5L)
      q.processAllAvailable()
      assert(grid() == gridOf(v4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
        "a v2→v4 gap lands as the net diff: bucket 8 leaves the grid")
      assert(q.isActive)
    } finally q.stop()
  }

  test("online BM25 maintenance: the index tracks every mid-stream publish (stream==batch vs a fresh build), replayed ticks no-op, other-modality publishes leave postings generations untouched") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.{Bm25Index, VersionedTable}
    def corpusDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        typedLit(Seq(0.5f, -0.5f)).as("embedding"),
        pmod(col("doc_id"), lit(16L)).as("bucket"))
    val corpusRoot = tempDir("graft_cdc_bm25_c").toString
    val bm25Root = tempDir("graft_cdc_bm25_i").toString
    val v1 = corpusDf((1L, "spark streams windows"),
      (2L, "window functions rank"), (17L, "stream state stores"),
      (33L, "broadcast joins"))
    VersionedTable.publishFull(spark, corpusRoot, "bucket", v1)
    Bm25Index.buildVersioned(spark,
      v1.select(col("doc_id"), col("text")), bm25Root,
      Map(Nightly.CorpusVersionProp -> "1"))
    val terms = Seq("window", "spark", "stream")
    def served(): Seq[(Long, Double, Long)] =
      Bm25Index.probeVersioned(spark, bm25Root, terms).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    def freshBuild(corpus: org.apache.spark.sql.DataFrame)
        : Seq[(Long, Double, Long)] = {
      val tmp = tempDir("graft_cdc_bm25_fresh").toString
      Bm25Index.buildVersioned(spark,
        corpus.select(col("doc_id"), col("text")), tmp)
      Bm25Index.probeVersioned(spark, tmp, terms).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    }
    def idxSnap() = VersionedTable.currentSnapshot(spark, bm25Root).get
    val mem = MemoryStream[Long]
    val q = StreamingOps.cdcMaintainIndexesStream(mem.toDS().toDF("tick"),
      corpusRoot, bm25Root = Some(bm25Root)).start()
    try {
      mem.addData(1L)
      q.processAllAvailable()
      assert(idxSnap().version == 1L, "no publish since the cursor → no-op")
      // v2: doc 2's text rewritten, 17 deleted, 40 inserted
      val v2 = corpusDf((1L, "spark streams windows"),
        (2L, "window window rank"), (33L, "broadcast joins"),
        (40L, "stream of windows"))
      VersionedTable.publishDelta(spark, corpusRoot, Seq(1L, 2L, 8L),
        v2.filter(col("bucket").isin(1L, 2L, 8L)))
      mem.addData(2L)
      q.processAllAvailable()
      // stream==batch: the online-maintained index serves exactly what a
      // fresh build of the current corpus serves (q146's law shape)
      assert(served() == freshBuild(v2),
        "online BM25 must equal a fresh v2 build")
      assert(idxSnap().properties(Nightly.CorpusVersionProp) == "2",
        "the cursor commits WITH the postings and stats")
      val afterV2 = idxSnap().version
      // replayed/duplicate ticks: zero new commits
      mem.addData(3L, 4L)
      q.processAllAvailable()
      assert(idxSnap().version == afterV2,
        "a replayed tick must not commit anything")
      // an EMBEDDING-only publish: the cursor must advance (coverage)
      // but every postings partition generation carries over untouched
      // (modality routing — no lexical bucket is rewritten)
      val beforeParts = idxSnap().parts
      val v3 = v2.withColumn("embedding",
        when(col("doc_id") === 1L, typedLit(Seq(0.9f, 0.1f)))
          .otherwise(col("embedding")))
      VersionedTable.publishDelta(spark, corpusRoot, Seq(1L),
        v3.filter(col("bucket") === 1L))
      mem.addData(5L)
      q.processAllAvailable()
      val after = idxSnap()
      assert(after.properties(Nightly.CorpusVersionProp) == "3",
        "the cursor advances over an other-modality version")
      assert(after.parts == beforeParts,
        "an embedding-only publish rewrites NO postings bucket — " +
          "copy-on-write sharing preserved (generation-id equality)")
      assert(served() == freshBuild(v2), "content unchanged")
      assert(q.isActive)
    } finally q.stop()
  }

  test("online CDC maintenance fails loud: an unreadable consumer cursor fails the micro-batch naming its root, and no root commits anything") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.{Bm25Index, VersionedTable}
    def corpusDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        typedLit(Seq(0.5f, -0.5f)).as("embedding"),
        pmod(col("doc_id"), lit(16L)).as("bucket"))
    val corpusRoot = tempDir("graft_cdc_loud_c").toString
    val bm25Root = tempDir("graft_cdc_loud_i").toString
    val statsRoot = tempDir("graft_cdc_loud_s").toString
    val v1 = corpusDf((1L, "spark streams"), (2L, "window rank"))
    VersionedTable.publishFull(spark, corpusRoot, "bucket", v1)
    Bm25Index.buildVersioned(spark, v1.select(col("doc_id"), col("text")),
      bm25Root, Map(Nightly.CorpusVersionProp -> "1"))
    // the stats grid carries a non-numeric cursor (an external tool's
    // publishFull) — the nightly would rebuild it; the stream must not
    VersionedTable.publishFull(spark, statsRoot, "bucket",
      v1.groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars")),
      properties = Map(Nightly.CorpusVersionProp -> "v-twelve"))
    // a corpus v2 both consumers are behind on
    VersionedTable.publishDelta(spark, corpusRoot, Seq(2L),
      corpusDf((2L, "window window rank")))
    def versions() = Seq(corpusRoot, bm25Root, statsRoot)
      .map(VersionedTable.currentSnapshot(spark, _).get.version)
    val before = versions()
    val mem = MemoryStream[Long]
    val q = StreamingOps.cdcMaintainIndexesStream(mem.toDS().toDF("tick"),
      corpusRoot, bm25Root = Some(bm25Root),
      statsRoot = Some(statsRoot)).start()
    try {
      mem.addData(1L)
      val e = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException](q.processAllAvailable())
      val causes = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      val ise = causes.collectFirst { case i: IllegalStateException => i }
      assert(ise.exists(_.getMessage.contains(statsRoot)),
        s"the batch must fail with an IllegalStateException naming " +
          s"$statsRoot, got: ${causes.map(_.toString)}")
      assert(!q.isActive)
      assert(versions() == before,
        "every cursor is read before anything commits — the healthy " +
          "BM25 consumer must not move either")
    } finally q.stop()
  }

  test("ONLINE == NIGHTLY: one tick of the all-family maintenance stream lands exactly the batch night's state on every consumer") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.{Bm25Index, IvfIndex, PqIndex, VersionedTable}
    import org.apache.spark.sql.types._
    // 32 docs, 8-dim embeddings (PQ: dim % m == 0), tiny vocab
    def corpusOf(ids: Seq[Long], editId: Long = -1L) =
      ids.toDF("doc_id").select(col("doc_id"),
        concat(lit("w"), pmod(col("doc_id"), lit(5L)),
          when(col("doc_id") === editId, lit(" edited")).otherwise(lit("")),
          lit(" t"), pmod(col("doc_id"), lit(3L))).as("text"),
        array((0 until 8).map(i =>
          (pmod(col("doc_id") * (i + 3), lit(97L)) / 97.0)
            .cast("float")): _*).as("embedding"))
    def newWorld(tag: String): Nightly.Roots = {
      val d = tempDir(s"graft_onl_$tag")
      Nightly.Roots(s"$d/corpus", s"$d/bm25", s"$d/ivf", s"$d/pq",
        s"$d/stats")
    }
    def copyWorld(src: Nightly.Roots, tag: String): Nightly.Roots = {
      val dst = tempDir(s"graft_onl_$tag")
      val srcBase = java.nio.file.Paths.get(src.corpus).getParent
      java.nio.file.Files.walk(srcBase).forEach { p =>
        val t = dst.resolve(srcBase.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      Nightly.Roots(s"$dst/corpus", s"$dst/bm25", s"$dst/ivf", s"$dst/pq",
        s"$dst/stats")
    }
    /** Content state per root: version, cursor property, row sets of
      * body + extras — generation ids differ across worlds by
      * construction, content must not. */
    def stateOf(roots: Nightly.Roots): Map[String, (Long, Option[String],
        Set[String])] = {
      val cbPq = StructType(Seq(StructField("sub", IntegerType),
        StructField("code", IntegerType),
        StructField("centroid", ArrayType(FloatType))))
      val bm25Stats = StructType(Seq(StructField("n_docs", LongType),
        StructField("total_len", LongType)))
      val pqStats = StructType(Seq(StructField("n", LongType)))
      def rows(root: String, schema: StructType,
          extras: Seq[(String, StructType)]) = {
        val snap = VersionedTable.currentSnapshot(spark, root).get
        val body = VersionedTable.read(spark, snap, root, schema)
          .collect().map(_.toString).toSet
        val ex = extras.flatMap { case (n, sch) =>
          VersionedTable.readExtra(spark, snap, root, n, sch)
            .collect().map(r => s"$n:$r")
        }.toSet
        (snap.version,
          snap.properties.get(Nightly.CorpusVersionProp), body ++ ex)
      }
      Map(
        "corpus" -> rows(roots.corpus, Nightly.corpusSchema, Nil),
        "bm25" -> rows(roots.bm25, Bm25Index.postingsSchema,
          Seq("stats" -> bm25Stats)),
        "ivf" -> rows(roots.ivf, IvfIndex.assignmentsSchema,
          Seq("codebook" -> IvfIndex.codebookSchema)),
        "pq" -> rows(roots.pq, PqIndex.codesSchema,
          Seq("codebook" -> cbPq, "stats" -> pqStats)),
        "stats" -> rows(roots.stats, Nightly.statsSchema, Nil))
    }
    // ONE bootstrap, byte-copied into the two worlds — identical bits
    val v1 = corpusOf(0L until 32L)
    val boot = newWorld("boot")
    Nightly.run(spark, boot, v1, vacuumGraceMs = 0L)
    val streamW = copyWorld(boot, "stream")
    val batchW = copyWorld(boot, "batch")
    // v2: edit doc 3, delete doc 17, insert doc 40
    val v2 = corpusOf((0L until 32L).filterNot(_ == 17L) :+ 40L, editId = 3L)
    // batch world: the full night
    Nightly.run(spark, batchW, v2, vacuumGraceMs = 0L)
    // stream world: land the SAME corpus v2 commit (crash right after
    // the corpus step — the consumers stay at their v1 cursors), then
    // let ONE tick of the all-family stream bring every consumer up
    intercept[Nightly.InjectedCrash] {
      Nightly.run(spark, streamW, v2, vacuumGraceMs = 0L,
        failAfter = Set("corpus"))
    }
    val mem = MemoryStream[Long]
    val q = StreamingOps.cdcMaintainIndexesStream(mem.toDS().toDF("tick"),
      streamW.corpus, bm25Root = Some(streamW.bm25),
      ivfRoot = Some(streamW.ivf), pqRoot = Some(streamW.pq),
      statsRoot = Some(streamW.stats)).start()
    try {
      mem.addData(1L)
      q.processAllAvailable()
      val online = stateOf(streamW)
      val nightly = stateOf(batchW)
      Seq("corpus", "bm25", "ivf", "pq", "stats").foreach { c =>
        assert(online(c) == nightly(c),
          s"online-maintained '$c' must equal the batch night's state")
      }
      // replayed tick: every consumer's cursor covers — zero commits
      val versions = online.map { case (k, v) => k -> v._1 }
      mem.addData(2L)
      q.processAllAvailable()
      assert(stateOf(streamW).map { case (k, v) => k -> v._1 } == versions,
        "a replayed tick must commit nothing anywhere")
    } finally q.stop()
  }

  test("versioned serve streams resolve ONE manifest per micro-batch — measured, not asserted by scaladoc") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.operators.{IvfIndex, VersionedTable}
    val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val root = tempDir("graft_resolve_law").toString
    IvfIndex.buildVersioned(spark, corpus, root)
    val queryRows = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 0).select(col("embedding"))
      .collect().map(r => (0L, r.getSeq[Float](0)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = StreamingOps.ivfServeStreamVersioned(
      mem.toDS().toDF("q_id", "q_emb"), root, nProbe = 2, k = 5) { out =>
      out.collect(); served.incrementAndGet()
    }.start()
    try {
      // settle the stream's own startup batches before measuring
      q.processAllAvailable()
      // per-root counter (round-12 advisor): diffing only THIS root's
      // resolves keeps the exact-equality law honest under concurrent
      // resolves of unrelated tables (parallel suites, other streams)
      val before = VersionedTable.resolveCount(root)
      val batches = 3
      for (_ <- 1 to batches) {
        mem.addData(queryRows.toSeq)
        q.processAllAvailable()
      }
      val resolves = VersionedTable.resolveCount(root) - before
      assert(served.get() >= batches)
      // one currentSnapshot per answered micro-batch — the serve-path
      // contract behind flat ingest rate (codebook, assignments and
      // pruning all ride that single resolve)
      assert(resolves == served.get(),
        s"expected one manifest resolve per served batch, got $resolves " +
          s"resolves for ${served.get()} batches")
    } finally q.stop()
  }
}
