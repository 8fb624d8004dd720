package graft

import java.nio.file.Files

import graft.operators.VectorOps
import graft.streaming.StreamingOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming demo CLI: drives `readStream` (parquet file source) →
  * event-time windowed aggregation with watermark → `writeStream` into an
  * in-memory sink, simulating file arrival by copying the events table
  * into a watched directory in two batches.
  *
  * Usage: runMain graft.Stream <sfDir>
  */
object Stream {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.local()
    val watchDir = Files.createTempDirectory("graft_stream")
    try demo(spark, sfDir, watchDir.toString)
    finally {
      spark.stop()
      VectorOps.deleteRecursively(watchDir)
    }
  }

  private def demo(spark: SparkSession, sfDir: String,
      watchDir: String): Unit = {
    // stage the source: split events into two "arriving" files
    val ev = Tables.events(spark, sfDir)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      .select("ts", "user_id", "event_type", "value", "event_id")
    val Array(first, second) = ev.randomSplit(Array(0.5, 0.5), seed = 42)
    first.write.parquet(s"$watchDir/batch1")
    val schema = ev.schema

    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$watchDir/batch*/")
    val query = StreamingOps.tumblingCounts(stream)
      .writeStream.format("memory").queryName("stream_demo")
      .outputMode("complete").start()
    query.processAllAvailable()
    val afterFirst = spark.table("stream_demo").count()
    println(s"[stream] windows after batch 1: $afterFirst")

    second.write.parquet(s"$watchDir/batch2")
    query.processAllAvailable()
    val afterSecond = spark.table("stream_demo").count()
    println(s"[stream] windows after batch 2: $afterSecond")
    query.stop()

    val batchWindows = StreamingOps.tumblingCounts(ev).count()
    println(s"[stream] batch-mode windows:    $batchWindows")
    println(s"[stream] stream==batch: ${afterSecond == batchWindows}")
  }
}
