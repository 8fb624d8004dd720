package graft.sources

import graft.operators.VersionedTable
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** `spark.readStream.format("graftvt").option("readChangeFeed","true")`
  * — the versioned table's change feed as a STRUCTURED STREAMING source
  * (round-13 verdict item 1, the Delta-CDF idiom): a micro-batch source
  * whose OFFSETS are committed table versions, so the engine's own
  * checkpoint mechanism persists the consumer's cursor and a restart
  * resumes the tail exactly where the last batch committed. A consumer
  * that commits its cursor WITH its sink state transactionally resumes
  * instead from that stored cursor: `startingVersion = cursor + 1`.
  * This source is the one streaming tail of the feed.
  *
  * Options (beyond `path`):
  *  - `readChangeFeed` (required `true`): the snapshot itself is a
  *    BATCH surface (`spark.read.format("graftvt")`) — the stream is
  *    the feed.
  *  - `keyCol` (required): the row-identity column the feed classifies
  *    on ([[VersionedTable.changes]]'s contract — unique per snapshot,
  *    enforced there).
  *  - `startingVersion` (default 1): replay begins with the changes
  *    COMMITTED BY this version (Delta's `startingVersion` semantics).
  *    `1` replays the table from birth — the first batch emits v1's
  *    rows as inserts (diff against the empty snapshot).
  *
  * Each micro-batch is the NET span feed `changes(v_prev, v_end)` with
  * `change_type` + `commit_version` (= the span's end version) columns
  * — exactly the q143 feed for that span, so the q143 oracle and the
  * reconstruction law (v_prev ⊕ feed == v_end) carry over verbatim
  * batch by batch. Quiet spans (no new version) produce no batch at
  * all ([[getOffset]] repeats the last offset). A `startingVersion`
  * older than retention — or a checkpoint that slept past vacuum —
  * fails LOUDLY at the batch that needs the vacuumed manifest
  * ([[VersionedTable.snapshotAt]] `None`), never a silently re-based
  * feed: the recovery is an explicit re-bootstrap, a deliberate
  * operator decision.
  *
  * 100 TB story: a batch's work is delta-bounded by construction — the
  * manifest diff selects only changed partitions, read via literal
  * paths ([[VersionedTable.changes]]'s two-level diff); the offset
  * resolve is one small manifest read per trigger. Scale rides the
  * table's partitioning, not the stream machinery.
  */
final class GraftVtCdcSource(ctx: SQLContext, root: String,
    rowSchema: StructType, keyCol: String, startingVersion: Long)
    extends Source {

  require(startingVersion >= 1,
    s"startingVersion must be >= 1 (got $startingVersion); 1 replays " +
      "the table from birth")
  private val spark = ctx.sparkSession

  override val schema: StructType = GraftVtCdcSource.feedSchema(rowSchema)

  /** The newest committed version — the offset the next batch runs TO.
    * None until the table is born AND has reached `startingVersion`'s
    * predecessor (nothing to serve yet). */
  override def getOffset: Option[OffsetV1] =
    VersionedTable.currentSnapshot(spark, root)
      .filter(_.version >= startingVersion)
      .map(s => LongOffset(s.version))

  private def ver(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    // after a restart the engine replays checkpointed offsets as
    // SerializedOffset JSON — LongOffset's json is just the number
    case other => other.json.trim.toLong
  }

  private def resolve(v: Long): VersionedTable.Snapshot =
    if (v == 0)
      // the span from BIRTH: diff against the empty snapshot — every
      // row of the end version classifies as an insert. partCol is
      // taken from the current manifest (changes requires both sides
      // to agree on it).
      VersionedTable.Snapshot(0L,
        VersionedTable.currentSnapshot(spark, root).map(_.partCol)
          .getOrElse(throw new IllegalStateException(
            s"no committed snapshot at $root")),
        Map.empty, Map.empty)
    else VersionedTable.snapshotAt(spark, root, v).getOrElse(
      throw new IllegalStateException(
        s"graftvt change feed at $root needs version $v but it is not " +
          "retained (vacuumed) — retention must cover the slowest " +
          "consumer's checkpoint; re-bootstrap the consumer to recover"))

  override def getBatch(start: Option[OffsetV1],
      end: OffsetV1): DataFrame = {
    val endV = ver(end)
    val fromV = start.map(ver).getOrElse(startingVersion - 1)
    val feed =
      if (fromV >= endV)
        // a replayed no-op span (engine bookkeeping after restart)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else
        VersionedTable.changes(spark, root, resolve(fromV),
            resolve(endV), rowSchema, keyCol)
          .withColumn("commit_version", lit(endV))
          // changes() emits the key column first; the engine splices a
          // V1 batch under the stream's attributes BY POSITION, so the
          // frame must match the declared schema's order exactly
          .select(schema.fieldNames.map(
            org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    GraftVtCdcSource.asStreaming(feed)
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
  override def toString: String =
    s"GraftVtCdcSource[$root, key=$keyCol, starting=$startingVersion]"
}

object GraftVtCdcSource {
  /** The feed's schema: the row schema plus the q143 classification
    * column and the span-end stamp. */
  def feedSchema(rowSchema: StructType): StructType =
    StructType(rowSchema.fields.toSeq :+
      StructField("change_type", StringType, nullable = false) :+
      StructField("commit_version", LongType, nullable = false))

  /** Re-tag a batch plan as streaming: MicroBatchExecution asserts the
    * V1 `getBatch` result has `isStreaming = true` (it splices the
    * plan under the streaming leaves). Delegates to the one
    * `private[sql]` shim ([[org.apache.spark.sql.graftvt
    * .StreamingCompat]]) — the RDD hand-off is lazy, so the feed still
    * computes inside the batch that runs it. */
  private[sources] def asStreaming(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftvt.StreamingCompat.asStreaming(df)
}
