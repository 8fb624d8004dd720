package graft.operators

import graft.{Op, OpCatalog, Tables}
import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal pipeline operators (north-star E20): binary media columns
  * with typed metadata, stubbed decode, frame sampling. The payloads are
  * deterministic UTF-8 bytes of `documents.text`, so byte lengths and
  * frame counts ARE DuckDB-expressible (`octet_length` + integer math) —
  * those columns are oracle-declared; byte-content features (brightness,
  * checksum) stay engine-side with `MultimodalSpec` as their gate.
  */
object MultimodalOps extends OpCatalog {

  // ---------------------------------------------------------------- q53
  /** Pack → decode(stub) → aggregate per modality: counts, payload bytes,
    * frame totals. The decode really runs (`extractFeatures` typed
    * mapPartitions); the oracle independently re-derives each aggregate
    * from `octet_length(text)`, cross-checking the whole pack→decode→agg
    * pipeline. Brightness/checksum (byte-content features) are asserted in
    * `MultimodalSpec` instead. */
  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Multimodal.packMedia(Tables.documents(spark, sfDir))
    Multimodal.extractFeatures(media).toDF()
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("n_frames")).cast("long").as("total_frames"))
      .orderBy(col("kind"))
  }

  private val mediaFeaturesSql =
    """WITH m AS (
      |  SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |              ELSE 'video' END AS kind,
      |    octet_length(encode(text)) AS n_bytes
      |  FROM documents)
      |SELECT kind, count(*) AS n_media,
      |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |  CAST(sum(CASE kind WHEN 'video' THEN greatest(n_bytes // 256, 1)
      |                     WHEN 'audio' THEN greatest(n_bytes // 64, 1)
      |                     ELSE 1 END) AS BIGINT) AS total_frames
      |FROM m
      |GROUP BY kind
      |ORDER BY kind""".stripMargin

  // ---------------------------------------------------------------- q54
  /** Frame sampling over video payloads: every 4th 256-byte frame,
    * counted per media id (top 20 by id for a bounded result). The
    * explode-based sampler really slices the binary; the oracle re-derives
    * sampled counts/bytes from closed-form math over `octet_length` —
    * `floor((n_frames-1)/4)+1` samples of 256 bytes (the whole payload
    * when it is shorter than one frame). */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame = {
    val media = Multimodal.packMedia(Tables.documents(spark, sfDir))
    Multimodal.sampleFrames(media)
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(length(col("frame"))).cast("long").as("sampled_bytes"))
      .orderBy(col("media_id"))
      .limit(20)
  }

  private val frameSampleSql =
    """WITH v AS (
      |  SELECT doc_id AS media_id, octet_length(encode(text)) AS len,
      |    greatest(octet_length(encode(text)) // 256, 1) AS n_frames
      |  FROM documents WHERE doc_id % 3 = 2)
      |SELECT media_id,
      |  CAST((n_frames - 1) // 4 + 1 AS BIGINT) AS n_sampled,
      |  CAST(CASE WHEN len IS NULL THEN NULL
      |            WHEN len < 256 THEN len
      |            ELSE ((n_frames - 1) // 4 + 1) * 256 END AS BIGINT)
      |    AS sampled_bytes
      |FROM v
      |ORDER BY media_id
      |LIMIT 20""".stripMargin

  override val ops: Seq[Op] = Seq(
    Op("q53_media_features", mediaFeatures, Some(mediaFeaturesSql),
      "multimodal pack→decode(stub)→per-kind aggregation, oracle re-derived from octet_length"),
    Op("q54_frame_sample", frameSample, Some(frameSampleSql),
      "video frame sampling: every 4th 256-byte slice, closed-form oracle"))
}
