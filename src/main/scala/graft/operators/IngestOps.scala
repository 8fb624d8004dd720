package graft.operators

import graft.{Op, OpCatalog, Tables}
import graft.ingest.{Generator, ParquetIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity operators exposed as driver-checkable queries
  * (SURVEY.md §2.1). The full ingest pipeline (probe → read → sink with
  * save modes) is exercised in `IngestSpec`; these queries surface the
  * probe and type-dispatch pieces that are oracle-comparable.
  */
object IngestOps extends OpCatalog {

  // ---------------------------------------------------------------- q50
  /** Footer-metadata probe (reference O2, `app.py:91,100`): row counts per
    * table read from parquet footers ONLY — `ParquetIngest.probe` opens no
    * data pages. Oracle-identical to `count(*)`. */
  def probeMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.names.map { t =>
      val p = ParquetIngest.probe(spark, s"$sfDir/$t.parquet")
      (t, p.numRows, p.columns.size.toLong)
    }.toDF("tbl", "n_rows", "n_cols").orderBy(col("tbl"))
  }

  private val probeMetaSql =
    """SELECT tbl, n_rows, n_cols FROM (
      |  SELECT 'region' AS tbl, count(*) AS n_rows, (SELECT count(*) FROM (DESCRIBE SELECT * FROM region)) AS n_cols FROM region
      |  UNION ALL SELECT 'nation', count(*), (SELECT count(*) FROM (DESCRIBE SELECT * FROM nation)) FROM nation
      |  UNION ALL SELECT 'customer', count(*), (SELECT count(*) FROM (DESCRIBE SELECT * FROM customer)) FROM customer
      |  UNION ALL SELECT 'supplier', count(*), (SELECT count(*) FROM (DESCRIBE SELECT * FROM supplier)) FROM supplier
      |  UNION ALL SELECT 'part', count(*), (SELECT count(*) FROM (DESCRIBE SELECT * FROM part)) FROM part
      |  UNION ALL SELECT 'orders', count(*), (SELECT count(*) FROM (DESCRIBE SELECT * FROM orders)) FROM orders
      |  UNION ALL SELECT 'lineitem', count(*), (SELECT count(*) FROM (DESCRIBE SELECT * FROM lineitem)) FROM lineitem
      |  UNION ALL SELECT 'events', count(*), (SELECT count(*) FROM (DESCRIBE SELECT * FROM events)) FROM events
      |  UNION ALL SELECT 'documents', count(*), (SELECT count(*) FROM (DESCRIBE SELECT * FROM documents)) FROM documents
      |  UNION ALL SELECT 'embeddings', count(*), (SELECT count(*) FROM (DESCRIBE SELECT * FROM embeddings)) FROM embeddings)
      |ORDER BY tbl""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Binary/multimodal column pass-through (north-star E20 + reference
    * O5/O6 type dispatch): text → UTF-8 binary, byte length vs char
    * length, modality dispatch on a metadata column. */
  def binaryMeta(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .withColumn("media", encode(col("text"), "UTF-8"))
      .select(col("doc_id"),
        length(col("media")).cast("long").as("n_bytes"),
        length(col("text")).cast("long").as("n_text_chars"),
        when(col("lang") === "zh", "ideographic")
          .otherwise("alphabetic").as("script_kind"))
      .orderBy(col("doc_id"))
  }

  private val binaryMetaSql =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(length(text) AS BIGINT) AS n_text_chars,
      |  CASE WHEN lang = 'zh' THEN 'ideographic' ELSE 'alphabetic' END AS script_kind
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q52
  /** Fixture generation (reference O17–O21): the `dummy_spatial.parquet`
    * shape regenerated in Spark, surfaced through its DETERMINISTIC
    * properties so DuckDB can oracle it: the range ids and cyclic A/B
    * categories are exact values (`range()` twin), while the seeded-random
    * columns are checked as invariants the generator guarantees — `randn`
    * finite, the WKB geometry a structurally valid POINT with coordinates
    * in the uniform [0,1) domain (`generate_data.py:9,15-16`). Raw random
    * values + schema parity stay spec-asserted in `IngestSpec`. */
  def generateFixture(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{SpatialExpressions => Sp}
    val g = col("geometry")
    Generator.fixture(spark, n = 10L, seed = 42L)
      .select(
        col("id"),
        col("category"),
        (col("value").isNotNull && !isnan(col("value")) &&
          abs(col("value")) < Double.PositiveInfinity).as("value_finite"),
        Sp.stIsValidWkb(g).as("wkb_valid"),
        Sp.stGeometryType(g).as("geom_type"),
        (Sp.stX(g) >= 0.0 && Sp.stX(g) < 1.0 &&
          Sp.stY(g) >= 0.0 && Sp.stY(g) < 1.0).as("xy_in_unit"))
      .orderBy(col("id"))
  }

  private val generateFixtureSql =
    """SELECT CAST(range AS BIGINT) AS id,
      |  CASE WHEN range % 2 = 0 THEN 'A' ELSE 'B' END AS category,
      |  true AS value_finite,
      |  true AS wkb_valid,
      |  'POINT' AS geom_type,
      |  true AS xy_in_unit
      |FROM range(0, 10)
      |ORDER BY id""".stripMargin

  override val ops: Seq[Op] = Seq(
    Op("q50_probe_meta", probeMeta, Some(probeMetaSql),
      "footer-only metadata probe: rows + column counts per table"),
    Op("q51_binary_meta", binaryMeta, Some(binaryMetaSql),
      "binary column pass-through + modality type-dispatch"),
    Op("q52_generate_fixture", generateFixture, Some(generateFixtureSql),
      "fixture generator invariants: range/cyclic exact, randn finite, WKB point in unit square"))
}
