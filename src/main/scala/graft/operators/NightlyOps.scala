package graft.operators

import graft.{Nightly, Op, OpCatalog, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed [[graft.Nightly]] driver as DRIVER-CHECKED queries —
  * q145/q146 hash-check the whole composition (corpus publish → q143
  * CDC feed → [[IndexMaintenance.deltaFromChanges]] → per-family
  * versioned index maintenance → q144-shape stats grid → compact →
  * vacuum) against DuckDB recomputing the final state from first
  * principles, so a cross-component contract drift (a feed row lost
  * between steps, a cursor skipping a span, a compaction corrupting a
  * bucket) hash-mismatches at the driver, not just in NightlySpec.
  *
  * The nightly world is built ONCE per corpus identity (the
  * [[VectorOps.artifactDir]] cache, fingerprinting the whole fixture
  * dir — the corpus joins documents AND embeddings): night 1 bootstraps
  * corpus + all three index families + the stats grid from v1, night 2
  * applies the [[CurationOps.plantedV2]] crawl delta incrementally off
  * the manifest CDC feed. Later runs SERVE off the committed manifests
  * — the steady-state the composition exists for. */
object NightlyOps extends OpCatalog {

  /** Rebuild the world when any family's layout/recipe changes.
    * `_n2`: nights commit a [[graft.Nightly.NightPin]] since round 14 —
    * pre-pin worlds can't serve q149. */
  private def formatTag: String =
    s"${Bm25Index.formatTag}_${IvfIndex.formatTag}_${PqIndex.formatTag}_n2"

  /** The nightly corpus: ONE table carrying both modalities — documents
    * (text) inner-joined with embeddings on doc_id = vec_id (at sf0.1
    * the corpus is the 2000 docs that HAVE embeddings; the oracles join
    * the same way). */
  private def corpusV1(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .join(Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")

  private def rootsAt(base: String): Nightly.Roots =
    Nightly.Roots(s"$base/corpus", s"$base/bm25", s"$base/ivf",
      s"$base/pq", s"$base/stats")

  /** Build-once two-night world; returns the roots. `sourceFile = ""`
    * fingerprints the whole fixture directory — the corpus derives from
    * two tables, so either file changing must re-key the artifact. */
  private def nightlyArtifact(spark: SparkSession,
      sfDir: String): Nightly.Roots =
    rootsAt(VectorOps.ensureArtifact("nightly", formatTag, sfDir, "",
        "q145/q146: the two-night lifecycle (bootstrap + CDC-driven " +
          "incremental)") { tmp =>
      val roots = rootsAt(tmp)
      val v1 = corpusV1(spark, sfDir)
      Nightly.run(spark, roots, v1, vacuumGraceMs = 0L)
      Nightly.run(spark, roots, CurationOps.plantedV2(v1),
        vacuumGraceMs = 0L)
    })

  // --------------------------------------------------------------- q145
  /** The nightly-maintained downstream stats grid, read off its current
    * manifest. The oracle recomputes the grid DIRECTLY on planted v2 —
    * so the whole chain (corpus delta publish, feed classification,
    * add/retract maintenance, compaction, vacuum, cursor skips on
    * re-runs) must land exactly the direct answer. */
  def nightlyStats(spark: SparkSession, sfDir: String): DataFrame = {
    val roots = nightlyArtifact(spark, sfDir)
    VersionedTable.readCurrent(spark, roots.stats, Nightly.statsSchema)
      .orderBy(col("bucket"))
  }

  private val nightlyStatsSql =
    """WITH base AS (
      |  SELECT d.doc_id, d.text
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      |v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 97 = 0 THEN text || ' rev2' ELSE text END AS text
      |  FROM base WHERE doc_id % 89 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text
      |  FROM base WHERE doc_id % 101 = 0)
      |SELECT doc_id % 16 AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars
      |FROM v2 GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------- q149
  /** q145's grid served THROUGH the night pin ([[Nightly.resolveNight]]
    * — round-13 verdict item 4): resolve the latest completed night to
    * its consistent per-consumer version set and read the stats grid at
    * exactly the pinned version. Answer-invariance vs q145's
    * current-manifest read is the pin's contract — a reader composing
    * multiple consumers through one pin can never observe a mixed
    * world, and the driver hash-checks the pinned route lands the
    * identical grid. */
  def nightPinStats(spark: SparkSession, sfDir: String): DataFrame = {
    val roots = nightlyArtifact(spark, sfDir)
    val nights = Nightly.listNightPins(spark, roots.corpus)
    require(nights.nonEmpty, "the two-night artifact always pins")
    val set = Nightly.resolveNight(spark, roots, nights.max)
    VersionedTable.read(spark, set("stats"), roots.stats,
      Nightly.statsSchema).orderBy(col("bucket"))
  }

  // --------------------------------------------------------------- q146
  /** q133's fixed query served off the NIGHTLY-maintained BM25 index
    * (manifest-routed bucket pruning, corpus constants from the same
    * snapshot). The oracle computes BM25 directly on planted v2 over
    * the joined corpus — hash-checking that the CDC-driven maintenance
    * (df/dl/stats movement through [[IndexMaintenance
    * .deltaFromChanges]]) served the exact lexical state a fresh build
    * would. */
  def nightlyBm25(spark: SparkSession, sfDir: String): DataFrame = {
    val roots = nightlyArtifact(spark, sfDir)
    Bm25Index.probeVersioned(spark, roots.bm25,
      Seq("window", "spark", "stream"))
  }

  private val nightlyBm25Sql =
    """WITH base AS (
      |  SELECT d.doc_id, d.text
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      |v2docs AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 97 = 0 THEN text || ' rev2' ELSE text END AS text
      |  FROM base WHERE doc_id % 89 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text
      |  FROM base WHERE doc_id % 101 = 0),
      |toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |  FROM v2docs),
      |t AS (SELECT doc_id, w FROM toks WHERE w <> ''),
      |lens AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
      |stats AS (
      |  SELECT count(*) AS n_docs, sum(dl) AS total_len FROM lens),
      |tf AS (
      |  SELECT doc_id, w, count(*) AS tf FROM t
      |  WHERE w IN ('window', 'spark', 'stream') GROUP BY 1, 2),
      |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
      |s AS (
      |  SELECT tf.doc_id,
      |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
      |      (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl /
      |        (CAST(total_len AS DOUBLE) / n_docs))) AS sc
      |  FROM tf JOIN df USING (w) JOIN lens USING (doc_id), stats)
      |SELECT doc_id, floor((sum(sc)) * 1e4 + 0.5) / 1e4 AS bm25,
      |  CAST(count(*) AS BIGINT) AS n_query_terms
      |FROM s GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  override def ops: Seq[Op] = Seq(
    Op("q145_nightly_stats", nightlyStats, Some(nightlyStatsSql),
      "the composed nightly driver's downstream stats grid: corpus delta publish -> manifest CDC feed -> add/retract maintenance -> compact+vacuum, oracle = direct recompute on planted v2"),
    Op("q146_nightly_bm25", nightlyBm25, Some(nightlyBm25Sql),
      "q133's query served off the nightly's CDC-maintained BM25 index (deltaFromChanges-driven updateFromVersioned), oracle = BM25 computed directly on planted v2 over the joined corpus"),
    Op("q149_night_pin_read", nightPinStats, Some(nightlyStatsSql),
      "the stats grid served through the night pin (resolveNight's consistent per-consumer version set) — answer-invariant vs the current-manifest read, so a pinned reader never mixes nights"))
}
