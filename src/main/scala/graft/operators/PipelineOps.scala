package graft.operators

import graft.{GraftSession, Op, OpCatalog, Tables}
import graft.functions.Rounding.roundVal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation pipeline operators (north-star §2.3 family,
  * beyond the reference's own surface): TF-IDF salient-term extraction,
  * deterministic stratified sampling, a quality-filter funnel, a length
  * histogram, Gopher-style repetition signals, a benchmark-contamination
  * check, a training-mix budget, a sequence-packing plan, a
  * duplicate-rate-by-source ranking, a PII scrubber, a char-trigram LM
  * perplexity gate, and a linear quality-classifier inference pass — the
  * compose-into-a-curation-run shapes a 100 TB corpus pipeline needs
  * around the dedup/similarity ladder in [[TextOps]]/[[VectorOps]].
  *
  * All are oracle-declared: every predicate and score is either pure
  * integer arithmetic (hash-exact across engines) or a single
  * `round(·,4)` double computed from identical integer inputs; every
  * top-1 selection is a `row_number` with a total-order tiebreak (never
  * engine-specific `max_by` ties).
  */
object PipelineOps extends OpCatalog {

  /** Exploded (doc_id, word) tokens — same lower+space-split contract as
    * [[TextOps]] (`string_split(lower(text), ' ')` on the DuckDB side). */
  private def tok(spark: SparkSession, sfDir: String): DataFrame =
    GraftSession.spread(Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("word"))

  // ---------------------------------------------------------------- q63
  /** TF-IDF salient terms: each document's single most salient word — the
    * keyword-extraction shape of a relevance/topicality scorer. Classic
    * two-pass formulation: per-(doc,word) tf, then per-word df over the tf
    * frame (one extra agg, no second tokenize), then a per-doc top-1 by
    * salience. The rank orders by the ROUNDED score
    * `round(tf · ln((N+1)/(df+1)), 4) DESC, word ASC` — the exact value
    * the output hash-compares, so ranking by it is cross-engine-safe by
    * the same argument the output column is: both engines compute it from
    * identical integer inputs and the 4-dp rounding absorbs last-ulp `ln`
    * differences; ties at 4 dp resolve on the total-order word key. (An
    * earlier (tf DESC, df ASC) integer rank was NOT a TF-IDF argmax —
    * tf=5/df=N scores 0 yet outranked tf=1/df=1 — and an earlier
    * absolute-threshold form matched its oracle with ZERO rows, a vacuous
    * pass. Top-1-per-doc always compares one real row per document at any
    * SF.)
    *
    * Scale: two shuffles (tf by (doc,word), df by word), an equi-join on
    * word, and one window partitioned by doc_id. The df side is
    * vocabulary-sized — orders of magnitude smaller than the corpus — and
    * AQE broadcasts it when it fits; the N scalar is an explicit
    * broadcast. The window re-uses the tf shuffle's doc_id clustering;
    * nothing here is quadratic in docs. */
  def salientTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = tok(spark, sfDir)
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n"))
    val rank = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word").asc)
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        roundVal(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)), 4))
      .withColumn("rn", row_number().over(rank))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("word"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"))
  }

  private val salientTermsSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      |  FROM documents),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
      |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
      |n AS (SELECT count(*) AS n FROM documents),
      |scored AS (
      |  SELECT t.doc_id, t.word, t.tf, d.df,
      |    floor((t.tf * ln((n.n + 1.0) / (d.df + 1.0))) * 1e4 + 0.5) / 1e4 AS tfidf
      |  FROM tf t JOIN df d USING (word) CROSS JOIN n)
      |SELECT doc_id, word, tf, df, tfidf
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |        ORDER BY tfidf DESC, word ASC) AS rn
      |      FROM scored)
      |WHERE rn = 1
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- q133
  /** Okapi BM25 retrieval (Robertson et al., TREC-3; the Lucene-default
    * `+1`-inside-the-log IDF): top-20 documents for a fixed 3-term
    * keyword query — the lexical-retrieval standard that completes the
    * relevance family (q63 extracts per-doc salient terms; THIS ranks
    * docs for a query; q40/q80 are its dense-vector twins). A curation
    * pipeline runs exactly this shape for decontamination lookups and
    * retrieval-based dedup against benchmark suites.
    *
    * Determinism: tf/df/N/dl are integers; each per-(doc,term) partial
    * score is one double expression over those integers (ln + divisions
    * from identical literals); the per-doc sum spans ≤|Q| terms before
    * the single `round(·,4)`; ordering is (rounded score DESC, doc_id) —
    * q63's cross-engine argument verbatim.
    *
    * Scale: ONE tokenize pass, period — per-doc length AND every
    * query-term tf come out of a single map-combined `groupBy(doc_id)`
    * (|Q| is a small static list, so tfs are columns, not rows), and
    * that compact per-doc summary is MATERIALIZED (localCheckpoint —
    * docs-sized, `(doc_id, dl, tf…)`, a sliver of the token stream) so
    * the corpus-stats/df aggregation and the scoring pass both read it
    * instead of re-tokenizing (the q115 lesson: an unmaterialized base
    * re-runs its corpus scan per consumer). Stats land as a 1-row
    * broadcast; scoring is a per-row map over the summary; top-20 is
    * `TakeOrderedAndProject`. Nothing is query-term-count-quadratic or
    * corpus-quadratic. */
  def bm25Search(spark: SparkSession, sfDir: String): DataFrame = {
    bm25SearchOf(GraftSession.spread(
      Tables.documents(spark, sfDir), col("doc_id")),
      Seq("window", "spark", "stream"))
  }

  // --------------------------------------------------------------- q134
  /** Artifact-served BM25 — q133's answer from the [[Bm25Index]]
    * posting-list snapshot instead of a re-tokenize (the q131/q132
    * import-then-query precedent applied to lexical retrieval, per the
    * round-8 verdict). First-ever touch of a corpus builds the index
    * (logged — that run IS the offline step, exactly like q131); every
    * later run, including fresh bench JVMs, serves from the manifest's
    * bucket-pruned, term-pushed postings scan. Same corpus-identity +
    * format-token artifact keying, same lock-serialized build, and the
    * SAME exact DuckDB oracle as q133 — the index is lossless, so the
    * answers are hash-identical (`Bm25IndexSpec` also pins them equal
    * in-process). */
  def bm25IndexProbe(spark: SparkSession, sfDir: String): DataFrame = {
    Bm25Index.probeVersioned(spark, bm25Artifact(spark, sfDir, "q134"),
      Seq("window", "spark", "stream"))
  }

  /** The shared q134/q139/q142 posting-list snapshot (same family, same
    * corpus identity): built on first touch, served from disk after —
    * single- and batch-probe declared forms exercise ONE offline build. */
  private def bm25Artifact(spark: SparkSession, sfDir: String,
      tag: String): String =
    VectorOps.ensureArtifact("bm25_index", Bm25Index.formatTag, sfDir,
        "documents.parquet", s"$tag: BM25 posting-list snapshot")(tmp =>
      Bm25Index.buildVersioned(spark, GraftSession.spread(
        Tables.documents(spark, sfDir), col("doc_id")), tmp))

  // --------------------------------------------------------------- q139
  /** The q139 batch battery — 3 fixed keyword queries with overlapping
    * vocabulary (q1 is q133's exact query; `spark` appears in two
    * queries, so a shared posting must score once PER query), declared
    * in ONE place so the Spark build and the generated oracle cannot
    * drift. */
  private[operators] val bm25Battery: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("window", "spark", "stream"),
    2L -> Seq("query", "join", "merge"),
    3L -> Seq("the", "spark"))

  /** Batched BM25 artifact serving: the q139 battery against the q134
    * posting-list snapshot in ONE bucket-pruned term-pushed scan —
    * [[Bm25Index.probeBatchVersioned]]'s broadcast (q_id, w, mult) block
    * and map-side `WindowGroupLimit` per-query frontier. The artifact is
    * q134's (same family, same corpus — built once, served by both). */
  def batchBm25IndexProbe(spark: SparkSession, sfDir: String): DataFrame = {
    Bm25Index.probeBatchVersioned(spark,
      bm25Artifact(spark, sfDir, "q139"), bm25Battery).drop("rnk")
  }

  /** Per-query oracle blocks generated from [[bm25Battery]]: q133's
    * exact DuckDB formula, one tf/df/score chain per battery query,
    * UNION ALL'd with a total order. */
  private def bm25BatchSql: String = {
    val shared =
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |t AS (SELECT doc_id, w FROM toks WHERE w <> ''),
        |lens AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |stats AS (
        |  SELECT count(*) AS n_docs, sum(dl) AS total_len FROM lens)"""
        .stripMargin
    val blocks = bm25Battery.map { case (qid, terms) =>
      val inList = terms.map(t => s"'$t'").mkString(", ")
      s"""tf$qid AS (
         |  SELECT doc_id, w, count(*) AS tf FROM t
         |  WHERE w IN ($inList) GROUP BY 1, 2),
         |df$qid AS (SELECT w, count(*) AS df FROM tf$qid GROUP BY w),
         |s$qid AS (
         |  SELECT tf$qid.doc_id,
         |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
         |      (tf * (1.2 + 1.0)) /
         |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl /
         |        (CAST(total_len AS DOUBLE) / n_docs))) AS sc
         |  FROM tf$qid JOIN df$qid USING (w) JOIN lens USING (doc_id), stats),
         |sel$qid AS (
         |  SELECT CAST($qid AS BIGINT) AS q_id, doc_id, bm25, n_query_terms
         |  FROM (
         |    SELECT doc_id, floor((sum(sc)) * 1e4 + 0.5) / 1e4 AS bm25,
         |      CAST(count(*) AS BIGINT) AS n_query_terms
         |    FROM s$qid GROUP BY doc_id
         |    ORDER BY bm25 DESC, doc_id LIMIT 20))""".stripMargin
    }
    val union = bm25Battery.map { case (qid, _) =>
      s"SELECT * FROM sel$qid" }.mkString(" UNION ALL ")
    s"""$shared,
       |${blocks.mkString(",\n")}
       |SELECT q_id, doc_id, bm25, n_query_terms FROM ($union)
       |ORDER BY q_id, bm25 DESC, doc_id""".stripMargin
  }

  // --------------------------------------------------------------- q142
  /** Hybrid lexical+vector retrieval via Reciprocal Rank Fusion
    * (Cormack, Clarke & Buettcher, SIGIR 2009: `score(d) = Σ_lists
    * 1/(k0 + rank_list(d))`, k0=60 — the fusion every production RAG /
    * retrieval stack runs over its BM25 and embedding channels,
    * because rank-space fusion needs NO score calibration between
    * channels with incomparable scales). The LEXICAL ranking is served
    * from the q134 posting-list snapshot as a one-query batch, its `rnk`
    * the channel rank (bucket-pruned, term-pushed, no re-tokenize — the
    * production serving path, lossless so the oracle's formula ranking
    * is exact); the VECTOR ranking is the exact cosine top-20 vs the
    * fixed query vector, q40's one-query batch
    * ([[VectorOps.batchCosineTopKOf]], its `rnk` the channel rank —
    * exact, so the fused answer is fully DuckDB-checkable; an ANN
    * channel would fuse identically, rank-space fusion doesn't care
    * where ranks come from). Both channels are top-20 frames ranked by
    * their own frontier: the full-outer fuse runs over ≤40 rows — at
    * 100 TB the channels' own serving plans (pruned postings scan /
    * batched ANN frontier) carry the scale, fusion stays frontier-
    * sized. A doc missing from a channel contributes 0 from it
    * (nullable rank columns in the declared output). RRF doubles are
    * sums of ≤2 exact small-integer reciprocals — identical bits in
    * both engines — rounded to 6dp with doc_id tiebreak. */
  def hybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    val k0 = 60
    val lex = Bm25Index.probeBatchVersioned(spark,
        bm25Artifact(spark, sfDir, "q142"),
        Seq(0L -> Seq("window", "spark", "stream")))
      .select(col("doc_id"), col("rnk").as("lex_rank"))
    val e = Tables.embeddings(spark, sfDir)
    val vec = VectorOps.batchCosineTopKOf(e.filter(col("vec_id") =!= 0),
        VectorOps.oneQuery(e), nQueries = 1, k = 20)
      .select(col("vec_id").as("doc_id"), col("rnk").as("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        graft.functions.Rounding.roundVal(
          coalesce(lit(1.0) / (lit(k0) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(k0) + col("vec_rank")), lit(0.0)), 6)
          .as("rrf"),
        col("lex_rank"), col("vec_rank"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  private val hybridRrfSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
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
      |  FROM tf JOIN df USING (w) JOIN lens USING (doc_id), stats),
      |lextop AS (
      |  SELECT doc_id, floor((sum(sc)) * 1e4 + 0.5) / 1e4 AS bm25
      |  FROM s GROUP BY doc_id
      |  ORDER BY bm25 DESC, doc_id LIMIT 20),
      |lex AS (
      |  SELECT doc_id, CAST(row_number() OVER (
      |    ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank
      |  FROM lextop),
      |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |prods AS (
      |  SELECT e.vec_id,
      |    CAST(unnest(e.embedding) AS DOUBLE) AS v,
      |    CAST(unnest(qv.qe) AS DOUBLE) AS w
      |  FROM embeddings e, qv WHERE e.vec_id <> 0),
      |sims AS (
      |  SELECT vec_id, sum(v * w) AS dot, sum(v * v) AS na, sum(w * w) AS nq
      |  FROM prods GROUP BY vec_id),
      |vectop AS (
      |  SELECT vec_id AS doc_id,
      |    CASE WHEN na = 0 OR nq = 0 THEN 0.0
      |         ELSE floor((dot / sqrt(na * nq)) * 1e4 + 0.5) / 1e4 END AS sim
      |  FROM sims
      |  ORDER BY sim DESC, doc_id LIMIT 20),
      |vec AS (
      |  SELECT doc_id, CAST(row_number() OVER (
      |    ORDER BY sim DESC, doc_id) AS INT) AS vec_rank
      |  FROM vectop),
      |fused AS (
      |  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
      |    lex_rank, vec_rank
      |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
      |SELECT doc_id,
      |  floor((coalesce(1.0 / (60 + lex_rank), 0.0) +
      |         coalesce(1.0 / (60 + vec_rank), 0.0)) * 1e6 + 0.5) / 1e6
      |    AS rrf,
      |  lex_rank, vec_rank
      |FROM fused
      |ORDER BY rrf DESC, doc_id
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------- q136/q138
  /** BM25 served through the [[VersionedTable]] manifest layer — the
    * full serving-tier lifecycle as ONE declared query: publish v1 as
    * an atomic snapshot, publish q100's diff classes (added ∪ changed
    * as upserts, removed as drops — the planted v2 of the whole
    * incremental family, [[CurationOps.plantedV2]], found by the honest
    * hash-diff, not read off the planting rule) through
    * [[Bm25Index.updateFromVersioned]] as a copy-on-write snapshot
    * (postings AND corpus stats move together), COMPACT the delta's
    * fragmentation (content-identical commit), VACUUM the superseded
    * snapshot, and serve q133's fixed query off the current manifest.
    * q136 (the incremental-maintenance law) and q138 (the storage
    * contract) declare this same query: NO v2 re-tokenize of unchanged
    * docs, a rewrite bounded by the delta terms' buckets, atomic
    * publishes, manifest-routed literal-path pruning, snapshot-isolated
    * readers, reclaimed garbage — and an answer that must equal BM25
    * computed directly on v2, which is exactly what the DuckDB oracle
    * does (q133's formula over the v2 CTE), so the maintenance math
    * (df/dl/stats movement) is hash-checked. The READY marker is
    * written only after vacuum completes, so a torn first build re-runs
    * the lifecycle from scratch (the artifact dir is identity+format
    * keyed like every index family). */
  def bm25VersionedProbe(spark: SparkSession, sfDir: String): DataFrame = {
    Bm25Index.probeVersioned(spark, bm25VtArtifact(spark, sfDir),
      Seq("window", "spark", "stream"))
  }

  /** The q136/q138/q148 build-once lifecycle artifact (same snapshots —
    * q148 differs ONLY in the read surface). */
  private def bm25VtArtifact(spark: SparkSession, sfDir: String): String =
    VectorOps.ensureArtifact("bm25vt_index", Bm25Index.formatTag,
        sfDir, "documents.parquet",
        "q136/q138: v1 + delta + compact + vacuum snapshots") { tmp =>
      val v1 = GraftSession.spread(
          Tables.documents(spark, sfDir), col("doc_id"))
        .select(col("doc_id"), col("text"))
      Bm25Index.buildVersioned(spark, v1, tmp)
      val v2 = CurationOps.plantedV2(Tables.documents(spark, sfDir))
        .select(col("doc_id"), col("text"))
      // q100's diff classes by the shared null-safe content diff
      val (upserts, removed) = IndexMaintenance.contentDiff(v1, v2,
        Seq("text"))
      Bm25Index.updateFromVersioned(spark, tmp, upserts, removed)
      VersionedTable.compact(spark, tmp, Bm25Index.postingsSchema)
      VersionedTable.vacuum(spark, tmp, keepVersions = 1, graceMs = 0L)
    }

  // --------------------------------------------------------------- q148
  /** q138 RE-SERVED through the named-format read surface:
    * `spark.read.format("graftvt")` resolves the same snapshot, prunes
    * the same partitions (the `bucket IN` filter becomes literal dir
    * selection inside the relation), reads the same stats extra — and
    * must land the same top-20 as the library-call probe, hash-checked
    * by the SAME oracle as q138. The interop layer (SQL views, BI
    * tools, ad-hoc time travel) is thereby answer-invariant over the
    * exact serving artifact, not just over toy fixtures. */
  def bm25GraftVtProbe(spark: SparkSession, sfDir: String): DataFrame = {
    Bm25Index.probeVersionedViaFormat(spark, bm25VtArtifact(spark, sfDir),
      Seq("window", "spark", "stream"))
  }

  /** q133's oracle over the planted v2 snapshot — what the
    * incrementally-maintained index must serve. */
  private val bm25IncrementalSql =
    """WITH v2docs AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 97 = 0 THEN text || ' rev2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 89 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text
      |  FROM documents WHERE doc_id % 101 = 0),
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

  /** Core of q133 over any (doc_id, text) frame and query-term set. */
  private[graft] def bm25SearchOf(docs: DataFrame,
      query: Seq[String]): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val tfCols = query.zipWithIndex.map { case (t, i) =>
      sum(when(col("w") === t, 1L).otherwise(0L)).as(s"tf_$i")
    }
    // the ONE corpus pass; materialized because both the stats agg and
    // the scoring pass consume it
    val perDoc = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"), tfCols: _*)
      .localCheckpoint()
    val dfCols = query.indices.map(i =>
      sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = perDoc.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).as("total_len") +: dfCols): _*)
    val termScore = query.indices.map { i =>
      when(col(s"tf_$i") > 0,
        log((col("n_docs") - col(s"df_$i") + 0.5) /
            (col(s"df_$i") + 0.5) + 1.0) *
          (col(s"tf_$i") * (lit(1.2) + 1.0)) /
          (col(s"tf_$i") + lit(1.2) *
            (lit(1.0) - 0.75 + lit(0.75) * col("dl") / col("avgdl"))))
        .otherwise(lit(0.0))
    }
    val nTerms = query.indices
      .map(i => when(col(s"tf_$i") > 0, 1L).otherwise(0L))
      .reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("total_len").cast("double") / col("n_docs"))
      .withColumn("bm25", roundVal(termScore.reduce(_ + _), 4))
      .withColumn("n_query_terms", nTerms)
      .filter(col("n_query_terms") > 0)
      .select(col("doc_id"), col("bm25"), col("n_query_terms"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  private val bm25SearchSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |  FROM documents),
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

  // ---------------------------------------------------------------- q64
  /** Deterministic stratified sampling: an LCG hash of the stable doc id
    * (`((id mod 2³¹)·1103515245 + 12345) mod 1000 < 200` → ~20%,
    * [[CurationOps.lcgPriority]]'s overflow-safe family) selects the
    * sample, reported per language stratum. Hash-mod sampling is THE
    * reproducible sampling primitive at scale: a narrow map-side
    * predicate — no shuffle, no RNG state, no driver coordination — the
    * same rows are chosen on any cluster, any partitioning, any run. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val sampled = CurationOps.lcgPriority(1000L) < 200
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(sampled, 1L).otherwise(0L)).as("n_sampled"),
        min(when(sampled, col("doc_id"))).as("first_sampled"),
        max(when(sampled, col("doc_id"))).as("last_sampled"))
      .select(col("lang"), col("n_total"), col("n_sampled"),
        roundVal(col("n_sampled") / col("n_total").cast("double"), 4)
          .as("sample_rate"),
        col("first_sampled"), col("last_sampled"))
      .orderBy(col("lang"))
  }

  private val stratifiedSampleSql =
    """SELECT lang, n_total, n_sampled,
      |  floor((n_sampled / CAST(n_total AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS sample_rate,
      |  first_sampled, last_sampled
      |FROM (
      |  SELECT lang, count(*) AS n_total,
      |    CAST(sum(CASE WHEN ((doc_id % 2147483648) * 1103515245 + 12345) % 1000 < 200
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |    min(CASE WHEN ((doc_id % 2147483648) * 1103515245 + 12345) % 1000 < 200
      |             THEN doc_id END) AS first_sampled,
      |    max(CASE WHEN ((doc_id % 2147483648) * 1103515245 + 12345) % 1000 < 200
      |             THEN doc_id END) AS last_sampled
      |  FROM documents GROUP BY lang)
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q65
  /** Quality-filter funnel: how many documents survive each curation
    * stage — length floor, token floor, mean-token-length band (the
    * gibberish/boilerplate heuristic), then exact content dedup among the
    * survivors. The avg-token-length band is evaluated in INTEGER form
    * (`3n ≤ Σlen ≤ 12n`), so every stage count is hash-exact. One scan,
    * one aggregate (plus the distinct-rewrite for the dedup column) — the
    * funnel shape stays a single pass no matter the corpus size. */
  def qualityFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .withColumn("w", split(lower(col("text")), " "))
      .withColumn("n_tok", size(col("w")))
      .withColumn("sum_len",
        expr("aggregate(w, 0, (acc, x) -> acc + length(x))"))
    val s1 = col("n_chars") >= 200
    val s2 = s1 && col("n_tok") >= 30
    val s3 = s2 && col("sum_len") >= col("n_tok") * 3 &&
      col("sum_len") <= col("n_tok") * 12
    d.agg(count(lit(1)).as("n_input"),
        sum(when(s1, 1L).otherwise(0L)).as("n_after_length"),
        sum(when(s2, 1L).otherwise(0L)).as("n_after_tokens"),
        sum(when(s3, 1L).otherwise(0L)).as("n_after_toklen"),
        countDistinct(when(s3, lower(col("text")))).as("n_after_dedup"))
  }

  private val qualityFunnelSql =
    """SELECT count(*) AS n_input,
      |  CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_length,
      |  CAST(sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_tokens,
      |  CAST(sum(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_toklen,
      |  count(DISTINCT CASE WHEN s3 THEN lower(text) END) AS n_after_dedup
      |FROM (
      |  SELECT text,
      |    s1, s1 AND n_tok >= 30 AS s2,
      |    s1 AND n_tok >= 30 AND sum_len BETWEEN n_tok * 3 AND n_tok * 12 AS s3
      |  FROM (
      |    SELECT text, n_chars >= 200 AS s1,
      |      len(string_split(lower(text), ' ')) AS n_tok,
      |      list_sum(list_transform(string_split(lower(text), ' '),
      |        x -> length(x))) AS sum_len
      |    FROM documents))""".stripMargin

  // ---------------------------------------------------------------- q66
  /** Corpus length histogram: 200-char buckets capped at bucket 9 — the
    * length-distribution profile every curation run starts from. Pure
    * integer bucketing (single partial-agg shuffle of ≤10 groups). */
  def lengthHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .groupBy(least(floor(col("n_chars") / 200), lit(9L)).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("bucket"))
  }

  private val lengthHistogramSql =
    """SELECT least(n_chars // 200, 9) AS bucket, count(*) AS n_docs,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM documents
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q68
  /** Repetition-quality signals (Gopher-style repetition filters): per
    * document, the most frequent word (deterministic `row_number` over
    * (cnt DESC, word) — never engine-specific `max_by` tie-breaking), the
    * fraction of word-characters it accounts for, the max repeated-trigram
    * count, and the duplicate-trigram fraction `1 − distinct/total`. These
    * are the standard "machine-generated repetition" heuristics a curation
    * run scores before training. All counts integer; each fraction is one
    * `round(·,4)` from identical integer inputs.
    *
    * Scale: tokens shuffle once to (doc, word), trigrams once to
    * (doc, tri); the top-word window reuses the (doc,word) clustering, and
    * per-doc word-character totals come from the SAME clustered frame as
    * `Σ cnt·len(word)` (an analytic sum over the grouped rows — NOT a
    * second shuffle of the raw token stream, which at 100 TB would be a
    * whole redundant corpus-sized exchange). Linear, no wide rows. */
  def repetitionQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val d = GraftSession.spread(Tables.documents(spark, sfDir), col("doc_id"))
      .withColumn("w", split(lower(col("text")), " "))
      .filter(size(col("w")) >= 3)
    val words = d.select(col("doc_id"), explode(col("w")).as("word"))
    val wc = words.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    val wWin = Window.partitionBy(col("doc_id"))
      .orderBy(col("cnt").desc, col("word").asc)
    val topWord = wc
      .withColumn("sum_len", sum(col("cnt") * length(col("word")))
        .over(Window.partitionBy(col("doc_id"))))
      .withColumn("rn", row_number().over(wWin))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("word").as("top_word"),
        col("cnt").as("top_word_cnt"), col("sum_len"))
    val tris = d.select(col("doc_id"),
      explode(TextOps.wordGramExpr(3)).as("tri"))
    val tc = tris.groupBy(col("doc_id"), col("tri"))
      .agg(count(lit(1)).as("cnt"))
    val triAgg = tc.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tri"), count(lit(1)).as("n_tri_distinct"),
        max(col("cnt")).as("top_tri_cnt"))
    topWord.join(triAgg, "doc_id")
      .select(col("doc_id"), col("top_word"), col("top_word_cnt"),
        roundVal(col("top_word_cnt") * length(col("top_word")) /
          col("sum_len").cast("double"), 4).as("top_word_char_frac"),
        col("top_tri_cnt"),
        roundVal(lit(1.0) - col("n_tri_distinct") / col("n_tri").cast("double"), 4)
          .as("dup_tri_frac"))
      .orderBy(col("doc_id"))
  }

  private val repetitionQualitySql =
    """WITH d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 3),
      |words AS (SELECT doc_id, unnest(w) AS word FROM d),
      |wc AS (SELECT doc_id, word, count(*) AS cnt FROM words GROUP BY 1, 2),
      |topw AS (
      |  SELECT doc_id, word AS top_word, cnt AS top_word_cnt, sum_len FROM (
      |    SELECT doc_id, word, cnt,
      |      row_number() OVER (
      |        PARTITION BY doc_id ORDER BY cnt DESC, word ASC) AS rn,
      |      sum(cnt * length(word)) OVER (PARTITION BY doc_id) AS sum_len
      |    FROM wc)
      |  WHERE rn = 1),
      |tris AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tri FROM d),
      |tc AS (SELECT doc_id, tri, count(*) AS cnt FROM tris GROUP BY 1, 2),
      |ta AS (SELECT doc_id, sum(cnt) AS n_tri, count(*) AS n_tri_distinct,
      |         max(cnt) AS top_tri_cnt FROM tc GROUP BY 1)
      |SELECT t.doc_id, top_word, top_word_cnt,
      |  floor((top_word_cnt * length(top_word) / CAST(sum_len AS DOUBLE)) * 1e4 + 0.5) / 1e4
      |    AS top_word_char_frac,
      |  top_tri_cnt,
      |  floor((1.0 - n_tri_distinct / CAST(n_tri AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS dup_tri_frac
      |FROM topw t JOIN ta USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q69
  /** Benchmark-contamination check (decontamination primitive): which
    * corpus documents share an 8-gram with the held-out "benchmark" set
    * (deterministic hash-mod slice `doc_id % 5 = 0`, standing in for an
    * eval suite). Output: (doc, benchmark doc, #shared distinct 8-grams).
    * This is the n-gram-overlap decontamination every serious training
    * corpus runs against its eval benchmarks before training.
    *
    * Scale: (doc, gram) pairs are distinct-ed BEFORE the join, the join is
    * an equi-join on the gram key, and the benchmark side is the small one
    * (an eval suite, not a corpus) — AQE broadcasts it when it fits.
    * Nothing quadratic: cost is linear in corpus grams + true overlaps. */
  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = TextOps.gramTokenized(
        GraftSession.spread(Tables.documents(spark, sfDir), col("doc_id")))
      .select(col("doc_id"), explode(TextOps.wordGramExpr(8)).as("gram"))
      .distinct()
    val bench = grams.filter(pmod(col("doc_id"), lit(5)) === 0)
      .select(col("doc_id").as("bench_id"), col("gram"))
    val corpus = grams.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    corpus.join(bench, "gram")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  private val contaminationSql =
    """WITH d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 8),
      |g AS (
      |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 6),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
      |         w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])) AS gram
      |  FROM d),
      |bench AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 5 = 0),
      |corpus AS (SELECT doc_id, gram FROM g WHERE doc_id % 5 != 0)
      |SELECT c.doc_id, b.bench_id, count(*) AS n_shared
      |FROM corpus c JOIN bench b USING (gram)
      |GROUP BY 1, 2
      |ORDER BY doc_id, bench_id""".stripMargin

  // ---------------------------------------------------------------- q70
  /** Training-mix budget: token counts per (lang, source) with corpus
    * share, cumulative share in descending-tokens order, and an over-cap
    * flag (>10% of the corpus) — the data-mixing table a training run is
    * configured from. Counts are integers; shares are single `round(·,4)`
    * doubles; the over-cap comparison is integer (`tokens·10 > total`).
    *
    * Scale: one partial-agg shuffle to (lang, source); the window runs
    * over the AGGREGATE frame (one row per mix cell — thousands at most),
    * so the single-partition global sort is over a tiny frame, not the
    * corpus; the total is an explicit broadcast. */
  def trainingMix(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = Tables.documents(spark, sfDir)
      .select(col("lang"), col("source"),
        size(split(lower(col("text")), " ")).as("n_tok"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tok")).as("tokens"))
    val total = agg.agg(sum(col("tokens")).as("total"))
    val w = Window.orderBy(col("tokens").desc, col("lang"), col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg.crossJoin(broadcast(total))
      .withColumn("cum_tokens", sum(col("tokens")).over(w))
      .select(col("lang"), col("source"), col("docs"), col("tokens"),
        roundVal(col("tokens") / col("total").cast("double"), 4).as("share"),
        roundVal(col("cum_tokens") / col("total").cast("double"), 4).as("cum_share"),
        (col("tokens") * 10 > col("total")).as("over_cap"))
      .orderBy(col("tokens").desc, col("lang"), col("source"))
  }

  private val trainingMixSql =
    """WITH agg AS (
      |  SELECT lang, source, count(*) AS docs,
      |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM agg)
      |SELECT lang, source, docs, tokens,
      |  floor((tokens / CAST(total AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS share,
      |  floor((CAST(sum(tokens) OVER (ORDER BY tokens DESC, lang, source
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / total) * 1e4 + 0.5) / 1e4 AS cum_share,
      |  tokens * 10 > total AS over_cap
      |FROM agg CROSS JOIN tot
      |ORDER BY tokens DESC, lang, source""".stripMargin

  // ---------------------------------------------------------------- q71
  /** Sequence-packing plan: documents concatenated in doc_id order within
    * each lang shard and split into 2048-token training windows; each doc
    * lands in the window where it STARTS (greedy concat packing — the
    * sample-packing strategy training pipelines use to avoid padding
    * waste). Output: per (lang, window) doc count, token count, and doc-id
    * bounds. Pure integer arithmetic end to end.
    *
    * Scale: the cumulative sum runs WITHIN lang shards
    * (`Window.partitionBy(lang)`), never globally — at 100 TB packing is
    * per-shard by construction (each worker packs its own shard; a global
    * ordered prefix-sum would serialize the corpus through one partition).
    * One shuffle to lang shards, one agg. */
  def sequencePacking(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"),
        size(split(lower(col("text")), " ")).as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("win_id", floor((col("cum") - col("n_tok")) / 2048))
      .groupBy(col("lang"), col("win_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("win_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("win_id"))
  }

  private val sequencePackingSql =
    """WITH d AS (
      |  SELECT lang, doc_id,
      |    len(string_split(lower(text), ' ')) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT lang, doc_id, n_tok,
      |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d)
      |SELECT lang, CAST((cum - n_tok) // 2048 AS BIGINT) AS win_id,
      |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS win_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM c
      |GROUP BY 1, 2
      |ORDER BY lang, win_id""".stripMargin

  // ---------------------------------------------------------------- q72
  /** Duplicate-rate by source: for each source, how many of its documents
    * have text that occurs more than once in the WHOLE corpus — the
    * source-quality ranking a curation run uses to decide which feeds to
    * down-weight or drop. Duplicate detection is a window count over the
    * exact content key (one shuffle on text hash); the rate is one
    * `round(·,4)` from integer counts.
    *
    * The window partitions on `xxhash64(text)`, NOT the text itself: the
    * exchange then moves an 8-byte key per row instead of the full document
    * (at 100 TB the key bytes would dominate the shuffle). A hash collision
    * would merge two distinct texts into one count — P ≈ n²/2⁶⁵, ~1e-11 at
    * this corpus and still <1% at 10⁹ docs — and the declared per-source
    * rates are unchanged as long as no two distinct in-corpus texts
    * collide, which the q30 exact-dedup path (full-text keys) can audit. */
  def dupRateBySource(spark: SparkSession, sfDir: String): DataFrame = {
    val cw = Window.partitionBy(xxhash64(col("text")))
    Tables.documents(spark, sfDir)
      .withColumn("cnt", count(lit(1)).over(cw))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        roundVal(col("n_dup_docs") / col("n_docs").cast("double"), 4)
          .as("dup_rate"))
      .orderBy(col("dup_rate").desc, col("source"))
  }

  private val dupRateBySourceSql =
    """SELECT source, n_docs, n_dup_docs,
      |  floor((n_dup_docs / CAST(n_docs AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS dup_rate
      |FROM (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
      |  FROM (
      |    SELECT source, count(*) OVER (PARTITION BY text) AS cnt
      |    FROM documents)
      |  GROUP BY source)
      |ORDER BY dup_rate DESC, source""".stripMargin

  // ---------------------------------------------------------------- q75
  /** Character-trigram language-model scoring — the CCNet/KenLM-style
    * perplexity quality filter, the classic statistical gate of a web-scale
    * curation run: train a per-language char-trigram model on the corpus,
    * then score each document by its mean surprisal (bits per trigram)
    * under ITS OWN language's model; unusually high-surprisal documents are
    * the gibberish/off-language candidates a funnel drops. Output is the
    * per-(lang, source) surprisal profile — the view a curator ranks feeds
    * by.
    *
    * Scale shape: the model is one map-combined shuffle at (lang, trigram)
    * granularity and its size is bounded by |alphabet|³ per language (a few
    * 10k rows — NOT corpus-sized), so the scoring join BROADCASTS the model
    * and scoring itself is a per-row map over exploded trigrams feeding one
    * partial-agg shuffle per granularity (doc, then (lang, source)). No
    * smoothing term is needed because the scored corpus IS the training
    * corpus (every observed trigram has mass); a production split-corpus
    * variant adds Laplace smoothing to the same plan.
    *
    * Determinism: probabilities are integer-count ratios; `log2` agrees to
    * the last ulp or so across engines and per-doc means accumulate ~1e-15
    * relative error, absorbed by the 4-dp rounding (policy: round(·,4) when
    * float error ≪ 5e-5). */
  def trigramLmScore(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE explode pass, immediately collapsed to per-(doc, trigram) counts:
    // the shuffle carries ~200 distinct trigrams per doc instead of every
    // character position, and the model/score branches both reuse it (the
    // model is a second, vocabulary-sized agg over these counts — its map
    // side combines to |alphabet|³ rows per partition)
    // memoized: the model branch and the scoring branch both read it, and
    // without the cache the explode+agg pass runs once per branch
    val docTri = graft.Memo.cached(spark, s"pipelineops:doc_tri:$sfDir") {
      GraftSession.spread(Tables.documents(spark, sfDir), col("doc_id"))
        // filter on the RAW text length to match the oracle's
        // `length(text) >= 3`: lowercasing can change the code-point
        // count (U+0130 lowers to 'i' + U+0307), which would flip
        // threshold-adjacent docs between engines (round-9 review)
        .filter(length(col("text")) >= 3)
        .select(col("doc_id"), col("lang"), col("source"),
          lower(col("text")).as("t"))
        // trigrams via a char array, NOT substring(t, i, 3): UTF8String
        // substring seeks from the string start (variable-width encoding),
        // so a per-position substring loop is O(len²) per document — split
        // once and index the array (O(1) per element) instead
        // (bound on length(t), not size(ch): split-by-empty-pattern can
        // emit a trailing empty element depending on the regex engine)
        .withColumn("ch", split(col("t"), ""))
        .select(col("doc_id"), col("lang"), col("source"),
          explode(expr("transform(sequence(1, length(t) - 2), " +
            "i -> concat(ch[i-1], ch[i], ch[i+1]))")).as("tri"))
        .groupBy(col("doc_id"), col("lang"), col("source"), col("tri"))
        .agg(count(lit(1)).as("c"))
    }
    val model = docTri.groupBy(col("lang"), col("tri"))
      .agg(sum(col("c")).as("cnt"))
    val totals = model.groupBy(col("lang")).agg(sum(col("cnt")).as("tot"))
    val probs = model.join(totals, "lang")
      .select(col("lang"), col("tri"),
        (col("cnt").cast("double") / col("tot").cast("double")).as("p"))
    docTri
      .join(broadcast(probs), Seq("lang", "tri"))
      .groupBy(col("doc_id"), col("lang"), col("source"))
      // instance-mean surprisal as a count-weighted mean over distinct
      // trigrams — algebraically identical to the oracle's per-instance
      // avg; the c·log2 vs repeated-addition float difference is ~1e-15,
      // absorbed by the 4-dp rounding like every double in this file
      .agg((sum(col("c") * -log2(col("p"))) / sum(col("c"))).as("bits"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        roundVal(avg(col("bits")), 4).as("avg_bits"),
        roundVal(max(col("bits")), 4).as("max_bits"))
      .orderBy(col("lang"), col("source"))
  }

  private val trigramLmScoreSql =
    """WITH tris AS (
      |  SELECT doc_id, lang, source,
      |    unnest(list_transform(range(1, length(t) - 1), i -> t[i:i+2])) AS tri
      |  FROM (SELECT doc_id, lang, source, lower(text) AS t FROM documents
      |        WHERE length(text) >= 3)),
      |model AS (
      |  SELECT lang, tri, count(*) AS cnt FROM tris GROUP BY lang, tri),
      |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot FROM model GROUP BY lang),
      |scored AS (
      |  SELECT t.doc_id, t.lang, t.source,
      |    avg(-log2(CAST(m.cnt AS DOUBLE) / CAST(x.tot AS DOUBLE))) AS bits
      |  FROM tris t
      |  JOIN model m ON t.lang = m.lang AND t.tri = m.tri
      |  JOIN tot x ON t.lang = x.lang
      |  GROUP BY t.doc_id, t.lang, t.source)
      |SELECT lang, source, count(*) AS n_docs,
      |  floor((avg(bits)) * 1e4 + 0.5) / 1e4 AS avg_bits, floor((max(bits)) * 1e4 + 0.5) / 1e4 AS max_bits
      |FROM scored
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q90
  /** Sliding-window document chunking — the RAG/embedding-ingestion
    * primitive: split each document into 32-token chunks on a 24-token
    * stride (8 tokens of overlap so no boundary context is lost), one
    * output row per chunk with its token span and exact character count.
    * The chunk grammar is fully deterministic — starts are
    * `0, 24, 48, … < n_tok`, the tail chunk may be short — so both
    * engines enumerate identical rows; chunk text is reconstructed by
    * the same 1-based inclusive slice + single-space join in both
    * dialects and compared via its length.
    *
    * Scale: a generate-only plan — explode of an arithmetic sequence per
    * row (no join, no window); output is ~n_tok/stride rows per doc and
    * the only shuffle is the output sort. At 100 TB this is the map
    * stage feeding the embedding model; the chunk rows carry (doc_id,
    * span) coordinates, not duplicated text, until the encoder needs the
    * bytes. */
  def chunkPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val chunk = 32
    val stride = 24
    GraftSession.spread(Tables.documents(spark, sfDir), col("doc_id"))
      .withColumn("w", split(lower(col("text")), " "))
      .withColumn("n_tok", size(col("w")))
      .withColumn("start_tok",
        explode(sequence(lit(0), col("n_tok") - 1, lit(stride))))
      .withColumn("len_tok",
        least(lit(chunk), col("n_tok") - col("start_tok")))
      .select(col("doc_id"),
        (col("start_tok") / stride).cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        col("len_tok").cast("long").as("len_tok"),
        length(array_join(
          slice(col("w"), col("start_tok") + 1, col("len_tok")), " "))
          .cast("long").as("chunk_chars"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  private val chunkPlanSql =
    """WITH d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |c AS (
      |  SELECT doc_id, w, len(w) AS n_tok,
      |    unnest(range(0, len(w), 24)) AS start_tok
      |  FROM d)
      |SELECT doc_id,
      |  CAST(start_tok // 24 AS BIGINT) AS chunk_idx,
      |  CAST(start_tok AS BIGINT) AS start_tok,
      |  CAST(least(32, n_tok - start_tok) AS BIGINT) AS len_tok,
      |  CAST(length(array_to_string(
      |    w[start_tok + 1 : start_tok + least(32, n_tok - start_tok)], ' '))
      |    AS BIGINT) AS chunk_chars
      |FROM c
      |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- q89
  /** Per-source quality deciles via `ntile(10)` — the
    * bucket-then-inspect shape of corpus triage (which decile do I cut
    * at?), and the one ranking window family (ntile) the catalog didn't
    * yet exercise. Deciles are per SOURCE over a TOTAL order
    * (n_chars DESC, doc_id ASC), so tile assignment is engine-exact: the
    * SQL-standard ntile (equal tiles, remainder to the leading tiles) is
    * what both engines implement, and no two rows compare equal under the
    * tiebreak. Output per (source, decile): doc count and the decile's
    * char range — integer-exact throughout, no float at all.
    *
    * Scale: one shuffle on source (the window), then a map-side partial
    * agg to the ≤10·|sources| grid. Per-source window partitions are
    * corpus-sized/|sources| — at extreme skew, pre-aggregate to
    * (source, n_chars) counts first; documented, not needed here. */
  def qualityDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("decile", ntile(10).over(w))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_chars")).as("max_chars"),
        min(col("n_chars")).as("min_chars"))
      .orderBy(col("source"), col("decile"))
  }

  private val qualityDecilesSql =
    """WITH ranked AS (
      |  SELECT source, doc_id, n_chars,
      |    ntile(10) OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id ASC) AS decile
      |  FROM documents)
      |SELECT source, decile, count(*) AS n_docs,
      |  max(n_chars) AS max_chars, min(n_chars) AS min_chars
      |FROM ranked
      |GROUP BY source, decile
      |ORDER BY source, decile""".stripMargin

  // ---------------------------------------------------------------- q87
  /** Temperature-scaled sampling weights per (lang, source) cell — the
    * alpha-sampling rule multilingual LM training uses to upsample
    * low-resource slices (p_i^α / Σ p_j^α with α = 0.7, the
    * XLM-R-family setting): raw token share p, adjusted sampling weight
    * q, and the resulting boost factor q/p (>1 means the cell is seen
    * more often than its natural share). Extends q70's mix budget with
    * the resampling math a training loader actually consumes.
    *
    * Scale: one corpus aggregate to the (lang, source) grid (map-side
    * partial), then windows over THAT GRID only (a few dozen rows — the
    * whole-frame window never sees the corpus). Float policy: `pow` is
    * last-ulp-platform-dependent, but p is exact (integer-count divide),
    * the α-power sum spans ~dozens of cells, so relative error stays
    * ~1e-15 ≪ the round(·,4) tolerance — the documented cross-engine
    * rounding rule. */
  def mixtureWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val all = Window.partitionBy() // grid-sized frame only (see scaladoc)
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("source"),
        size(split(lower(col("text")), " ")).cast("long").as("n_tok"))
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n_tok")).as("tokens"))
      .withColumn("p", col("tokens") / sum(col("tokens")).over(all))
      .withColumn("pa", pow(col("p"), 0.7))
      .withColumn("q", col("pa") / sum(col("pa")).over(all))
      .select(col("lang"), col("source"), col("tokens"),
        roundVal(col("p"), 4).as("p_natural"),
        roundVal(col("q"), 4).as("q_sampled"),
        roundVal(col("q") / col("p"), 4).as("boost"))
      .orderBy(col("lang"), col("source"))
  }

  private val mixtureWeightsSql =
    """WITH cell AS (
      |  SELECT lang, source,
      |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY lang, source),
      |shares AS (
      |  SELECT lang, source, tokens,
      |    tokens / CAST(sum(tokens) OVER () AS DOUBLE) AS p
      |  FROM cell),
      |adj AS (
      |  SELECT lang, source, tokens, p,
      |    pow(p, 0.7) / sum(pow(p, 0.7)) OVER () AS q
      |  FROM shares)
      |SELECT lang, source, tokens,
      |  floor((p) * 1e4 + 0.5) / 1e4 AS p_natural, floor((q) * 1e4 + 0.5) / 1e4 AS q_sampled,
      |  floor((q / p) * 1e4 + 0.5) / 1e4 AS boost
      |FROM adj
      |ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q83
  /** Unicode text normalization — the stage every curation pipeline runs
    * FIRST, because everything downstream (exact dedup q30, shingle
    * near-dup q32, token stats q35, contamination q69) assumes visually
    * identical text is byte-identical: NFC canonical composition
    * ([[graft.functions.TextExpressions.NfcNormalize]], a codegen'd JDK
    * `Normalizer` wrapper with an allocation-free already-normalized fast
    * path), control/zero-width stripping, unicode-space mapping, and
    * whitespace-run collapse. The synthetic corpus is pure ASCII — a
    * normalizer declared over the raw text would "pass" vacuously (q73's
    * planted-marker rationale) — so the query PLANTS deterministic
    * denormalized markers by doc_id (every 3rd doc a combining-acute
    * sequence NFC composes, every 5th a multi-space run, every 7th a
    * BEL + zero-width pair, every 11th an NBSP, every 13th a
    * composition-BLOCKER — base letter + zero-width + combining mark,
    * which only normalizes correctly if stripping runs before NFC;
    * identical construction in both engines) and proves the cleanup with
    * byte counts and a zero-residual column. Regexes stay in the RE2 ∩ Java common subset
    * (`\x{..}` classes only); byte lengths compare via UTF-8 (`octet_length`
    * / DuckDB `strlen`) because code-unit vs grapheme "length" semantics
    * differ across engines while bytes never do.
    *
    * Scale: a pure per-row map (one normalizer + three regex passes)
    * feeding one partial-agg shuffle of ≤#sources groups — the same
    * cheapest-possible shape as q73; ASCII rows (the 100 TB common case)
    * short-circuit in `isNormalized` without allocating. */
  // shared by the Spark plan and the DuckDB oracle via interpolation —
  // editing one dialect only is impossible (q73's single-definition rule)
  private[graft] val CombAcute = "\u0301" // combining acute: NFC-composes into the preceding 'e'
  private[graft] val Bell = "\u0007"   // C0 control (stripped)
  private[graft] val Zwsp = "\u200B"   // zero-width space (stripped)
  private[graft] val Nbsp = "\u00A0"   // no-break space (mapped to ' ')
  private[graft] val CtrlZwRe =
    "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}\\x{200B}-\\x{200D}\\x{FEFF}]"
  private[graft] val UniSpaceRe = "[\\x{A0}\\x{2000}-\\x{200A}\\x{202F}\\x{3000}]"
  private[graft] val WsRunRe = "[ \\t\\n\\r]+"

  /** The normalization transform itself — STRIP, then NFC, then map,
    * collapse, trim (shared definition so a streaming twin can reuse it
    * verbatim). Order matters: stripping must run BEFORE NFC, because a
    * stripped character sitting between a base letter and a combining
    * mark (e.g. "e" + ZWSP + U+0301) blocks canonical composition — that
    * sequence is already NFC, so NFC-first would be a no-op, the strip
    * would then expose the decomposed pair, and the output would violate
    * the operator's own everything-downstream-assumes-NFC contract
    * (found by review; the zero-residual column would catch it on real
    * Unicode input, and the %13 planted marker now exercises it). */
  private[graft] def normalizeExpr(c: org.apache.spark.sql.Column) =
    trim(regexp_replace(regexp_replace(
      graft.functions.TextExpressions.nfcNormalize(
        regexp_replace(c, CtrlZwRe, "")),
      UniSpaceRe, " "), WsRunRe, " "))

  def normalizeText(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = GraftSession.spread(
        Tables.documents(spark, sfDir), col("doc_id"))
      .withColumn("ptext", concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(s" cafe$CombAcute"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("  two   spaces "))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0, lit(s" x$Bell${Zwsp}y"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0, lit(s"${Nbsp}nb"))
          .otherwise(lit("")),
        // composition-blocker: base + stripped char + combining mark —
        // already NFC as-is; only strip-BEFORE-NFC composes it correctly
        when(pmod(col("doc_id"), lit(13)) === 0, lit(s" e$Zwsp$CombAcute"))
          .otherwise(lit(""))))
      .withColumn("norm", normalizeExpr(col("ptext")))
    val nfc = graft.functions.TextExpressions.nfcNormalize _
    planted
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("norm") =!= col("ptext"), 1L).otherwise(0L))
          .as("n_changed"),
        sum(octet_length(col("ptext")).cast("long")).as("bytes_raw"),
        sum(octet_length(col("norm")).cast("long")).as("bytes_norm"),
        sum(when(nfc(col("ptext")) =!= col("ptext"), 1L).otherwise(0L))
          .as("n_nonnfc"),
        // idempotence proof: a second normalization pass finds nothing —
        // still NFC, no control/zero-width, no unicode space, no "  " run
        sum(when(nfc(col("norm")) =!= col("norm"), 1L).otherwise(0L)
          + when(col("norm").rlike(CtrlZwRe), 1L).otherwise(0L)
          + when(col("norm").rlike(UniSpaceRe), 1L).otherwise(0L)
          + when(col("norm").rlike("  "), 1L).otherwise(0L))
          .as("n_residual"))
      .orderBy(col("source"))
  }

  // regex/marker literals INTERPOLATED from the Spark-side constants; note
  // DuckDB string literals are standard-SQL (no backslash escapes), so the
  // Java-escaped `\x{..}` patterns pass through to RE2 verbatim
  private val normalizeTextSql =
    s"""WITH planted AS (
       |  SELECT doc_id, source, text
       |    || CASE WHEN doc_id % 3 = 0 THEN ' cafe$CombAcute' ELSE '' END
       |    || CASE WHEN doc_id % 5 = 0 THEN '  two   spaces ' ELSE '' END
       |    || CASE WHEN doc_id % 7 = 0 THEN ' x${Bell}${Zwsp}y' ELSE '' END
       |    || CASE WHEN doc_id % 11 = 0 THEN '${Nbsp}nb' ELSE '' END
       |    || CASE WHEN doc_id % 13 = 0 THEN ' e$Zwsp$CombAcute' ELSE '' END
       |      AS ptext
       |  FROM documents),
       |n AS (
       |  SELECT source, ptext,
       |    trim(regexp_replace(regexp_replace(
       |      nfc_normalize(regexp_replace(ptext, '$CtrlZwRe', '', 'g')),
       |      '$UniSpaceRe', ' ', 'g'),
       |      '$WsRunRe', ' ', 'g')) AS norm
       |  FROM planted)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN norm <> ptext THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_changed,
       |  CAST(sum(strlen(ptext)) AS BIGINT) AS bytes_raw,
       |  CAST(sum(strlen(norm)) AS BIGINT) AS bytes_norm,
       |  CAST(sum(CASE WHEN nfc_normalize(ptext) <> ptext THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_nonnfc,
       |  CAST(sum((CASE WHEN nfc_normalize(norm) <> norm THEN 1 ELSE 0 END)
       |    + (CASE WHEN regexp_matches(norm, '$CtrlZwRe') THEN 1 ELSE 0 END)
       |    + (CASE WHEN regexp_matches(norm, '$UniSpaceRe') THEN 1 ELSE 0 END)
       |    + (CASE WHEN regexp_matches(norm, '  ') THEN 1 ELSE 0 END))
       |    AS BIGINT) AS n_residual
       |FROM n GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q73
  /** PII scrub (redaction primitive): count and redact email / phone /
    * IPv4 patterns per source, with a residual column proving the scrub
    * left zero matches behind. The synthetic corpus carries no PII at all
    * — a scrubber declared over the raw text would "pass" on 0 matches,
    * the exact vacuous-oracle failure q63 once had — so the query PLANTS
    * deterministic markers derived from doc_id (every 3rd doc an email,
    * every 5th a phone, every 7th an IP; identical construction in both
    * engines) and then scrubs them. In production the scrub stage is the
    * same three `regexp_replace`s applied to real text. Patterns stay in
    * the RE2 ∩ Java-regex common subset (character classes, bounded
    * repetition — no lookaround/backrefs), so Spark and DuckDB match
    * byte-identically.
    *
    * Scale: a pure per-row map (regex count + replace) feeding one
    * partial-agg shuffle of ≤#sources groups — the cheapest possible
    * shape; the scrub itself never shuffles. */
  /** The PII pattern set and scrub transform — ONE definition shared by
    * batch q73 and the streaming ingest-time twin
    * ([[graft.streaming.StreamingOps.piiScrubStream]]), so the
    * spec-asserted stream==batch equivalence can't silently drift (same
    * rationale as [[TextOps.wordGramExpr]]). Patterns are in the
    * RE2 ∩ Java-regex common subset. */
  private[graft] val EmailRe = "[a-z0-9]+@[a-z0-9.]+"
  // PhoneRe matches inside ANY digit-dash run (e.g. '2020-01' yields
  // '020-01'), so n_phones can exceed the planted markers if corpus text
  // carries date-like tokens — both engines count such incidental matches
  // IDENTICALLY (same regex subset), so the oracle is unaffected; a scrub
  // that over-redacts a date is the safe failure mode for PII removal
  private[graft] val PhoneRe = "[0-9]{3}-[0-9]+"
  private[graft] val IpRe = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"

  private[graft] def nMatches(c: org.apache.spark.sql.Column, re: String) =
    size(regexp_extract_all(c, lit(re), lit(0)))

  /** Redact email → IP → phone, in that order (email first so its digits
    * don't feed the digit-run patterns; IP before phone since both are
    * digit runs and IP's dotted form must win). */
  private[graft] def scrubExpr(c: org.apache.spark.sql.Column) =
    regexp_replace(regexp_replace(regexp_replace(c,
      EmailRe, "<EMAIL>"), IpRe, "<IP>"), PhoneRe, "<PHONE>")

  /** Total PII matches (all three patterns) in a text column. */
  private[graft] def piiCountExpr(c: org.apache.spark.sql.Column) =
    nMatches(c, EmailRe) + nMatches(c, PhoneRe) + nMatches(c, IpRe)

  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    // three regex passes per row: spread so they don't run on one core
    val planted = GraftSession.spread(Tables.documents(spark, sfDir), col("doc_id"))
      .withColumn("ptext", concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" 555-"), pmod(col("doc_id"), lit(100))))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" 10.0."), pmod(col("doc_id"), lit(256)), lit(".1")))
          .otherwise(lit(""))))
      .withColumn("scrubbed", scrubExpr(col("ptext")))
    planted
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(nMatches(col("ptext"), EmailRe).cast("long")).as("n_emails"),
        sum(nMatches(col("ptext"), IpRe).cast("long")).as("n_ips"),
        // the three patterns are mutually exclusive on any text: phone
        // needs a '-', IP needs 3 '.'-separated digit runs, email an '@'
        sum(nMatches(col("ptext"), PhoneRe).cast("long")).as("n_phones"),
        sum(piiCountExpr(col("scrubbed")).cast("long")).as("n_residual"))
      .orderBy(col("source"))
  }

  // the regex literals are INTERPOLATED from the same constants the Spark
  // side uses — editing a pattern in one dialect only is impossible
  private val piiScrubSql =
    s"""WITH planted AS (
      |  SELECT source,
      |    text ||
      |      CASE WHEN doc_id % 3 = 0
      |        THEN ' user' || doc_id::VARCHAR || '@example.com' ELSE '' END ||
      |      CASE WHEN doc_id % 5 = 0
      |        THEN ' 555-' || (doc_id % 100)::VARCHAR ELSE '' END ||
      |      CASE WHEN doc_id % 7 = 0
      |        THEN ' 10.0.' || (doc_id % 256)::VARCHAR || '.1' ELSE '' END
      |      AS ptext
      |  FROM documents),
      |scrub AS (
      |  SELECT source, ptext,
      |    regexp_replace(regexp_replace(regexp_replace(ptext,
      |      '$EmailRe', '<EMAIL>', 'g'),
      |      '$IpRe', '<IP>', 'g'),
      |      '$PhoneRe', '<PHONE>', 'g') AS scrubbed
      |  FROM planted)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(regexp_extract_all(ptext, '$EmailRe'))) AS BIGINT)
      |    AS n_emails,
      |  CAST(sum(len(regexp_extract_all(ptext, '$IpRe'))) AS BIGINT) AS n_ips,
      |  CAST(sum(len(regexp_extract_all(ptext, '$PhoneRe'))) AS BIGINT)
      |    AS n_phones,
      |  CAST(sum(len(regexp_extract_all(scrubbed, '$EmailRe'))
      |    + len(regexp_extract_all(scrubbed, '$PhoneRe'))
      |    + len(regexp_extract_all(scrubbed, '$IpRe'))) AS BIGINT) AS n_residual
      |FROM scrub
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q79
  /** Linear quality-classifier inference as pure column math — the
    * fasttext-style learned quality gate (the DataComp/FineWeb-shape
    * curation component): hash each token into one of 64 feature buckets,
    * sum the buckets' weights, squash through a logistic, keep docs that
    * score positive. The "model" here is a deterministic weight table
    * (a fixed integer mix of the bucket id standing in for trained
    * weights — swapping in real weights changes one arithmetic literal,
    * not the plan), because what this operator demonstrates is the
    * INFERENCE shape: classifier scoring at corpus scale as a map-only
    * pass — no UDF, no model server, no shuffle before the final
    * per-(lang, source) rollup.
    *
    * Cross-engine determinism: bucket and weight are pure integer
    * arithmetic (hash-exact in both engines); each doc's weight sum stays
    * INTEGER until the one double division feeding the logistic, so the
    * keep decision (`wsum > 0`) is integer-exact and `avg`'s float
    * accumulation is absorbed by round(·,4) — this file's standard policy.
    *
    * Scale shape: tokenize+score is map-only (nested higher-order
    * aggregates, no explode — the per-doc token array never leaves its
    * row); the ONLY shuffle is the ≤ |lang|·|source| rollup. At 100 TB
    * this is the cheapest possible plan: one scan, partial aggs map-side.
    */
  def qualityClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = GraftSession.spread(Tables.documents(spark, sfDir), col("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"),
        split(lower(col("text")), " ").as("w"))
      // per-token: bucket = (char-position polynomial + 7·len) mod 64;
      // weight = ((bucket · 2654435761) mod 1001) − 500  ∈ [−500, 500]
      // IF guards the empty token ("" from repeated spaces): Spark's
      // sequence(1, 0) is the DESCENDING [1, 0], not [] — the oracle's
      // range(1, 1) IS empty, so the polynomial must short-circuit to 0
      // on both sides rather than evaluate over different index sets
      // CAST ascii(...) to BIGINT BEFORE the i*i multiply: sequence()
      // yields INTs, so the uncast product wraps 32-bit for
      // ascii·i² > 2³¹ (i ≳ 4700 ASCII chars, or i ≳ 44 astral-plane
      // code points) while the oracle's range() is BIGINT-exact — the
      // mod-64 congruence self-heals 2³²-multiple wraps only while the
      // long sum stays non-negative (round-9 review)
      .withColumn("wsum", expr(
        """aggregate(w, 0L, (acc, word) -> acc +
          |  ((((IF(length(word) = 0, 0L,
          |      aggregate(transform(sequence(1, length(word)),
          |          i -> CAST(ascii(substring(word, i, 1)) AS BIGINT) * i * i),
          |        0L, (a, x) -> a + x))
          |     + 7L * length(word)) % 64L) * 2654435761L) % 1001L) - 500L)""".stripMargin))
      .withColumn("n", size(col("w")))
    scored.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("wsum") > 0, 1L).otherwise(0L)).as("n_keep"),
        roundVal(avg(lit(1.0) /
          (lit(1.0) + exp(lit(-4.0) * col("wsum") /
            (lit(1000.0) * col("n"))))), 4).as("avg_p"))
      .withColumn("keep_rate",
        roundVal(col("n_keep").cast("double") / col("n_docs"), 4))
      .orderBy(col("lang"), col("source"))
  }

  private val qualityClassifierSql =
    """WITH docs AS (
      |  SELECT doc_id, lang, source, string_split(lower(text), ' ') AS w
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, lang, source, len(w) AS n, unnest(w) AS word FROM docs),
      |feat AS (
      |  SELECT doc_id, lang, source, n,
      |    ((((coalesce(list_sum(list_transform(range(1, length(word) + 1),
      |          i -> CAST(ascii(word[i:i]) * i * i AS BIGINT))), 0)
      |       + 7 * length(word)) % 64) * 2654435761) % 1001) - 500 AS wt
      |  FROM tok),
      |doc AS (
      |  SELECT doc_id, lang, source, max(n) AS n,
      |    CAST(sum(wt) AS BIGINT) AS wsum
      |  FROM feat GROUP BY doc_id, lang, source)
      |SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN wsum > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      |  floor((avg(1.0 / (1.0 + exp(-4.0 * wsum / (1000.0 * n))))) * 1e4 + 0.5) / 1e4 AS avg_p,
      |  floor((CAST(sum(CASE WHEN wsum > 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*)) * 1e4 + 0.5) / 1e4 AS keep_rate
      |FROM doc GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  // --------------------------------------------------------------- q119
  /** Compression-ratio quality screen — the zlib filter of the Gopher /
    * MassiveText curation family: DEFLATE-compressed bytes over raw
    * UTF-8 bytes per document. Highly compressible text (low ratio) is
    * repetitive boilerplate/template spam that q68's word-level signals
    * can miss (sub-word repetition, tag soup); near-incompressible text
    * is byte noise or already-compressed junk. Per (lang, source):
    * doc count, mean ratio, and the extreme docs on both ends with
    * their ratios (rounded-key argmin/argmax, q63's rule).
    *
    * Scale: ratio is the custom codegen'd `deflate_len` expression (one
    * thread-local zlib context per executor thread — never per-row
    * allocation) in a map-only pass; the agg is map-side combined on
    * the small (lang, source) grid; argmin/argmax ride the same agg as
    * lexicographic struct min/max — no window, no second scan.
    * Declared rows-only: zlib is not available to the DuckDB oracle;
    * `GraftFunctionsSpec`/`PipelineOps` specs gate it (planted
    * repetitive vs natural text, determinism, interpreted == codegen). */
  def compressionQuality(spark: SparkSession, sfDir: String): DataFrame = {
    compressionQualityOf(Tables.documents(spark, sfDir))
  }

  /** Core of q119 over any (doc_id, lang, source, text) frame. */
  private[graft] def compressionQualityOf(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("lang"), col("source"), col("doc_id"),
      roundVal(expr("deflate_len(text)") /
        octet_length(col("text")).cast("double"), 4).as("ratio"))
    scored.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        roundVal(avg(col("ratio")), 4).as("avg_ratio"),
        min(struct(col("ratio"), col("doc_id"))).as("lo"),
        // neg_id so a ratio tie still breaks to the LOWEST doc id under max
        max(struct(col("ratio"), (-col("doc_id")).as("neg_id"))).as("hi"))
      .select(col("lang"), col("source"), col("n_docs"),
        col("avg_ratio"),
        col("lo.doc_id").as("most_compressible_doc"),
        col("lo.ratio").as("min_ratio"),
        (-col("hi.neg_id")).as("least_compressible_doc"),
        col("hi.ratio").as("max_ratio"))
      .orderBy(col("lang"), col("source"))
  }

  override val ops: Seq[Op] = Seq(
    Op("q119_compression_quality", compressionQuality, None,
      "zlib compression-ratio quality screen per (lang, source): mean + extreme-doc ratios via codegen'd deflate_len (Gopher-family filter)",
      whyNoOracle = "PERMANENT: ratios are defined by zlib's deflate byte " +
        "stream, which DuckDB has no function for (no flag column can " +
        "bridge it: every output value depends on the codec). " +
        "Correctness rests on TextOpsSpec's planted spam/prose/noise " +
        "corpus ordering law + the interpreted==codegen pin of deflate_len"),
    Op("q79_quality_classifier", qualityClassifier, Some(qualityClassifierSql),
      "linear (fasttext-shape) quality-classifier inference: hashed-bucket weights, logistic score, keep rate"),
    Op("q63_salient_terms", salientTerms, Some(salientTermsSql),
      "TF-IDF salient-term extraction (top-1 per doc, rounded-score argmax)"),
    Op("q133_bm25_search", bm25Search, Some(bm25SearchSql),
      "Okapi BM25 lexical retrieval: top-20 docs for a fixed keyword query (k1=1.2, b=0.75, Lucene-style IDF; one tokenize pass, map-side query-term pruning)"),
    Op("q134_bm25_index_probe", bm25IndexProbe, Some(bm25SearchSql),
      "artifact-served BM25: offline-built Bm25Index v1 snapshot (term-bucketed posting lists, denormalized dl/df) serves q133's exact answer from a manifest-pruned term-pushed scan -- no re-tokenize in-plan"),
    Op("q136_bm25_incremental", bm25VersionedProbe, Some(bm25IncrementalSql),
      "incrementally-maintained BM25: q138's snapshot -- v1 + q100's hash-diff delta applied via Bm25Index.updateFromVersioned (affected-bucket copy-on-write rewrite, df/dl/stats moved by the delta) -- must serve BM25-over-v2 exactly"),
    Op("q138_bm25_versioned_probe", bm25VersionedProbe,
      Some(bm25IncrementalSql),
      "BM25 through the VersionedTable manifest layer: atomic v1 publish, copy-on-write delta (postings+stats as ONE snapshot), compaction, vacuum -- then q133's query served off the committed manifest with literal-path bucket pruning; must equal BM25-over-v2"),
    Op("q148_bm25_graftvt_probe", bm25GraftVtProbe,
      Some(bm25IncrementalSql),
      "q138 re-served through spark.read.format(\"graftvt\") (DSv1 relation over the manifest resolve: versionAsOf pinning, bucket-IN -> literal dir selection, stats extra via the format) -- the interop surface must be answer-invariant, same oracle as q138"),
    Op("q139_batch_bm25_index_probe", batchBm25IndexProbe,
      Some(bm25BatchSql),
      "batched BM25 artifact serving: 3-query battery (overlapping vocabulary) against the q134 posting-list snapshot (Bm25Index.probeBatchVersioned) in ONE union-bucket-pruned scan -- broadcast (q_id, w, mult) block, shared postings scored once per query, map-side WindowGroupLimit per-query top-20"),
    Op("q142_hybrid_rrf", hybridRrf, Some(hybridRrfSql),
      "hybrid retrieval via Reciprocal Rank Fusion (k0=60, Cormack et al. 2009): BM25 top-20 served off the q134 snapshot fused with exact-cosine top-20 (q40's one-query batch plan, its rank the channel rank) in rank space (no score calibration across channels); full-outer fuse over frontier-sized channel answers, nullable per-channel ranks, 6dp RRF + doc_id tiebreak"),
    Op("q64_stratified_sample", stratifiedSample, Some(stratifiedSampleSql),
      "deterministic hash-mod stratified sampling per language"),
    Op("q65_quality_funnel", qualityFunnel, Some(qualityFunnelSql),
      "curation funnel: length/token/token-length filters + exact dedup counts"),
    Op("q66_length_histogram", lengthHistogram, Some(lengthHistogramSql),
      "corpus length histogram, 200-char integer buckets"),
    Op("q68_repetition_quality", repetitionQuality, Some(repetitionQualitySql),
      "Gopher-style repetition signals: top-word char fraction, dup-trigram fraction"),
    Op("q69_contamination", contamination, Some(contaminationSql),
      "benchmark-contamination check via distinct 8-gram overlap join"),
    Op("q70_training_mix", trainingMix, Some(trainingMixSql),
      "training-mix budget: per-(lang,source) token shares + cumulative + cap flag"),
    Op("q71_sequence_packing", sequencePacking, Some(sequencePackingSql),
      "greedy 2048-token sequence-packing plan per lang shard"),
    Op("q72_dup_rate_by_source", dupRateBySource, Some(dupRateBySourceSql),
      "exact-duplicate rate per source (source-quality ranking)"),
    Op("q73_pii_scrub", piiScrub, Some(piiScrubSql),
      "PII redaction: email/phone/IP counts + zero-residual scrub proof"),
    Op("q75_trigram_lm_score", trigramLmScore, Some(trigramLmScoreSql),
      "char-trigram LM surprisal per (lang, source) — the perplexity quality filter"),
    Op("q90_chunk_plan", chunkPlan, Some(chunkPlanSql),
      "sliding-window RAG chunking: 32-token chunks, 24-token stride, span + exact char accounting"),
    Op("q89_quality_deciles", qualityDeciles, Some(qualityDecilesSql),
      "per-source quality deciles (ntile over total order): doc counts + char ranges, integer-exact"),
    Op("q87_mixture_weights", mixtureWeights, Some(mixtureWeightsSql),
      "temperature (alpha=0.7) sampling weights per (lang,source): natural share, adjusted share, boost"),
    Op("q83_normalize_text", normalizeText, Some(normalizeTextSql),
      "unicode normalization: NFC + control/zero-width strip + space mapping + ws collapse, byte-count + zero-residual proof"))
}
