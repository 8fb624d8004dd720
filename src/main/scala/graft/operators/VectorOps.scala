package graft.operators

import graft.{GraftSession, Memo, Op, OpCatalog, Tables}
import graft.functions.VectorExpressions
import graft.functions.Rounding.roundVal
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-similarity operators over `embeddings` (SURVEY.md §2.3 E13,
  * E19; north-star similarity search). 64-dim float vectors, 500–2k rows in
  * testdata; the designs below are the ones that survive 100 TB:
  *
  *  - q40 brute-force top-k: broadcast ONE query vector, fused cosine
  *    expression per row, `TakeOrderedAndProject` — a single scan, no
  *    shuffle of the corpus. This is the exact baseline.
  *  - q43 LSH path: precomputable per-row bucket (a plain column → can be a
  *    partition key at scale), search only the query's Hamming ball of
  *    buckets (multi-probe). Probe cost drops to corpus·ball/2^bits;
  *    recall is driver-checked via the law-flag oracle and measured
  *    against q40 in the spec.
  *  - q44 typed Aggregator (UDAF surface): elementwise vector sum per
  *    group — partial-aggregated map-side like any built-in agg.
  */
object VectorOps extends OpCatalog {
  // Declared-oracle contract: vec_id is unique (the table's key) and
  // embeddings are equal-length non-empty vectors; zero-norm vectors get
  // similarity 0.0 by CosineSimilarity's contract (oracles guard the same).


  private def emb(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)

  /** The fixed query vector (vec_id = 0), as a 1-row frame for broadcast. */
  private def queryVec(spark: SparkSession, sfDir: String): DataFrame =
    emb(spark, sfDir).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))

  /** The vec_id-0 query as the one-query batch `(q_id = 0, q_emb)`:
    * every single-query ranking (q40, the single-query ANN laws, q142's
    * vector channel) runs the batch plans over it. vec_id is the
    * table's key, so the batch holds one `q_id`, and the frontier plans
    * as `TakeOrderedAndProject` ([[IndexMaintenance.topKPerQuery]]). */
  private[graft] def oneQuery(e: DataFrame): DataFrame =
    e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  // ---------------------------------------------------------------- q40
  /** Brute-force cosine top-k vs vec_id 0 (E13): q122's
    * [[batchCosineTopKOf]] over the one-query batch, answered as
    * (vec_id, sim). Exact; oracle-checked. Sims are rounded to 4dp with
    * a vec_id tiebreak so the top-k frontier is deterministic in both
    * engines. */
  def cosineTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    batchCosineTopKOf(e.filter(col("vec_id") =!= 0), oneQuery(e),
        nQueries = 1, k = 10)
      .select(col("vec_id"), col("sim"))
  }

  // ------------------------------------------------ single-query ANN laws
  /** Declared output of the single-query ANN queries (q43/q45/q117/
    * q118/q131/q132/q140): [[batchAnnLawFrame]] over the one-query batch
    * of `e` ([[oneQuery]]) against `corpus`, k = 10, `minHits` of the
    * exact top-10 as the recall floor, answered in the single query's
    * (vec_id, score, recall_ok, score_ok) shape. `served` is the ANN
    * answer (vec_id, score, …), None when there is no query vector or
    * nothing to index. The floors are per-query constants measured on
    * the deterministic fixtures with margin (the fixture embeddings are
    * near-iid — ANN's adversarial case, where recall ≈ scanned fraction
    * because there is no cluster structure to exploit — so they are
    * tripwires for the machinery breaking, not quality SLAs;
    * [[AnnParams]] documents how the probe widths are derived). The
    * engine's actual ANN answer stays available through the factored
    * cores (specs pin their serving plans and planted-cluster recalls);
    * this wrapper is what makes the family driver-checked instead of
    * trust-the-spec. */
  private def annLaw(corpus: DataFrame, e: DataFrame,
      served: Option[DataFrame], minHits: Int, l2: Boolean): DataFrame = {
    val q = oneQuery(e)
    val (exact, score, scoreOf) =
      if (l2) (batchL2ScoredOf(corpus, q), "l2", l2Score _)
      else (batchCosineScoredOf(corpus, q), "sim", cosineScore _)
    batchAnnLawFrame(exact, served.map(_.withColumn("q_id", lit(0L))),
        nQueries = 1, k = 10, minHits, batchFlagExact(corpus, q, scoreOf),
        score, asc = l2)
      .select(col("vec_id"), col(score), col("recall_ok"), col("score_ok"))
  }

  /** The exact scores every ANN answer and law is held to: cosine and
    * squared L2 of a corpus embedding against a query, rounded to 4dp
    * (both engines round the same way, so frontiers tie-break alike). */
  private def cosineScore(e: Column, q: Column): Column =
    roundVal(VectorExpressions.cosineSimilarity(e, q), 4)

  private def l2Score(e: Column, q: Column): Column = roundVal(sqDist(e, q), 4)

  private val cosineTopKSql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |prods AS (
      |  SELECT e.vec_id,
      |    CAST(unnest(e.embedding) AS DOUBLE) AS v,
      |    CAST(unnest(q.qe) AS DOUBLE) AS w
      |  FROM embeddings e, q WHERE e.vec_id <> 0),
      |sims AS (
      |  SELECT vec_id, sum(v * w) AS dot, sum(v * v) AS na, sum(w * w) AS nq
      |  FROM prods GROUP BY vec_id)
      |SELECT vec_id,
      |  CASE WHEN na = 0 OR nq = 0 THEN 0.0
      |       ELSE floor((dot / sqrt(na * nq)) * 1e4 + 0.5) / 1e4 END AS sim
      |FROM sims
      |ORDER BY sim DESC, vec_id
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q80
  /** Hybrid filtered vector search — the retrieval pattern every RAG /
    * curation stack runs: a METADATA predicate (here: substantial
    * documents, `n_chars >= 300`) restricts the candidate set BEFORE the
    * similarity ranking, via the documents↔embeddings key join. Pure
    * vector search (q40) ranks the whole corpus; the hybrid form ranks
    * only qualifying rows — at 100 TB the predicate prunes at the parquet
    * scan (`PushedFilters` on n_chars) so the expensive cosine never runs
    * on filtered-out rows, the doc→embedding equi-join shuffles ids+
    * vectors once (broadcast at small SF, SMJ at scale — result is
    * strategy-independent), the ONE query vector broadcasts, and top-k is
    * `TakeOrderedAndProject` (per-partition frontier, no global sort). */
  def filteredCosineTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val good = Tables.documents(spark, sfDir)
      .filter(col("n_chars") >= 300)
      .select(col("doc_id").as("vec_id"), col("lang"))
    emb(spark, sfDir).filter(col("vec_id") =!= 0)
      .join(good, "vec_id")
      .crossJoin(broadcast(queryVec(spark, sfDir)))
      .select(col("vec_id"), col("lang"),
        roundVal(VectorExpressions.cosineSimilarity(col("embedding"), col("q_emb")), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  private val filteredCosineTopKSql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |good AS (
      |  SELECT doc_id AS vec_id, lang FROM documents WHERE n_chars >= 300),
      |prods AS (
      |  SELECT e.vec_id, g.lang,
      |    CAST(unnest(e.embedding) AS DOUBLE) AS v,
      |    CAST(unnest(q.qe) AS DOUBLE) AS w
      |  FROM embeddings e JOIN good g ON e.vec_id = g.vec_id, q
      |  WHERE e.vec_id <> 0),
      |sims AS (
      |  SELECT vec_id, lang,
      |    sum(v * w) AS dot, sum(v * v) AS na, sum(w * w) AS nq
      |  FROM prods GROUP BY vec_id, lang)
      |SELECT vec_id, lang,
      |  CASE WHEN na = 0 OR nq = 0 THEN 0.0
      |       ELSE floor((dot / sqrt(na * nq)) * 1e4 + 0.5) / 1e4 END AS sim
      |FROM sims
      |ORDER BY sim DESC, vec_id
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q41
  /** Per-label L2-norm stats: posexplode-free elementwise aggregate via
    * higher-order functions; doubles rounded at 4dp. */
  def vectorNorms(spark: SparkSession, sfDir: String): DataFrame = {
    emb(spark, sfDir)
      .withColumn("norm", sqrt(expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        roundVal(avg(col("norm")), 4).as("avg_norm"),
        roundVal(min(col("norm")), 4).as("min_norm"),
        roundVal(max(col("norm")), 4).as("max_norm"))
      .orderBy(col("label"))
  }

  private val vectorNormsSql =
    """SELECT label, count(*) AS n_vecs,
      |  floor((avg(norm)) * 1e4 + 0.5) / 1e4 AS avg_norm,
      |  floor((min(norm)) * 1e4 + 0.5) / 1e4 AS min_norm,
      |  floor((max(norm)) * 1e4 + 0.5) / 1e4 AS max_norm
      |FROM (
      |  SELECT label, sqrt(sum(v * v)) AS norm FROM (
      |    SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v
      |    FROM embeddings)
      |  GROUP BY vec_id, label)
      |GROUP BY label
      |ORDER BY label""".stripMargin

  // ---------------------------------------------------------------- q42
  /** Centroid spread per label: two-stage elementwise aggregation —
    * posexplode to (label, dim) means, rebuild centroids, then mean member
    * distance to own centroid. The all-pairs-free way to measure cluster
    * tightness (linear, two shuffles: by (label,pos), by label). */
  def centroidSpread(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val dims = e.select(col("vec_id"), col("label"),
      posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("v", col("v").cast("double"))
    val centroids = dims.groupBy(col("label"), col("pos"))
      .agg(avg(col("v")).as("c"))
    dims.join(centroids, Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sqrt(sum((col("v") - col("c")) * (col("v") - col("c"))))
        .as("dist"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        roundVal(avg(col("dist")), 4).as("avg_dist"),
        roundVal(max(col("dist")), 4).as("max_dist"))
      .orderBy(col("label"))
  }

  private val centroidSpreadSql =
    """WITH dims AS (
      |  SELECT vec_id, label,
      |    generate_subscripts(embedding, 1) AS pos,
      |    CAST(unnest(embedding) AS DOUBLE) AS v
      |  FROM embeddings),
      |cents AS (SELECT label, pos, avg(v) AS c FROM dims GROUP BY label, pos),
      |dists AS (
      |  SELECT d.vec_id, d.label, sqrt(sum((d.v - cents.c) * (d.v - cents.c))) AS dist
      |  FROM dims d JOIN cents ON d.label = cents.label AND d.pos = cents.pos
      |  GROUP BY d.vec_id, d.label)
      |SELECT label, count(*) AS n_vecs,
      |  floor((avg(dist)) * 1e4 + 0.5) / 1e4 AS avg_dist,
      |  floor((max(dist)) * 1e4 + 0.5) / 1e4 AS max_dist
      |FROM dists
      |GROUP BY label
      |ORDER BY label""".stripMargin

  /** Corpus row count for parameter derivation — one row-group-metadata
    * count job, memoized per (session, table) alongside the frames Memo
    * already keeps so repeated ANN calls don't re-count. */
  private def corpusSize(spark: SparkSession, sfDir: String): Long =
    Memo.cached(spark, s"vectorops:corpus_size:$sfDir") {
      import spark.implicits._
      Seq(emb(spark, sfDir).count()).toDF("n")
    }.head().getLong(0)

  // Driver-checked recall floors (hits of the exact top-10) for the ANN
  // law flags — measured on the deterministic fixtures in round 8
  // (hits at sf0.001/sf0.01/sf0.1: q43 4/4/6, q45 6/8/7, q117 9/9/10,
  // q118 6/8/8) and set one below the measured minimum (the fixtures are
  // deterministic, so a floor breach means the machinery changed, not
  // noise). See [[annLaw]] for why the floors are modest: near-iid
  // fixture vectors make recall ≈ scanned fraction.
  private val lshRecallFloorHits = 3
  private val ivfRecallFloorHits = 5
  private val pqRecallFloorHits = 8
  private val ivfadcRecallFloorHits = 5
  /** q135's AGGREGATE floor: total exact-top-5 hits across the whole
    * 8-query batch (40 possible) — measured 31/31/26 at
    * sf0.001/0.01/0.1 (quarter-cell probes on near-iid fixtures;
    * per-query hits range 2–5 — queries 1–7 sit in the corpus so their
    * own cells are probed first, while the tail rides the iid note
    * above), floored with margin at half the measured minimum. */
  private val batchIvfRecallFloorHits = 13

  // ---------------------------------------------------------------- q43
  /** ANN via multi-probe random-hyperplane LSH (E13 scale path): a
    * deterministic sign-bit bucket per vector (a precomputable partition
    * key at scale), exact cosine within the query's Hamming-ball of
    * buckets. The bucket width is DERIVED from the corpus size
    * ([[AnnParams.lshBits]]: 2^bits ≈ n/40, so a single bucket averages
    * ~4× a top-10 frontier regardless of corpus scale), and the probe
    * ball radius from the bucket-space fraction it covers
    * ([[AnnParams.lshProbeRadius]] — multi-probe LSH, Lv et al. VLDB
    * 2007: neighbors missing the query's exact bucket land overwhelmingly
    * in buckets a few bit-flips away, so probing the Hamming ball buys
    * recall without more hash tables). At scale `bucket` is a partition
    * key and the ball membership IS partition pruning. The 1-row collect
    * fetches the query's bucket + vector (the sanctioned query-vector
    * collect), making the probe predicate a plan literal; None when the
    * corpus holds no query vector. */
  private[graft] def annLshCore(spark: SparkSession,
      sfDir: String): Option[DataFrame] = {
    val bits = AnnParams.lshBits(corpusSize(spark, sfDir))
    val bucketed = emb(spark, sfDir)
      .withColumn("bucket",
        VectorExpressions.hyperplaneBucket(col("embedding"), bits))
    val qRow = bucketed.filter(col("vec_id") === 0)
      .select(col("bucket"), col("embedding")).limit(1).collect().headOption
    qRow.map { r =>
      val probe = AnnParams.hammingBall(r.getInt(0), bits,
        AnnParams.lshProbeRadius(bits))
      val qv = r.getSeq[Float](1).toArray
      bucketed.filter(col("vec_id") =!= 0)
        .filter(col("bucket").isin(probe: _*))
        .select(col("vec_id"),
          cosineScore(col("embedding"), typedlit(qv)).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
    }
  }

  /** Declared q43: [[annLaw]] over [[annLshCore]] — exact cosine
    * top-10 rows + the LSH answer's score/recall law flags. */
  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    annLaw(e.filter(col("vec_id") =!= 0), e, annLshCore(spark, sfDir),
      lshRecallFloorHits, l2 = false)
  }

  private val cosineLawSql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |prods AS (
      |  SELECT e.vec_id,
      |    CAST(unnest(e.embedding) AS DOUBLE) AS v,
      |    CAST(unnest(q.qe) AS DOUBLE) AS w
      |  FROM embeddings e, q WHERE e.vec_id <> 0),
      |sims AS (
      |  SELECT vec_id, sum(v * w) AS dot, sum(v * v) AS na, sum(w * w) AS nq
      |  FROM prods GROUP BY vec_id)
      |SELECT vec_id,
      |  CASE WHEN na = 0 OR nq = 0 THEN 0.0
      |       ELSE floor((dot / sqrt(na * nq)) * 1e4 + 0.5) / 1e4 END AS sim,
      |  TRUE AS recall_ok, TRUE AS score_ok
      |FROM sims
      |ORDER BY sim DESC, vec_id
      |LIMIT 10""".stripMargin

  private val l2LawSql =
    """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |prods AS (
      |  SELECT e.vec_id,
      |    CAST(unnest(e.embedding) AS DOUBLE) AS v,
      |    CAST(unnest(q.qe) AS DOUBLE) AS w
      |  FROM embeddings e, q WHERE e.vec_id <> 0),
      |d AS (
      |  SELECT vec_id, floor((sum((v - w) * (v - w))) * 1e4 + 0.5) / 1e4 AS l2
      |  FROM prods GROUP BY vec_id)
      |SELECT vec_id, l2, TRUE AS recall_ok, TRUE AS score_ok
      |FROM d
      |ORDER BY l2 ASC, vec_id
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q44
  /** Typed `Aggregator` UDAF (E19): elementwise vector sum per label via
    * `graft.functions.VectorSumAggregator`, then the L2 norm of each label's
    * summed vector. Oracle-checked — the aggregator's double accumulation
    * differs from DuckDB's only at ~1e-12, far below the 4dp rounding. */
  def vectorSumAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val vecSum = udaf(graft.functions.VectorSumAggregator)
    emb(spark, sfDir)
      .groupBy(col("label"))
      .agg(vecSum(col("embedding")).as("vsum"), count(lit(1)).as("n_vecs"))
      .select(col("label"), col("n_vecs"),
        roundVal(sqrt(expr(
          "aggregate(vsum, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)")), 4)
          .as("sum_vec_norm"))
      .orderBy(col("label"))
  }

  private val vectorSumAggSql =
    """WITH sums AS (
      |  SELECT label, pos, sum(v) AS s FROM (
      |    SELECT vec_id, label,
      |      generate_subscripts(embedding, 1) AS pos,
      |      CAST(unnest(embedding) AS DOUBLE) AS v
      |    FROM embeddings)
      |  GROUP BY label, pos),
      |counts AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
      |SELECT sums.label, n_vecs, floor((sqrt(sum(s * s))) * 1e4 + 0.5) / 1e4 AS sum_vec_norm
      |FROM sums JOIN counts ON sums.label = counts.label
      |GROUP BY sums.label, n_vecs
      |ORDER BY sums.label""".stripMargin

  // ---------------------------------------------------------------- q45
  /** A ≤k-row codebook `(cell, centroid)` as driver literals, by cell. */
  private def collectCodebook(cents: DataFrame): Seq[(Int, Array[Float])] =
    cents.select(col("cell"), col("centroid")).orderBy(col("cell")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toSeq

  /** `e` with `pos`, the position in `cb` of each vector's nearest
    * centroid ([[VectorExpressions.NearestCentroid]]), rows without one
    * left out. Filter before any lookup by `pos`: ANSI `element_at` over
    * a literal array claims to be non-null, so a later `isNotNull` on
    * the looked-up value would be optimized away. */
  private def withNearest(e: DataFrame, cb: Seq[(Int, Array[Float])],
      metric: VectorExpressions.Metric): DataFrame =
    e.withColumn("pos", VectorExpressions.nearestCentroid(col("embedding"),
        cb.map(_._2).toArray, metric))
      .filter(col("pos").isNotNull)

  /** Assign each vector to its nearest codebook centroid by cosine, the
    * lowest cell taking a tie ([[VectorExpressions.NearestCentroid]] over
    * the codebook's driver literals: map-only). Returns
    * `(vec_id, cell, embedding)`; a vector with no cell (a null or
    * off-width embedding, or an empty codebook) is left out. */
  private[graft] def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    assignCellsOf(e, collectCodebook(cents))

  private def assignCellsOf(e: DataFrame,
      cb: Seq[(Int, Array[Float])]): DataFrame =
    withNearest(e, cb, VectorExpressions.Cosine)
      .select(col("vec_id"),
        element_at(typedlit(cb.map(_._1)), col("pos") + 1).as("cell"),
        col("embedding"))

  /** The embedding width most rows share (the narrower on a tie) and
    * that width's lowest-`vec_id` row `(vec_id, embedding)`; None when no
    * row has an embedding. Training takes its width from here, so a few
    * null or off-width rows can neither set it nor become a seed. */
  private[graft] def modalWidth(e: DataFrame): Option[(Int, Row)] =
    e.filter(col("embedding").isNotNull)
      .groupBy(size(col("embedding")).as("w"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("vec_id").cast("long"), col("embedding"))).as("first"))
      .orderBy(col("n").desc, col("w")).limit(1).collect().headOption
      .map(r => (r.getInt(0), r.getStruct(2)))

  /** Deterministic farthest-point (k-center greedy) seeding for the Lloyd
    * iterations: seed 0 is `first` (the lowest vec_id); each next seed is
    * the vector with the SMALLEST max-cosine to the seeds chosen so far
    * (lowest-id tiebreak). RNG-free and spread-out — naive "first k ids"
    * seeding collapses when those ids happen to share a cluster, and
    * k-means++ needs randomness. Each round is one map-only pass
    * (`greatest` of the cosines to the seed literals) into a global
    * top-1: k−1 passes, the offline training cost IVF always pays.
    * Returns `(vec_id, embedding)` rows. */
  private def farthestPointSeeds(corpus: DataFrame, k: Int,
      first: Row): Seq[Row] = {
    var seeds = Vector(first)
    while (seeds.size < k) {
      val cosines = seeds.map(s => VectorExpressions.cosineSimilarity(
        col("embedding"), typedlit(s.getSeq[Float](1))))
      val closeness =
        if (cosines.size == 1) cosines.head else greatest(cosines: _*)
      seeds :+= corpus.orderBy(closeness.asc, col("vec_id").asc)
        .select(col("vec_id").cast("long"), col("embedding")).head()
    }
    seeds
  }

  /** Deterministic pseudo-random seeding for LARGE k: the k lowest
    * `xxhash64(vec_id)` ranks — ONE top-k pass regardless of k.
    * Farthest-point seeding is quality-optimal but costs k−1 sequential
    * corpus passes; at the √n-derived cell counts ([[AnnParams.ivfCells]])
    * that pass count itself becomes the bottleneck (k=45 at the 2k
    * fixture, k=10⁴+ at real corpora), so beyond a small k the standard
    * compromise is a spread pseudo-random sample refined by the Lloyd
    * iterations — the same reasoning as k-means|| oversampling, minus
    * the RNG (the hash is the fixed "randomness"). Returns
    * `(vec_id, embedding)` rows. */
  private def hashSeeds(e: DataFrame, k: Int): Seq[Row] =
    e.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
      .select(col("vec_id").cast("long"), col("embedding")).collect().toSeq

  /** Seeds numbered as cells: ordered by vec_id, cell = position. */
  private def seedCells(seeds: Seq[Row]): Seq[(Int, Array[Float])] =
    seeds.sortBy(_.getLong(0)).zipWithIndex
      .map { case (r, cell) => (cell, r.getSeq[Float](1).toArray) }

  /** One Lloyd update: the per-position mean of the assigned rows
    * `(keys…, pos, v)`, collected as `(keys…, centroid)` per non-empty
    * group. The sums combine map-side, so the exchange carries ~k·dim
    * partial sums, not the corpus. */
  private def lloydMeans(assigned: DataFrame, keys: String*): Array[Row] =
    assigned.groupBy((keys :+ "pos").map(col): _*)
      .agg(avg(col("v")).as("c"))
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("pos"), col("c"))))
        .getField("c").cast("array<float>").as("centroid"))
      .collect()

  /** Trained IVF coarse codebook `(cell, centroid)`: deterministic
    * seeding then `iters` Lloyd iterations — no RNG anywhere, ties in
    * assignment break to the lowest cell, independent of any label
    * column. Null and off-width embeddings ([[modalWidth]]) are left out
    * before seeding. Seeding is farthest-point for small k (k−1 passes,
    * spread-optimal) and the one-pass [[hashSeeds]] sample above it. The
    * codebook stays on the driver between rounds: each round is one
    * map-only assignment pass and one [[lloydMeans]] update. A round can
    * empty a cell (no vector assigns to it); empty cells drop, so the
    * result has ≤ k rows and callers probe whatever cells exist. */
  private[graft] def ivfCodebook(e: DataFrame, k: Int, iters: Int): DataFrame = {
    val base = e.filter(col("vec_id") =!= 0)
    val modal = modalWidth(base)
    // spread before the assignment passes (guide §2.5): each Lloyd round
    // computes n×k cosines, and the single-row-group fixture scan would
    // hand every round's whole pass to ONE task
    val corpus = GraftSession.spread(
      base.filter(size(col("embedding")) === modal.fold(0)(_._1)),
      col("vec_id"))
    var cb = seedCells(modal.fold(Seq.empty[Row]) { case (_, first) =>
      if (k <= 16) farthestPointSeeds(corpus, k, first)
      else hashSeeds(corpus, k)
    })
    for (_ <- 0 until iters if cb.nonEmpty)
      cb = lloydMeans(assignCellsOf(corpus, cb)
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v"))),
          "cell")
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
        .toSeq
    import e.sparkSession.implicits._
    cb.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "centroid")
  }

  /** ANN via IVF coarse quantization (E13 alternate scale path): a TRAINED
    * k-means codebook (seeded Lloyd iterations, [[ivfCodebook]] — no
    * dependence on the label column) with the cell count DERIVED from the
    * corpus ([[AnnParams.ivfCells]]: nlist ≈ √n, the FAISS sizing rule —
    * 45 cells at the 2k fixture, not the round-4 fixed 8); the query
    * probes its [[AnnParams.ivfProbeCells]] nearest centroids (≈ nlist/4
    * at fixture sizes, capped at 64 absolute) and searches only those
    * cells. Deterministic; spec checks exactness within the probed cells
    * and recall vs brute force. At scale the corpus is PARTITIONED BY
    * cell — the probe reads nprobe/nlist of the data (partition pruning),
    * vs q43's hash-bucket route; training is the once-per-corpus offline
    * step IVF always pays ([[IvfIndex]] materializes it as a parquet
    * artifact so serving probes never train), and the codebook (k·dim
    * floats) broadcasts. */
  private[graft] def annIvfCore(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val k = AnnParams.ivfCells(corpusSize(spark, sfDir))
    val cents = Memo.cached(spark, s"vectorops:ivf_codebook:$sfDir:k=$k") {
      ivfCodebook(e, k, iters = 3)
    }
    // spread the serving corpus before the n×k assignment pass (guide
    // §2.5 — the single-task-scan fix; the artifact path's cell-
    // partitioned reads arrive pre-split and stay unspread)
    ivfProbe(graft.GraftSession.spread(
        e.filter(col("vec_id") =!= 0), col("vec_id")),
      queryVec(spark, sfDir), cents,
      AnnParams.ivfProbeCells(k))
  }

  /** Declared q45: [[annLaw]] over [[annIvfCore]] — exact cosine
    * top-10 rows + the IVF answer's score/recall law flags. */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    annLaw(e.filter(col("vec_id") =!= 0), e, Some(annIvfCore(spark, sfDir)),
      ivfRecallFloorHits, l2 = false)
  }

  /** Pure IVF probe against an already-trained codebook: the `nProbe`
    * nearest centroids to the query (≤k rows, in-plan top-n), then exact
    * cosine top-10 within those cells only — the declared q45's serving
    * plan over its session-memoized codebook; training never rides in
    * THIS plan. ([[IvfIndex]] serves through its own batch plan.) */
  private[graft] def ivfProbe(corpus: DataFrame, q: DataFrame,
      cents: DataFrame, nProbe: Int = 1): DataFrame = {
    val bestCells = cents.crossJoin(broadcast(q))
      .select(col("cell"),
        VectorExpressions.cosineSimilarity(col("centroid"), col("q_emb")).as("csim"))
      .orderBy(col("csim").desc, col("cell"))
      .limit(nProbe)
      .select(col("cell"))
    assignCells(corpus, cents)
      .join(broadcast(bestCells), "cell")
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        roundVal(VectorExpressions.cosineSimilarity(col("embedding"), col("q_emb")), 4)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  // ---------------------------------------------------------------- q46
  /** Embedding-cosine near-dup pairs (north-star dedup variant): exact
    * all-pairs cosine >= 0.5 with id ordering, over a BOUNDED deterministic
    * slice (`vec_id < 1000` on both sides). The all-pairs form is
    * inherently n² (BroadcastNestedLoopJoin) — it exists as the exact
    * baseline and the recall oracle for q48's banded-LSH blocked variant,
    * which is the path that survives 100 TB. The id bound caps the declared
    * query's cost at ~500k cosine evals REGARDLESS of corpus size, so no
    * full-corpus nested-loop join ships in `SparkEntry.queries`; specs that
    * need the unbounded exact answer (q48 recall) call [[exactPairs]]
    * directly on the corpora they plant. */
  def embeddingNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    exactPairs(declaredSlice(spark, sfDir, "q46"), threshold = 0.5)
  }

  /** Rows the bounded baselines' `vec_id < 1000` slice ignores, and the
    * corpus total — ONE pushed-filter count per (session, table),
    * memoized. (First attempt used `Dataset.observe` metrics riding the
    * scan, but AQE's empty-relation propagation replaces a 0-row join
    * with `EmptyRelationExec`, and the CollectMetrics node — with its
    * accumulator — vanishes from the final plan exactly when q46 finds
    * no pairs; an explicit audit count cannot be optimized away.) */
  private[graft] def declaredSliceOverflow(spark: SparkSession,
      sfDir: String): (Long, Long) = {
    val row = Memo.cached(spark, s"vectorops:slice_overflow:$sfDir") {
      emb(spark, sfDir).select(
        // coalesce: SUM over an EMPTY corpus is NULL, and getLong on it
        // throws — an empty embeddings table must audit as (0, 0), not
        // crash the query (EmptyCorpusSpec sweeps exactly this)
        coalesce(sum(when(col("vec_id") >= 1000, 1L).otherwise(0L)), lit(0L))
          .as("beyond"),
        count(lit(1)).as("total"))
    }.head()
    (row.getLong(0), row.getLong(1))
  }

  /** The bounded baselines' corpus slice — the declared `vec_id < 1000`
    * cap must never be a silent one: every q46/q78 declaration audits
    * how many rows the slice ignores and says so on the engine log
    * (WARN), pointing at q93 — the declared query that covers the full
    * corpus. The audit count is memoized, so the signal costs one small
    * aggregate per session, not one per execution. */
  private def declaredSlice(spark: SparkSession, sfDir: String,
      name: String): DataFrame = {
    val (beyond, total) = declaredSliceOverflow(spark, sfDir)
    if (beyond > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$name: declared slice vec_id < 1000 ignores $beyond of $total " +
          "corpus rows (bounded exact baseline by design); " +
          "q93_semantic_dedup_lsh covers the unbounded corpus")
    emb(spark, sfDir).filter(col("vec_id") < 1000)
  }

  /** Exact all-pairs cosine near-dup core over any (vec_id, embedding)
    * frame — q46's body, reusable by specs at other thresholds/corpora. */
  def exactPairs(e: DataFrame, threshold: Double): DataFrame = {
    // spread the STREAM side of the nested-loop join (guide §2.5): the
    // single-row-group fixture scan otherwise evaluates all ~n²/2
    // cosines in one task (q78's bounded slice is ~500k 64-dim sims —
    // measured seconds on one core with 31 idle); the broadcast side
    // stays as read
    val a = graft.GraftSession.spread(
      e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")),
      col("id_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorExpressions.cosineSimilarity(col("emb_a"), col("emb_b")).as("raw"))
      .filter(col("raw") >= threshold)
      .select(col("id_a"), col("id_b"), roundVal(col("raw"), 4).as("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---------------------------------------------------------------- q48
  /** Embedding-cosine near-dup via banded hyperplane-LSH blocking — the
    * 100 TB path that q46's all-pairs baseline is the oracle for. B
    * independent bands of r hyperplane sign bits each (disjoint planes
    * via `planeOffset`); a pair is a candidate iff all r bits agree in at
    * least one band, then candidates get the identical exact-cosine verify
    * as q46. The (B, r) shape is DERIVED from the corpus
    * ([[AnnParams.bandedLsh]]): B inverts the banding recall formula for
    * ≥0.98 recall at the 0.5 threshold and r balances hashing against
    * random-candidate cost — 65×7 at the 2k fixture (the round-4 fixed
    * 8×4 gave ~0.84 recall at the boundary AND its 4-bit bands caught a
    * constant 1/16 of all n² random pairs, which only looked linear
    * because n was small; the first derived shape targeted 0.9 and
    * promptly dropped the sf0.01 fixture's one boundary pair — a declared
    * query gets the high target).
    * Recall at boundary similarity is measured against exact pairs with
    * the derived parameters at two corpus sizes in `ScaleStressSpec`.
    *
    * Scale shape (of the [[lshPairs]] core): the band shuffle moves only
    * (band, bucket, vec_id) — ids, not vectors; candidate pairs are
    * distinct-ed BEFORE the embeddings are joined back (each vector's
    * payload moves once per side of its candidate set, not once per
    * band). Join keys are equi-keys throughout — no nested-loop anywhere,
    * linear in candidates, tunable by (B, r).
    *
    * Declared form (round-8 law-flag oracle): rows are the EXACT pairs
    * over the audited `vec_id < 1000` slice (q46's documented bound — the
    * only place a nested-loop is allowed, and DuckDB-reproducible), and
    * `lsh_found` flags whether the full-corpus banded-LSH path found each
    * one — soundness (lsh ⊆ exact, identical sims) is structural in
    * [[lshPairs]], so the flag column IS the per-pair recall law, and the
    * DuckDB twin asserts it TRUE. Beyond-slice LSH pairs simply drop from
    * this report (q93 declares the unbounded form with its own oracle);
    * production runs [[lshPairs]] alone. */
  def embeddingNeardupLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val (bands, rowBits) =
      AnnParams.bandedLsh(corpusSize(spark, sfDir), threshold = 0.5)
    val lsh = lshPairs(emb(spark, sfDir), threshold = 0.5,
        bands = bands, bits = rowBits)
      .select(col("id_a"), col("id_b"), lit(true).as("lsh_found"))
    exactPairs(declaredSlice(spark, sfDir, "q48"), threshold = 0.5)
      .join(lsh, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("sim"),
        coalesce(col("lsh_found"), lit(false)).as("lsh_found"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Banded-LSH blocked near-dup core — q48's body, reusable by specs. */
  def lshPairs(e: DataFrame, threshold: Double, bands: Int = 8,
      bits: Int = 4): DataFrame = {
    // spread the corpus scan before the CPU-heavy hashing pass
    // (round-14, guide §2.5): the fixture table is ONE parquet row
    // group, so without it the bands×bits plane dot products for the
    // whole corpus ran in a single task (measured: 2.0 s of q93's
    // 6 s wall on one core while 31 idled); the shuffle moves only
    // (vec_id, embedding) once and is split-count insurance at scale
    val spread = graft.GraftSession.spread(e, col("vec_id"))
    // one fused expression computes every band's bucket in a single pass
    // over the vector (the per-band form re-materialized the float array
    // once per band — 100+× per row at derived shapes); posexplode's
    // position IS the band id, value-identical to the per-band planes
    val keyed = spread.select(col("vec_id"),
      posexplode(VectorExpressions.hyperplaneBands(col("embedding"), bands, bits)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bucket"))
    val cand = keyed.select(col("band"), col("bucket"), col("vec_id").as("id_a"))
      .join(keyed.select(col("band"), col("bucket"), col("vec_id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val verify = cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        VectorExpressions.cosineSimilarity(col("emb_a"), col("emb_b")).as("raw"))
    verify.filter(col("raw") >= threshold)
      .select(col("id_a"), col("id_b"), roundVal(col("raw"), 4).as("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val embeddingNeardupSql =
    """WITH dims AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE vec_id < 1000),
      |lens AS (
      |  SELECT vec_id, len(embedding) AS nd
      |  FROM embeddings WHERE vec_id < 1000),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    sum(a.v * b.v) AS dot, sum(a.v * a.v) AS na, sum(b.v * b.v) AS nb
      |  FROM dims a JOIN dims b ON a.i = b.i AND a.vec_id < b.vec_id
      |  JOIN lens la ON la.vec_id = a.vec_id
      |  JOIN lens lb ON lb.vec_id = b.vec_id AND la.nd = lb.nd
      |  GROUP BY a.vec_id, b.vec_id)
      |SELECT id_a, id_b, floor((dot / sqrt(na * nb)) * 1e4 + 0.5) / 1e4 AS sim
      |FROM pairs
      |WHERE na > 0 AND nb > 0 AND dot / sqrt(na * nb) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** q48's oracle: q46's exact slice pairs + the lsh_found law as TRUE. */
  private val embeddingNeardupLshSql =
    """WITH dims AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE vec_id < 1000),
      |lens AS (
      |  SELECT vec_id, len(embedding) AS nd
      |  FROM embeddings WHERE vec_id < 1000),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    sum(a.v * b.v) AS dot, sum(a.v * a.v) AS na, sum(b.v * b.v) AS nb
      |  FROM dims a JOIN dims b ON a.i = b.i AND a.vec_id < b.vec_id
      |  JOIN lens la ON la.vec_id = a.vec_id
      |  JOIN lens lb ON lb.vec_id = b.vec_id AND la.nd = lb.nd
      |  GROUP BY a.vec_id, b.vec_id)
      |SELECT id_a, id_b, floor((dot / sqrt(na * nb)) * 1e4 + 0.5) / 1e4 AS sim,
      |  TRUE AS lsh_found
      |FROM pairs
      |WHERE na > 0 AND nb > 0 AND dot / sqrt(na * nb) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- q78
  /** Semantic dedup endgame (SemDeDup-shape): embedding-cosine near-dup
    * PAIRS → connected-component CLUSTERS → canonical keep-list — the
    * embedding-graph twin of q60's text-pair clustering, sharing
    * [[GraphOps.connectedComponents]] (alternating large-star/small-star,
    * O(log n) materializing rounds, no driver-side data).
    *
    * Pair source here is the exact bounded all-pairs form (q46's shape,
    * threshold 0.35 so the component structure is non-trivial on the
    * testdata); at 100 TB the pair source swaps to [[lshPairs]] — the
    * banded equi-join path — and the CC stage downstream is IDENTICAL,
    * which is the point of factoring it; [[semanticDedupLsh]] (q93)
    * declares exactly that unbounded form. The `vec_id < 1000` bound caps
    * the declared query's nested-loop cost regardless of corpus size and
    * is observation-metered, never silent ([[declaredSlice]]).
    * Oracle: exact pairs in SQL + a recursive CTE computing the same
    * transitive closure (q60's oracle pattern). */
  def semanticDedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = exactPairs(declaredSlice(spark, sfDir, "q78"), threshold = 0.35)
    GraphOps.connectedComponents(pairs, "id_a", "id_b")
      .select(col("node").as("vec_id"), col("canon").as("canon_id"))
      .orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------- q93
  /** q78's scale-path twin over the UNBOUNDED corpus: the pair source is
    * [[lshPairs]] (banded equi-join blocking, corpus-derived shape at
    * recall target 0.99) instead of the bounded exact nested-loop — the
    * form that actually ships at 100 TB, declared as its own query so no
    * declared entry has to ignore rows beyond the q46/q78 slice. The CC
    * stage downstream is byte-identical to q78's ([[GraphOps]] star
    * rounds), which is the point of the factoring.
    *
    * Oracle (round 8): the exact-source clusters over the FULL corpus —
    * DuckDB computes the unbounded n² pair list + recursive-CTE closure,
    * and the driver hash-compares the LSH-sourced clusters against it.
    * The declared law is therefore CLUSTER-SET EQUALITY with the exact
    * source: the derived 0.999-recall banding can in principle miss a
    * boundary edge, but the CC closure absorbs misses that remain
    * connected via other paths (measured round 8: the one boundary pair
    * the 0.98 shape misses at sf0.1 leaves every component intact), and
    * everything is deterministic — seeded hyperplanes over frozen
    * fixtures — so the compare is stable, and any future parameter or
    * hashing change that DOES break a component fails the driver gate
    * loudly. `VectorOpsSpec` asserts the same equality in-suite. */
  def semanticDedupLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val (bands, rowBits) = AnnParams.bandedLsh(corpusSize(spark, sfDir),
      threshold = 0.35, targetRecall = 0.999)
    val pairs = lshPairs(emb(spark, sfDir), threshold = 0.35,
      bands = bands, bits = rowBits)
    GraphOps.connectedComponents(pairs, "id_a", "id_b")
      .select(col("node").as("vec_id"), col("canon").as("canon_id"))
      .orderBy(col("vec_id"))
  }

  /** q93's oracle: q78's recursive closure WITHOUT the vec_id bound —
    * the exact-source cluster set over the whole corpus. */
  private val semanticDedupLshSql =
    """WITH RECURSIVE dims AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |lens AS (SELECT vec_id, len(embedding) AS nd FROM embeddings),
      |sums AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    sum(a.v * b.v) AS dot, sum(a.v * a.v) AS na, sum(b.v * b.v) AS nb
      |  FROM dims a JOIN dims b ON a.i = b.i AND a.vec_id < b.vec_id
      |  JOIN lens la ON la.vec_id = a.vec_id
      |  JOIN lens lb ON lb.vec_id = b.vec_id AND la.nd = lb.nd
      |  GROUP BY a.vec_id, b.vec_id),
      |pairs AS (
      |  SELECT id_a, id_b FROM sums
      |  WHERE na > 0 AND nb > 0 AND dot / sqrt(na * nb) >= 0.35),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT a AS node, b AS reachable FROM edges
      |  UNION
      |  SELECT r.node, e.b FROM reach r JOIN edges e ON r.reachable = e.a)
      |SELECT node AS vec_id,
      |  CAST(least(node, min(reachable)) AS BIGINT) AS canon_id
      |FROM reach
      |GROUP BY node
      |ORDER BY vec_id""".stripMargin

  private val semanticDedupClustersSql =
    """WITH RECURSIVE dims AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings WHERE vec_id < 1000),
      |lens AS (
      |  SELECT vec_id, len(embedding) AS nd
      |  FROM embeddings WHERE vec_id < 1000),
      |sums AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    sum(a.v * b.v) AS dot, sum(a.v * a.v) AS na, sum(b.v * b.v) AS nb
      |  FROM dims a JOIN dims b ON a.i = b.i AND a.vec_id < b.vec_id
      |  JOIN lens la ON la.vec_id = a.vec_id
      |  JOIN lens lb ON lb.vec_id = b.vec_id AND la.nd = lb.nd
      |  GROUP BY a.vec_id, b.vec_id),
      |pairs AS (
      |  SELECT id_a, id_b FROM sums
      |  WHERE na > 0 AND nb > 0 AND dot / sqrt(na * nb) >= 0.35),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT a AS node, b AS reachable FROM edges
      |  UNION
      |  SELECT r.node, e.b FROM reach r JOIN edges e ON r.reachable = e.a)
      |SELECT node AS vec_id,
      |  CAST(least(node, min(reachable)) AS BIGINT) AS canon_id
      |FROM reach
      |GROUP BY node
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q74
  /** Symmetric int8 quantization audit — THE storage-compression primitive
    * of a 100 TB embedding store (float32 → int8 is 4× fewer bytes on
    * every similarity probe's scan path). Per vector: `scale =
    * max|x|/127`, `q_i = floor(x_i/scale + 0.5)`, reported as the rounded
    * scale, the saturated-element count, and the max absolute
    * reconstruction error — which is ≤ scale/2 by construction, an
    * invariant `VectorOpsSpec` asserts row-by-row.
    *
    * Cross-engine determinism: every arithmetic step stays WITHIN one row
    * (cast f32→f64 exact, IEEE divide/multiply, `floor` exact, `max` over
    * the array order-independent) — no cross-row float accumulation — so
    * both engines compute bit-identical doubles before the single
    * `round(·,6)`. Scale: a pure per-row map; the only shuffle is the
    * output sort. */
  def embeddingQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    emb(spark, sfDir)
      .withColumn("x", expr("transform(embedding, v -> CAST(v AS DOUBLE))"))
      .withColumn("scale",
        expr("array_max(transform(x, v -> abs(v))) / 127.0"))
      .filter(col("scale") > 0) // zero vector has nothing to quantize
      .withColumn("q", expr("transform(x, v -> floor(v / scale + 0.5))"))
      .select(col("vec_id"),
        roundVal(col("scale"), 6).as("scale6"),
        expr("CAST(size(filter(q, v -> abs(v) = 127.0D)) AS BIGINT)")
          .as("n_sat"),
        roundVal(expr(
          "array_max(zip_with(x, q, (a, b) -> abs(a - b * scale)))"), 6)
          .as("max_err6"))
      .orderBy(col("vec_id"))
  }

  private val embeddingQuantizeSql =
    """WITH x AS (
      |  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id, x,
      |    list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale
      |  FROM x),
      |q AS (
      |  SELECT vec_id, x, scale,
      |    list_transform(x, v -> floor(v / scale + 0.5)) AS q
      |  FROM s WHERE scale > 0)
      |SELECT vec_id, floor((scale) * 1e6 + 0.5) / 1e6 AS scale6,
      |  CAST(len(list_filter(q, v -> abs(v) = 127.0)) AS BIGINT) AS n_sat,
      |  floor((list_max(list_transform(range(1, len(x) + 1),
      |    i -> abs(x[i] - q[i] * scale)))) * 1e6 + 0.5) / 1e6 AS max_err6
      |FROM q
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q92
  /** Per-label centroid-outlier audit — the semantic-filter shape
    * (SemDeDup/DataComp family): each vector's cosine to its label
    * centroid, rolled up per label with the most-outlying vector
    * identified. Flags mislabeled/noise embeddings before they poison
    * dedup thresholds or training mixes.
    *
    * Float policy (the q44 argument, one step further): centroid = exact
    * per-dim sum (typed Aggregator, double) / count; the cosine runs
    * entirely IN DOUBLE inside one row via sequential higher-order folds
    * (`zip_with` + `aggregate`) — cross-engine skew is ~1e-15 relative
    * (vs ~1e-6 had the centroid been cast back to float32 for the
    * codegen'd float cosine, which WOULD flap a 4dp rounding across 2k
    * rows). The argmin is a plain `min` over (cos4, vec_id) PACKED into
    * one BIGINT (exact-integer cos4·10⁴ shifted 40 bits + vec_id; see
    * the inline note below) with the id tiebreak (q63's rule) — and
    * being a long-buffered `min`, it partial-aggregates map-side AND
    * stays in HashAggregate (a struct-typed buffer would fall back to
    * SortAggregate); no per-label window over the corpus.
    *
    * Scale: one ≤|labels|-row centroid agg (map-combined) broadcast back,
    * a per-row map for the cosine, one final ≤|labels| agg. */
  def centroidOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val vecSum = udaf(graft.functions.VectorSumAggregator)
    val cents = emb(spark, sfDir)
      .groupBy(col("label"))
      .agg(vecSum(col("embedding")).as("vsum"), count(lit(1)).as("n"))
      .select(col("label"), expr("transform(vsum, s -> s / n)").as("c"))
      // centroid norm is constant per label — computed ONCE here on the
      // ≤|labels|-row frame, not per corpus row (the oracle's nc CTE)
      .withColumn("nc", expr(
        "aggregate(c, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v * v)"))
    val scored = emb(spark, sfDir)
      .join(broadcast(cents), "label")
      .withColumn("x", expr("transform(embedding, v -> CAST(v AS DOUBLE))"))
      .withColumn("dot", expr(
        "aggregate(zip_with(x, c, (a, b) -> a * b), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"))
      .withColumn("nx", expr(
        "aggregate(x, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v * v)"))
      .withColumn("cos",
        when(col("nx") > 0 && col("nc") > 0,
          col("dot") / sqrt(col("nx") * col("nc"))).otherwise(lit(0.0)))
      .withColumn("cos4", roundVal(col("cos"), 4))
    // argmin as min over a PACKED LONG rather than min(struct(...)):
    // a struct-typed agg buffer forces SortAggregate (a per-partition
    // sort of the corpus by label); a long buffer keeps the rollup in
    // HashAggregate. Packing is order-preserving for the lexicographic
    // (cos4, vec_id) order: Rounding.roundKey(cos, 4) IS cos4's exact
    // integer form (cos4 = key/10⁴ by construction), in [-10⁴, 10⁴],
    // shifted left 40 bits and added to vec_id ∈ [0, 2⁴⁰) — arithmetic
    // shift and low-bit mask invert it exactly for either sign. 2⁴⁰ ≈
    // 1.1e12 ids of headroom; an id OUTSIDE that range would silently
    // corrupt both the ordering and the unpacked id, so it raises.
    val packed = when(
      col("vec_id") >= 0 && col("vec_id") < (1L << 40),
      graft.functions.Rounding.roundKey(col("cos"), 4).cast("long") *
        lit(1L << 40) + col("vec_id"))
      .otherwise(raise_error(concat(
        lit("q92 packed argmin requires 0 <= vec_id < 2^40; got "),
        col("vec_id").cast("string"))))
    scored.withColumn("p", packed)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        roundVal(avg(col("cos")), 4).as("avg_cos"),
        min(col("p")).as("p"))
      .select(col("label"), col("n_vecs"), col("avg_cos"),
        expr(s"p & ${(1L << 40) - 1}L").as("outlier_vec_id"),
        (expr("p >> 40").cast("double") / 10000.0).as("outlier_cos"))
      .orderBy(col("label"))
  }

  private val centroidOutliersSql =
    """WITH dims AS (
      |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |cents AS (
      |  SELECT label, i, avg(v) AS c FROM dims GROUP BY label, i),
      |nc AS (SELECT label, sum(c * c) AS nc FROM cents GROUP BY label),
      |scored AS (
      |  SELECT d.vec_id, d.label,
      |    sum(d.v * c.c) AS dot, sum(d.v * d.v) AS nx
      |  FROM dims d JOIN cents c ON d.label = c.label AND d.i = c.i
      |  GROUP BY d.vec_id, d.label),
      |cosv AS (
      |  SELECT s.vec_id, s.label,
      |    CASE WHEN s.nx > 0 AND n.nc > 0
      |         THEN s.dot / sqrt(s.nx * n.nc) ELSE 0.0 END AS cos
      |  FROM scored s JOIN nc n ON s.label = n.label),
      |ranked AS (
      |  SELECT label, vec_id, cos, floor((cos) * 1e4 + 0.5) / 1e4 AS cos4,
      |    row_number() OVER (PARTITION BY label
      |      ORDER BY floor((cos) * 1e4 + 0.5) / 1e4 ASC, vec_id ASC) AS rn
      |  FROM cosv)
      |SELECT c.label, count(*) AS n_vecs,
      |  floor((avg(c.cos)) * 1e4 + 0.5) / 1e4 AS avg_cos,
      |  min(r.vec_id) AS outlier_vec_id,
      |  min(r.cos4) AS outlier_cos
      |FROM cosv c JOIN ranked r ON c.label = r.label AND r.rn = 1
      |GROUP BY c.label
      |ORDER BY c.label""".stripMargin

  // --------------------------------------------------------------- q117
  /** Squared-L2 distance between two float-array columns (PQ's metric,
    * per the paper — cosine stays the metric of the LSH/IVF routes). */
  private[graft] def sqDist(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // null on length mismatch (CosineSimilarity's malformed-input rule):
    // zip_with pads the shorter side with nulls and the sum degraded to
    // null SILENTLY — and every ASC ordering on an L2 score ranks nulls
    // FIRST, so one truncated embedding became the #1 row of a top-k
    // (round-9 review). Consumers filter isNotNull before ranking.
    when(size(a) === size(b),
      aggregate(
        zip_with(a, b, (x, y) => {
          val d = x.cast("double") - y.cast("double"); d * d
        }),
        lit(0.0), (acc, v) => acc + v))

  /** The m positional PQ codes of a vector: per dsub-wide sub-space,
    * the squared-L2 [[VectorExpressions.NearestCentroid]] position in
    * that sub-space's codebook (`cbs(s)`, ordered by cell). Null unless
    * the vector is exactly m·dsub wide. */
  private[graft] def pqCodes(v: Column, cbs: Seq[Array[Array[Float]]],
      dsub: Int): Column =
    when(size(v) === cbs.size * dsub, array(cbs.indices.map(s =>
      VectorExpressions.nearestCentroid(slice(v, s * dsub + 1, dsub), cbs(s),
        VectorExpressions.SquaredL2)): _*))

  /** Product-quantization codebook (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI 2011): m
    * independent k-means codebooks, one per dsub-wide sub-space, trained
    * JOINTLY — every Lloyd round is ONE map-only encode of each vector's
    * m codes ([[pqCodes]] over the driver-held codebooks) and ONE update
    * pass ([[lloydMeans]]) for all m sub-spaces at once, not m sequential
    * trainings. Only rows exactly m·dsub wide train. Seeding is the
    * one-pass [[hashSeeds]] rule (k lowest xxhash64 ids, shared across
    * sub-spaces and numbered by vec_id — each sub-space still gets its
    * own slice of those vectors, and the Lloyd rounds specialize them
    * independently). Deterministic end to end; empty cells drop, so a
    * sub-space may return < k centroids. Output: (sub, cell, centroid). */
  private[graft] def pqCodebook(e: DataFrame, m: Int, dsub: Int, k: Int,
      iters: Int): DataFrame = {
    // spread before the encode passes — same single-task-scan rationale
    // as [[ivfCodebook]] (guide §2.5)
    val corpus = GraftSession.spread(e.filter(col("vec_id") =!= 0 &&
      size(col("embedding")) === m * dsub), col("vec_id"))
    // per sub-space: (cell, centroid) ordered by cell
    var cb: Seq[Seq[(Int, Array[Float])]] = {
      val seeds = seedCells(hashSeeds(corpus, k))
      Seq.tabulate(m)(s => seeds.map { case (cell, v) =>
        (cell, v.slice(s * dsub, (s + 1) * dsub)) })
    }
    for (_ <- 0 until iters if cb.head.nonEmpty) {
      val sub = floor(col("i") / dsub).cast("int")
      // grouped by code (the cell's position), mapped back to its cell id
      val means = lloydMeans(corpus
          .select(pqCodes(col("embedding"), cb.map(_.map(_._2).toArray), dsub)
            .as("codes"), posexplode(col("embedding")).as(Seq("i", "v")))
          .select(sub.as("sub"), element_at(col("codes"), sub + 1).as("code"),
            (col("i") % dsub).as("pos"), col("v")),
        "sub", "code")
      cb = Seq.tabulate(m)(s => means.filter(_.getInt(0) == s).toSeq
        .map(r => (cb(s)(r.getInt(1))._1, r.getSeq[Float](2).toArray))
        .sortBy(_._1))
    }
    import e.sparkSession.implicits._
    (for (s <- 0 until m; (cell, c) <- cb(s)) yield (s, cell, c.toSeq))
      .toDF("sub", "cell", "centroid")
  }

  /** ONE codebook→driver-literal loader for every PQ consumer (in-query
    * q117, IVFADC q118, the artifact probe q131): rows of
    * `(sub, <id>, centroid)` collected into the POSITIONAL map the
    * serving expressions consume — per sub, centroids ordered by the id
    * column ascending. The positional ordering IS the stored-code
    * contract (Lloyd can drop cells, so trained cell ids may be sparse;
    * dense artifact codes may not depend on them) — hand-rolling this
    * per consumer is how the artifact probe could silently decode
    * against a differently-ordered table than the in-query path it is
    * spec-pinned equal to. Bounded by construction: ≤ m·k tiny rows. */
  private[graft] def codebookMap(cb: DataFrame,
      idCol: String): Map[Int, Array[Array[Float]]] =
    cb.select(col("sub"), col(idCol), col("centroid"))
      .orderBy(col("sub"), col(idCol)).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](2).toArray))
      .groupBy(_._1).map { case (s, rows) => s -> rows.map(_._2) }

  /** The query's asymmetric distance table over a loaded codebook:
    * `dt(s)(j) = ||qSub(s) − c_{s,j}||²` — `qSub` yields the query's
    * (or query-residual's, for IVFADC) s-th sub-vector in doubles.
    * Plain driver arithmetic over two bounded literals. */
  private[graft] def adcSqTable(cb: Map[Int, Array[Array[Float]]], m: Int,
      qSub: Int => Array[Double]): Array[Array[Double]] =
    Array.tabulate(m) { s =>
      val qs = qSub(s)
      cb(s).map(c => qs.zip(c).map { case (a, b) =>
        val d = a - b.toDouble; d * d
      }.sum)
    }

  /** ANN top-10 via product quantization with asymmetric distance
    * computation (ADC) — the memory-bound scale path: each vector is
    * represented by m 4-bit codes (m·log₂k = 32 bits here vs 2048 bits
    * raw — 64×), and a query scans CODES, not vectors. Serving shape:
    * the codebook (≤ m·k rows, 128 here — bounded by construction) and
    * the query's per-(sub, cell) distance table become plan literals, so
    * the shortlist stage is ONE map-only pass over the corpus — encode
    * (in-row argmin per sub-space) + table-lookup sum — into a
    * `TakeOrderedAndProject` of the 100 best ADC candidates; an exact-L2
    * re-rank over those 100 rows (the standard ADC + re-rank pair)
    * returns the top-10. Zero joins, zero shuffles at query time. At
    * 100 TB the shortlist plan runs over a stored codes column (32 bits
    * a row) with only the 100 survivors' raw embeddings ever fetched;
    * training is the offline artifact step ([[pqCodebook]], memoized
    * here like q45's). The re-rank budget is the recall/latency knob,
    * sized per corpus ([[AnnParams.adcShortlist]]: ~n/4 at fixture
    * sizes — a FIXED 100 measured recall 0.8 at the 500-vec fixture but
    * 0.4 at 2000, the budget-outgrown failure mode; capped at 4096,
    * vanishing at real scale where IVFADC's cell pruning — q118, §V of
    * the paper — is the recall lever instead).
    * Declared as the law-flag oracle form ([[annLaw]]: exact-L2
    * top-10 ridealong + recall/score flags the DuckDB twin asserts);
    * `VectorOpsSpec` additionally pins recall vs the exact L2 top-10,
    * code-shape invariants, re-partitioning invariance, and the core's
    * zero-exchange serving plan. */
  def pqAdcTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    annLaw(e.filter(col("vec_id") =!= 0), e,
      pqAdcTopKOf(e, spark, memoKey = Some(sfDir)), pqRecallFloorHits,
      l2 = true)
  }

  /** The vec_id-0 query vector as a driver literal — ONE definition for
    * the serving paths (q117/q118/q131/q132/q140 and the exact scorer
    * each hand-rolled this collect; round-9 review). A missing row or a
    * null embedding is no query: None. */
  private def collectQueryVec(e: DataFrame): Option[Array[Float]] =
    e.filter(col("vec_id") === 0)
      .select(col("embedding")).limit(1).collect().headOption
      .flatMap(r => Option(r.getSeq[Float](0))).map(_.toArray)

  /** Core of q117 over any (vec_id, embedding) frame whose dim is a
    * multiple of 8 and whose query vector is vec_id 0, as (vec_id, adc,
    * l2). None when the query vector or a trainable corpus is absent
    * (EmptyCorpusSpec's contract: an empty source yields an empty
    * report, never a crash). */
  private[graft] def pqAdcTopKOf(e: DataFrame, spark: SparkSession,
      memoKey: Option[String]): Option[DataFrame] = {
    val qOpt = collectQueryVec(e)
    if (qOpt.isEmpty) return None
    val dim = qOpt.get.length
    val m = 8
    val dsub = dim / m
    val k = 16
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val cents = memoKey match {
      case Some(sf) => Memo.cached(spark,
        s"vectorops:pq_codebook:$sf:m=$m:k=$k") {
        pqCodebook(e, m, dsub, k, iters = 3)
      }
      case None => pqCodebook(e, m, dsub, k, iters = 3)
    }
    val cb = codebookMap(cents, "cell")
    if (cb.size < m) return None // nothing to train on
    val qv: Array[Float] = qOpt.get
    val dt = adcSqTable(cb, m,
      s => qv.slice(s * dsub, (s + 1) * dsub).map(_.toDouble))
    // in-row encode + lookup, FUSED: one codegen'd expression holding
    // the codebook + distance table as reference objects computes every
    // sub-space argmin (first-minimum = lowest-cell tiebreak) and the
    // table sum in tight primitive loops — m·k separate higher-order
    // columns measured seconds of plan analysis + interpreted lambda
    // dispatch per row
    val cbArr: Array[Array[Array[Float]]] = Array.tabulate(m)(cb(_))
    val adcCol = VectorExpressions.pqAdcScore(col("embedding"), cbArr, dt,
      Array.empty[Float])
    // stage 1 (map-only over codes): ADC shortlist, budget sized per
    // corpus (query row excluded); keyed runs reuse the memoized
    // corpusSize instead of paying a fresh count job per execution
    val budget = AnnParams.adcShortlist(
      memoKey.map(sf => corpusSize(spark, sf) - 1).getOrElse(e.count() - 1))
    val shortlist = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"),
        roundVal(adcCol, 4).as("adc"))
      // PqAdcScore degrades short/malformed vectors to null, and an ASC
      // sort would rank nulls FIRST — drop them before the frontier
      .filter(col("adc").isNotNull)
      .orderBy(col("adc").asc, col("vec_id"))
      .limit(budget)
    // stage 2 (≤budget rows): exact re-rank of the shortlist — the
    // standard ADC + re-rank serving pair; only here do raw embeddings
    // get read, and only the shortlist's
    Some(shortlist
      .select(col("vec_id"), col("adc"),
        l2Score(col("embedding"), typedlit(qv)).as("l2"))
      .orderBy(col("l2").asc, col("vec_id"))
      .limit(10))
  }

  // --------------------------------------------------------------- q118
  /** L2 cell assignment + residual, the IVFADC layout step: nearest
    * coarse centroid by squared L2 (lowest-cell tiebreak), output is the
    * RESIDUAL embedding (x − c_cell) that PQ trains on per §V of the PQ
    * paper. Training-side only; serving re-derives the cell in-row. */
  private def assignCellsL2Residual(e: DataFrame, cents: DataFrame): DataFrame = {
    val cb = collectCodebook(cents)
    withNearest(e, cb, VectorExpressions.SquaredL2)
      .select(col("vec_id"),
        element_at(typedlit(cb.map(_._1)), col("pos") + 1).as("cell"),
        zip_with(col("embedding"),
          element_at(typedlit(cb.map(_._2.toSeq)), col("pos") + 1),
          (x, c) => (x.cast("double") - c.cast("double")).cast("float"))
          .as("embedding"))
  }

  /** ANN top-10 via IVFADC — the composition the 100 TB path actually
    * ships (PQ paper §V; FAISS `IndexIVFPQ`): q45's coarse IVF cells
    * give PARTITION PRUNING (probe n_probe cells, never scan the rest)
    * and q117's PQ codes give 64× in-cell compression, trained on
    * RESIDUALS x − c_cell (residuals concentrate near 0, so one shared
    * PQ codebook quantizes them better than raw vectors). Serving is
    * in-row end to end: cell = argmin over coarse-centroid literals,
    * keep rows whose cell is probed (at scale: the stored layout is
    * bucketed by cell, so this filter IS partition pruning), residual
    * codes = per-sub-space argmin over PQ literals, ADC = per-probed-
    * cell distance-table lookups — zero joins, zero exchanges
    * (spec-pinned), one `TakeOrderedAndProject` shortlist
    * ([[AnnParams.adcShortlist]]-sized), then the exact-L2 re-rank of
    * q117. Coarse (≤ √n, capped 4096) and PQ (m·k) codebooks are both
    * bounded broadcastable artifacts; both trainings are offline steps,
    * memoized here like q45/q117's.
    * Declared as the law-flag oracle form ([[annLaw]]);
    * `VectorOpsSpec` pins planted-cluster recall vs exact L2 and the
    * pruned-candidate fraction on the core. */
  def ivfAdcTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    annLaw(e.filter(col("vec_id") =!= 0), e, ivfAdcTopKCore(spark, sfDir),
      ivfadcRecallFloorHits, l2 = true)
  }

  /** In-query q118 core: probed-cell candidates + shortlist re-rank;
    * None without a query vector or a trainable corpus. */
  private[graft] def ivfAdcTopKCore(spark: SparkSession,
      sfDir: String): Option[DataFrame] =
    ivfAdcCandidates(emb(spark, sfDir), spark, memoKey = Some(sfDir))
      .map { case (cands, qv) =>
        rerank(cands, qv, AnnParams.adcShortlist(corpusSize(spark, sfDir) - 1))
      }

  /** Shortlist + exact re-rank, shared with q117's shape. */
  private[graft] def rerank(cands: DataFrame, qv: Array[Float],
      shortlist: Int = 100): DataFrame =
    cands.orderBy(col("adc").asc, col("vec_id").asc).limit(shortlist)
      .select(col("vec_id"), col("adc"),
        l2Score(col("embedding"), typedlit(qv)).as("l2"))
      .filter(col("l2").isNotNull) // sqDist nulls malformed rows
      .orderBy(col("l2").asc, col("vec_id"))
      .limit(10)

  /** Core of q118: the map-only scored-candidate frame (vec_id, adc,
    * embedding — probed cells only) plus the query vector; `None` when
    * the query vector or a trainable corpus is absent (empty-corpus
    * degrade). Factored so specs can measure the pruned candidate set
    * directly. `nProbe` defaults to the derived cell count
    * ([[AnnParams.ivfProbeCells]] over the trained nlist). */
  private[graft] def ivfAdcCandidates(e: DataFrame, spark: SparkSession,
      memoKey: Option[String], nProbe: Option[Int] = None)
      : Option[(DataFrame, Array[Float])] = {
    val qOpt = collectQueryVec(e)
    if (qOpt.isEmpty) return None
    val dim = qOpt.get.length
    val m = 8
    val dsub = dim / m
    val k = 16
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    // nlist from the query-INCLUDING count — q45/q132/q135's derivation
    // (deriving from the query-filtered frame forked the shared
    // ivf_codebook memo key and the coarse quantizer itself at
    // √-rounding boundary corpus sizes, the exact divergence
    // ivfIndexProbe's comment warns about; round-9 review). Keyed runs
    // reuse the memoized corpusSize instead of a fresh count job.
    val kc = AnnParams.ivfCells(
      memoKey.map(sf => corpusSize(spark, sf)).getOrElse(e.count()))
    def memo(tag: String)(build: => DataFrame): DataFrame = memoKey match {
      case Some(sf) => Memo.cached(spark, s"vectorops:$tag:$sf:m=$m:k=$k") {
        build
      }
      case None => build
    }
    // the coarse codebook is IDENTICAL training to q45's (same function,
    // same √n cell count, same iters) — share its memo key so a session
    // running both pays for one training, like a deployment sharing one
    // IVF artifact across its probe and IVFADC paths
    val coarse = memoKey match {
      case Some(sf) => Memo.cached(spark,
        s"vectorops:ivf_codebook:$sf:k=$kc") {
        ivfCodebook(e, kc, iters = 3)
      }
      case None => ivfCodebook(e, kc, iters = 3)
    }
    val pqc = memo("ivfadc_pq") {
      // materialize the residual frame once: pqCodebook reads its
      // training corpus once per Lloyd round and once to seed, and each
      // read would replay the n×kc residual assignment; spread before
      // that assignment (guide §2.5 single-task-scan fix) so the
      // checkpointed frame stays multi-partition for pqCodebook's passes
      pqCodebook(assignCellsL2Residual(
        graft.GraftSession.spread(e.filter(col("vec_id") =!= 0),
          col("vec_id")),
        coarse).localCheckpoint(), m, dsub, k, iters = 3)
    }
    // both codebooks -> driver literals (bounded: ≤ kc + m·k tiny rows)
    val coarseArr: Array[Array[Float]] =
      collectCodebook(coarse).map(_._2).toArray
    val cb = codebookMap(pqc, "cell")
    if (coarseArr.isEmpty || cb.size < m) return None // nothing to train on
    val qv: Array[Float] = qOpt.get
    def l2(a: Array[Float], b: Array[Float]): Double =
      a.indices.map(i => (a(i).toDouble - b(i)) * (a(i).toDouble - b(i))).sum
    // probe: the nProbe nearest coarse cells to the query (positional
    // ids over the cell-ascending order — same order the in-row argmin
    // sees, so the two agree by construction)
    val np = nProbe.getOrElse(AnnParams.ivfProbeCells(coarseArr.length))
    val probed: Seq[Int] = coarseArr.indices
      .sortBy(j => (l2(qv, coarseArr(j)), j)).take(np)
    // in-row cell assignment: the training-side kernel and law
    val cellCol = VectorExpressions.nearestCentroid(col("embedding"),
      coarseArr, VectorExpressions.SquaredL2)
    // per probed cell: residual codes + that cell's ADC distance table,
    // each one fused PqAdcScore expression (codebook/table/centroid ride
    // as reference objects). ONE scan: the probed-cell predicate and a
    // per-cell CASE over the n_probe score expressions (a union of
    // per-cell filters would re-scan the corpus n_probe times here;
    // with a cell-bucketed layout at scale the same predicate becomes
    // partition pruning and the CASE costs nothing off-cell because
    // rows reach only their own branch)
    val cbArr: Array[Array[Array[Float]]] = Array.tabulate(m)(cb(_))
    def scoreFor(cell: Int): org.apache.spark.sql.Column = {
      val cent = coarseArr(cell)
      // IVFADC's table is over query RESIDUALS vs this coarse cell
      val dt = adcSqTable(cb, m, s =>
        qv.slice(s * dsub, (s + 1) * dsub)
          .zip(cent.slice(s * dsub, (s + 1) * dsub))
          .map { case (a, c) => a.toDouble - c.toDouble })
      VectorExpressions.pqAdcScore(col("embedding"), cbArr, dt, cent)
    }
    val caseScore = probed.foldRight(lit(null).cast("double")) {
      (cell, acc) => when(cellCol === cell, scoreFor(cell)).otherwise(acc)
    }
    val cands = e.filter(col("vec_id") =!= 0)
      .filter(cellCol.isin(probed: _*))
      .select(col("vec_id"), roundVal(caseScore, 4).as("adc"), col("embedding"))
    Some((cands, qv))
  }

  // --------------------------------------------------------------- q131
  /** The one root of the on-disk artifact cache, under `java.io.tmpdir`
    * (read on every call, so a process that moves its tmpdir moves its
    * cache): nothing outside this tree is ever created or deleted. */
  private val ArtifactRoot = "graft_artifacts"

  /** Directory of a per-corpus artifact entry:
    * `<java.io.tmpdir>/graft_artifacts/<family>/<corpus key>/<token>_<fp>`.
    * A fresh JVM finds an entry a previous session built, which is the
    * point: the offline step happens once per corpus, not once per
    * session.
    *
    * The corpus key names the source (`sfDir/sourceFile`, absolute and
    * normalized) unambiguously: a readable tag (the corpus directory's
    * name) and a hash of the whole path, so the key directory holds the
    * entries of exactly one corpus and nothing else. `token` is the
    * family's format/params token ([[PqIndex.formatTag]],
    * [[IvfIndex.formatTag]], [[Bm25Index.formatTag]], …): corpus
    * identity alone would let a change to the index parameters or
    * training recipe silently serve an artifact built by old code.
    * `fp` fingerprints the source's content for BOTH corpus shapes
    * `spark.read.parquet` accepts: a single file (size + mtime) and a
    * Spark-written DIRECTORY — whose own size/mtime do NOT change when a
    * part file is rewritten in place, so directories hash the sorted
    * recursive part-file listing (name, size, mtime) instead. A token
    * bump or a corpus rewrite therefore names a NEW entry beside the
    * superseded one, and [[ensureArtifact]] deletes the superseded one
    * as a sibling once the new entry is installed. */
  private[graft] def artifactDir(family: String, token: String,
      sfDir: String, sourceFile: String = "embeddings.parquet")
      : java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(sfDir, sourceFile).toAbsolutePath.normalize
    val fp =
      if (!Files.exists(src)) "absent"
      else if (Files.isDirectory(src)) {
        // RECURSIVE walk over regular files: a top-level listing missed
        // in-place rewrites inside partition subdirectories (a dir's
        // name/size/mtime only change on entry add/remove), silently
        // serving a stale index for nested corpora (round-9 review)
        val entries = Files.walk(src)
        val listing =
          try entries.toArray.map(_.asInstanceOf[java.nio.file.Path])
            .filter(p => Files.isRegularFile(p))
            .map(p => src.relativize(p).toString)
            .filterNot(_.split('/').exists(seg =>
              seg.startsWith(".") || seg.startsWith("_")))
            .sorted
            .map(rel => s"$rel:${Files.size(src.resolve(rel))}:" +
              s"${Files.getLastModifiedTime(src.resolve(rel)).toMillis}")
            .mkString("|")
          finally entries.close()
        java.lang.Long.toUnsignedString(
          listing.getBytes("UTF-8").foldLeft(1125899906842597L) {
            (h, b) => h * 31 + b
          }, 16)
      } else s"${Files.size(src)}_${Files.getLastModifiedTime(src).toMillis}"
    val corpus = Paths.get(sfDir).toAbsolutePath.normalize.getFileName
    val tag = Option(corpus).fold("root")(
      _.toString.replaceAll("[^A-Za-z0-9._-]", "_"))
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(src.toString.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString
    Paths.get(sys.props("java.io.tmpdir"), ArtifactRoot, family,
      s"$tag-$hash", s"${token}_$fp")
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    try {
      if (Files.isDirectory(p)) {
        val children = Files.list(p)
        try children.forEach(deleteRecursively(_)) finally children.close()
      }
      Files.deleteIfExists(p)
    } catch {
      // two sessions healing the same torn dir can race each other's
      // deletes; a vanished entry is the outcome we wanted
      case _: java.nio.file.NoSuchFileException => ()
    }
  }

  /** JVM-level mutex per artifact dir: `FileLock` is held per-process
    * (a second overlapping lock attempt in the SAME JVM throws instead
    * of waiting), so same-JVM build attempts serialize here first. */
  private val artifactJvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Race-safe artifact build: heal + build + install run under an
    * OS-level lock file (`<dir>.lock`, `FileChannel.lock`), so
    * concurrent sessions SERIALIZE instead of racing: the loser blocks,
    * re-checks readiness, and serves the winner's artifact (both are
    * deterministic, so either is correct). An artifact is ready when
    * its `READY/_SUCCESS` marker exists; the marker is stamped here,
    * after `build` returns, so a torn earlier build is never mistaken
    * for ready.
    *
    * The pre-build heal of a torn directory cannot delete a
    * competitor's COMPLETE artifact installed between the ready-check
    * and the delete, because installs only happen under the same lock.
    * Readers never take the lock (the fast path serves a ready
    * artifact lock-free) — safe because a ready artifact is immutable:
    * no path under the lock deletes a CURRENT dir whose marker is
    * present. The one carve-out is [[ensureArtifact]]'s sibling sweep:
    * a SUPERSEDED entry (stale format token or stale corpus
    * fingerprint) may be deleted while an old binary / pre-rewrite
    * session still probes it — that reader's scan can die mid-flight,
    * which is accepted: it was already serving answers for a world that
    * no longer exists, and the alternative (readers locking) would put
    * a file lock on every probe's hot path. A build that throws cleans
    * its tmp up on the way out and releases the lock.
    *
    * Filesystem contract: this cache lives under `java.io.tmpdir` and
    * is managed with `java.nio` + `FileChannel` — LOCAL-filesystem
    * semantics. Spark's side of the build writes through the session's
    * default Hadoop FS, so if that were remote (HDFS/S3) build and
    * install would operate on different filesystems; [[requireLocalFs]]
    * rejects that configuration explicitly instead of desyncing. A
    * cluster deployment serves these artifacts from a shared-FS root
    * written by an explicit offline job (the `buildVersioned` builders
    * take any Hadoop path), not from this per-machine cache. */
  private[graft] def buildArtifactOnce(dir: java.nio.file.Path)(
      build: String => Unit): Boolean = {
    import java.nio.file.{Files, StandardOpenOption}
    val marker = java.nio.file.Paths.get(ReadyMarker, "_SUCCESS")
    def ready = Files.exists(dir.resolve(marker))
    // the FS contract binds the SERVING path too: with a remote default
    // Hadoop FS, a ready artifact (visible to java.nio) would be probed
    // by spark.read against the WRONG filesystem — reject before the
    // ready fast-path, not only on the build branch (round-9 review)
    requireLocalFs()
    if (ready) return false
    Files.createDirectories(dir.getParent)
    val jvmLock = artifactJvmLocks.computeIfAbsent(
      dir.toAbsolutePath.toString, _ => new Object)
    jvmLock.synchronized {
      val ch = java.nio.channels.FileChannel.open(lockFile(dir),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val osLock = ch.lock() // blocks until a competing session finishes
        try {
          if (ready) return false // the competitor we waited on built it
          if (Files.exists(dir)) deleteRecursively(dir) // torn build: heal
          val tmp = dir.resolveSibling(s"${dir.getFileName}$BuildInfix" +
            java.util.UUID.randomUUID().toString.take(8))
          try {
            build(tmp.toString)
            Files.createDirectories(tmp.resolve(ReadyMarker))
            Files.createFile(tmp.resolve(marker))
          } catch { case e: Throwable => deleteRecursively(tmp); throw e }
          try { Files.move(tmp, dir); true }
          catch {
            // cannot happen under the lock protocol (nobody else may
            // install while we hold it) — belt-and-braces tolerance for
            // a writer outside the protocol: their complete artifact
            // stands, ours is discarded
            case _: java.nio.file.FileAlreadyExistsException =>
              deleteRecursively(tmp); false
          }
        } finally osLock.release()
      } finally ch.close()
    }
  }

  /** The directory whose `_SUCCESS` marks an artifact entry complete. */
  private val ReadyMarker = "READY"

  /** Infix of an in-flight build's tmp dir, beside its entry. */
  private val BuildInfix = ".build-"

  /** The build lock of an entry: a file beside it, never inside. */
  private def lockFile(entry: java.nio.file.Path): java.nio.file.Path =
    entry.resolveSibling(s"${entry.getFileName}.lock")

  /** The ONE build-once site for every on-disk artifact (the index
    * snapshots, the versioned fixtures, the nightly world): resolve the
    * entry `graft_artifacts/<family>/<corpus key>/<token>_<fingerprint>`
    * ([[artifactDir]]), run `lifecycle` into a tmp dir under
    * [[buildArtifactOnce]]'s lock (which stamps `READY/_SUCCESS` only
    * once the whole lifecycle survived), then log the build and delete
    * the entries it supersedes: every other entry in the same corpus
    * key directory, i.e. the same (family, corpus) at a stale token or
    * a stale fingerprint ([[deleteSiblings]]). One token per family is
    * the invariant this relies on — two call sites sharing a family
    * must share its token. Returns the entry's path; later calls —
    * fresh JVMs included — serve it off disk. `what` names the artifact
    * in the log line. */
  private[graft] def ensureArtifact(family: String, token: String,
      sfDir: String, sourceFile: String, what: String)(
      lifecycle: String => Unit): String = {
    val dir = artifactDir(family, token, sfDir, sourceFile)
    if (buildArtifactOnce(dir)(lifecycle)) {
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        s"$what: built at $dir (first touch of this corpus — the offline " +
          "step; later runs serve off the committed manifest)")
      deleteSiblings(dir)
    }
    dir.toString
  }

  /** Best-effort deletion of the entries `current` supersedes: every
    * other directory beside it (its corpus key directory holds only this
    * (family, corpus)'s entries), except lock files and in-flight
    * `.build-` tmp dirs. Each deletion first `tryLock`s the target's own
    * build lock NON-blocking: a concurrent session still building or
    * healing that entry keeps it (in the same JVM the overlap surfaces
    * as `OverlappingFileLockException`, also a skip), and the next
    * install's sweep removes it once the lock is free. A deleted
    * entry's lock file goes with it. Failures are swallowed: this is
    * hygiene, not correctness. */
  private def deleteSiblings(current: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardOpenOption}
    def tryDelete(target: java.nio.file.Path): Unit =
      try {
        val ch = java.nio.channels.FileChannel.open(lockFile(target),
          StandardOpenOption.CREATE, StandardOpenOption.WRITE)
        var deleted = false
        try {
          val l = ch.tryLock()
          if (l != null)
            try { deleteRecursively(target); deleted = true }
            finally l.release()
        } finally ch.close()
        // the entry is gone, so its lock file is litter — delete it too
        // or every deleted fingerprint leaks one immortal lock file (a
        // waiter blocked on the old inode can race a fresh-lock taker,
        // but only toward rebuilding a SUPERSEDED entry — a torn stale
        // dir the next heal handles)
        if (deleted) Files.deleteIfExists(lockFile(target))
      } catch { case scala.util.control.NonFatal(_) => () }
    try {
      val entries = Files.list(current.getParent)
      val siblings =
        try entries.toArray.map(_.asInstanceOf[java.nio.file.Path]).filter {
          e =>
            val n = e.getFileName.toString
            e != current && !n.endsWith(".lock") &&
              !n.contains(BuildInfix) && Files.isDirectory(e)
        } finally entries.close()
      siblings.foreach(tryDelete)
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Reject a non-local default Hadoop FS before touching the local
    * artifact cache (see [[buildArtifactOnce]]'s filesystem contract). */
  private def requireLocalFs(): Unit = {
    val scheme = org.apache.hadoop.fs.FileSystem.getDefaultUri(
      org.apache.spark.sql.SparkSession.active
        .sessionState.newHadoopConf()).getScheme
    require(scheme == null || scheme == "file",
      s"the local artifact cache requires a local default filesystem " +
        s"(got '$scheme'): on a cluster, publish index artifacts to a " +
        "shared-FS root with PqIndex/IvfIndex/Bm25Index.buildVersioned " +
        "and serve that root with their probeBatchVersioned")
  }

  /** Artifact-served PQ probe — the import-then-query split as a DECLARED
    * query (the reference's own lifecycle: import once, `app.py:88-183`;
    * query the imported table later). q117 trains its codebook in-query
    * (session-memoized), so its bench number conflates Lloyd TRAINING
    * with serving; THIS query reads the [[PqIndex]] snapshot — codebook
    * + stored 32-bit codes — built in an explicit offline step, so its
    * steady-state cost is pure SERVING: a map-only codes-table shortlist
    * (embeddings untouched) + the exact re-rank of the survivors. The
    * artifact is keyed by corpus identity ([[pqArtifact]]): the
    * first-ever touch of a corpus builds it (logged — that run IS the
    * offline step); every later run, including fresh bench JVMs, serves
    * from disk. Same law-flag oracle as q117 ([[annLaw]]);
    * `PqIndexSpec` pins the artifact probe equal to q117's in-query
    * answer on the same corpus. */
  def pqIndexProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val corpus = e.filter(col("vec_id") =!= 0)
    // None: no query vector, or nothing to index
    val served = collectQueryVec(e).flatMap(qv =>
        pqArtifact(spark, sfDir, e, "q131").map(root =>
          PqIndex.probeVersioned(spark, root, qv, corpus)))
    annLaw(corpus, e, served, pqRecallFloorHits, l2 = true)
  }

  /** [[ensureArtifact]] for a vector index over `corpus`: `lifecycle`
    * runs only when the corpus holds a vector (zero vectors cannot
    * train a codebook — PqIndex requires a positive dim). A query-only
    * corpus therefore publishes no snapshot, and the None returned then
    * is the caller's empty answer — decided off the manifest, with no
    * emptiness job on the serving path. */
  private def vecArtifact(spark: SparkSession, family: String,
      token: String, sfDir: String, corpus: DataFrame, what: String)(
      lifecycle: String => Unit): Option[String] = {
    val root = ensureArtifact(family, token, sfDir,
      "embeddings.parquet", what)(tmp => if (!corpus.isEmpty) lifecycle(tmp))
    VersionedTable.currentSnapshot(spark, root).map(_ => root)
  }

  /** The per-corpus PQ snapshot shared by q131 and q137 — ONE
    * definition of the build arguments (the IVF family's [[ivfArtifact]]
    * precedent: a change to the artifact contract must have one site,
    * not two). */
  private def pqArtifact(spark: SparkSession, sfDir: String, e: DataFrame,
      qname: String): Option[String] =
    vecArtifact(spark, "pq_index", PqIndex.formatTag, sfDir,
      e.filter(col("vec_id") =!= 0), s"$qname: PQ index snapshot")(
      tmp => PqIndex.buildVersioned(spark, e, tmp))

  // --------------------------------------------------------------- q132
  /** The per-corpus IVF snapshot and its nlist — ONE definition of the
    * build arguments and the q45-parity nlist rule (query-INCLUDING
    * corpus count; deriving from the query-filtered frame diverges the
    * codebook at √-rounding boundary sizes) shared by q132 and q135. */
  private def ivfArtifact(spark: SparkSession, sfDir: String,
      corpus: DataFrame, qname: String): Option[(String, Int)] = {
    val k = AnnParams.ivfCells(corpusSize(spark, sfDir))
    vecArtifact(spark, "ivf_index", IvfIndex.formatTag, sfDir, corpus,
      s"$qname: IVF index snapshot")(
      tmp => IvfIndex.buildVersioned(spark, corpus, tmp, nlist = Some(k)))
      .map(root => (root, k))
  }

  /** A collected query vector as a 1-row `q_emb` local relation: the
    * probe's broadcasts ship a driver literal instead of re-scanning
    * the corpus for it. */
  private def queryFrame(spark: SparkSession, qv: Array[Float]): DataFrame = {
    import spark.implicits._
    Seq(qv.toSeq).toDF("q_emb")
  }

  /** The vec_id < 8 query batch as `(q_id, q_emb)`, collected ONCE and
    * rebuilt as a local relation, with its distinct `q_id` count: the
    * batch queries decide emptiness and their frontier's plan
    * ([[IndexMaintenance.topKPerQuery]]) from the rows they already
    * hold, and every later broadcast of the batch ships driver literals
    * instead of re-scanning the corpus. */
  private def queryBatch(e: DataFrame): (DataFrame, Int) = {
    val df = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val rows = df.collect()
    (df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      df.schema), rows.map(_.getLong(0)).distinct.length)
  }

  /** Artifact-served IVF probe — q131's pattern for the coarse-quantizer
    * family: the [[IvfIndex]] snapshot stores the codebook AND every
    * vector's cell assignment PARTITIONED BY cell, so the serving read
    * is pruned to the probed cells' directories (literal path selection
    * off the manifest — the physical layout a 100 TB deployment buckets
    * by). q45 trains in-query (memoized); this query's steady-state
    * cost is the pruned scan + exact cosine inside the probed cells.
    * Same corpus-identity artifact keying, same law-flag oracle as q45;
    * nlist = q45's k and nProbe = q45's width keep the answers equal. */
  def ivfIndexProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val corpus = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val served = collectQueryVec(e).flatMap(qv =>
        ivfArtifact(spark, sfDir, corpus, "q132").map { case (root, k) =>
          // the same derived probe width as the in-query q45 core
          IvfIndex.probeVersioned(spark, root, queryFrame(spark, qv),
            Some(AnnParams.ivfProbeCells(k)))
        })
    annLaw(corpus, e, served, ivfRecallFloorHits, l2 = false)
  }

  // --------------------------------------------------------------- q135
  /** The ANN law-flag frame (the round-8 law-flag oracle design —
    * q121/q27's tolerance-flag pattern, extended to ANN) over a batch of
    * `nQueries` distinct q_ids: the ROWS are every query's exact
    * top-`k` from `exactScored` (fully DuckDB-expressible, so the
    * driver hash-checks them), and two constant columns carry the laws
    * the engine's `served` answer must satisfy, which the DuckDB twin
    * asserts as literal TRUE:
    *
    *  - `score_ok`: every served row reports EXACTLY the true score of
    *    its (q_id, vec_id) — candidate generation prunes, scoring is
    *    exact in the final answer;
    *  - `recall_ok`: the served batch finds at least `minTotalHits` of
    *    the k·|queries| exact-top rows IN AGGREGATE. A batch floor is
    *    aggregate rather than per-query because the near-iid fixtures
    *    put some single queries' per-probe recall near zero (no cluster
    *    structure — [[AnnParams]]'s adversarial-case note); the
    *    aggregate is the stable machinery tripwire.
    *
    * The exact top is the one frontier
    * ([[IndexMaintenance.topKPerQuery]]): the single-query laws
    * ([[annLaw]]) run it over a one-query batch, which plans as
    * `TakeOrderedAndProject` with no exchange. `served` None (no query
    * vector, nothing to index) is the empty answer: recall fails at any
    * positive floor, score vacuously holds. Both flags come from ONE
    * pass over the served subplan; left joins make a bogus served id
    * FAIL score_ok instead of vanishing. */
  private[graft] def batchAnnLawFrame(exactScored: DataFrame,
      served: Option[DataFrame], nQueries: Int, k: Int, minTotalHits: Int,
      flagExact: DataFrame => DataFrame,
      score: String = "sim", asc: Boolean = false): DataFrame = {
    val ord =
      if (asc) Seq(col(score).asc, col("vec_id"))
      else Seq(col(score).desc, col("vec_id"))
    // The exact frontier and the served answer are LAZY localCheckpoints
    // (round-14): the n×|queries| scored pass and the probe subplan each
    // execute once, though both are read twice, and the flags' exact
    // scores are recomputed only for the served ids via `flagExact`
    // instead of joining the full scored frame. The ≤k·|queries|-row
    // checkpoints are left to driver GC + ContextCleaner: the returned
    // plan reads them after this function exits.
    val exactTop = IndexMaintenance.topKPerQuery(exactScored, nQueries, k,
        ord: _*)
      .select(col("q_id"), col("rnk"), col("vec_id"), col(score))
      .localCheckpoint(eager = false)
    val servedCk = served.getOrElse(exactScored.limit(0))
      .localCheckpoint(eager = false)
    // broadcast: exactSub is ≤ k·|batch| rows behind an id-pruned scan
    // whose size ESTIMATE is table-sized — without the hint the planner
    // picks a SortMergeJoin (2 exchanges + 2 sorts) for a tiny join
    val exactSub = flagExact(servedCk.select(col("q_id"), col("vec_id")))
    val flags = servedCk
      .select(col("q_id"), col("vec_id"), col(score).as("ann_sim"))
      .join(broadcast(exactSub.select(col("q_id"), col("vec_id"),
        col("exact_score").as("exact_sim"))), Seq("q_id", "vec_id"), "left")
      .join(broadcast(exactTop.select(col("q_id"), col("vec_id"),
        lit(true).as("in_top"))), Seq("q_id", "vec_id"), "left")
      .agg(
        coalesce(sum(when(col("in_top"), 1L).otherwise(0L)), lit(0L))
          .as("n_hit"),
        coalesce(expr("bool_and(coalesce(ann_sim = exact_sim, false))"),
          lit(true)).as("score_ok"))
      .select((col("n_hit") >= minTotalHits).as("recall_ok"),
        col("score_ok"))
    exactTop.crossJoin(broadcast(flags))
      .select(col("q_id"), col("rnk"), col("vec_id"), col(score),
        col("recall_ok"), col("score_ok"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** The law flags' exact scorer: the law only needs the TRUE score of
    * each served (q_id, vec_id) — ≤ k·|batch| rows — so the corpus is
    * pruned by a broadcast of the served ids BEFORE scoring each against
    * every query, with `scoreOf` the full scorer's expression verbatim
    * (the flag comparison sees identical values). At 100 TB this is a
    * column-pruned scan plus ≤ ids×|batch| score evaluations instead of
    * a second full scored materialization. The ids are deduplicated: if
    * a buggy core served duplicate vec_ids, an un-deduplicated prune
    * join would multiply flag rows and LOOSEN the recall tripwire
    * exactly when it should fire. */
  private def batchFlagExact(corpus: DataFrame, queries: DataFrame,
      scoreOf: (Column, Column) => Column): DataFrame => DataFrame =
    pairs => corpus
      .join(broadcast(pairs.select(col("vec_id")).distinct()),
        Seq("vec_id"))
      .crossJoin(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        scoreOf(col("embedding"), col("q_emb")).as("exact_score"))

  /** Batched artifact-served ANN — the round-8 verdict's composition of
    * q122 (batched-queries frontier) with q132 (partition-pruned
    * artifact probe): a query BATCH (vec_id < 8) against the SAME
    * [[IvfIndex]] snapshot q132 serves, in ONE pruned scan over the
    * union of every query's probed cells
    * ([[IvfIndex.probeBatchVersioned]] — the shape an online retrieval
    * tier actually runs at 100 TB). Artifact keying, lock-serialized
    * build, and q45-parity nlist derivation are q132's verbatim; the
    * declared output is the batched law-flag frame
    * ([[batchAnnLawFrame]]). `IvfIndexSpec` pins the pruned multi-query
    * plan and the planted-cluster recall. */
  def batchIvfIndexProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val (queries, nQueries) = queryBatch(e)
    val corpus = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val served = (if (nQueries > 0) ivfArtifact(spark, sfDir, corpus, "q135")
        else None)
      .map { case (root, k) => IvfIndex.probeBatchVersioned(spark, root,
        queries, AnnParams.ivfProbeCells(k), k = 5) }
    batchAnnLawFrame(batchCosineScoredOf(corpus, queries), served, nQueries,
      k = 5, batchIvfRecallFloorHits,
      batchFlagExact(corpus, queries, cosineScore))
  }

  // --------------------------------------------------------------- q137
  /** q137's AGGREGATE recall floor: total exact-top-5 hits across the
    * 8-query batch (40 possible). The ADC shortlist is corpus-derived
    * ([[AnnParams.adcShortlist]]) and the re-rank is exact, so batched
    * PQ recall tracks q131's single-probe recall closely — measured
    * 39/34/37 at sf0.001/0.01/0.1; floored with margin at half the
    * measured minimum (the fixtures are deterministic: a breach means
    * machinery change, not noise). */
  private val batchPqRecallFloorHits = 17

  /** Every (query, corpus-row) exact SQUARED-L2 — the L2 twin of
    * [[batchCosineScoredOf]], null-filtered: malformed (length-
    * mismatched) rows score null and must not occupy exact-answer
    * ranks. */
  private[graft] def batchL2ScoredOf(
      corpus: DataFrame, queries: DataFrame): DataFrame =
    corpus
      .crossJoin(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        l2Score(col("embedding"), col("q_emb")).as("l2"))
      .filter(col("l2").isNotNull)

  /** Batched PQ/ADC artifact serving (round-9 verdict item 3): a query
    * BATCH (vec_id < 8) against the SAME [[PqIndex]] snapshot q131
    * serves, in ONE codes scan — per-query distance tables broadcast
    * as a (q_id, dt) block, map-side `WindowGroupLimit` shortlist and
    * re-rank frontiers ([[PqIndex.probeBatchVersioned]]). Completes the
    * serving matrix: q122 batched brute, q135 batched IVF, q137 batched
    * PQ.
    * Declared as the batched law-flag frame over the exact L2 answer
    * ([[batchAnnLawFrame]] in asc mode); same artifact keying,
    * lock-serialized build, first-touch-builds lifecycle as q131.
    * `PqIndexSpec` pins the single-scan multi-query plan and the
    * batch==single-probe consistency. */
  def batchPqIndexProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val (queries, nQueries) = queryBatch(e)
    val corpus = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val served = (if (nQueries > 0) pqArtifact(spark, sfDir, e, "q137")
        else None)
      .map(root => PqIndex.probeBatchVersioned(spark, root, queries,
        _ => corpus, k = 5))
    batchAnnLawFrame(batchL2ScoredOf(corpus, queries), served, nQueries,
      k = 5, batchPqRecallFloorHits,
      batchFlagExact(corpus, queries, l2Score), score = "l2", asc = true)
  }

  private val batchPqIndexProbeSql =
    """WITH q AS (
      |  SELECT vec_id AS q_id, embedding AS qe FROM embeddings
      |  WHERE vec_id < 8),
      |prods AS (
      |  SELECT q.q_id, e.vec_id,
      |    CAST(unnest(e.embedding) AS DOUBLE) AS v,
      |    CAST(unnest(q.qe) AS DOUBLE) AS w
      |  FROM embeddings e, q WHERE e.vec_id <> 0),
      |d AS (
      |  SELECT q_id, vec_id,
      |    floor((sum((v - w) * (v - w))) * 1e4 + 0.5) / 1e4 AS l2
      |  FROM prods GROUP BY q_id, vec_id),
      |ranked AS (
      |  SELECT q_id,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY l2 ASC, vec_id) AS INT) AS rnk,
      |    vec_id, l2
      |  FROM d)
      |SELECT q_id, rnk, vec_id, l2,
      |  TRUE AS recall_ok, TRUE AS score_ok
      |FROM ranked WHERE rnk <= 5
      |ORDER BY q_id, rnk""".stripMargin

  private val batchIvfIndexProbeSql =
    """WITH q AS (
      |  SELECT vec_id AS q_id, embedding AS qe FROM embeddings
      |  WHERE vec_id < 8),
      |prods AS (
      |  SELECT q.q_id, e.vec_id,
      |    CAST(unnest(e.embedding) AS DOUBLE) AS v,
      |    CAST(unnest(q.qe) AS DOUBLE) AS w
      |  FROM embeddings e, q WHERE e.vec_id <> 0),
      |sims AS (
      |  SELECT q_id, vec_id,
      |    sum(v * w) AS dot, sum(v * v) AS na, sum(w * w) AS nq
      |  FROM prods GROUP BY q_id, vec_id),
      |scored AS (
      |  SELECT q_id, vec_id,
      |    CASE WHEN na = 0 OR nq = 0 THEN 0.0
      |         ELSE floor((dot / sqrt(na * nq)) * 1e4 + 0.5) / 1e4 END AS sim
      |  FROM sims),
      |ranked AS (
      |  SELECT q_id,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY sim DESC, vec_id) AS INT) AS rnk,
      |    vec_id, sim
      |  FROM scored)
      |SELECT q_id, rnk, vec_id, sim,
      |  TRUE AS recall_ok, TRUE AS score_ok
      |FROM ranked WHERE rnk <= 5
      |ORDER BY q_id, rnk""".stripMargin

  // -------------------------------------------------------- q140 / q141
  /** Planted v1→v2 delta of the embeddings corpus — the vector analog of
    * [[CurationOps.plantedV2]], declared in ONE place so the Spark
    * lifecycle and the DuckDB oracles cannot drift (and shared with the
    * streaming rollover specs). Returns (upserts, removedIds, corpusV2):
    *   - UPSERTS: `vec_id % 7 == 3` → the embedding NEGATED. Negation is
    *     EXACT in IEEE floats and distributes exactly over the dot
    *     product, so v2 cosines of upserted rows are exactly the negated
    *     v1 values in both engines — no new rounding surface;
    *   - REMOVED: `vec_id % 11 == 5` (an id in both classes follows
    *     updateFrom's semantics: dropped, then re-added as its upsert);
    *   - `corpusV2` = (v1 \\ (removed ∪ upsert ids)) ∪ upserts — what an
    *     incrementally-maintained index must serve.
    * The query rows (vec_id 0; the batch block vec_id < 8) always come
    * from the RAW table: queries are external vectors, not corpus rows,
    * so the delta never rewrites the question being asked. */
  private[graft] def plantedVecV2(e: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val corpusV1 = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val upserts = corpusV1.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    val removed = corpusV1.filter(col("vec_id") % 11 === 5)
      .select(col("vec_id"))
    val dropIds = removed.union(upserts.select(col("vec_id"))).distinct()
    val corpusV2 = corpusV1
      .join(broadcast(dropIds), Seq("vec_id"), "left_anti")
      .unionByName(upserts)
    (upserts, removed, corpusV2)
  }

  /** The DuckDB spelling of [[plantedVecV2]]'s corpusV2, as a CTE body —
    * generated next to the Spark definition so the two moduli and the
    * negation can never drift apart. */
  private val vecV2Cte =
    """v2 AS (
      |  SELECT vec_id,
      |    CASE WHEN vec_id % 7 = 3 THEN list_transform(embedding, x -> -x)
      |         ELSE embedding END AS embedding
      |  FROM embeddings
      |  WHERE (vec_id % 11 <> 5 OR vec_id % 7 = 3) AND vec_id <> 0)"""
      .stripMargin

  // Recall floors for the versioned-lifecycle serving queries, measured
  // on the deterministic fixtures (hits of the exact-v2 top at
  // sf0.001/0.01/0.1: q140 5/6/6 of 10, q141 38/33/37 of 40 — see the
  // round-11 measurement) and floored with margin ([[annLaw]]'s
  // tripwire rationale: deterministic fixtures, so a breach means the
  // machinery changed, not noise): q140 one below the minimum, q141 at
  // half the minimum (q137's rule).
  private val ivfVtRecallFloorHits = 4
  private val pqVtRecallFloorHits = 16

  /** One definition of the versioned-lifecycle build shared by q140 and
    * q141 (only the family differs): publish v1, apply the planted
    * delta as a copy-on-write snapshot, COMPACT, VACUUM the superseded
    * version — `READY` is stamped only when the whole lifecycle
    * survived (q138's torn-build contract). */
  private def ensureVersionedVecArtifact(spark: SparkSession, sfDir: String,
      e: DataFrame, family: String, token: String, qname: String)(
      buildV1: (String, DataFrame) => Unit,
      applyDelta: (String, DataFrame, DataFrame) => Unit,
      schema: org.apache.spark.sql.types.StructType): Option[String] = {
    val corpusV1 = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    vecArtifact(spark, family, token, sfDir, corpusV1,
        s"$qname: v1 + planted delta + compact + vacuum snapshots") { tmp =>
      val (upserts, removed, _) = plantedVecV2(e)
      buildV1(tmp, corpusV1)
      applyDelta(tmp, upserts, removed)
      VersionedTable.compact(spark, tmp, schema)
      VersionedTable.vacuum(spark, tmp, keepVersions = 1, graceMs = 0L)
    }
  }

  /** IVF served through the [[VersionedTable]] manifest layer — q138's
    * lifecycle for the vector family (round-10 verdict item 1's batch
    * half): atomic v1 publish (codebook rides the SAME snapshot as its
    * assignments), planted v1→v2 delta under the frozen codebook as ONE
    * copy-on-write commit, compaction, vacuum — then the fixed query
    * served off the committed manifest with literal-path cell pruning.
    * Declared as the law-flag frame against exact cosine over the
    * PLANTED-V2 corpus, so the DuckDB oracle hash-checks the whole
    * maintenance lifecycle (assignment movement, partition routing,
    * manifest resolution), not just the final probe. */
  def ivfVersionedProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val (_, _, corpusV2) = plantedVecV2(e)
    val served = collectQueryVec(e).flatMap(qv =>
        ensureVersionedVecArtifact(spark, sfDir, e, "ivfvt_index",
          IvfIndex.formatTag, "q140")(
          (tmp, v1) => IvfIndex.buildVersioned(spark, v1, tmp),
          (tmp, up, rm) => IvfIndex.updateFromVersioned(spark, tmp, up, rm),
          IvfIndex.assignmentsSchema)
          .map(root => IvfIndex.probeVersioned(spark, root,
            queryFrame(spark, qv))))
    annLaw(corpusV2, e, served, ivfVtRecallFloorHits, l2 = false)
  }

  private val ivfVersionedProbeSql =
    s"""WITH $vecV2Cte,
      |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |prods AS (
      |  SELECT e.vec_id,
      |    CAST(unnest(e.embedding) AS DOUBLE) AS v,
      |    CAST(unnest(q.qe) AS DOUBLE) AS w
      |  FROM v2 e, q),
      |sims AS (
      |  SELECT vec_id, sum(v * w) AS dot, sum(v * v) AS na, sum(w * w) AS nq
      |  FROM prods GROUP BY vec_id)
      |SELECT vec_id,
      |  CASE WHEN na = 0 OR nq = 0 THEN 0.0
      |       ELSE floor((dot / sqrt(na * nq)) * 1e4 + 0.5) / 1e4 END AS sim,
      |  TRUE AS recall_ok, TRUE AS score_ok
      |FROM sims
      |ORDER BY sim DESC, vec_id
      |LIMIT 10""".stripMargin

  /** Batched PQ/ADC through the [[VersionedTable]] layer — the q141 twin
    * of [[ivfVersionedProbe]] for the code-compression family, serving
    * the 8-query batch via [[PqIndex.probeBatchVersioned]] (codebook,
    * codes, and the shortlist budget from ONE resolved manifest; the
    * exact re-rank bound to the v2 corpus per the version-pairing
    * contract). Declared as the batched law-flag frame vs exact L2 over
    * the planted-v2 corpus. */
  def pqVersionedBatchProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val (queries, nQueries) = queryBatch(e)
    val (_, _, corpusV2) = plantedVecV2(e)
    val served = (if (nQueries == 0) None
        else ensureVersionedVecArtifact(spark, sfDir, e,
          "pqvt_index", PqIndex.formatTag, "q141")(
          (tmp, _) => PqIndex.buildVersioned(spark, e, tmp),
          (tmp, up, rm) => PqIndex.updateFromVersioned(spark, tmp, up, rm),
          PqIndex.codesSchema))
      .map(root => PqIndex.probeBatchVersioned(spark, root, queries,
        _ => corpusV2, k = 5))
    batchAnnLawFrame(batchL2ScoredOf(corpusV2, queries), served, nQueries,
      k = 5, pqVtRecallFloorHits,
      batchFlagExact(corpusV2, queries, l2Score), score = "l2", asc = true)
  }

  private val pqVersionedBatchProbeSql =
    s"""WITH $vecV2Cte,
      |q AS (
      |  SELECT vec_id AS q_id, embedding AS qe FROM embeddings
      |  WHERE vec_id < 8),
      |prods AS (
      |  SELECT q.q_id, e.vec_id,
      |    CAST(unnest(e.embedding) AS DOUBLE) AS v,
      |    CAST(unnest(q.qe) AS DOUBLE) AS w
      |  FROM v2 e, q),
      |d AS (
      |  SELECT q_id, vec_id,
      |    floor((sum((v - w) * (v - w))) * 1e4 + 0.5) / 1e4 AS l2
      |  FROM prods GROUP BY q_id, vec_id),
      |ranked AS (
      |  SELECT q_id,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY l2 ASC, vec_id) AS INT) AS rnk,
      |    vec_id, l2
      |  FROM d)
      |SELECT q_id, rnk, vec_id, l2,
      |  TRUE AS recall_ok, TRUE AS score_ok
      |FROM ranked WHERE rnk <= 5
      |ORDER BY q_id, rnk""".stripMargin

  // --------------------------------------------------------------- q122
  /** Batched similarity serving — the shape online retrieval actually
    * runs: a BATCH of query vectors (here vec_id < 8) against the corpus
    * in ONE scan, exact cosine, top-5 per query. One-query-at-a-time
    * (q40) re-scans the corpus per query; the batched plan broadcasts
    * the whole query block, scores every (row, query) pair in-row, and
    * keeps each query's frontier with `row_number ≤ 5` — which Spark
    * compiles to a map-side `WindowGroupLimit(Partial)` (q94's law): each
    * input partition forwards at most 5 rows PER QUERY, so the q_id
    * exchange carries ≤ 5·|queries|·partitions rows no matter the corpus
    * size. At 100 TB with a 10k-query batch that is the difference
    * between shuffling 10¹⁴ scored pairs and shuffling a frontier.
    * Rounded sims + vec_id tiebreak keep the frontier deterministic
    * cross-engine (q40's rule). The batch is collected once
    * ([[queryBatch]]); its `q_id` count picks the frontier's plan
    * ([[IndexMaintenance.topKPerQuery]]), so a one-row batch plans as
    * q40's `TakeOrderedAndProject`. */
  def batchCosineTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val e = emb(spark, sfDir)
    val (queries, nQueries) = queryBatch(e)
    batchCosineTopKOf(e.filter(col("vec_id") >= 8), queries, nQueries, 5)
  }

  /** Every (query, corpus-row) exact cosine — the scored base q122's
    * frontier and the ANN law flags build on. */
  private[graft] def batchCosineScoredOf(
      corpus: DataFrame, queries: DataFrame): DataFrame =
    corpus
      .crossJoin(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        cosineScore(col("embedding"), col("q_emb")).as("sim"))

  /** Core of q122 (and q40, q142's vector channel: one-query batches)
    * over any corpus × (q_id, q_emb) block of `nQueries` distinct q_ids:
    * (q_id, rnk, vec_id, sim), the per-query top-`k`, in rnk order. The
    * order is spelled as the ranking itself, not as `rnk`, so a caller
    * that projects `rnk` away (q40) plans no window at all. */
  private[graft] def batchCosineTopKOf(corpus: DataFrame, queries: DataFrame,
      nQueries: Int, k: Int): DataFrame =
    IndexMaintenance.topKPerQuery(batchCosineScoredOf(corpus, queries),
        nQueries, k, col("sim").desc, col("vec_id"))
      .select(col("q_id"), col("rnk"), col("vec_id"), col("sim"))
      .orderBy(col("q_id"), col("sim").desc, col("vec_id"))

  private val batchCosineTopKSql =
    """WITH q AS (
      |  SELECT vec_id AS q_id, embedding AS qe FROM embeddings
      |  WHERE vec_id < 8),
      |prods AS (
      |  SELECT q.q_id, e.vec_id,
      |    CAST(unnest(e.embedding) AS DOUBLE) AS v,
      |    CAST(unnest(q.qe) AS DOUBLE) AS w
      |  FROM embeddings e, q WHERE e.vec_id >= 8),
      |sims AS (
      |  SELECT q_id, vec_id,
      |    sum(v * w) AS dot, sum(v * v) AS na, sum(w * w) AS nq
      |  FROM prods GROUP BY q_id, vec_id),
      |scored AS (
      |  SELECT q_id, vec_id,
      |    CASE WHEN na = 0 OR nq = 0 THEN 0.0
      |         ELSE floor((dot / sqrt(na * nq)) * 1e4 + 0.5) / 1e4 END AS sim
      |  FROM sims),
      |ranked AS (
      |  SELECT q_id,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY sim DESC, vec_id) AS INT) AS rnk,
      |    vec_id, sim
      |  FROM scored)
      |SELECT q_id, rnk, vec_id, sim FROM ranked
      |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  // --------------------------------------------------------------- q127
  /** Per-source semantic geometry: the pairwise cosine between SOURCE
    * CENTROIDS (embeddings keyed to documents by vec_id == doc_id, the
    * q80 join convention) — which feeds are topically redundant and
    * which add a new region of embedding space. q106 measures literal
    * content overlap (shared hashes); this measures semantic overlap two
    * sources can have with ZERO shared bytes — the pair of signals a mix
    * rebalance (q70/q87) actually wants side by side.
    *
    * Scale shape: the only corpus-sized work is the embedding scan into
    * the map-combined (source, pos) centroid agg; everything after runs
    * on the |sources|·dim grid (a few KB) — the pair join expands to
    * dim·|pairs| rows of GRID data, never touching the corpus. Upper
    * triangle only (src_a < src_b), q106's convention. */
  def sourceSemanticDistance(spark: SparkSession, sfDir: String): DataFrame = {
    sourceSemanticDistanceOf(
      Tables.documents(spark, sfDir), emb(spark, sfDir))
  }

  /** Core of q127 over any (doc_id, source) x (vec_id, embedding) pair. */
  private[graft] def sourceSemanticDistanceOf(
      docs: DataFrame, embs: DataFrame): DataFrame = {
    val doc2src = docs.select(col("doc_id").as("vec_id"), col("source"))
    val cent = embs
      .join(doc2src, "vec_id")
      .select(col("source"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("source"), col("pos"))
      .agg(avg(col("x").cast("double")).as("cx"))
    val a = cent.select(col("source").as("src_a"), col("pos"),
      col("cx").as("xa"))
    val b = cent.select(col("source").as("src_b"), col("pos"),
      col("cx").as("xb"))
    a.join(b, Seq("pos"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("xa") * col("xb")).as("dot"),
        sum(col("xa") * col("xa")).as("na"),
        sum(col("xb") * col("xb")).as("nb"))
      .select(col("src_a"), col("src_b"),
        when(col("na") === 0 || col("nb") === 0, 0.0)
          .otherwise(roundVal(col("dot") / sqrt(col("na") * col("nb")), 4))
          .as("centroid_cos"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val sourceSemanticDistanceSql =
    """WITH j AS (
      |  SELECT d.source, e.embedding
      |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
      |dims AS (
      |  SELECT source,
      |    generate_subscripts(embedding, 1) - 1 AS pos,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM j),
      |cent AS (
      |  SELECT source, pos, avg(x) AS cx FROM dims GROUP BY source, pos),
      |pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    sum(a.cx * b.cx) AS dot, sum(a.cx * a.cx) AS na,
      |    sum(b.cx * b.cx) AS nb
      |  FROM cent a JOIN cent b ON a.pos = b.pos AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b,
      |  CASE WHEN na = 0 OR nb = 0 THEN 0.0
      |       ELSE floor((dot / sqrt(na * nb)) * 1e4 + 0.5) / 1e4 END AS centroid_cos
      |FROM pairs ORDER BY src_a, src_b""".stripMargin

  override val ops: Seq[Op] = Seq(
    Op("q127_source_semantic_distance", sourceSemanticDistance,
      Some(sourceSemanticDistanceSql),
      "pairwise source-centroid cosine (semantic redundancy between feeds -- q106's content overlap, in embedding space)"),
    Op("q92_centroid_outliers", centroidOutliers, Some(centroidOutliersSql),
      "per-label centroid cosine audit + most-outlying vector (SemDeDup-style semantic filter)"),
    Op("q74_embedding_quantize", embeddingQuantize, Some(embeddingQuantizeSql),
      "symmetric int8 quantization audit: scale, saturation, max recon error"),
    Op("q45_ann_ivf", annIvf, Some(cosineLawSql),
      "ANN via trained-IVF multi-cell probe, declared as the law-flag oracle (the batch law frame over the one-query batch): exact cosine top-10 ridealong + recall/score flags"),
    Op("q46_embedding_neardup", embeddingNeardup, Some(embeddingNeardupSql),
      "embedding-cosine near-dup pairs (exact baseline, bounded vec_id<1000 slice)"),
    Op("q48_embedding_neardup_lsh", embeddingNeardupLsh,
      Some(embeddingNeardupLshSql),
      "embedding near-dup via banded hyperplane-LSH blocking; declared as exact slice pairs + per-pair lsh_found law flag"),
    Op("q40_cosine_topk", cosineTopK, Some(cosineTopKSql),
      "brute-force cosine top-10 vs query vector: q122's plan over the one-query batch (fused expression, TakeOrderedAndProject frontier)"),
    Op("q41_vector_norms", vectorNorms, Some(vectorNormsSql),
      "per-label L2 norm stats (higher-order aggregate)"),
    Op("q42_centroid_spread", centroidSpread, Some(centroidSpreadSql),
      "per-label centroid distance spread (posexplode two-stage agg)"),
    Op("q43_ann_lsh", annLsh, Some(cosineLawSql),
      "ANN via multi-probe hyperplane-LSH Hamming ball, declared as the law-flag oracle (the batch law frame over the one-query batch): exact cosine top-10 ridealong + recall/score flags"),
    Op("q44_vector_sum_agg", vectorSumAgg, Some(vectorSumAggSql),
      "typed Aggregator UDAF: elementwise vector sum per label"),
    Op("q78_semantic_dedup_clusters", semanticDedupClusters,
      Some(semanticDedupClustersSql),
      "embedding near-dup pairs -> connected-component clusters (SemDeDup shape, shared star machinery)"),
    Op("q93_semantic_dedup_lsh", semanticDedupLsh, Some(semanticDedupLshSql),
      "q78's unbounded scale-path twin: banded-LSH pair source -> identical CC stage; oracle = exact-source recursive closure (cluster-set equality law)"),
    Op("q80_filtered_cosine_topk", filteredCosineTopK,
      Some(filteredCosineTopKSql),
      "hybrid filtered vector search: metadata predicate + key join + cosine top-10"),
    Op("q117_pq_adc", pqAdcTopK, Some(l2LawSql),
      "ANN via PQ + asymmetric distance (64x code compression, map-only serving core), declared as the law-flag oracle (the batch law frame over the one-query batch): exact L2 top-10 ridealong + recall/score flags"),
    Op("q118_ivfadc", ivfAdcTopK, Some(l2LawSql),
      "ANN via IVFADC (IVF cell pruning x residual-PQ codes, FAISS IndexIVFPQ composition), declared as the law-flag oracle vs exact L2 (the batch law frame over the one-query batch)"),
    Op("q131_pq_index_probe", pqIndexProbe, Some(l2LawSql),
      "artifact-served PQ probe: offline-built PqIndex v1 snapshot (codebook + stored codes, one manifest) serves the query as a one-query PqIndex.probeBatchVersioned batch (TakeOrderedAndProject frontiers, no q_id exchange) with NO training in-plan; one-query batch law-flag oracle vs exact L2"),
    Op("q132_ivf_index_probe", ivfIndexProbe, Some(cosineLawSql),
      "artifact-served IVF probe: offline-built IvfIndex v1 snapshot (codebook + cell-PARTITIONED assignments) serves the query as a one-query IvfIndex.probeBatchVersioned batch over manifest-pruned cell scans (nlist and nProbe as q45; TakeOrderedAndProject frontiers, no q_id exchange), no training in-plan; one-query batch law-flag oracle vs exact cosine"),
    Op("q122_batch_cosine_topk", batchCosineTopK, Some(batchCosineTopKSql),
      "batched serving: exact cosine top-5 per each of 8 broadcast query vectors in ONE corpus scan (the per-query frontier: map-side WindowGroupLimit; a one-query batch plans TakeOrderedAndProject)"),
    Op("q135_batch_ivf_index_probe", batchIvfIndexProbe,
      Some(batchIvfIndexProbeSql),
      "batched artifact-served ANN: 8-query batch against q132's IvfIndex v1 snapshot in ONE manifest-pruned scan (IvfIndex.probeBatchVersioned: union of probed cells = the scanned dirs, per-query routing via the cell join); batched law-flag oracle vs exact cosine"),
    Op("q137_batch_pq_index_probe", batchPqIndexProbe,
      Some(batchPqIndexProbeSql),
      "batched PQ/ADC artifact serving: 8-query batch against q131's PqIndex v1 snapshot (PqIndex.probeBatchVersioned) in ONE codes scan (broadcast per-query distance tables, WindowGroupLimit shortlist + exact re-rank frontiers); batched law-flag oracle vs exact L2"),
    Op("q140_ivf_versioned_probe", ivfVersionedProbe,
      Some(ivfVersionedProbeSql),
      "IVF through the VersionedTable manifest layer: atomic v1 publish (codebook + assignments as ONE snapshot), planted v1->v2 delta under the frozen codebook, compact, vacuum -- then the fixed query served off the committed manifest with literal-path cell pruning as a one-query batch; one-query batch law-flag oracle vs exact cosine over the planted-v2 corpus"),
    Op("q141_pq_versioned_batch_probe", pqVersionedBatchProbe,
      Some(pqVersionedBatchProbeSql),
      "batched PQ/ADC through the VersionedTable layer: versioned lifecycle (v1 publish, delta, compact, vacuum), then the 8-query batch served off the committed manifest (codebook/codes/shortlist from ONE resolve, rerank bound to the v2 corpus); batched law-flag oracle vs exact L2 over planted-v2"))


}
