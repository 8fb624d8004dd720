package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Rounding.roundVal
import org.apache.spark.sql.functions._

/** Offline product-quantization index artifact (E13; the precompute
  * pattern behind q117, completing what [[IvfIndex]] does for q45).
  *
  * q117 trains its codebook in-query (memoized per session) and encodes
  * every vector IN-ROW at serving time — correct, but the encode argmin
  * re-reads raw embeddings on every query. The deployed PQ layout
  * (Jégou et al., TPAMI 2011 §IV) stores the encoding once, as one
  * [[VersionedTable]] snapshot:
  *
  *   partitions — (vec_id, codes ARRAY<INT> of length m) PARTITIONED BY
  *                the [[VBuckets]] vec_id shard: the whole corpus at
  *                m·log₂k bits a row (32 here)
  *   `codebook` — extra: (sub, code, centroid), ≤ m·k rows; `code` is
  *                the DENSE positional id per sub (Lloyd can drop
  *                cells, so trained cell ids may be sparse — stored
  *                codes must never depend on that)
  *   `stats`    — extra: the stored-codes count (the shortlist budget)
  *
  * Serving then touches THREE sizes of data, in the right order: the
  * m·k-row codebook becomes driver-side ADC distance tables (one per
  * query, broadcast), the codes table is scanned map-only (a builtin
  * higher-order `aggregate` of table lookups — no embeddings read, no
  * shuffle below the per-query shortlist frontier), and only the
  * shortlist survivors' raw embeddings are fetched from the corpus
  * (vec_id equi-join) for the exact re-rank. At 100 TB that is a
  * 64×-smaller scan per query than q117's in-row encode, for the
  * identical answer — `PqIndexSpec` pins the probe's top-10 equal to
  * q117's on the same corpus.
  */
object PqIndex {

  val M = 8
  val K = 16

  /** vec_id-hash shard count for the codes table. Serving scans every
    * bucket anyway (the shortlist is corpus-wide), so the layout costs
    * probes nothing — its point is [[updateFromVersioned]]: a delta's
    * affected buckets are computable from its IDS alone
    * (`xxhash64(vec_id) mod VBuckets`), no read of the old artifact
    * needed to route the partition rewrite. */
  val VBuckets = 64

  /** Format/params token folded into the shared-cache directory name
    * ([[VectorOps.artifactDir]]): bump the trailing version on ANY
    * change to the layout or training recipe so stale artifacts built
    * by old code are orphaned, not served. v3 = codes partitioned by
    * the [[VBuckets]] vec_id shard for incremental maintenance; v4 =
    * null and off-width embeddings neither train nor get codes. */
  def formatTag: String = s"m${M}k${K}v4"

  private def vbucketCol(vecId: org.apache.spark.sql.Column) =
    pmod(xxhash64(vecId), lit(VBuckets.toLong)).cast("int")

  /** Encode `(vec_id, embedding)` rows against a DENSE positional
    * codebook (per sub, centroids by code; [[VectorOps.codebookMap]]):
    * the m codes are computed in the row ([[VectorOps.pqCodes]]),
    * map-only, beside the vec_id shard column; a vector without codes
    * (null or off-width) is left out. Shared by [[buildVersioned]] and
    * [[updateFromVersioned]] — the dense mapping is order-preserving
    * over the trained cell ids, so encoding against the stored codebook
    * reproduces the build's encode bit-for-bit (lowest-cell tiebreak
    * included). */
  private def encodeWith(vecs: DataFrame,
      cb: Map[Int, Array[Array[Float]]]): DataFrame =
    vecs.select(col("vec_id"), VectorOps.pqCodes(col("embedding"),
        Seq.tabulate(M)(cb(_)), cb(0)(0).length).as("codes"))
      .filter(col("codes").isNotNull)
      .select(col("vec_id"), col("codes"), vbucketCol(col("vec_id")).as("vbucket"))

  /** Explicit schemas for versioned reads. */
  val codesSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("vec_id", LongType),
      StructField("codes", ArrayType(IntegerType)),
      StructField("vbucket", IntegerType)))
  }
  private val codebookSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("sub", IntegerType),
      StructField("code", IntegerType),
      StructField("centroid", ArrayType(FloatType))))
  }
  private val vStatsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType)))

  /** Train + encode into a [[VersionedTable]] at `root`. One pass trains
    * ([[VectorOps.pqCodebook]], deterministic), one pass encodes every
    * vector's m sub-space argmins into the dense positional code array.
    * The dense codebook and the stored-codes count ride as extras of
    * the SAME snapshot as the codes they describe — the count can never
    * be served against codes from a different commit (the shortlist
    * budget stays honest under maintenance), and the codebook/codes
    * pairing is atomic like the IVF family's. */
  def buildVersioned(spark: SparkSession, e: DataFrame, root: String,
      iters: Int = 3, properties: Map[String, String] = Map.empty): Long = {
    import spark.implicits._
    val corpus = e.filter(col("vec_id") =!= 0)
    // the width most rows share: neither a null embedding nor a
    // malformed row that the scan happens to meet first can set it
    val dim = VectorOps.modalWidth(corpus).fold(0)(_._1)
    require(dim > 0 && dim % M == 0, s"dim $dim not divisible by m=$M")
    val cb = VectorOps.codebookMap(VectorOps.pqCodebook(e, M, dim / M, K,
      iters), "cell")
    val dense = cb.toSeq.flatMap { case (s, cents) =>
      cents.zipWithIndex.map { case (c, code) => (s, code, c.toSeq) }
    }.toDF("sub", "code", "centroid")
    // repartition by the partition column before the partitioned write:
    // the map-only encode carries no exchange, and without one every
    // vbucket dir would get one file per encode task
    val rows = encodeWith(corpus, cb).repartition(col("vbucket"))
      .localCheckpoint()
    VersionedTable.publishFull(spark, root, "vbucket", rows,
      Map("codebook" -> dense, "stats" -> Seq(rows.count()).toDF("n")),
      properties)
  }

  /** Incremental maintenance under the FROZEN codebook (the
    * FAISS/Lucene split, as in [[IvfIndex.updateFromVersioned]]): only
    * the delta (`upserts` = added ∪ changed `(vec_id, embedding)`,
    * `removedIds` = `(vec_id)`) is encoded, and the rewrite touches
    * exactly the [[VBuckets]] shards the delta ids hash to — computed
    * WITHOUT reading the old artifact, which is the point of the
    * vec_id-keyed layout. The count MOVES BY THE DELTA instead of a full
    * recount (old total from the snapshot's stats extra, minus the
    * affected buckets' prior rows, plus their replacements — all
    * delta-bounded reads), and codes+count publish as ONE snapshot.
    * `IndexMaintenanceSpec` pins the result row-set-equal to a fresh
    * encode of v2 under the same frozen codebook. */
  def updateFromVersioned(spark: SparkSession, root: String,
      upserts: DataFrame, removedIds: DataFrame,
      properties: Map[String, String] = Map.empty): Long = {
    import spark.implicits._
    VersionedTable.retryingPublish(spark, root) { snap =>
      // derived from the ATTEMPT's base snapshot ([[Bm25Index
      // .updateFromVersioned]]'s rationale): the count delta in
      // particular MUST be computed against the base actually being
      // committed over, or a lost race would double-move it
      val cb = VectorOps.codebookMap(VersionedTable.readExtra(spark, snap,
        root, "codebook", codebookSchema), "code")
      val nOld = VersionedTable.readExtra(spark, snap, root, "stats",
        vStatsSchema).collect().head.getLong(0)
      val (ups, dropIds) = IndexMaintenance.keyedDelta(upserts, removedIds,
        "vec_id", Seq("embedding"))
      val affectedBuckets = IndexMaintenance.distinctVals(
        dropIds.select(vbucketCol(col("vec_id")).as("vbucket")), "vbucket")
      val before = VersionedTable.read(spark, snap, root, codesSchema,
        wanted = Some(affectedBuckets))
      val kept = before.join(broadcast(dropIds), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("codes"), col("vbucket"))
      val added = encodeWith(ups, cb)
      // one file per vbucket dir, as in [[buildVersioned]]
      val replacement = kept.unionByName(added).repartition(col("vbucket"))
        .localCheckpoint()
      val nNew = nOld - before.count() + replacement.count()
      VersionedTable.Delta(affectedBuckets, replacement,
        Map("stats" -> Seq(nNew).toDF("n")), properties)
    }
  }

  /** Serve a query BATCH `(q_id, q_emb)` from the CURRENT snapshot in
    * ONE codes scan — the family's one serving plan: a single query is a
    * one-query batch ([[probeVersioned]]), and
    * [[graft.streaming.StreamingOps.pqServeStream]] resolves exactly
    * this per micro-batch. Codebook, codes, and the shortlist budget's
    * count come from ONE resolved manifest — a publish landing
    * mid-probe cannot pair a new codebook with old codes or a stale
    * budget. The budget defaults to the same corpus-derived size q117's
    * in-query path uses ([[AnnParams.adcShortlist]] over the
    * stored-codes count), keeping artifact and in-query answers
    * identical. The per-query ADC distance tables are computed
    * DRIVER-side against the m·k-row codebook (the batch is bounded — a
    * retrieval tier's micro-batch, not a corpus) and ride as ONE
    * broadcast (q_id, dt) block, so each stored code row is scored
    * against every query in-row with table lookups — embeddings
    * untouched, no shuffle below the frontier. Both the shortlist and
    * the final top-`k` are the one per-query frontier
    * ([[IndexMaintenance.topKPerQuery]]): a one-query batch runs as
    * `TakeOrderedAndProject` with no q_id exchange, a larger one as the
    * map-side `WindowGroupLimit` (q122/q135's law), whose q_id exchange
    * carries ≤ n·|queries|·partitions rows regardless of corpus size.
    * The exact re-rank needs the RAW embeddings, which the PQ artifact
    * deliberately does not store — `corpusOf` maps the
    * resolved snapshot VERSION to the rerank store so the caller can
    * bind embeddings that are consistent with that commit (rerank
    * against another version's embedding of an upserted vec_id would
    * score the wrong vector). Only the ≤ shortlist·|queries| survivors'
    * embeddings are fetched, null-filtered (a malformed corpus row must
    * not outrank real ones). A `q_id` delivered twice with the same
    * vector is answered once; one delivered with two different vectors
    * is rejected ([[IndexMaintenance.oneQueryPerId]]). Returns
    * (q_id, rnk, vec_id, l2, adc) — the survivor's shortlist distance
    * rides through the re-rank. */
  def probeBatchVersioned(spark: SparkSession, root: String,
      queries: DataFrame, corpusOf: Long => DataFrame, k: Int = 10,
      shortlistOpt: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val snap = VersionedTable.currentSnapshot(spark, root).getOrElse(
      throw new IllegalStateException(s"no PQ snapshot at $root"))
    val cb = VectorOps.codebookMap(
      VersionedTable.readExtra(spark, snap, root, "codebook",
        codebookSchema), "code")
    val shortlist = shortlistOpt.getOrElse(
      AnnParams.adcShortlist(versionedCount(spark, root, snap)))
    val qs = IndexMaintenance.oneQueryPerId(
      IndexMaintenance.vectorQueries(queries))
    require(qs.nonEmpty, "empty query batch")
    require(cb.size == M, s"codebook covers ${cb.size} of $M sub-spaces")
    val qdt = qs.map { case (qid, qv) =>
      val dsub = qv.length / M
      (qid, VectorOps.adcSqTable(cb, M,
        s => qv.slice(s * dsub, (s + 1) * dsub).map(_.toDouble).toArray)
        .map(_.toSeq).toSeq)
    }.toDF("q_id", "dt")
    val adc = aggregate(sequence(lit(0), lit(M - 1)), lit(0.0),
      (acc, s) => acc +
        element_at(element_at(col("dt"), s + 1),
          element_at(col("codes"), s + 1) + 1))
    val ids = IndexMaintenance.topKPerQuery(
        VersionedTable.read(spark, snap, root, codesSchema)
          .crossJoin(broadcast(qdt))
          .select(col("q_id"), col("vec_id"), roundVal(adc, 4).as("adc")),
        qs.size, shortlist, col("adc").asc, col("vec_id"))
      .select(col("q_id"), col("vec_id"), col("adc"))
    val reranked = ids
      .join(corpusOf(snap.version).select(col("vec_id"), col("embedding")),
        "vec_id")
      .join(broadcast(qs.toDF("q_id", "q_emb")), "q_id")
      .select(col("q_id"), col("vec_id"), col("adc"),
        roundVal(VectorOps.sqDist(col("embedding"), col("q_emb")), 4)
          .as("l2"))
      .filter(col("l2").isNotNull)
    IndexMaintenance.topKPerQuery(reranked, qs.size, k,
        col("l2").asc, col("vec_id"))
      .select(col("q_id"), col("rnk"), col("vec_id"), col("l2"), col("adc"))
  }

  /** One query vector: the batch plan over the one-query batch
    * `q_id = 0`, answered as (vec_id, adc, l2) top-10 in q117's shape,
    * the exact re-rank against `corpus`. */
  def probeVersioned(spark: SparkSession, root: String, qv: Array[Float],
      corpus: DataFrame, shortlistOpt: Option[Int] = None): DataFrame = {
    import spark.implicits._
    probeBatchVersioned(spark, root,
        Seq((0L, qv.toSeq)).toDF("q_id", "q_emb"), _ => corpus,
        shortlistOpt = shortlistOpt)
      .orderBy(col("rnk")).select(col("vec_id"), col("adc"), col("l2"))
  }

  private val countMemo = new VersionedTable.SnapshotMemo[java.lang.Long]

  /** Stored-codes count from the snapshot's stats extra, on the shared
    * [[VersionedTable.SnapshotMemo]]. A zero-row read (torn extra)
    * degrades to ONE uncached count job over the snapshot's codes,
    * self-healing once the extra reads again. */
  private def versionedCount(spark: SparkSession, root: String,
      snap: VersionedTable.Snapshot): Long =
    countMemo.get(root, snap) {
      VersionedTable.readExtra(spark, snap, root, "stats", vStatsSchema)
        .collect().headOption.map(r => java.lang.Long.valueOf(r.getLong(0)))
    }.map(_.longValue).getOrElse(
      VersionedTable.read(spark, snap, root, codesSchema).count())
}
