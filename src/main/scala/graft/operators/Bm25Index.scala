package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Offline BM25 posting-list artifact (E14/E13 retrieval family; the
  * import-then-query lifecycle of [[PqIndex]]/[[IvfIndex]] applied to
  * LEXICAL retrieval — the reference's own import-once/query-later
  * shape, `app.py:88-183`).
  *
  * q133 computes Okapi BM25 in one honest tokenize pass, but it
  * re-tokenizes the corpus on EVERY query — at 100 TB, lexical
  * retrieval serves from a prebuilt inverted index, not a re-tokenize
  * (Robertson et al., TREC-3; every Lucene/ES deployment). The build
  * step runs the tokenize ONCE and publishes one [[VersionedTable]]
  * snapshot:
  *
  *   partitions — (w, doc_id, tf, dl, df) PARTITIONED BY `bucket` =
  *                xxhash64(w) mod [[Buckets]]: the term-sharded layout
  *                a cluster co-locates postings by. dl/df are
  *                denormalized into the row (Lucene stores per-doc
  *                norms the same way) so serving needs NO join against
  *                a doc-lengths table.
  *   `stats`    — extra: 1 row (n_docs, total_len) — the corpus
  *                constants of the BM25 formula, versioned WITH the
  *                postings they must agree with.
  *
  * Serving a query is then: map its terms to their buckets (literal
  * path selection off the manifest — the scan touches |terms| of
  * [[Buckets]] partitions), push `w IN (terms)` into the pruned scan,
  * score each surviving posting row against the memoized corpus
  * constants (literals in the plan — the stats extra is read once per
  * snapshot per JVM, not once per probe), and aggregate per doc — cost
  * proportional to the matched postings, not the corpus.
  * `Bm25IndexSpec` pins the pruned/pushed plan and the answer's
  * equality to q133's re-tokenize path; the declared q134 carries
  * q133's exact DuckDB oracle (identical integer inputs, identical
  * double expression, one `round(·,4)`).
  */
object Bm25Index {

  /** Term-shard count. At fixture scale this is plain partition
    * pruning; at 100 TB each bucket is the unit postings co-locate and
    * scale by (a hot shard splits by raising the count — which changes
    * [[formatTag]] and thus rebuilds, as it must). */
  val Buckets = 64

  /** Format/params token folded into the shared-cache directory name
    * ([[VectorOps.artifactDir]]): bump on any change to the layout,
    * tokenizer, or bucket rule so stale artifacts built by old code are
    * orphaned rather than served. */
  def formatTag: String = s"b$Buckets-v1"

  /** Postings schema, used for explicit-schema reads so an
    * empty-corpus artifact (zero postings partitions) still serves an
    * empty result instead of failing schema inference. */
  val postingsSchema: StructType = StructType(Seq(
    StructField("w", StringType),
    StructField("doc_id", LongType),
    StructField("tf", LongType),
    StructField("dl", LongType),
    StructField("df", LongType),
    StructField("bucket", IntegerType)))

  private val statsSchema: StructType = StructType(Seq(
    StructField("n_docs", LongType),
    StructField("total_len", LongType)))

  private def bucketCol(w: org.apache.spark.sql.Column) =
    pmod(xxhash64(w), lit(Buckets.toLong)).cast("int")

  private val vStatsMemo = new VersionedTable.SnapshotMemo[(Long, Long)]

  /** Per-(root, version) corpus constants for [[probeBatchVersioned]],
    * on the shared [[VersionedTable.SnapshotMemo]] (key format,
    * rollover eviction, and the degenerate-read no-cache policy live
    * there). A complete build always writes exactly one stats row (the
    * aggregate of an empty corpus is (0, null)), so a zero-row read
    * means a lost part file: serve zeros UNCACHED — memoizing the
    * degenerate read would pin bogus IDF/avgdl constants forever. */
  private def versionedStats(spark: SparkSession, root: String,
      snap: VersionedTable.Snapshot): (Long, Long) =
    vStatsMemo.get(root, snap)(statsOf(
      VersionedTable.readExtra(spark, snap, root, "stats", statsSchema)))
      .getOrElse((0L, 0L))

  /** (n_docs, total_len) of a stats-extra read — None when it has no
    * row; an empty corpus's null total_len is 0. */
  private def statsOf(stats: DataFrame): Option[(Long, Long)] =
    stats.collect().headOption.map(row =>
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1)))

  /** q133's lower+space-split token contract — ONE definition shared
    * by [[buildVersioned]] and [[updateFromVersioned]], whose df/dl
    * math silently diverges from the stored postings if the tokenize
    * forks. */
  private def termFreq(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
    .filter(col("w") =!= "")
    .groupBy(col("doc_id"), col("w"))
    .agg(count(lit(1)).as("tf"))

  /** Build the index into a [[VersionedTable]] at `root` from a
    * `(doc_id, text)` frame: ONE tokenize pass (q133's lower+space-split
    * token contract), tf per (doc, term), dl/df derived from the tf
    * frame (no second tokenize), everything denormalized into the
    * bucket-partitioned postings. Postings and the stats extra publish
    * as ONE atomic snapshot (they must agree — df/n_docs enter the same
    * formula). Offline cost: the tokenize plus two tf-frame
    * aggregations and two joins — paid once per corpus. */
  def buildVersioned(spark: SparkSession, docs: DataFrame,
      root: String, properties: Map[String, String] = Map.empty): Long = {
    val tf = termFreq(docs)
      .localCheckpoint() // dl, df, AND the postings write all read it
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val rows = tf.join(dl, "doc_id").join(df, "w")
      .withColumn("bucket", bucketCol(col("w")))
      .select(col("w"), col("doc_id"), col("tf"), col("dl"), col("df"),
        col("bucket"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_len"))
    // repartition by the partition column before the partitioned write,
    // as IvfIndex does by cell: each write task emits one file per
    // bucket it holds, so the joins' partitions would scatter every
    // bucket dir over several files
    VersionedTable.publishFull(spark, root, "bucket",
      rows.repartition(col("bucket")), Map("stats" -> stats), properties)
  }

  /** Incremental maintenance — apply a corpus delta (q100's diff
    * classes: `upserts` = added ∪ changed docs as `(doc_id, text)`,
    * `removedIds` = `(doc_id)` of removed docs) WITHOUT re-tokenizing
    * the unchanged corpus. Only the delta is tokenized; the rewrite
    * touches exactly the buckets of the AFFECTED terms — every term
    * whose doc-set changed, which is by construction the union of the
    * delta docs' term sets, so every stale row (dropped doc, moved df)
    * lives inside the rewritten partitions and untouched buckets stay
    * shared with the previous snapshot. df is denormalized, so affected
    * terms' surviving rows are rewritten with
    * `df − removedDocs(w) + addedDocs(w)`; dl rides only on the delta
    * docs' own rows. One pushed-`doc_id IN` read of the old postings
    * recovers the dropped docs' term sets and lengths (the reverse
    * index IS the forward information at delta size). Stats move by
    * the same deltas, and the affected buckets' replacements and the
    * moved stats land as ONE copy-on-write snapshot — readers see the
    * old index or the new one, never postings from v2 scored against
    * v1's corpus constants. Published through
    * [[VersionedTable.retryingPublish]]: the delta is DERIVED from the
    * attempt's own base snapshot, so a concurrent commit (a backfill
    * colliding with the nightly job) makes this recompute against the
    * winner's state and retry instead of applying df/dl/stats movements
    * computed against a superseded base. `IndexMaintenanceSpec` pins
    * the result equal to `buildVersioned(v2)`. */
  def updateFromVersioned(spark: SparkSession, root: String,
      upserts: DataFrame, removedIds: DataFrame,
      properties: Map[String, String] = Map.empty): Long =
    VersionedTable.retryingPublish(spark, root) { snap =>
      import spark.implicits._
      val old = VersionedTable.read(spark, snap, root, postingsSchema)
      val s = VersionedTable.readExtra(spark, snap, root, "stats",
        statsSchema).collect().headOption
      val (n1, len1) = (s.map(_.getLong(0)).getOrElse(0L),
        s.filter(!_.isNullAt(1)).map(_.getLong(1)).getOrElse(0L))
      val (ups, dropIds) = IndexMaintenance.keyedDelta(upserts, removedIds,
        "doc_id", Seq("text"))
      // the delta docs' OLD rows: df decrements + dropped dl both come
      // from here — a literal pushed `doc_id IN` predicate (row-group
      // skipping makes the read delta-bounded; join fallback for huge
      // deltas)
      val droppedOld = IndexMaintenance.filterByIds(old, "doc_id", dropIds)
        .localCheckpoint()
      val newTf = termFreq(ups).localCheckpoint()
      val newDl = newTf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        .localCheckpoint()
      val dfMinus = droppedOld.groupBy(col("w"))
        .agg(count(lit(1)).as("minus"))
      val dfPlus = newTf.groupBy(col("w")).agg(count(lit(1)).as("plus"))
      val deltas = dfMinus.join(dfPlus, Seq("w"), "full_outer")
        .select(col("w"), coalesce(col("minus"), lit(0L)).as("minus"),
          coalesce(col("plus"), lit(0L)).as("plus"))
        .localCheckpoint()
      val affectedBuckets = IndexMaintenance.distinctVals(
        deltas.select(bucketCol(col("w")).as("bucket")), "bucket")
      // old df of every affected term — from the FULL postings (a term
      // can gain docs without losing any, so droppedOld alone would
      // reset its count), read bucket-pruned to the affected set; 0 for
      // brand-new terms. df2 = df − minus + plus; a term whose df2 hits
      // 0 has no surviving rows to carry it — it vanishes, as in build
      val oldDf = old.filter(col("bucket").isin(affectedBuckets: _*))
        .join(broadcast(deltas.select(col("w"))), "w")
        .groupBy(col("w")).agg(max(col("df")).as("df_old"))
      val df2 = deltas.join(oldDf, Seq("w"), "left")
        .select(col("w"),
          (coalesce(col("df_old"), lit(0L)) - col("minus") + col("plus"))
            .as("df2"))
        .localCheckpoint()
      // surviving rows of the affected buckets, with moved df values;
      // the bucket filter partition-prunes the read to the rewrite set
      val kept = old
        .filter(col("bucket").isin(affectedBuckets: _*))
        .join(broadcast(dropIds), Seq("doc_id"), "left_anti")
        .join(broadcast(df2), Seq("w"), "left")
        .select(col("w"), col("doc_id"), col("tf"), col("dl"),
          coalesce(col("df2"), col("df")).as("df"), col("bucket"))
      val added = newTf.join(newDl, "doc_id")
        .join(broadcast(df2), "w")
        .select(col("w"), col("doc_id"), col("tf"), col("dl"),
          col("df2").as("df"), bucketCol(col("w")).as("bucket"))
      // corpus constants move by the delta (a doc counts iff it has ≥1
      // token — droppedOld/newDl carry exactly those docs)
      val droppedDl = droppedOld.select(col("doc_id"), col("dl")).distinct()
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("dl")), lit(0L)).as("len"))
        .collect().head
      val addedDl = newDl
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("dl")), lit(0L)).as("len"))
        .collect().head
      val newStats = Seq((n1 - droppedDl.getLong(0) + addedDl.getLong(0),
          len1 - droppedDl.getLong(1) + addedDl.getLong(1)))
        .toDF("n_docs", "total_len")
      // repartition before the partitioned write: [[buildVersioned]]
      VersionedTable.Delta(affectedBuckets,
        kept.unionByName(added).repartition(col("bucket")),
        Map("stats" -> newStats), properties)
    }

  /** Serve a query BATCH from the CURRENT snapshot in ONE postings
    * scan: per query the top-`k` docs by Okapi BM25 (k1=1.2, b=0.75,
    * Lucene's +1-inside-the-log IDF) in q133's exact shape — rounded
    * score, doc_id tiebreak — as (q_id, doc_id, bm25, n_query_terms,
    * rnk), totally ordered for the declared form, `rnk` the frontier's
    * 1..k rank within the query. This is the family's one
    * serving plan: a single query is a one-query batch
    * ([[probeVersioned]]), and [[graft.streaming.StreamingOps]] wraps
    * exactly this per micro-batch (the rollover boundary is the batch
    * boundary). ONE manifest resolve covers the batch, so postings and
    * the corpus constants come from the same commit. Bucket pruning is
    * literal path selection off the manifest (only the UNION of the
    * batch's term buckets is handed to the scan) with the union term
    * list pushed into it; the constants are the per-snapshot memo's
    * literals, never a per-probe stats read. See [[scoreBatch]] for the
    * posting-proportional rest. A `q_id` delivered twice with the same
    * terms is answered once; one delivered with two different term
    * multisets is rejected ([[IndexMaintenance.oneQueryPerId]]). */
  def probeBatchVersioned(spark: SparkSession, root: String,
      queries: Seq[(Long, Seq[String])], k: Int = 20): DataFrame = {
    val mults = batchMults(queries)
    val snap = currentSnapshot(spark, root)
    val (nDocs, totalLen) = versionedStats(spark, root, snap)
    val terms = queries.flatMap(_._2).distinct
    val postings = VersionedTable.read(spark, snap, root, postingsSchema,
        wanted = Some(termBuckets(spark, terms)))
      .filter(col("w").isin(terms: _*)) // pushed into each gen scan
    scoreBatch(spark, postings, mults, nDocs, totalLen, k)
  }

  /** One keyword query: [[probeBatchVersioned]] over the one-query batch
    * `q_id = 0`, answered as (doc_id, bm25, n_query_terms) — q133's
    * columns, so its plan prunes the rank window. */
  def probeVersioned(spark: SparkSession, root: String, terms: Seq[String],
      k: Int = 20): DataFrame =
    probeBatchVersioned(spark, root, Seq(0L -> terms), k).drop("q_id", "rnk")

  /** [[probeVersioned]] with postings AND corpus stats resolved through
    * the NAMED-FORMAT read surface (`spark.read.format("graftvt")` —
    * [[graft.sources.GraftVt]]) instead of library reads, scored by the
    * same [[scoreBatch]]: q138's exact query re-served through the DSv1
    * layer, which must be answer-invariant (q148's driver check shares
    * q138's oracle; `Bm25IndexSpec` pins the equality). The `bucket IN`
    * filter lands in the relation as partition-value pruning — the same
    * literal-dir selection the library read gets from `wanted` — and
    * the version is PINNED across the two format reads so a mid-probe
    * publish cannot mix postings with another snapshot's stats. Hot
    * serving keeps the library reads (the Row hand-off at a V1 relation
    * boundary exits codegen); this entry exists to prove the interop
    * surface serves the same answers. */
  def probeVersionedViaFormat(spark: SparkSession, root: String,
      terms: Seq[String], k: Int = 20): DataFrame = {
    val mults = batchMults(Seq(0L -> terms))
    val snap = currentSnapshot(spark, root)
    def fmt = spark.read.format("graftvt").option("path", root)
      .option("versionAsOf", snap.version.toString)
    val (nDocs, totalLen) = statsOf(fmt.option("extra", "stats")
      .schema(statsSchema).load()).getOrElse((0L, 0L))
    val distinctTerms = terms.distinct
    val postings = fmt.schema(postingsSchema).load()
      .filter(col("bucket").isin(termBuckets(spark, distinctTerms): _*))
      .filter(col("w").isin(distinctTerms: _*)) // row-level re-apply
    scoreBatch(spark, postings, mults, nDocs, totalLen, k)
      .drop("q_id", "rnk")
  }

  private def currentSnapshot(spark: SparkSession,
      root: String): VersionedTable.Snapshot =
    VersionedTable.currentSnapshot(spark, root).getOrElse(
      throw new IllegalStateException(s"no BM25 snapshot at $root"))

  /** A batch as (q_id, term, multiplicity) rows, one query per q_id
    * ([[IndexMaintenance.oneQueryPerId]] over each query's term
    * multiset). The multiplicity gives q133 parity under duplicated
    * query terms: bm25SearchOf scores one term-column per OCCURRENCE,
    * postings carry each (doc, term) once — so each matched posting is
    * weighted by its term's query multiplicity. */
  private def batchMults(queries: Seq[(Long, Seq[String])])
      : Seq[(Long, String, Long)] = {
    require(queries.nonEmpty, "empty query batch")
    require(queries.forall(_._2.nonEmpty), "a batch query has no terms")
    IndexMaintenance.oneQueryPerId(queries.map { case (qid, ts) =>
        qid -> termCounts(ts) })
      .flatMap { case (qid, m) => m.map { case (t, n) => (qid, t, n) } }
  }

  /** A query's term multiset: the payload two deliveries of one `q_id`
    * are compared by. */
  private[graft] def termCounts(terms: Seq[String]): Map[String, Long] =
    terms.groupBy(identity).map { case (t, occ) => t -> occ.size.toLong }

  /** The buckets of driver-literal terms. The bucket rule is Spark's
    * xxhash64 — evaluated on a literal frame (LocalTableScan, no file
    * I/O) rather than re-implemented driver-side. */
  private def termBuckets(spark: SparkSession, terms: Seq[String]): Seq[Int] =
    spark.range(1).select(terms.map(t => bucketCol(lit(t))): _*)
      .collect().head.toSeq.map(_.asInstanceOf[Int]).distinct

  /** Okapi BM25's per-posting score (k1=1.2, b=0.75, Lucene's
    * +1-inside-the-log IDF) over the `tf`/`dl`/`df`/`avgdl` columns. */
  private def score(nDocs: Long): org.apache.spark.sql.Column =
    log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
      (col("tf") * (lit(1.2) + 1.0)) /
      (col("tf") + lit(1.2) *
        (lit(1.0) - 0.75 + lit(0.75) * col("dl") / col("avgdl")))

  /** nDocs == 0 means no postings exist to score — but the avgdl
    * literal still constant-folds eagerly under ANSI, so the 0/0 must
    * be resolved driver-side, not left to the (empty) plan. */
  private def avgdlOf(nDocs: Long, totalLen: Long): Double =
    if (nDocs == 0) 0.0 else totalLen.toDouble / nDocs

  /** Okapi BM25 over an already-pruned postings frame, per query: each
    * surviving posting row joins the broadcast (q_id, w, mult) block —
    * so a posting matched by several queries scores once PER QUERY,
    * with per-query multiplicity — and the per-query top-`k` is the one
    * frontier, [[IndexMaintenance.topKPerQuery]]: a one-query batch runs
    * as `TakeOrderedAndProject` with no exchange, a larger one as the
    * map-side `WindowGroupLimit` below the q_id exchange, which carries
    * ≤ k·|queries|·partitions rows no matter the corpus. The frontier
    * leaves ≤ k rows per query, so the final total order's
    * `limit(k·|queries|)` cuts nothing: it lets Spark run it as
    * `TakeOrderedAndProject` instead of a range-partitioned sort and its
    * sampling job. Everything here is posting-proportional. */
  private def scoreBatch(spark: SparkSession, postings: DataFrame,
      mults: Seq[(Long, String, Long)], nDocs: Long, totalLen: Long,
      k: Int): DataFrame = {
    import spark.implicits._
    val nQueries = mults.map(_._1).distinct.size
    val scored = postings
      .join(broadcast(mults.toDF("q_id", "w", "mult")), "w")
      .withColumn("avgdl", lit(avgdlOf(nDocs, totalLen)))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(graft.functions.Rounding.roundVal(
          sum(score(nDocs) * col("mult")), 4).as("bm25"),
        sum(col("mult")).as("n_query_terms"))
    IndexMaintenance.topKPerQuery(scored, nQueries, k,
        col("bm25").desc, col("doc_id"))
      .select(col("q_id"), col("doc_id"), col("bm25"),
        col("n_query_terms"), col("rnk"))
      .orderBy(col("q_id"), col("bm25").desc, col("doc_id"))
      .limit(k * nQueries)
  }
}
