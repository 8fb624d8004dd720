package graft

import graft.operators.{Bm25Index, CurationOps, IndexMaintenance, IvfIndex,
  PipelineOps, PqIndex, VectorOps, VersionedTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The incremental-maintenance law per index family (round-9 verdict
  * item 2): `updateFromVersioned(v1→v2) == build-from-scratch(v2)` —
  * exact content equality, where "from scratch" for the trained families
  * (IVF, PQ) means re-derived under the SAME frozen codebook (the
  * FAISS/Lucene model/derived-state split). The corpus delta is q100's
  * planted v2 (documents) and an analogous planted delta (embeddings):
  * removed `%89`, changed `%97`, added re-crawls `+1000000`. */
class IndexMaintenanceSpec extends SparkSpec {

  import spark.implicits._

  private def docsV1 = Tables.documents(spark, sfDir)
    .select(col("doc_id"), col("text"))
  private def docsV2 = CurationOps.plantedV2(Tables.documents(spark, sfDir))
    .select(col("doc_id"), col("text"))

  /** The diff classes computed the honest way (q100's content diff),
    * not read off the planting rule — maintenance consumes what a real
    * snapshot-diff job emits, via the ONE shared null-safe definition
    * (a hand-copied h-is-null variant here once misclassified null-text
    * docs as absent — `md5(null)` is null). */
  private def docDiff: (DataFrame, DataFrame) =
    IndexMaintenance.contentDiff(docsV1, docsV2, Seq("text"))

  private def built(docs: DataFrame, prefix: String): String = {
    val root = tempDir(prefix).toString
    Bm25Index.buildVersioned(spark, docs, root)
    root
  }

  /** The current postings as a SORTED multiset — a duplicated row must
    * show, so no set comparison. */
  private def postingsRows(root: String) =
    VersionedTable.readCurrent(spark, root, Bm25Index.postingsSchema)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5))).toSeq.sorted

  private def bm25Stats(root: String) =
    VersionedTable.readExtra(spark,
        VersionedTable.currentSnapshot(spark, root).get, root, "stats",
        StructType.fromDDL("n_docs BIGINT, total_len BIGINT"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("BM25: updateFrom(v1->v2 diff) == build(v2) — postings, stats, and serving all equal") {
    val rootA = built(docsV1, "graft_im_bm25_a")
    val (upserts, removed) = docDiff
    assert(upserts.count() > 0 && removed.count() > 0,
      "fixture must exercise both delta classes")
    Bm25Index.updateFromVersioned(spark, rootA, upserts, removed)
    val rootB = built(docsV2, "graft_im_bm25_b")
    assert(postingsRows(rootA) == postingsRows(rootB),
      "incrementally-maintained postings must equal a fresh v2 build")
    assert(bm25Stats(rootA) == bm25Stats(rootB), "stats must move by the delta")
    val terms = Seq("window", "spark", "stream")
    def served(root: String) = Bm25Index.probeVersioned(spark, root, terms)
      .collect().map(_.toSeq).toSeq
    assert(served(rootA) == served(rootB))
    // end-to-end: the updated artifact serves the v2 corpus's answer
    assert(served(rootA) ==
      PipelineOps.bm25SearchOf(docsV2, terms).collect().map(_.toSeq).toSeq,
      "updated index must serve q133's answer over v2")
  }

  test("BM25: updateFrom rewrites only the affected buckets") {
    val root = built(docsV1, "graft_im_bm25_p")
    val before = VersionedTable.currentSnapshot(spark, root).get
    // a one-doc delta with an uncommon token set touches few buckets
    val upsert = Seq((4242424242L, "zzyzx qwxyzzy")).toDF("doc_id", "text")
    Bm25Index.updateFromVersioned(spark, root, upsert,
      spark.range(0).select(col("id").as("doc_id")))
    val after = VersionedTable.currentSnapshot(spark, root).get
    val touched = VersionedTable.changedPartitionDirs(before, after).toSet
    val expected = spark.range(1).select(
        pmod(xxhash64(lit("zzyzx")), lit(Bm25Index.Buckets.toLong)).cast("int"),
        pmod(xxhash64(lit("qwxyzzy")), lit(Bm25Index.Buckets.toLong)).cast("int"))
      .collect().head.toSeq.map(v => s"bucket=$v").toSet
    assert(touched == expected,
      s"delta must rewrite exactly the delta terms' buckets: " +
        s"touched=$touched expected=$expected")
    assert(before.parts.keySet.subsetOf(after.parts.keySet),
      "untouched buckets must survive")
  }

  test("BM25 versioned: full lifecycle — build, delta, compact, vacuum — serves v2's answer with snapshot isolation") {
    val root = built(docsV1, "graft_im_vt")
    val terms = Seq("window", "spark", "stream")
    val v1Answer = Bm25Index.probeVersioned(spark, root, terms)
      .collect().map(_.toSeq).toSeq
    assert(v1Answer == PipelineOps.bm25SearchOf(docsV1, terms)
      .collect().map(_.toSeq).toSeq,
      "versioned layout must serve q133's v1 answer")
    // a reader pinned to snapshot v1 BEFORE the delta publishes
    val snap1 = VersionedTable.currentSnapshot(spark, root).get
    val (upserts, removed) = docDiff
    Bm25Index.updateFromVersioned(spark, root, upserts, removed)
    // postings+stats moved as ONE snapshot: the served answer is v2's
    val v2Answer = PipelineOps.bm25SearchOf(docsV2, terms)
      .collect().map(_.toSeq).toSeq
    assert(Bm25Index.probeVersioned(spark, root, terms)
      .collect().map(_.toSeq).toSeq == v2Answer,
      "delta-maintained snapshot must serve q133's answer over v2")
    // snapshot isolation: the pinned v1 postings still read v1's rows
    val pinned = VersionedTable.read(spark, snap1, root,
      Bm25Index.postingsSchema)
    assert(pinned.collect().map(_.toSeq).toSet ==
      VersionedTable.readCurrent(spark, built(docsV1, "graft_im_vt_ref"),
        Bm25Index.postingsSchema).collect().map(_.toSeq).toSet,
      "a v1-pinned reader must keep v1's exact postings after v2 lands")
    // compaction folds the delta's fragmentation; answer unchanged
    VersionedTable.compact(spark, root, Bm25Index.postingsSchema,
      maxFilesPerPart = 1)
    assert(Bm25Index.probeVersioned(spark, root, terms)
      .collect().map(_.toSeq).toSeq == v2Answer,
      "compaction must not change the served answer")
    // vacuum to current only; serving still works, v1 gens reclaimed
    VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    assert(Bm25Index.probeVersioned(spark, root, terms)
      .collect().map(_.toSeq).toSeq == v2Answer,
      "vacuum must never touch the current snapshot's files")
  }

  /** Planted embeddings v2 mirroring the documents rule: `%89` removed,
    * `%97` changed (negated vector — same dim, different cell), `%101`
    * re-crawled as `+1000000`. */
  private def embDelta: (DataFrame, DataFrame, DataFrame) = {
    val v1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
    val v2 = v1.filter(pmod(col("vec_id"), lit(89L)) =!= 0)
      .withColumn("embedding",
        when(pmod(col("vec_id"), lit(97L)) === 0,
          expr("transform(embedding, x -> -x)")).otherwise(col("embedding")))
      .unionByName(v1.filter(pmod(col("vec_id"), lit(101L)) === 0)
        .withColumn("vec_id", col("vec_id") + 1000000L))
    val removed = v1.filter(pmod(col("vec_id"), lit(89L)) === 0)
      .select(col("vec_id"))
    // changed = the negated `%97` rows (v2's base part already excludes
    // the removed `%89` ids); added = the `+1000000` re-crawls
    val upserts = v2.filter(col("vec_id") > 1000000L ||
      pmod(col("vec_id"), lit(97L)) === 0)
    (v2, upserts, removed)
  }

  private def embV1 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .filter(col("vec_id") =!= 0)
    .select(col("vec_id"), col("embedding"))

  private def ivfCodebook(root: String) = VersionedTable.readExtra(spark,
    VersionedTable.currentSnapshot(spark, root).get, root, "codebook",
    IvfIndex.codebookSchema).localCheckpoint()

  /** Current (vec_id, cell) assignments as a SORTED multiset. */
  private def cellsOf(df: DataFrame) = df.select(col("vec_id"), col("cell"))
    .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted

  /** Current PQ codes as a SORTED multiset. */
  private def codesOf(root: String) =
    VersionedTable.readCurrent(spark, root, PqIndex.codesSchema)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Int](1).mkString(","), r.getInt(2))).toSeq.sorted

  private def pqCount(root: String) = VersionedTable.readExtra(spark,
      VersionedTable.currentSnapshot(spark, root).get, root, "stats",
      StructType.fromDDL("n BIGINT"))
    .collect().head.getLong(0)

  test("IVF: updateFrom under the frozen codebook == fresh assignCells(v2)") {
    val (v2, upserts, removed) = embDelta
    val v1 = embV1
    assert(upserts.count() > 0 && removed.count() > 0)
    val root = tempDir("graft_im_ivf").toString
    IvfIndex.buildVersioned(spark, v1, root)
    val frozen = ivfCodebook(root)
    val snap1 = VersionedTable.currentSnapshot(spark, root).get
    IvfIndex.updateFromVersioned(spark, root, upserts, removed)
    val want = VectorOps.assignCells(v2, frozen)
    assert(cellsOf(VersionedTable.readCurrent(spark, root,
        IvfIndex.assignmentsSchema)) == cellsOf(want),
      "incremental assignments must equal re-assigning v2 under the " +
        "frozen codebook")
    // snapshot isolation: v1's assignment count is unchanged under v2
    assert(VersionedTable.read(spark, snap1, root, IvfIndex.assignmentsSchema)
      .count() == v1.count(),
      "the pre-delta snapshot still reads all of v1's assignments")
    // serving parity with a from-scratch v2 snapshot under the same
    // frozen codebook, at an explicit nProbe (default derivation is
    // count-sensitive; parity needs the same width on both routes)
    val ref = tempDir("graft_im_ivf_ref").toString
    VersionedTable.publishFull(spark, ref, "cell", want,
      Map("codebook" -> frozen))
    val q = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val served = IvfIndex.probeVersioned(spark, root, q, Some(3))
      .collect().map(_.toSeq).toSeq
    assert(served.length == 10)
    assert(served == IvfIndex.probeVersioned(spark, ref, q, Some(3))
      .collect().map(_.toSeq).toSeq,
      "the maintained snapshot must serve the from-scratch v2 answer")
  }

  test("PQ: updateFrom delta-encode == full re-encode under the frozen codebook; meta re-stamped") {
    val (v2, upserts, removed) = embDelta
    val v1 = embV1
    val rootA = tempDir("graft_im_pq_a").toString
    val rootB = tempDir("graft_im_pq_b").toString
    PqIndex.buildVersioned(spark, v1, rootA)
    PqIndex.buildVersioned(spark, v1, rootB)
    // A: the real delta; B: the degenerate full-corpus delta = a
    // complete re-encode of v2 under the same (deterministically
    // trained on v1, hence identical) frozen codebook
    PqIndex.updateFromVersioned(spark, rootA, upserts, removed)
    PqIndex.updateFromVersioned(spark, rootB, v2, v1.select(col("vec_id")))
    assert(codesOf(rootA) == codesOf(rootB),
      "delta encode must equal the full re-encode under the frozen codebook")
    // the stats extra moved by the delta to the v2 cardinality
    assert(pqCount(rootA) == v2.count(),
      "the count must carry the post-delta cardinality")
    // serving: both artifacts answer identically for the fixture query
    val qv = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") === 0).select(col("embedding"))
      .collect().head.getSeq[Float](0).toArray
    assert(PqIndex.probeVersioned(spark, rootA, qv, v2)
        .collect().map(_.toSeq).toSeq ==
      PqIndex.probeVersioned(spark, rootB, qv, v2)
        .collect().map(_.toSeq).toSeq)
  }

  // A feed may deliver a key twice (a replayed batch, two images of one
  // row). Each family must land it ONCE, and the winner must not depend
  // on row order: every upsert arrives twice plus a STALE image that
  // loses `max(struct(payload))` to it.

  test("duplicate upsert keys, BM25: each key lands once — postings and stats == build(v2)") {
    val root = built(docsV1, "graft_im_dup_bm")
    val (upserts, removed) = docDiff
    val stale = upserts.select(col("doc_id"), lit("").as("text"))
    Bm25Index.updateFromVersioned(spark, root,
      stale.unionByName(upserts).unionByName(upserts), removed)
    val ref = built(docsV2, "graft_im_dup_bm_ref")
    assert(postingsRows(root) == postingsRows(ref),
      "a duplicated key must not double tf/dl")
    assert(bm25Stats(root) == bm25Stats(ref))
  }

  test("duplicate upsert keys, IVF: each key lands once — assignments == assignCells(v2)") {
    val (v2, upserts, removed) = embDelta
    val root = tempDir("graft_im_dup_ivf").toString
    IvfIndex.buildVersioned(spark, embV1, root)
    val frozen = ivfCodebook(root)
    val stale = upserts.withColumn("embedding",
      transform(col("embedding"), x => x - lit(1.0f)))
    IvfIndex.updateFromVersioned(spark, root,
      stale.unionByName(upserts).unionByName(upserts), removed)
    assert(cellsOf(VersionedTable.readCurrent(spark, root,
        IvfIndex.assignmentsSchema)) ==
      cellsOf(VectorOps.assignCells(v2, frozen)),
      "a duplicated key must not store duplicate assignment rows")
  }

  test("duplicate upsert keys, PQ: each key lands once — codes and count == the deduplicated delta") {
    val (v2, upserts, removed) = embDelta
    val rootA = tempDir("graft_im_dup_pq_a").toString
    val rootB = tempDir("graft_im_dup_pq_b").toString
    PqIndex.buildVersioned(spark, embV1, rootA)
    PqIndex.buildVersioned(spark, embV1, rootB)
    val stale = upserts.withColumn("embedding",
      transform(col("embedding"), x => x - lit(1.0f)))
    PqIndex.updateFromVersioned(spark, rootA,
      stale.unionByName(upserts).unionByName(upserts), removed)
    PqIndex.updateFromVersioned(spark, rootB, upserts, removed)
    assert(codesOf(rootA) == codesOf(rootB),
      s"a duplicated key must encode to ONE ${PqIndex.M}-code row")
    assert(pqCount(rootA) == v2.count())
  }

  test("CDC adapter law, all three families: updateFromVersioned(deltaFromChanges(changes(v1,v2))) == build(v2)") {
    // ONE versioned corpus carrying both modalities (the nightly's
    // shape): text rides the doc, embedding the vector — so ONE q143
    // feed drives every family, never a per-consumer re-diff
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val v1 = docsV1.join(emb, "doc_id")
    val v2 = CurationOps.plantedV2(v1)
    def bucketed(df: DataFrame) = df.select(col("doc_id"), col("text"),
      col("embedding"), pmod(col("doc_id"), lit(16L)).as("bucket"))
    val corpusRoot = tempDir("graft_im_cdc_corpus").toString
    VersionedTable.publishFull(spark, corpusRoot, "bucket", bucketed(v1))
    val s1 = VersionedTable.currentSnapshot(spark, corpusRoot).get
    val (ups, rem) = IndexMaintenance.contentDiff(bucketed(v1), bucketed(v2),
      Seq("text", "embedding"))
    val touched = ups.select(col("bucket"))
      .union(rem.select(pmod(col("doc_id"), lit(16L))))
      .distinct().collect().map(_.getLong(0)).toSeq
    VersionedTable.publishDelta(spark, corpusRoot, touched,
      bucketed(v2).filter(col("bucket").isin(touched: _*)))
    val s2 = VersionedTable.currentSnapshot(spark, corpusRoot).get
    val feed = VersionedTable.changes(spark, corpusRoot, s1, s2,
      Nightly.corpusSchema, "doc_id").localCheckpoint()
    // the adapter: insert/update_post → upserts, delete → removals
    val (dU, dR) = IndexMaintenance.deltaFromChanges(feed, "doc_id",
      Seq("text"))
    assert(dU.count() > 0 && dR.count() > 0,
      "fixture must exercise both adapter classes")
    def rowsOf(root: String,
        schema: org.apache.spark.sql.types.StructType) =
      VersionedTable.readCurrent(spark, root, schema)
        .collect().map(_.toString).toSet
    def newRoot(tag: String) = tempDir(s"graft_im_cdc_$tag").toString
    // BM25: feed-driven maintenance == one-shot build on v2
    val bmA = newRoot("bm_a"); val bmB = newRoot("bm_b")
    Bm25Index.buildVersioned(spark, docsV1, bmA)
    Bm25Index.updateFromVersioned(spark, bmA, dU, dR)
    Bm25Index.buildVersioned(spark,
      v2.select(col("doc_id"), col("text")), bmB)
    assert(rowsOf(bmA, Bm25Index.postingsSchema) ==
      rowsOf(bmB, Bm25Index.postingsSchema),
      "BM25: the feed must carry exactly the maintenance information")
    // vector families: feed-driven == re-derived under the SAME frozen
    // codebook (trained on v1 — deterministic, so A and the comparison
    // derivation share it bit-for-bit)
    val (vU0, vR) = IndexMaintenance.deltaFromChanges(feed, "doc_id",
      Seq("embedding"))
    val vU = vU0.select(col("doc_id").as("vec_id"), col("embedding"))
    val vRem = vR.select(col("doc_id").as("vec_id"))
    val vecs1 = v1.select(col("doc_id").as("vec_id"), col("embedding"))
    val vecs2 = v2.select(col("doc_id").as("vec_id"), col("embedding"))
    val ivfA = newRoot("ivf_a")
    IvfIndex.buildVersioned(spark, vecs1, ivfA)
    val frozen = VersionedTable.readExtra(spark,
      VersionedTable.currentSnapshot(spark, ivfA).get, ivfA, "codebook",
      IvfIndex.codebookSchema).localCheckpoint()
    IvfIndex.updateFromVersioned(spark, ivfA, vU, vRem)
    assert(VersionedTable.readCurrent(spark, ivfA,
        IvfIndex.assignmentsSchema).select(col("vec_id"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
      VectorOps.assignCells(vecs2, frozen)
        .select(col("vec_id"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet,
      "IVF: feed-driven assignments must equal assignCells(v2, frozen)")
    // PQ: feed-driven == degenerate full-corpus delta (a complete v2
    // re-encode under the frozen codebook — the existing law's anchor)
    val pqA = newRoot("pq_a"); val pqB = newRoot("pq_b")
    PqIndex.buildVersioned(spark, vecs1, pqA)
    PqIndex.buildVersioned(spark, vecs1, pqB)
    PqIndex.updateFromVersioned(spark, pqA,
      vU.filter(col("vec_id") =!= 0), vRem)
    PqIndex.updateFromVersioned(spark, pqB,
      vecs2.filter(col("vec_id") =!= 0), vecs1.select(col("vec_id")))
    assert(rowsOf(pqA, PqIndex.codesSchema) ==
      rowsOf(pqB, PqIndex.codesSchema),
      "PQ: feed-driven codes must equal the full v2 re-encode")
  }

  test("modality routing: an embedding-only re-embed night leaves the lexical index's generations UNTOUCHED, same end state") {
    // v2 = same text everywhere, every 10th doc re-embedded (negated
    // vector — exact in IEEE) — the nightly shape of a re-embedding run
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val v1 = docsV1.join(emb, "doc_id")
    val v2 = v1.withColumn("embedding",
      when(pmod(col("doc_id"), lit(10L)) === 0,
        expr("transform(embedding, x -> -x)")).otherwise(col("embedding")))
    def bucketed(df: DataFrame) = df.select(col("doc_id"), col("text"),
      col("embedding"), pmod(col("doc_id"), lit(16L)).as("bucket"))
    val corpusRoot = tempDir("graft_im_modal_corpus").toString
    VersionedTable.publishFull(spark, corpusRoot, "bucket", bucketed(v1))
    val s1 = VersionedTable.currentSnapshot(spark, corpusRoot).get
    val (ups, rem) = IndexMaintenance.contentDiff(bucketed(v1), bucketed(v2),
      Seq("text", "embedding"))
    assert(rem.isEmpty && ups.count() > 0)
    val touched = ups.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSeq
    VersionedTable.publishDelta(spark, corpusRoot, touched,
      bucketed(v2).filter(col("bucket").isin(touched: _*)))
    val s2 = VersionedTable.currentSnapshot(spark, corpusRoot).get
    val feed = VersionedTable.changes(spark, corpusRoot, s1, s2,
      Nightly.corpusSchema, "doc_id").localCheckpoint()
    // the text modality sees an EMPTY delta through the routed adapter...
    val (bmUps, bmRem) = IndexMaintenance.deltaFromChangesIn(feed,
      "doc_id", Seq("text"))
    assert(bmUps.isEmpty && bmRem.isEmpty,
      "no text changed — the lexical modality's delta must be empty")
    // ...so a BM25 maintenance pass rewrites NOTHING: every partition
    // keeps its generation id (copy-on-write sharing preserved — the
    // point of routing; an unrouted no-op upsert rewrites every bucket
    // of the re-embedded docs' terms for an identical end state)
    val bmRoot = tempDir("graft_im_modal_bm").toString
    Bm25Index.buildVersioned(spark, docsV1, bmRoot)
    val bmBefore = VersionedTable.currentSnapshot(spark, bmRoot).get
    Bm25Index.updateFromVersioned(spark, bmRoot, bmUps, bmRem)
    val bmAfter = VersionedTable.currentSnapshot(spark, bmRoot).get
    assert(VersionedTable.changedPartitionDirs(bmBefore, bmAfter).isEmpty,
      "an embedding-only night must leave every postings generation shared")
    // while the VECTOR modality sees exactly the re-embedded docs
    val (vUps, vRem) = IndexMaintenance.deltaFromChangesIn(feed,
      "doc_id", Seq("embedding"))
    assert(vRem.isEmpty)
    assert(vUps.select(col("doc_id")).collect().map(_.getLong(0)).toSet ==
      v1.filter(pmod(col("doc_id"), lit(10L)) === 0)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet,
      "the vector modality's delta is exactly the re-embedded id set")
    // and inserts/deletes always pass the router (presence changed):
    // drop one doc, add one — both modalities must see them
    val v3 = v2.filter(col("doc_id") =!= 1L)
      .unionByName(v2.filter(col("doc_id") === 2L)
        .withColumn("doc_id", lit(990001L)))
    val (u3, r3) = IndexMaintenance.contentDiff(bucketed(v2), bucketed(v3),
      Seq("text", "embedding"))
    val t3 = u3.select(col("bucket"))
      .union(r3.select(pmod(col("doc_id"), lit(16L))))
      .distinct().collect().map(_.getLong(0)).toSeq
    VersionedTable.publishDelta(spark, corpusRoot, t3,
      bucketed(v3).filter(col("bucket").isin(t3: _*)))
    val s3 = VersionedTable.currentSnapshot(spark, corpusRoot).get
    val feed23 = VersionedTable.changes(spark, corpusRoot, s2, s3,
      Nightly.corpusSchema, "doc_id")
    val (tU, tR) = IndexMaintenance.deltaFromChangesIn(feed23,
      "doc_id", Seq("text"))
    assert(tU.select(col("doc_id")).collect().map(_.getLong(0)).toSet ==
      Set(990001L) &&
      tR.collect().map(_.getLong(0)).toSet == Set(1L),
      "inserts and deletes pass the modality router unconditionally")
  }
}
