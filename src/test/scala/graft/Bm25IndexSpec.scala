package graft

import graft.operators.{Bm25Index, CurationOps, IndexMaintenance,
  PipelineOps, VectorOps, VersionedTable}
import org.apache.spark.sql.functions._

/** The offline BM25 posting-list artifact (q134): losslessness vs the
  * q133 re-tokenize path, the pruned/pushed serving plan, empty-corpus
  * degradation, and the declared form's artifact reuse. */
class Bm25IndexSpec extends SparkSpec {

  private val terms = Seq("window", "spark", "stream")

  private def built(docs: org.apache.spark.sql.DataFrame,
      prefix: String): String = {
    val root = tempDir(prefix).toString
    Bm25Index.buildVersioned(spark, docs, root)
    root
  }

  /** The distinct `bucket=` partitions of `ts` — what a probe may read. */
  private def bucketsOf(ts: Seq[String]): Set[String] =
    spark.range(1)
      .select(ts.map(t =>
        pmod(xxhash64(lit(t)), lit(Bm25Index.Buckets.toLong)).cast("int")): _*)
      .collect().head.toSeq.map(b => s"bucket=$b").toSet

  test("artifact probe == q133's re-tokenize answer (lossless index)") {
    val docs = Tables.documents(spark, sfDir)
    val root = built(docs, "graft_bm25")
    val served = Bm25Index.probeVersioned(spark, root, terms).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val reTokenized = PipelineOps.bm25Search(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(served == reTokenized,
      "the index is lossless: artifact scores must be hash-identical")
    // different query terms against the SAME artifact (no rebuild): sane
    // shape, scores positive, doc_id tiebreak ordering
    val other = Bm25Index.probeVersioned(spark, root, Seq("the", "data"),
      k = 5).collect()
    assert(other.length <= 5)
    assert(other.map(_.getLong(0)).toSeq ==
      other.map(r => (-r.getDouble(1), r.getLong(0))).sorted.map(_._2).toSeq)
    // DUPLICATED query terms: the re-tokenize path scores one term-
    // column per OCCURRENCE (doubled term -> doubled score + doubled
    // n_query_terms, same df), so the probe weights each matched
    // posting by the term's query multiplicity — parity must hold for
    // the degenerate input too, not just distinct-term queries
    val dupTerms = Seq("spark", "window", "spark")
    val servedDup = Bm25Index.probeVersioned(spark, root, dupTerms).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val reTokenizedDup = PipelineOps.bm25SearchOf(docs, dupTerms).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(servedDup == reTokenizedDup,
      "multiplicity weighting must reproduce per-occurrence scoring")
  }

  test("serving plan: bucket-pruned, term-pushed, no tokenize in-plan") {
    val root = built(Tables.documents(spark, sfDir), "graft_bm25_plan")
    val probe = Bm25Index.probeVersioned(spark, root, terms)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains(root), "must scan the artifact")
    assert(!plan.toLowerCase.contains("explode"),
      "serving must NOT re-tokenize — that is the artifact's whole point")
    // the term predicate reaches the parquet scan
    assert(plan.contains("w IN (") || plan.contains("w#"),
      s"term filter must reach the scan")
    // pruning is real: every file read lives in one of the query terms'
    // bucket partitions, and the artifact has buckets it never touches
    val allBuckets = VersionedTable.currentSnapshot(spark, root).get
      .parts.size
    val queryBuckets = bucketsOf(terms)
    assert(queryBuckets.size < allBuckets,
      s"fixture must have more populated buckets ($allBuckets) than the " +
        s"query touches (${queryBuckets.size}) for pruning to be observable")
    val read = probe.inputFiles.flatMap(f =>
      "bucket=\\d+".r.findFirstIn(f)).toSet
    assert(read.nonEmpty && read.subsetOf(queryBuckets),
      s"probe must read only the query terms' buckets: read $read, " +
        s"wanted $queryBuckets")
    // the corpus constants are memoized literals — the ONLY file scan in
    // a probe plan is the pruned postings read
    assert(!plan.contains("/stats"),
      "stats must come from the per-snapshot memo, not a per-probe file read")
    // string-based: AQE wraps the plan in a leaf AdaptiveSparkPlanExec,
    // so node-class collection sees no scans at all
    val scanLines = plan.linesIterator.filter(l =>
      l.toLowerCase.contains("scan") && l.toLowerCase.contains("parquet"))
      .toList
    assert(scanLines.size == 1,
      s"probe plan must contain exactly the postings scan:\n" +
        scanLines.mkString("\n"))
  }

  test("q142 hybrid RRF: score IS the reciprocal-rank sum of its own rank columns; both channels contribute; deterministic") {
    val rows = PipelineOps.hybridRrf(spark, sfDir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val lex = if (r.isNullAt(2)) None else Some(r.getInt(2))
      val vec = if (r.isNullAt(3)) None else Some(r.getInt(3))
      assert(lex.nonEmpty || vec.nonEmpty,
        "a fused row must come from at least one channel")
      val want = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        vec.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(r.getDouble(1) == math.floor(want * 1e6 + 0.5) / 1e6,
        s"RRF of ranks ($lex, $vec) must be the reciprocal sum")
    }
    assert(rows.exists(!_.isNullAt(2)) && rows.exists(!_.isNullAt(3)),
      "fixture must exercise both channels or the fusion is vacuous")
    val again = PipelineOps.hybridRrf(spark, sfDir).collect()
    assert(again.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq,
      "artifact reuse + stable tiebreaks make the fusion deterministic")
  }

  test("versioned probe plan: literal-path pruning off the manifest, no stats read, no tokenize") {
    val root = built(Tables.documents(spark, sfDir), "graft_bm25_vtp")
    val probe = Bm25Index.probeVersioned(spark, root, terms)
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("explode"), "no re-tokenize in-plan")
    assert(!plan.contains("/stats"),
      "corpus constants are per-(root,version) memoized literals")
    // pruning is LITERAL path selection: only the query terms' bucket
    // directories are handed to the scan at all — the file index never
    // lists the rest (stronger than a partition filter, which still
    // discovers everything). The scan's root paths ARE the wanted dirs.
    val scannedDirs = plan.linesIterator.filter(l =>
      l.contains("Location") || l.contains("file:")).mkString("\n")
    // greedy digit match: a path with bucket=18 extracts "bucket=18",
    // never a false "bucket=1" prefix hit — then exact set equality
    val scannedBuckets = "bucket=\\d+".r.findAllIn(scannedDirs).toSet
    assert(scannedBuckets == bucketsOf(terms),
      s"scan roots must be EXACTLY the wanted bucket dirs: " +
        s"scanned=$scannedBuckets wanted=${bucketsOf(terms)}\n$scannedDirs")
    // and the answer equals q133's re-tokenize answer
    assert(probe.collect().map(_.toSeq).toSeq ==
      PipelineOps.bm25Search(spark, sfDir).collect().map(_.toSeq).toSeq,
      "the manifest-served probe must serve q133's answer")
  }

  test("probeBatch == per-query probe, shared postings scored once per query, dup terms weighted") {
    val root = built(Tables.documents(spark, sfDir), "graft_bm25_bt")
    // overlapping vocabulary + a duplicated term in one query
    val battery = Seq(
      1L -> Seq("window", "spark", "stream"),
      2L -> Seq("query", "join", "merge"),
      3L -> Seq("spark", "the", "spark"))
    val batched = Bm25Index.probeBatchVersioned(spark, root, battery, k = 20)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val perQuery = battery.flatMap { case (qid, terms) =>
      Bm25Index.probeVersioned(spark, root, terms, k = 20).collect().map(r =>
        (qid, r.getLong(0), r.getDouble(1), r.getLong(2)))
    }.sortBy { case (qid, doc, sc, _) => (qid, -sc, doc) }
    assert(batched == perQuery,
      "one batched scan must equal each query probed alone (incl. the " +
        "duplicated-term multiplicity and the shared 'spark' postings)")
  }

  test("a q_id delivered twice in one batch is answered once; two term sets under one q_id are rejected") {
    val root = built(Tables.documents(spark, sfDir), "graft_bm25_dupq")
    val battery = Seq(1L -> Seq("window", "spark", "stream"),
      2L -> Seq("query", "join"))
    def rows(qs: Seq[(Long, Seq[String])]) =
      Bm25Index.probeBatchVersioned(spark, root, qs).collect()
        .map(_.toSeq).toSeq
    assert(rows(battery :+ battery.head) == rows(battery),
      "a replayed request must not double bm25 or n_query_terms")
    val err = intercept[IllegalArgumentException] {
      Bm25Index.probeBatchVersioned(spark, root,
        battery :+ (2L -> Seq("merge")))
    }
    assert(err.getMessage.contains("q_id 2"), err.getMessage)
  }

  test("q148 law: the graftvt-format probe == the library probe, duplicated terms, and a version pinned before a publish") {
    def docs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("text"))
    val docsV1 = docs(Tables.documents(spark, sfDir))
    val docsV2 = docs(CurationOps.plantedV2(Tables.documents(spark, sfDir)))
    val root = built(docsV1, "graft_bm25_fmt")
    val dupTerms = Seq("spark", "window", "spark", "stream")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // both probes resolve v1 here; the format probe runs only after v2
    // lands, so it can reach v1 only through its versionAsOf pin
    val wantV1 = rows(Bm25Index.probeVersioned(spark, root, dupTerms))
    val pinnedV1 = Bm25Index.probeVersionedViaFormat(spark, root, dupTerms)
    val (ups, rem) = IndexMaintenance.contentDiff(docsV1, docsV2, Seq("text"))
    Bm25Index.updateFromVersioned(spark, root, ups, rem)
    assert(rows(pinnedV1) == wantV1,
      "the format probe must serve the version it resolved")
    val wantV2 = rows(Bm25Index.probeVersioned(spark, root, dupTerms))
    assert(rows(Bm25Index.probeVersionedViaFormat(spark, root, dupTerms)) ==
      wantV2, "format and library probes must agree on the current version")
    assert(wantV1 != wantV2, "the publish must move the answer")
    // duplicated terms weigh per occurrence, as q133 scores them
    assert(wantV2 == rows(PipelineOps.bm25SearchOf(docsV2, dupTerms)))
  }

  test("empty and degenerate corpora: build + probe degrade to empty, never throw") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Bm25Index.probeVersioned(spark, built(empty, "graft_bm25_e"),
      terms).collect().isEmpty)
    // null text + docs with no matching terms
    val sparse = Seq((1L, null: String), (2L, ""), (3L, "nothing relevant"))
      .toDF("doc_id", "text")
    assert(Bm25Index.probeVersioned(spark, built(sparse, "graft_bm25_s"),
      terms).collect().isEmpty)
    // and a doc that DOES match still scores
    val hit = Seq((1L, "spark streams"), (2L, "x")).toDF("doc_id", "text")
    val r = Bm25Index.probeVersioned(spark, built(hit, "graft_bm25_h"), terms)
      .collect()
    assert(r.length == 1 && r.head.getLong(0) == 1L && r.head.getLong(2) == 1L)
  }

  test("q134 declared form: equals q133, artifact reused not rebuilt") {
    val law = PipelineOps.bm25IndexProbe(spark, sfDir).collect()
    val q133 = PipelineOps.bm25Search(spark, sfDir).collect()
    assert(law.map(_.toSeq).toSeq == q133.map(_.toSeq).toSeq,
      "q134 must serve q133's exact answer")
    val marker = VectorOps.artifactDir("bm25_index", Bm25Index.formatTag, sfDir,
        sourceFile = "documents.parquet")
      .resolve("READY").resolve("_SUCCESS")
    val mtime = java.nio.file.Files.getLastModifiedTime(marker).toMillis
    val again = PipelineOps.bm25IndexProbe(spark, sfDir).collect()
    assert(again.map(_.toSeq).toSeq == law.map(_.toSeq).toSeq)
    assert(java.nio.file.Files.getLastModifiedTime(marker).toMillis == mtime,
      "second probe must reuse the artifact, not rebuild it")
  }
}
