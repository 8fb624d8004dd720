package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed nightly driver's two operational laws (round-11 verdict
  * item 1), end-to-end on the planted-v2 world:
  *
  *  - **idempotence**: re-running the same night converges — zero new
  *    manifests on ANY root, every step reports skipped/unchanged;
  *  - **crash-resume**: kill the night after any step, re-run it, and
  *    the final state (every root's manifests AND content) equals the
  *    uninterrupted night's, byte-for-byte at the manifest level.
  *
  * Plus the cross-component contracts per-query oracles can't see:
  * every consumer's cursor lands on the same corpus version, the stats
  * grid equals a direct recompute on v2, and the BM25/IVF/PQ states
  * equal their direct-build twins (the deltaFromChanges law, pinned
  * per family in IndexMaintenanceSpec, re-checked here through the
  * whole composition).
  */
class NightlySpec extends SparkSpec {

  private def corpusV1: DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    docs.join(emb, "doc_id")
  }

  // plantedV2 rides the joined frame: the embedding column carries
  // through its filter/union (re-crawled ids keep their original
  // embedding — a re-crawl of the same content)
  private def corpusV2: DataFrame = CurationOps.plantedV2(corpusV1)

  // the artifact cache deletes only inside its own tree
  // (`<tmpdir>/graft_artifacts/`, VectorOps.artifactDir), so any name
  // outside it is safe
  private def newRoots(tag: String): Nightly.Roots = {
    val d = tempDir(s"graft_nightlyspec_$tag")
    Nightly.Roots(s"$d/corpus", s"$d/bm25", s"$d/ivf", s"$d/pq", s"$d/stats")
  }

  /** Byte-copy a whole root set — the cheap way to fork one bootstrapped
    * world into N crash-injection branches with IDENTICAL bits. */
  private def copyRoots(src: Nightly.Roots, tag: String): Nightly.Roots = {
    val dstBase = tempDir(s"graft_nightlyspec_$tag")
    val srcBase = java.nio.file.Paths.get(src.corpus).getParent
    java.nio.file.Files.walk(srcBase).forEach { p =>
      val t = dstBase.resolve(srcBase.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    Nightly.Roots(s"$dstBase/corpus", s"$dstBase/bm25", s"$dstBase/ivf",
      s"$dstBase/pq", s"$dstBase/stats")
  }

  /** Full observable state of a root set: per root, the retained
    * manifest names, the current snapshot's (version, parts, extras,
    * properties) and the current content as a row-string set. Manifest
    * PARTS/EXTRAS maps carry generation ids (UUIDs — runs differ), so
    * cross-run comparison keys on content + structure, not gen names. */
  private def stateOf(roots: Nightly.Roots): Map[String, (Long, Int, Int,
      Map[String, String], Set[String])] = {
    def rows(root: String, schema: org.apache.spark.sql.types.StructType,
        extras: Seq[(String, org.apache.spark.sql.types.StructType)]) = {
      val snap = VersionedTable.currentSnapshot(spark, root).get
      val body = VersionedTable.read(spark, snap, root, schema)
        .collect().map(_.toString).toSet
      val extraRows = extras.flatMap { case (n, sch) =>
        VersionedTable.readExtra(spark, snap, root, n, sch)
          .collect().map(r => s"$n:$r")
      }.toSet
      (snap.version, snap.parts.size, snap.extras.size, snap.properties,
        body ++ extraRows)
    }
    import org.apache.spark.sql.types._
    val cbIvf = IvfIndex.codebookSchema
    val cbPq = StructType(Seq(StructField("sub", IntegerType),
      StructField("code", IntegerType),
      StructField("centroid", ArrayType(FloatType))))
    val bm25Stats = StructType(Seq(StructField("n_docs", LongType),
      StructField("total_len", LongType)))
    val pqStats = StructType(Seq(StructField("n", LongType)))
    Map(
      "corpus" -> rows(roots.corpus, Nightly.corpusSchema, Nil),
      "bm25" -> rows(roots.bm25, Bm25Index.postingsSchema,
        Seq("stats" -> bm25Stats)),
      "ivf" -> rows(roots.ivf, IvfIndex.assignmentsSchema,
        Seq("codebook" -> cbIvf)),
      "pq" -> rows(roots.pq, PqIndex.codesSchema,
        Seq("codebook" -> cbPq, "stats" -> pqStats)),
      "stats" -> rows(roots.stats, Nightly.statsSchema, Nil))
  }

  private def manifestNames(roots: Nightly.Roots): Map[String, Seq[String]] =
    roots.all.map { case (n, r) =>
      val d = java.nio.file.Paths.get(r, "manifests")
      val names =
        if (!java.nio.file.Files.isDirectory(d)) Nil
        else {
          val s = java.nio.file.Files.list(d)
          try s.toArray.map(_.asInstanceOf[java.nio.file.Path]
            .getFileName.toString).toSeq.sorted
          finally s.close()
        }
      n -> names
    }.toMap

  test("two nights end-to-end: bootstrap + incremental — cursors aligned, grid equals direct v2 recompute, indexes equal their direct-build twins") {
    val roots = newRoots("ref")
    val night1 = Nightly.run(spark, roots, corpusV1, vacuumGraceMs = 0L)
    assert(night1.steps.map(s => s.component -> s.action).toMap ==
      Map("corpus" -> "bootstrapped", "bm25" -> "bootstrapped",
        "ivf" -> "bootstrapped", "pq" -> "bootstrapped",
        "stats" -> "bootstrapped"))
    val night2 = Nightly.run(spark, roots, corpusV2, vacuumGraceMs = 0L)
    assert(night2.steps.find(_.component == "corpus").get.action ==
      "published")
    assert(Seq("bm25", "ivf", "pq", "stats").forall(c =>
      night2.steps.find(_.component == c).get.action == "updated"),
      s"every consumer must ride the CDC feed: ${night2.steps}")
    // the CLI report carries every field of the Report, pin included
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Nightly.reportJson(night2)).get("nightly")
    assert(json.get("corpus_version").asLong() == night2.corpusVersion)
    assert(json.get("steps").size() == night2.steps.size)
    assert(json.get("steps").get(0).get("action").asText() == "published")
    night2.steps.zipWithIndex.foreach { case (s, i) =>
      val js = json.get("steps").get(i)
      assert(s.wallS > 0 && s.startS >= 0, s"step timing recorded: $s")
      assert(math.abs(js.get("start_s").asDouble() - s.startS) < 1e-3 &&
        math.abs(js.get("wall_s").asDouble() - s.wallS) < 1e-3)
    }
    assert(night2.pinned.keySet.nonEmpty && night2.pinned.forall {
      case (k, v) => json.get("pinned").get(k).asLong() == v })
    assert(night2.compacted.forall { case (k, v) =>
      json.get("compacted").get(k).asInt() == v })
    // every consumer's cursor committed WITH its state, on one version
    val st = stateOf(roots)
    assert(Seq("bm25", "ivf", "pq", "stats").forall(c =>
      st(c)._4.get(Nightly.CorpusVersionProp)
        .contains(night2.corpusVersion.toString)))
    // corpus content == arriving v2 exactly
    assert(st("corpus")._5 == corpusV2.select(col("doc_id"), col("text"),
      col("embedding"), pmod(col("doc_id"), lit(16L)).as("bucket"))
      .collect().map(_.toString).toSet)
    // stats grid == direct recompute on v2 (q144's law through the
    // composition)
    val direct = corpusV2
      .groupBy(pmod(col("doc_id"), lit(16L)).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("text")).cast("long")), lit(0L))
          .as("n_chars"))
      .collect().map(_.toString).toSet
    assert(st("stats")._5 == direct)
    // index states equal their direct-build twins under the SAME
    // codebooks (the per-family law, through the whole composition):
    // BM25 postings row-set == a fresh one-shot build on v2
    val bm25Direct = newRoots("bm25direct")
    Bm25Index.buildVersioned(spark,
      corpusV2.select(col("doc_id"), col("text")), bm25Direct.bm25)
    val directPostings = VersionedTable.readCurrent(spark, bm25Direct.bm25,
      Bm25Index.postingsSchema).collect().map(_.toString).toSet
    val nightlyPostings = VersionedTable.readCurrent(spark, roots.bm25,
      Bm25Index.postingsSchema).collect().map(_.toString).toSet
    assert(nightlyPostings == directPostings,
      "CDC-maintained BM25 must equal build-from-scratch on v2")
    // IVF assignments == assignCells(v2) under the nightly's FROZEN
    // codebook (retraining is a model refresh, not maintenance)
    val ivfSnap = VersionedTable.currentSnapshot(spark, roots.ivf).get
    val frozenCb = VersionedTable.readExtra(spark, ivfSnap, roots.ivf,
      "codebook", IvfIndex.codebookSchema)
    val directAssign = VectorOps.assignCells(
      corpusV2.select(col("doc_id").as("vec_id"), col("embedding")),
      frozenCb).select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(VersionedTable.read(spark, ivfSnap, roots.ivf,
      IvfIndex.assignmentsSchema).select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
      directAssign)
  }

  test("idempotence: re-running the same night is a no-op — zero new manifests, every step skipped") {
    val roots = newRoots("idem")
    Nightly.run(spark, roots, corpusV1, vacuumGraceMs = 0L)
    Nightly.run(spark, roots, corpusV2, vacuumGraceMs = 0L)
    val before = manifestNames(roots)
    val again = Nightly.run(spark, roots, corpusV2, vacuumGraceMs = 0L)
    assert(again.steps.map(s => s.component -> s.action).toMap ==
      Map("corpus" -> "unchanged", "bm25" -> "skipped",
        "ivf" -> "skipped", "pq" -> "skipped", "stats" -> "skipped"))
    assert(again.compacted.values.sum == 0,
      "housekeeping already converged — nothing left to fold")
    assert(manifestNames(roots) == before,
      "a re-run must not commit ANY new manifest on any root")
  }

  /** ONE bootstrapped world and the uninterrupted second night forked
    * from it by byte-copy — what every crash-resume branch starts from
    * (identical bits) and must converge to: (base, state, manifests,
    * night pin). */
  private lazy val crashWorld = {
    val base = newRoots("crashbase")
    Nightly.run(spark, base, corpusV1, vacuumGraceMs = 0L)
    val reference = copyRoots(base, "crashref")
    val night = Nightly.run(spark, reference, corpusV2, vacuumGraceMs = 0L)
    (base, stateOf(reference), manifestNames(reference),
      Nightly.nightPin(spark, reference.corpus, night.corpusVersion)
        .map(_.versions))
  }

  /** Fork the base world, crash the second night after `crashAt`, re-run
    * it, and require convergence to the uninterrupted night's exact
    * state, retained manifests and night pin. */
  private def assertResumes(crashAt: String): Unit =
    assertResumesAfter(Set(crashAt), crashAt) { (_, e) =>
      assert(e.getMessage.contains(crashAt))
    }

  /** [[assertResumes]] for a night injected to fail after every step in
    * `failAfter`; `atCrash` inspects the branch and the thrown crash
    * before the resume. */
  private def assertResumesAfter(failAfter: Set[String], crashAt: String)(
      atCrash: (Nightly.Roots, Nightly.InjectedCrash) => Unit): Unit = {
    val (base, want, wantManifests, wantPin) = crashWorld
    val branch = copyRoots(base, s"crash_$crashAt")
    val e = intercept[Nightly.InjectedCrash] {
      Nightly.run(spark, branch, corpusV2, vacuumGraceMs = 0L,
        failAfter = failAfter)
    }
    atCrash(branch, e)
    // the resume: same arriving corpus, no injection
    val resumed = Nightly.run(spark, branch, corpusV2, vacuumGraceMs = 0L)
    // steps completed before the crash re-run as skipped/unchanged
    if (crashAt != "corpus")
      assert(resumed.steps.find(_.component == "corpus").get.action ==
        "unchanged", s"crash at $crashAt: corpus already published")
    assert(stateOf(branch) == want,
      s"crash at $crashAt: resumed state must equal the uninterrupted " +
        "night's")
    assert(manifestNames(branch) == wantManifests,
      s"crash at $crashAt: same retained manifest set")
    assert(Nightly.nightPin(spark, branch.corpus, resumed.corpusVersion)
        .map(_.versions) == wantPin,
      s"crash at $crashAt: the night pin must converge too")
  }

  test("crash-resume, default gate: a crash inside the consumer loop (after ivf) resumes to the uninterrupted night's exact state") {
    assertResumes("ivf")
  }

  test("crash-resume, default gate: a crash after the pin resumes through the fingerprint fast path to the uninterrupted night's exact state") {
    assertResumesAfter(Set("pin"), "pin") { (branch, _) =>
      val cur = VersionedTable.currentSnapshot(spark, branch.corpus).get
      val fp = Nightly.arrivingFingerprint(spark, corpusV2, Nightly.Buckets)
      assert(fp.isDefined && Nightly.nightPin(spark, branch.corpus,
          cur.version).flatMap(_.arrivingFingerprint) == fp,
        "the crashed night pinned the fingerprint the re-run matches")
    }
  }

  test("crash-resume: kill after any step, re-run, converge to the uninterrupted night's exact state", SlowTest) {
    Seq("corpus", "ivf", "stats", "compact", "pin").foreach(assertResumes)
  }

  test("concurrent consumers: a failure is rethrown only after every consumer finished — first in table order, the rest suppressed; nothing commits after the throw; the re-run converges") {
    // stats is the fastest consumer: a run that rethrew as soon as stats
    // failed would leave the slower consumers uncommitted
    assertResumesAfter(Set("stats", "ivf"), "stats_ivf") { (branch, e) =>
      assert(e.getMessage.contains("'ivf'"),
        s"the first failure in table order is rethrown: $e")
      assert(e.getSuppressed.map(_.getMessage).toSeq ==
        Seq("injected crash after step 'stats'"))
      val corpusV = VersionedTable.currentSnapshot(spark, branch.corpus)
        .get.version
      val cursors = branch.all.filter(_._1 != "corpus").map { case (c, r) =>
        c -> VersionedTable.currentSnapshot(spark, r).flatMap(
          _.properties.get(Nightly.CorpusVersionProp))
      }.toMap
      assert(cursors.values.forall(_.contains(corpusV.toString)),
        s"every consumer committed before run threw: $cursors")
      val atThrow = manifestNames(branch)
      Thread.sleep(1000)
      assert(manifestNames(branch) == atThrow,
        "no manifest may land on any root after run has thrown")
    }
  }

  /** `body`'s result and the job group of every Spark job it started,
    * in start order: the jobs between two marker jobs (the listener bus
    * delivers in order, so the end marker flushes every job of `body`). */
  private def jobsDuring[A](body: => A): (A, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>")
        if (g.startsWith("marker")) seen.incrementAndGet()
        else if (seen.get == 1) groups.add(g)
      }
    }
    def marker(name: String): Unit = {
      sc.setJobGroup(name, name)
      try spark.range(1).collect() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    val a = try {
      marker("marker-begin")
      val a = body
      marker("marker-end")
      val deadline = System.nanoTime() + 60e9.toLong
      while (seen.get < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      a
    } finally sc.removeSparkListener(listener)
    assert(seen.get == 2, "both marker jobs reached the listener")
    import scala.jdk.CollectionConverters._
    (a, groups.asScala.toSeq)
  }

  /** The Spark jobs step 1 starts on `arriving`: a night injected to
    * crash right after the corpus step, which on an unchanged corpus
    * commits nothing. */
  private def corpusStepJobs(roots: Nightly.Roots,
      arriving: DataFrame): Int =
    jobsDuring(intercept[Nightly.InjectedCrash] {
      Nightly.run(spark, roots, arriving, vacuumGraceMs = 0L,
        failAfter = Set("corpus"))
    })._2.size

  test("concurrent consumers: every job of the night carries the caller's job group, and the consumer steps overlap") {
    val (base, want, _, _) = crashWorld
    val roots = copyRoots(base, "jobgroup")
    val sc = spark.sparkContext
    val (night, gs) = jobsDuring {
      sc.setJobGroup("nightly-law", "concurrent consumers")
      try Nightly.run(spark, roots, corpusV2, vacuumGraceMs = 0L)
      finally sc.clearJobGroup()
    }
    assert(gs.nonEmpty && gs.forall(_ == "nightly-law"),
      s"jobs outside the caller's group: ${gs.filterNot(_ == "nightly-law")}")
    // the consumers ran at the same time: each started before any ended
    val cs = night.steps.filter(_.component != "corpus")
    assert(cs.map(_.component) == Seq("bm25", "ivf", "pq", "stats"),
      "steps stay in table order")
    assert(cs.forall(_.action == "updated"), s"${night.steps}")
    assert(cs.map(_.startS).max < cs.map(s => s.startS + s.wallS).min,
      s"consumer steps must overlap: $cs")
    assert(stateOf(roots) == want, "the same state as the reference night")
  }

  test("night pin: a reader pinned to night N sees identical answers before, during, and after night N+1; stale pins resolve loudly") {
    val roots = newRoots("pinlaw")
    val n1 = Nightly.run(spark, roots, corpusV1, keepVersions = 10,
      vacuumGraceMs = 0L)
    assert(n1.pinned.keySet ==
      Set("corpus", "bm25", "ivf", "pq", "stats"))
    assert(Nightly.nightPin(spark, roots.corpus, n1.corpusVersion)
      .get.versions == n1.pinned)
    def pinnedAnswers(): (Set[String], Set[String]) = {
      val set = Nightly.resolveNight(spark, roots, n1.corpusVersion)
      (VersionedTable.read(spark, set("stats"), roots.stats,
         Nightly.statsSchema).collect().map(_.toString).toSet,
       VersionedTable.read(spark, set("bm25"), roots.bm25,
         Bm25Index.postingsSchema).collect().map(_.toString).toSet)
    }
    val before = pinnedAnswers()
    // DURING night N+1: corpus already at the new version, consumers
    // not yet synced — the exact mixed world the pin exists for
    intercept[Nightly.InjectedCrash] {
      Nightly.run(spark, roots, corpusV2, keepVersions = 10,
        vacuumGraceMs = 0L, failAfter = Set("corpus"))
    }
    assert(pinnedAnswers() == before,
      "mid-night (corpus at N+1, consumers at N) the pinned reader is " +
        "unaffected")
    val n2 = Nightly.run(spark, roots, corpusV2, keepVersions = 10,
      vacuumGraceMs = 0L)
    assert(n2.corpusVersion != n1.corpusVersion)
    assert(pinnedAnswers() == before,
      "after night N+1 the night-N pin still serves night N's state")
    assert(Nightly.listNightPins(spark, roots.corpus) ==
      Seq(n1.corpusVersion, n2.corpusVersion))
    // the pin is doing real work: the UNPINNED current grid moved on
    val curStats = VersionedTable.readCurrent(spark, roots.stats,
      Nightly.statsSchema).collect().map(_.toString).toSet
    assert(curStats != before._1,
      "night N+1 genuinely changed the grid")
    // and night N+1's own pin resolves to the current world
    val set2 = Nightly.resolveNight(spark, roots, n2.corpusVersion)
    assert(VersionedTable.read(spark, set2("stats"), roots.stats,
      Nightly.statsSchema).collect().map(_.toString).toSet == curStats)
    // retention: once the pinned versions age out, the pin fails LOUDLY
    // — never silently serving a different night
    roots.all.foreach { case (_, r) =>
      VersionedTable.vacuum(spark, r, keepVersions = 1, graceMs = 0L)
    }
    val err = intercept[IllegalStateException] {
      Nightly.resolveNight(spark, roots, n1.corpusVersion)
    }
    assert(err.getMessage.contains("not retained"))
  }

  test("stats double-apply guard: re-applying an already-covered span is a no-op — add/retract math never lands twice") {
    import org.apache.spark.sql.types._
    val roots = newRoots("dblapply")
    Nightly.run(spark, roots, corpusV1, vacuumGraceMs = 0L)
    // plant a v2 corpus delta and its feed, as the nightly does
    val v2b = corpusV2.select(col("doc_id"), col("text"), col("embedding"),
      pmod(col("doc_id"), lit(16L)).as("bucket"))
    val (ups, rem) = IndexMaintenance.contentDiff(
      VersionedTable.readCurrent(spark, roots.corpus, Nightly.corpusSchema),
      v2b, Seq("text", "embedding"))
    val touched = ups.select(col("bucket"))
      .union(rem.select(pmod(col("doc_id"), lit(16L))))
      .distinct().collect().map(_.getLong(0)).toSeq
    VersionedTable.publishDelta(spark, roots.corpus, touched,
      v2b.filter(col("bucket").isin(touched: _*)))
    val s1 = VersionedTable.snapshotAt(spark, roots.corpus, 1L).get
    val s2 = VersionedTable.currentSnapshot(spark, roots.corpus).get
    val feed = VersionedTable.changes(spark, roots.corpus, s1, s2,
      Nightly.corpusSchema, "doc_id").localCheckpoint()
    // first application lands the span and the cursor
    val v = Nightly.applyStatsFeed(spark, roots.stats, feed,
      s1.version, s2.version)
    val after = stateOf(roots)("stats")
    // the race-loser path: SAME span re-applied (a duplicate nightly, a
    // cdcMaintainIndexesStream tick that passed its pre-check before the
    // winner committed) — the in-loop cursor gate must no-op, because a
    // second add/retract pass would double-count every delta
    val v2nd = Nightly.applyStatsFeed(spark, roots.stats, feed,
      s1.version, s2.version)
    assert(v2nd == v, "the covered span reports the winner's version")
    assert(stateOf(roots)("stats") == after,
      "no new commit, no re-added deltas — grid byte-identical")
    // and the grid equals the direct recompute (single application)
    val direct = corpusV2
      .groupBy(pmod(col("doc_id"), lit(16L)).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("text")).cast("long")), lit(0L))
          .as("n_chars"))
      .collect().map(_.toString).toSet
    assert(after._5 == direct)
  }

  test("stats partial-overlap guard: a cursor moved to an INTERMEDIATE version supersedes the feed — recompute, never double-count the overlap") {
    val roots = newRoots("overlap")
    Nightly.run(spark, roots, corpusV1, vacuumGraceMs = 0L)
    def bucketed(df: DataFrame) = df.select(col("doc_id"), col("text"),
      col("embedding"), pmod(col("doc_id"), lit(16L)).as("bucket"))
    def publish(v: DataFrame): Unit = {
      val vb = bucketed(v)
      val (ups, rem) = IndexMaintenance.contentDiff(
        VersionedTable.readCurrent(spark, roots.corpus, Nightly.corpusSchema),
        vb, Seq("text", "embedding"))
      val touched = ups.select(col("bucket"))
        .union(rem.select(pmod(col("doc_id"), lit(16L))))
        .distinct().collect().map(_.getLong(0)).toSeq
      VersionedTable.publishDelta(spark, roots.corpus, touched,
        vb.filter(col("bucket").isin(touched: _*)))
    }
    // corpus v2 (planted delta) then v3 (one more edit on top of v2)
    publish(corpusV2)
    val corpusV3 = corpusV2.withColumn("text",
      when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev3")))
        .otherwise(col("text")))
    publish(corpusV3)
    val s1 = VersionedTable.snapshotAt(spark, roots.corpus, 1L).get
    val s2 = VersionedTable.snapshotAt(spark, roots.corpus, 2L).get
    val s3 = VersionedTable.currentSnapshot(spark, roots.corpus).get
    assert(s3.version == 3L)
    // the nightly precomputes the v1→v3 feed…
    val feed13 = VersionedTable.changes(spark, roots.corpus, s1, s3,
      Nightly.corpusSchema, "doc_id").localCheckpoint()
    // …but a racing live tick lands the v1→v2 half first
    Nightly.applyStatsFeed(spark, roots.stats,
      VersionedTable.changes(spark, roots.corpus, s1, s2,
        Nightly.corpusSchema, "doc_id"), 1L, 2L)
    val afterTick = stateOf(roots)("stats")
    // the stale v1→v3 feed must be REFUSED (its v1→v2 deltas overlap
    // what the tick already applied — landing them again double-counts)
    val e = intercept[Nightly.FeedSuperseded] {
      Nightly.applyStatsFeed(spark, roots.stats, feed13, 1L, s3.version)
    }
    assert(e.cursor.contains(2L))
    assert(stateOf(roots)("stats") == afterTick,
      "the refused feed must not commit anything")
    // recomputing from the NEW cursor converges on the direct answer —
    // the same recovery Nightly.run's stats retry loop performs
    Nightly.applyStatsFeed(spark, roots.stats,
      VersionedTable.changes(spark, roots.corpus, s2, s3,
        Nightly.corpusSchema, "doc_id"), 2L, s3.version)
    val direct = corpusV3
      .groupBy(pmod(col("doc_id"), lit(16L)).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("text")).cast("long")), lit(0L))
          .as("n_chars"))
      .collect().map(_.toString).toSet
    assert(stateOf(roots)("stats")._5 == direct,
      "recomputed-from-cursor feed lands exactly the direct v3 grid")
    // and a full nightly over the same v3 corpus now converges via the
    // normal skip path (cursor == corpus current)
    val night = Nightly.run(spark, roots, corpusV3, vacuumGraceMs = 0L)
    assert(night.steps.find(_.component == "stats").get.action == "skipped")
  }

  test("unreadable cursor: a non-numeric corpus_version rebuilds full with a warning — never a NumberFormatException every night") {
    val roots = newRoots("badcursor")
    Nightly.run(spark, roots, corpusV1, vacuumGraceMs = 0L)
    // corrupt the stats table's cursor (an external tool's publishFull)
    val grid = VersionedTable.readCurrent(spark, roots.stats,
      Nightly.statsSchema)
    VersionedTable.publishFull(spark, roots.stats, "bucket", grid,
      properties = Map(Nightly.CorpusVersionProp -> "v-twelve"))
    val night = Nightly.run(spark, roots, corpusV1, vacuumGraceMs = 0L)
    assert(night.steps.find(_.component == "stats").get.action == "rebuilt",
      s"unreadable cursor must rebuild, got: ${night.steps}")
    // the rebuild re-stamps a readable cursor; the next night skips
    val again = Nightly.run(spark, roots, corpusV1, vacuumGraceMs = 0L)
    assert(again.steps.find(_.component == "stats").get.action == "skipped")
  }

  test("cursor behind retention: a consumer slower than vacuum is rebuilt full, loudly — never fed a re-based diff") {
    val roots = newRoots("slow")
    Nightly.run(spark, roots, corpusV1, vacuumGraceMs = 0L)
    // two more corpus-only publishes with vacuum keepVersions=1 so the
    // consumers' cursor version is dropped from retention
    val mid = corpusV2
    VersionedTable.publishFull(spark, roots.corpus, "bucket",
      mid.select(col("doc_id"), col("text"), col("embedding"),
        pmod(col("doc_id"), lit(16L)).as("bucket")))
    VersionedTable.vacuum(spark, roots.corpus, keepVersions = 1,
      graceMs = 0L)
    val night = Nightly.run(spark, roots, mid, vacuumGraceMs = 0L)
    assert(Seq("bm25", "ivf", "pq", "stats").forall(c =>
      night.steps.find(_.component == c).get.action == "rebuilt"),
      s"vacuumed cursor must force a full rebuild: ${night.steps}")
    // and the rebuilt world is immediately consistent: stats == direct
    val st = stateOf(roots)
    val direct = mid
      .groupBy(pmod(col("doc_id"), lit(16L)).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("text")).cast("long")), lit(0L))
          .as("n_chars"))
      .collect().map(_.toString).toSet
    assert(st("stats")._5 == direct)
  }

  // ------------------------------------------ repeat-night fast path

  test("fast path: a repeat night over file-sourced corpus v1 starts no Spark job in step 1 and reports the same versions") {
    val roots = newRoots("fast")
    val n1 = Nightly.run(spark, roots, corpusV1, vacuumGraceMs = 0L)
    val fp = n1.arrivingFingerprint
    assert(fp.isDefined, "documents join embeddings reads parquet files")
    assert(Nightly.nightPin(spark, roots.corpus, n1.corpusVersion)
      .flatMap(_.arrivingFingerprint) == fp)
    val before = manifestNames(roots)
    assert(corpusStepJobs(roots, corpusV1) == 0,
      "a pinned fingerprint skips the corpus diff")
    val n2 = Nightly.run(spark, roots, corpusV1, vacuumGraceMs = 0L)
    assert(n2.steps.map(s => s.component -> s.action).toMap ==
      Map("corpus" -> "unchanged", "bm25" -> "skipped",
        "ivf" -> "skipped", "pq" -> "skipped", "stats" -> "skipped"))
    assert(n2.steps.map(_.version) == n1.steps.map(_.version) &&
      n2.pinned == n1.pinned && n2.arrivingFingerprint == fp)
    assert(manifestNames(roots) == before)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Nightly.reportJson(n2)).get("nightly")
    assert(json.get("arriving_fingerprint").asText() == fp.get)
  }

  test("fast path: an arriving parquet file rewritten in place (new length and mtime) makes the next night diff and publish") {
    import java.nio.file.{Files, Path, StandardCopyOption}
    def partFile(dir: Path): Path = {
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[Path]).filter(p =>
        p.getFileName.toString.startsWith("part-")).toSeq match {
        case Seq(one) => one
        case other => fail(s"expected one part file in $dir: $other")
      } finally s.close()
    }
    val dir = tempDir("graft_nightlyspec_arriving")
    corpusV1.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val roots = newRoots("rewrite")
    val n1 = Nightly.run(spark, roots,
      spark.read.parquet(dir.toString), vacuumGraceMs = 0L)
    assert(n1.arrivingFingerprint.isDefined)
    // the same file name with v2's content: only length and mtime move
    val v2Dir = tempDir("graft_nightlyspec_arriving_v2")
    corpusV2.coalesce(1).write.mode("overwrite").parquet(v2Dir.toString)
    val part = partFile(dir)
    Files.copy(partFile(v2Dir), part, StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))
    val arriving = spark.read.parquet(dir.toString)
    val n2 = Nightly.run(spark, roots, arriving, vacuumGraceMs = 0L)
    assert(n2.arrivingFingerprint.exists(_ != n1.arrivingFingerprint.get))
    assert(n2.steps.head.action == "published", s"${n2.steps}")
    assert(stateOf(roots)("corpus")._5 == arriving.select(col("doc_id"),
      col("text"), col("embedding"), pmod(col("doc_id"), lit(16L))
        .as("bucket")).collect().map(_.toString).toSet)
  }

  test("fast path: a foreign publishDelta landing after the pin makes the next night diff and revert it") {
    val roots = newRoots("foreign")
    Nightly.run(spark, roots, corpusV1, vacuumGraceMs = 0L)
    val want = stateOf(roots)("corpus")._5
    val bucket0 = VersionedTable.readCurrent(spark, roots.corpus,
        Nightly.corpusSchema).filter(col("bucket") === 0L)
      .withColumn("text", concat(col("text"), lit(" backfill")))
    VersionedTable.publishDelta(spark, roots.corpus, Seq(0L), bucket0)
    assert(stateOf(roots)("corpus")._5 != want)
    val night = Nightly.run(spark, roots, corpusV1, vacuumGraceMs = 0L)
    assert(night.steps.map(s => s.component -> s.action).toMap ==
      Map("corpus" -> "published", "bm25" -> "updated",
        "ivf" -> "updated", "pq" -> "updated", "stats" -> "updated"))
    assert(stateOf(roots)("corpus")._5 == want,
      "the night restores the arriving content over the backfill")
  }

  test("fast path: in-memory rows, a udf, or rand() in the arriving plan give no fingerprint, so every night diffs") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val fp = Nightly.arrivingFingerprint(spark, _: DataFrame, Nightly.Buckets)
    assert(fp(corpusV1).isDefined)
    assert(fp(corpusV1) == fp(corpusV1), "a re-read of the same files")
    assert(fp(corpusV1) != Nightly.arrivingFingerprint(spark, corpusV1, 8),
      "the bucket count is part of the identity")
    val inMemory = spark.createDataFrame(
      corpusV1.collect().toSeq.asJava, corpusV1.schema)
    val same = udf((s: String) => s)
    val ineligible = Map(
      "in-memory rows" -> inMemory,
      "udf" -> corpusV1.withColumn("text", same($"text")),
      "rand()" -> corpusV1.filter(rand() >= 0.0))
    ineligible.foreach { case (what, df) =>
      assert(fp(df).isEmpty, s"$what must not be fingerprinted")
    }
    val roots = newRoots("ineligible")
    val n1 = Nightly.run(spark, roots, inMemory, vacuumGraceMs = 0L)
    assert(n1.arrivingFingerprint.isEmpty)
    assert(Nightly.nightPin(spark, roots.corpus, n1.corpusVersion)
      .exists(_.arrivingFingerprint.isEmpty))
    ineligible.foreach { case (what, df) =>
      assert(corpusStepJobs(roots, df) > 0, s"$what: step 1 must diff")
    }
  }

  test("fast path: a night pin written without the fingerprint field parses and the next night diffs, then re-pins with it") {
    val roots = newRoots("oldpin")
    val n1 = Nightly.run(spark, roots, corpusV1, vacuumGraceMs = 0L)
    val pinFile = java.nio.file.Paths.get(roots.corpus, "nights",
      f"night-v${n1.corpusVersion}%08d.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(pinFile.toFile)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(node.remove("arrivingFingerprint") != null)
    mapper.writeValue(pinFile.toFile, node)
    // the Hadoop local FS checksums what it writes; an old writer's pin
    // carries its own, so the stale one goes
    java.nio.file.Files.delete(
      pinFile.resolveSibling(s".${pinFile.getFileName}.crc"))
    val old = Nightly.nightPin(spark, roots.corpus, n1.corpusVersion).get
    assert(old.arrivingFingerprint.isEmpty && old.versions == n1.pinned)
    assert(corpusStepJobs(roots, corpusV1) > 0)
    val n2 = Nightly.run(spark, roots, corpusV1, vacuumGraceMs = 0L)
    assert(n2.steps.head.action == "unchanged" && n2.pinned == n1.pinned)
    assert(Nightly.nightPin(spark, roots.corpus, n1.corpusVersion)
      .flatMap(_.arrivingFingerprint) == n1.arrivingFingerprint)
  }
}
