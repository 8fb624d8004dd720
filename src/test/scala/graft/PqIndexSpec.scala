package graft

import java.nio.file.{Files, Paths}

import graft.operators.{PqIndex, VectorOps, VersionedTable}
import org.apache.spark.sql.functions._

/** The offline PQ artifact must serve the SAME answers as q117's
  * in-query path, from a 64×-smaller scan. */
class PqIndexSpec extends SparkSpec {

  private lazy val e = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  private val codebookSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "sub INT, code INT, centroid ARRAY<FLOAT>")

  test("build -> probe == q117's in-query top-10; codes artifact well-formed") {
    val root = tempDir("graft_pq_idx").toString
    PqIndex.buildVersioned(spark, e, root)
    val snap = VersionedTable.currentSnapshot(spark, root).get

    // artifact shape: dense positional codes, full coverage, m*k bound
    val cb = VersionedTable.readExtra(spark, snap, root, "codebook",
      codebookSchema)
    assert(cb.count() <= PqIndex.M.toLong * PqIndex.K)
    assert(cb.select(countDistinct(col("sub"))).head().getLong(0) == PqIndex.M)
    val codes = VersionedTable.read(spark, snap, root, PqIndex.codesSchema)
    val n = e.filter(col("vec_id") =!= 0).count()
    assert(codes.count() == n, "every corpus vector must be encoded")
    val bad = codes.filter(size(col("codes")) =!= PqIndex.M ||
      exists(col("codes"), c => c < 0 || c >= PqIndex.K)).count()
    assert(bad == 0, s"$bad malformed code rows")

    // identical serving answer: training is deterministic, encode argmin
    // and the in-row argmin share the lowest-cell tiebreak
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val fromIndex = PqIndex.probeVersioned(spark, root, qv, e).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val inQuery = VectorOps.pqAdcTopKOf(e, spark, memoKey = None).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(fromIndex == inQuery,
      s"artifact probe diverged from q117:\n$fromIndex\n$inQuery")

    // the shortlist stage reads ONLY the codes table: the stored files
    // hold nothing but ids and codes, sharded by the vec_id bucket
    assert(snap.partCol == "vbucket")
    assert(spark.read.parquet(codes.inputFiles.toSeq: _*).columns.toSeq ==
      Seq("vec_id", "codes"),
      "codes artifact must hold nothing but ids and codes (the vec_id " +
        "shard key is the partition)")
  }

  test("build: a null embedding in the first corpus row does not hide the width") {
    val root = tempDir("graft_pq_null").toString
    val firstId = e.filter(col("vec_id") =!= 0)
      .agg(min(col("vec_id"))).head().getLong(0)
    val withNull = e.withColumn("embedding",
        when(col("vec_id") === firstId, lit(null)).otherwise(col("embedding")))
      .orderBy(col("vec_id"))
    PqIndex.buildVersioned(spark, withNull, root)
    val codes = VersionedTable.readCurrent(spark, root, PqIndex.codesSchema)
    val want = e.filter(col("vec_id") =!= 0).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(codes.select(col("vec_id")).collect().map(_.getLong(0)).toSet ==
      want, "every corpus vector must be encoded")
  }

  test("probeBatch: batched ADC serving == per-query probe, one codes scan (q137)") {
    val root = tempDir("graft_pq_batch").toString
    PqIndex.buildVersioned(spark, e, root)
    val corpus = e.filter(col("vec_id") =!= 0)
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val batchDf = PqIndex.probeBatchVersioned(spark, root, queries,
      _ => corpus)
    val batch = batchDf.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    val qs = queries.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(qs.length >= 4 && batch.keySet == qs.map(_._1).toSet)
    qs.foreach { case (qid, qv) =>
      // same default shortlist, same tiebreaks -> identical ranked ids
      // and distances per query as the single-query probe
      val single = PqIndex.probeVersioned(spark, root, qv, corpus).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
      val got = batch(qid).sortBy(_._2).map(t => (t._3, t._4)).toSeq
      assert(got == single, s"q$qid batched != single: $got vs $single")
    }
    // ONE codes scan serves the whole batch (the broadcast dt block is
    // a LocalTableScan, the re-rank reads the corpus — but the codes
    // table must not be scanned per query). Pin on a FRESH frame: an
    // executed AQE plan's toString prints Final AND Initial plans,
    // double-counting every scan line.
    val plan = PqIndex.probeBatchVersioned(spark, root, queries, _ => corpus)
      .queryExecution.executedPlan.toString
    val codeScans = plan.linesIterator.count(l =>
      l.contains("Scan") && l.contains(root))
    assert(codeScans == 1, s"batch must scan codes ONCE, got $codeScans")
  }

  /** A stand-in build: one data file, content numbered by build count. */
  private def writePart(tmp: String, n: Int): Unit = {
    val sub = Paths.get(tmp, "part")
    Files.createDirectories(sub)
    Files.writeString(sub.resolve("data"), s"build-$n")
  }

  private def readyMarker(dir: java.nio.file.Path) =
    dir.resolve("READY").resolve("_SUCCESS")

  test("buildArtifactOnce: builds once, reuses, heals torn dirs, loses races cleanly") {
    val root = tempDir("graft_bao")
    val dir = root.resolve("artifact")
    var builds = 0
    def build(tmp: String): Unit = { builds += 1; writePart(tmp, builds) }
    // first touch builds, stamps READY, and installs
    assert(VectorOps.buildArtifactOnce(dir)(build))
    assert(builds == 1)
    assert(Files.exists(readyMarker(dir)))
    // second touch reuses — the build fn never runs
    assert(!VectorOps.buildArtifactOnce(dir)(build))
    assert(builds == 1)
    // a torn directory (no READY marker) is healed by a fresh build
    Files.delete(readyMarker(dir))
    assert(VectorOps.buildArtifactOnce(dir)(build))
    assert(builds == 2)
    assert(Files.readString(dir.resolve("part").resolve("data")) == "build-2")
    // outside-the-protocol writer: a competitor installs the artifact
    // BETWEEN this build and its move WITHOUT taking the lock (protocol
    // participants would have blocked on it) — the loser must still
    // discard its tmp and leave the winner's artifact untouched
    Files.delete(readyMarker(dir)) // not ready again
    def racingBuild(tmp: String): Unit = {
      build(tmp) // our build (#3)
      val winner = root.resolve("winner")
      build(winner.toString) // competitor's build (#4)...
      Files.createDirectories(winner.resolve("READY"))
      Files.writeString(readyMarker(winner), "")
      VectorOps.deleteRecursively(dir) // competitor heals the torn dir
      Files.move(winner, dir) // ...and installs first
    }
    assert(!VectorOps.buildArtifactOnce(dir)(racingBuild),
      "rename-race loser must report no install")
    assert(Files.readString(dir.resolve("part").resolve("data")) == "build-4",
      "the race winner's artifact must survive")
    // a build that THROWS cleans its tmp up on the way out, unstamped
    VectorOps.deleteRecursively(dir)
    intercept[RuntimeException] {
      VectorOps.buildArtifactOnce(dir) { tmp =>
        Files.createDirectories(Paths.get(tmp, "part"))
        throw new RuntimeException("boom")
      }
    }
    // no tmp build directories left behind — only the lock file may
    // remain (deleting a lock file another process may be blocked on
    // would let a third process acquire a fresh one concurrently)
    val leftovers = Files.list(root)
    try {
      val stray = leftovers.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filterNot(_.getFileName.toString.endsWith(".lock")).toSeq
      assert(stray.isEmpty, s"tmp dirs must be deleted: $stray")
    } finally leftovers.close()
  }

  test("sweepStaleArtifacts: stale tokens and fingerprints GC'd; other corpora and lock-held entries survive") {
    import java.nio.file.StandardOpenOption
    // a private tmp root standing in for java.io.tmpdir: the sweep only
    // ever navigates relative to the CURRENT entry, so the layout is all
    // that matters
    val tmpRoot = tempDir("graft_gc_root")
    val famCur = tmpRoot.resolve("graft_tst_index_v2")
    val famOld = tmpRoot.resolve("graft_tst_index_v1")
    val unrelated = tmpRoot.resolve("graft_other_index_v1")
    // entry names follow artifactDir's `${tag}_${fp}` scheme; corpus
    // identity lives in each entry's .corpus marker (names are
    // ambiguous — see CorpusMarker's scaladoc)
    val cur = famCur.resolve("sfA_deadbee2")
    val staleFp = famCur.resolve("sfA_deadbee1")
    val staleFileFp = famCur.resolve("sfA_500_1700")
    val otherCorpus = famCur.resolve("sfB_deadbee9")
    // a SIBLING corpus '/x/sfA/123' whose all-decimal dir-hash renders
    // its NAME exactly like an 'sfA' size_mtime fingerprint — the
    // collision class a name-shape guess GC'd; its marker differs, so
    // it must SURVIVE
    val numericCousin = famCur.resolve("sfA_123_4567")
    // a tag-extension sibling ('/x/sfA_alt'): also survives by marker
    val prefixCousin = famCur.resolve("sfA_alt_deadbeef")
    // a legacy entry with NO marker (pre-marker binary): never
    // same-corpus-swept, whatever its name looks like
    val markerless = famCur.resolve("sfA_deadbee0")
    val lockedStale = famOld.resolve("sfA_deadbeeX")
    val unrelatedEntry = unrelated.resolve("sfA_deadbee1")
    Seq(cur, staleFp, staleFileFp, otherCorpus, numericCousin,
        prefixCousin, markerless, lockedStale, unrelatedEntry).foreach { d =>
      Files.createDirectories(d)
      Files.writeString(d.resolve("data"), "x")
    }
    Seq(cur, staleFp, staleFileFp, lockedStale).foreach(d =>
      Files.writeString(d.resolve(".corpus"), "/x/sfA"))
    Files.writeString(otherCorpus.resolve(".corpus"), "/x/sfB")
    Files.writeString(numericCousin.resolve(".corpus"), "/x/sfA/123")
    Files.writeString(prefixCousin.resolve(".corpus"), "/x/sfA_alt")
    Files.writeString(unrelatedEntry.resolve(".corpus"), "/x/sfA")
    // an in-flight competitor: its entry's build lock is HELD (same-JVM
    // overlap surfaces as OverlappingFileLockException — the same skip)
    val ch = java.nio.channels.FileChannel.open(
      famOld.resolve("sfA_deadbeeX.lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    val held = ch.lock()
    try VectorOps.sweepStaleArtifacts(cur, "graft_tst_index_", "/x/sfA")
    finally { held.release(); ch.close() }
    assert(Files.exists(cur.resolve("data")), "current artifact untouched")
    assert(!Files.exists(staleFp),
      "same-corpus stale hex fingerprint must be GC'd")
    assert(!Files.exists(staleFileFp),
      "same-corpus stale size_mtime fingerprint must be GC'd")
    assert(!Files.exists(famCur.resolve("sfA_deadbee1.lock")),
      "a GC'd entry's lock file must go with it")
    assert(Files.exists(otherCorpus), "other corpora's entries survive")
    assert(Files.exists(numericCousin),
      "a sibling corpus whose NAME mimics an 'sfA' size_mtime " +
        "fingerprint must survive — identity is the marker, not the name")
    assert(Files.exists(prefixCousin),
      "a tag-extension sibling corpus must survive (different marker)")
    assert(Files.exists(markerless),
      "a legacy markerless entry is never same-corpus-swept")
    assert(Files.exists(lockedStale),
      "a lock-held stale entry must survive the sweep")
    assert(Files.exists(unrelatedEntry),
      "a different family prefix is out of scope")
    // lock released: the next build's sweep removes the old-token family
    VectorOps.sweepStaleArtifacts(cur, "graft_tst_index_", "/x/sfA")
    assert(!Files.exists(famOld),
      "stale-token family dir must be fully removed once unlocked")
    assert(Files.exists(cur.resolve("data")))
  }

  test("sweepStaleArtifacts: a dir that only shares the family prefix survives; marked stale entries are still swept") {
    val tmpRoot = tempDir("graft_gc_prefix")
    val cur = tmpRoot.resolve("graft_nightly_v2").resolve("sfA_cur")
    Files.createDirectories(cur)
    // a caller's scratch dir under a prefixed name (a spec's roots): no
    // lock beside its entry, no corpus or READY marker inside it
    val scratch = tmpRoot.resolve("graft_nightly_ref123")
    Files.createDirectories(scratch.resolve("x"))
    Files.writeString(scratch.resolve("x").resolve("file"), "x")
    // stale-token entries, each carrying one artifact mark
    val stale = tmpRoot.resolve("graft_nightly_v1")
    val byLock = stale.resolve("sfA_lock")
    val byCorpus = stale.resolve("sfB_corpus")
    val byReady = stale.resolve("sfC_ready")
    Seq(byLock, byCorpus, byReady).foreach { d =>
      Files.createDirectories(d)
      Files.writeString(d.resolve("data"), "x")
    }
    Files.writeString(stale.resolve("sfA_lock.lock"), "")
    Files.writeString(byCorpus.resolve(".corpus"), "/x/sfB")
    Files.createDirectories(byReady.resolve("READY"))
    Files.createFile(byReady.resolve("READY").resolve("_SUCCESS"))
    VectorOps.sweepStaleArtifacts(cur, "graft_nightly_", "/x/sfA")
    assert(Files.exists(scratch.resolve("x").resolve("file")),
      "a non-artifact dir under a family-prefixed name must survive")
    Seq(byLock, byCorpus, byReady).foreach(d =>
      assert(!Files.exists(d), s"stale artifact entry $d must be swept"))
    assert(!Files.exists(stale),
      "the emptied stale-token family dir is removed")
    assert(Files.exists(cur), "current artifact untouched")
  }

  test("buildArtifactOnce: concurrent same-JVM attempts serialize on the lock — one build, both served") {
    val dir = tempDir("graft_bao_lock").resolve("artifact")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val inBuild = new java.util.concurrent.atomic.AtomicInteger(0)
    def build(tmp: String): Unit = {
      assert(inBuild.incrementAndGet() == 1,
        "two builds of the same artifact must never overlap")
      try {
        Thread.sleep(200) // hold the lock long enough for real overlap
        writePart(tmp, builds.incrementAndGet())
      } finally inBuild.decrementAndGet()
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val attempts = (1 to 4).map(_ => Future {
      VectorOps.buildArtifactOnce(dir)(build)
    })
    val results = Await.result(Future.sequence(attempts), 60.seconds)
    assert(builds.get() == 1, s"exactly one attempt builds, got ${builds.get()}")
    assert(results.count(identity) == 1, "exactly one attempt reports the install")
    assert(Files.exists(readyMarker(dir)),
      "every attempt returns with the artifact ready")
  }

  test("q131 declared form: exact top-10 + green flags; identity-keyed artifact reused, not rebuilt") {
    val law = VectorOps.pqIndexProbe(spark, sfDir).collect()
    assert(law.length == 10)
    assert(law.forall(r => r.getBoolean(2) && r.getBoolean(3)),
      "recall_ok/score_ok must hold on the fixture")
    val marker = readyMarker(VectorOps.artifactDir(
      s"graft_pq_index_${PqIndex.formatTag}", sfDir))
    val mtime = java.nio.file.Files.getLastModifiedTime(marker).toMillis
    val again = VectorOps.pqIndexProbe(spark, sfDir).collect()
    assert(again.map(_.toSeq).toSeq == law.map(_.toSeq).toSeq)
    assert(java.nio.file.Files.getLastModifiedTime(marker).toMillis == mtime,
      "second probe must reuse the artifact, not rebuild it")
  }

  test("q141 declared form: 8x top-5 planted-v2 batch + green flags; versioned lifecycle reused") {
    val law = VectorOps.pqVersionedBatchProbe(spark, sfDir).collect()
    assert(law.length == 40, s"8 queries x top-5 = 40 rows, got ${law.length}")
    assert(law.forall(r => r.getBoolean(4) && r.getBoolean(5)),
      "recall_ok/score_ok must hold on the fixture")
    val again = VectorOps.pqVersionedBatchProbe(spark, sfDir).collect()
    assert(again.map(_.toSeq).toSeq == law.map(_.toSeq).toSeq,
      "second invocation serves off the committed manifest, deterministic")
    // the delta is visible: the batch answer differs from the raw-corpus
    // exact batch (q137's exact rows)
    val v1Law = VectorOps.batchPqIndexProbe(spark, sfDir).collect()
    assert(law.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq !=
      v1Law.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq,
      "planted delta must change the exact batch answer or the law is vacuous")
  }
}
