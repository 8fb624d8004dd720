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
    // the build repartitions by vbucket before its partitioned write: one
    // file per vbucket dir, not one per encode task
    val filesPerBucket = codes.inputFiles.toSeq
      .groupBy(_.replaceAll(".*/(vbucket=\\d+)/.*", "$1"))
    assert(filesPerBucket.keys.forall(_.startsWith("vbucket=")) &&
      filesPerBucket.values.forall(_.size == 1),
      s"codes files per vbucket dir: ${filesPerBucket.map { case (b, fs) =>
        b -> fs.size }}")

    // identical serving answer: training is deterministic, encode argmin
    // and the in-row argmin share the lowest-cell tiebreak
    val qv = e.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val fromIndex = PqIndex.probeVersioned(spark, root, qv, e).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val inQuery = VectorOps.pqAdcTopKOf(e, spark, memoKey = None).get.collect()
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
    // the null row gets no codes; every other vector is encoded
    val want = e.filter(col("vec_id") =!= 0 && col("vec_id") =!= firstId)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(codes.select(col("vec_id")).collect().map(_.getLong(0)).toSet ==
      want, "every well-formed corpus vector, and only those, must be encoded")
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

  test("a q_id delivered twice in one batch is answered once; two vectors under one q_id are rejected") {
    val root = tempDir("graft_pq_dupq").toString
    PqIndex.buildVersioned(spark, e, root)
    val corpus = e.filter(col("vec_id") =!= 0)
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // a multiset: a duplicated answer row must show
    def rows(qs: org.apache.spark.sql.DataFrame) =
      PqIndex.probeBatchVersioned(spark, root, qs, _ => corpus, k = 5)
        .collect().map(r =>
          (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sorted
    assert(rows(queries.union(queries.filter(col("q_id") === 1L))) ==
      rows(queries), "a replayed query must be shortlisted and answered once")
    val other = e.filter(col("vec_id") === 5L)
      .select(lit(1L).as("q_id"), col("embedding").as("q_emb"))
    val err = intercept[IllegalArgumentException](rows(queries.union(other)))
    assert(err.getMessage.contains("q_id 1"), err.getMessage)
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

  /** A private tmp root standing in for java.io.tmpdir, which the cache
    * reads on every call, and two corpora `sfA`/`sfB` beside it. */
  private class CacheFixture {
    import java.nio.file.Path
    val tmpRoot: Path = tempDir("graft_cache_root")
    private val corpora = tempDir("graft_cache_corpora")
    val sfA: Path = corpora.resolve("sfA")
    val sfB: Path = corpora.resolve("sfB")
    Seq(sfA, sfB).foreach { d =>
      Files.createDirectories(d)
      Files.writeString(d.resolve("src.bin"), "v1")
    }
    var builds = 0
    def ensure(family: String, token: String, sf: Path): Path =
      Paths.get(VectorOps.ensureArtifact(family, token, sf.toString,
        "src.bin", "spec artifact") { tmp => builds += 1; writePart(tmp, builds) })
    def names(cur: Path, dirs: Boolean): Set[String] = {
      val s = Files.list(cur.getParent)
      try s.toArray.map(_.asInstanceOf[Path])
        .filter(p => Files.isDirectory(p) == dirs)
        .map(_.getFileName.toString).toSet
      finally s.close()
    }
    def only(cur: Path): Unit = {
      assert(names(cur, dirs = true) == Set(cur.getFileName.toString),
        s"exactly one entry must remain beside $cur")
      assert(names(cur, dirs = false) == Set(s"${cur.getFileName}.lock"),
        "a deleted entry's lock file goes with it")
    }
    def withTmpRoot(body: => Unit): Unit = {
      val saved = sys.props("java.io.tmpdir")
      sys.props("java.io.tmpdir") = tmpRoot.toString
      try body finally sys.props("java.io.tmpdir") = saved
    }
  }

  test("ensureArtifact: one entry per (family, corpus) — token bumps and rewrites leave one; other corpora and lock-held siblings survive") {
    import java.nio.file.StandardOpenOption
    val f = new CacheFixture
    import f._
    withTmpRoot {
      val a1 = ensure("tst", "v1", sfA)
      assert(a1.startsWith(tmpRoot.resolve("graft_artifacts").resolve("tst")))
      val b1 = ensure("tst", "v1", sfB)
      assert(a1.getParent != b1.getParent, "one key directory per corpus")
      // (1) a format-token bump leaves exactly one entry
      val a2 = ensure("tst", "v2", sfA)
      assert(a2 != a1)
      only(a2)
      // (2) a corpus rewrite (new fingerprint) leaves exactly one entry
      Files.writeString(sfA.resolve("src.bin"), "v2, rewritten")
      val a3 = ensure("tst", "v2", sfA)
      assert(a3 != a2 && a3.getParent == a2.getParent)
      only(a3)
      // (3) another corpus's entry survives both
      assert(Files.exists(readyMarker(b1)), "other corpora's entries survive")
      // (4) a sibling whose build lock is HELD survives (same-JVM overlap
      // surfaces as OverlappingFileLockException — the same skip) ...
      val ch = java.nio.channels.FileChannel.open(
        a3.resolveSibling(s"${a3.getFileName}.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      val held = ch.lock()
      val a4 = try ensure("tst", "v3", sfA)
      finally { held.release(); ch.close() }
      assert(Files.exists(readyMarker(a3)), "a lock-held sibling survives")
      assert(names(a4, dirs = true) ==
        Set(a3.getFileName.toString, a4.getFileName.toString))
      // ... and the next build removes it once the lock is free
      val a5 = ensure("tst", "v4", sfA)
      only(a5)
      assert(builds == 6)
    }
  }

  test("ensureArtifact: dirs outside the cache's own tree survive a nightly-family build; the superseded nightly entry is cleared") {
    val f = new CacheFixture
    import f._
    // dirs directly under the tmpdir that the cache must never touch: a
    // scratch dir named like an artifact family, and an entry of the
    // old `<tmpdir>/graft_<family>_<token>/` layout with its marks
    val scratch = tmpRoot.resolve("graft_nightly_ref123").resolve("x")
    Files.createDirectories(scratch)
    Files.writeString(scratch.resolve("file"), "x")
    val legacy = tmpRoot.resolve("graft_nightly_old").resolve("sfA_1_2")
    Files.createDirectories(legacy.resolve("READY"))
    Files.createFile(legacy.resolve("READY").resolve("_SUCCESS"))
    Files.writeString(legacy.resolveSibling("sfA_1_2.lock"), "")
    withTmpRoot {
      // one install, then a superseding one
      val n1 = ensure("nightly", "v1", sfA)
      only(ensure("nightly", "v2", sfA))
      assert(!Files.exists(n1))
      assert(builds == 2)
      assert(Files.exists(scratch.resolve("file")),
        "a graft_nightly_… dir under the tmpdir survives")
      assert(Files.exists(readyMarker(legacy)),
        "an old-layout entry is outside the cache's tree: never swept")
    }
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
      "pq_index", PqIndex.formatTag, sfDir))
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
