package graft

import graft.operators.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The snapshot/manifest storage laws: atomic publish, copy-on-write
  * deltas that share untouched partitions, snapshot-isolated readers,
  * content-preserving compaction, and vacuum that reclaims exactly the
  * unreferenced generations. */
class VersionedTableSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType),
    StructField("bucket", IntegerType)))

  private def rowsDf(rows: (Long, String, Int)*): DataFrame =
    rows.toDF("k", "v", "bucket")

  private def contents(df: DataFrame): Set[(Long, String, Int)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  private def newRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_vt_$tag").toString

  test("publishFull + read round-trips; empty wanted set reads empty") {
    val root = newRoot("full")
    val data = rowsDf((1L, "a", 0), (2L, "b", 1), (3L, "c", 1))
    val v = VersionedTable.publishFull(spark, root, "bucket", data)
    assert(v == 1L)
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      contents(data))
    // wanted pruning is literal path selection
    assert(contents(VersionedTable.readCurrent(spark, root, schema,
      wanted = Some(Seq(1)))) == Set((2L, "b", 1), (3L, "c", 1)))
    assert(VersionedTable.readCurrent(spark, root, schema,
      wanted = Some(Seq(9))).count() == 0)
  }

  test("publishDelta: replaced partitions move, untouched ones share files; emptied partition disappears") {
    val root = newRoot("delta")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1), (3L, "c", 2)))
    val snap1 = VersionedTable.currentSnapshot(spark, root).get
    // replace bucket 1 with new content, bucket 2 with NOTHING (empty)
    val v2 = VersionedTable.publishDelta(spark, root, Seq(1, 2),
      rowsDf((20L, "B", 1)))
    assert(v2 == 2L)
    val snap2 = VersionedTable.currentSnapshot(spark, root).get
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "a", 0), (20L, "B", 1)))
    // bucket=0 is SHARED with v1 (copy-on-write, not copied)
    assert(snap2.parts("bucket=0") == snap1.parts("bucket=0"))
    assert(snap2.parts("bucket=1") != snap1.parts("bucket=1"))
    assert(!snap2.parts.contains("bucket=2"),
      "an emptied partition is a mapping entry that disappears")
  }

  test("snapshot isolation: a reader resolved at v1 still serves v1 after v2 publishes") {
    val root = newRoot("iso")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1)))
    val snap1 = VersionedTable.currentSnapshot(spark, root).get
    val v1Reader = VersionedTable.read(spark, snap1, root, schema)
    VersionedTable.publishDelta(spark, root, Seq(1), rowsDf((2L, "B2", 1)))
    // the v1 handle keeps its consistent view (its gen dirs are immutable
    // until vacuum); a fresh resolve sees v2
    assert(contents(v1Reader) == Set((1L, "a", 0), (2L, "b", 1)))
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "a", 0), (2L, "B2", 1)))
  }

  test("atomicity: a failed staging write publishes nothing — reads stay at the old version") {
    val root = newRoot("atomic")
    VersionedTable.publishFull(spark, root, "bucket", rowsDf((1L, "a", 0)))
    // a delta whose plan THROWS mid-write: the generation is staged
    // garbage, no manifest references it, readers never see it
    val poisoned = rowsDf((2L, "x", 0))
      .withColumn("v", udf((s: String) =>
        if (s == "x") throw new RuntimeException("boom") else s)
        .apply(col("v")))
    intercept[Exception] {
      VersionedTable.publishDelta(spark, root, Seq(0), poisoned)
    }
    val snap = VersionedTable.currentSnapshot(spark, root).get
    assert(snap.version == 1L, "failed publish must not advance the version")
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "a", 0)))
  }

  test("delta rows outside the replaced set are rejected (stale-base guard)") {
    val root = newRoot("guard")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1)))
    intercept[IllegalArgumentException] {
      // claims to replace bucket 0 but smuggles rows into bucket 1
      VersionedTable.publishDelta(spark, root, Seq(0),
        rowsDf((9L, "z", 0), (8L, "y", 1)))
    }
    assert(VersionedTable.currentSnapshot(spark, root).get.version == 1L)
  }

  test("concurrent commit: the version race loser throws instead of clobbering") {
    val root = newRoot("race")
    VersionedTable.publishFull(spark, root, "bucket", rowsDf((1L, "a", 0)))
    val base = VersionedTable.currentSnapshot(spark, root).get
    // two committers resolved the SAME base and race for version 2:
    // the winner's manifest lands, the loser must detect the taken
    // version and throw — never overwrite
    val winner = base.copy(version = base.version + 1,
      parts = base.parts) // a no-op rewrite, content beside the point
    VersionedTable.commitManifest(spark, root, winner)
    intercept[VersionedTable.ConcurrentCommitException] {
      VersionedTable.commitManifest(spark, root,
        base.copy(version = base.version + 1))
    }
    // the winner's commit stands untouched
    assert(VersionedTable.currentSnapshot(spark, root).get.version == 2L)
    // and the delta-publish caller sees the loss the supported way too:
    // its base is stale, so its recompute-and-retry contract applies
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "a", 0)))
  }

  test("compact: oversized partitions fold to one file, content identical, published as a snapshot") {
    val root = newRoot("compact")
    // repartition(3) inside one partition value → ≥2 data files
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L to 30L).map(i => (i, s"v$i", (i % 2).toInt)): _*)
        .repartition(3))
    val before = contents(VersionedTable.readCurrent(spark, root, schema))
    val rewritten = VersionedTable.compact(spark, root, schema,
      maxFilesPerPart = 1)
    assert(rewritten.nonEmpty, "3-file partitions must exceed the threshold")
    val snap = VersionedTable.currentSnapshot(spark, root).get
    assert(snap.version == 2L, "compaction is a normal atomic commit")
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) == before,
      "compaction must be content-identical")
    // and now every partition is within threshold: a second pass no-ops
    assert(VersionedTable.compact(spark, root, schema, 1).isEmpty)
  }

  test("compact: a commit landing between the compactor's read and its commit survives — the compactor re-derives") {
    val root = newRoot("compactrace")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L to 30L).map(i => (i, s"v$i", (i % 2).toInt)): _*)
        .repartition(3),
      properties = Map("corpus_version" -> "1"))
    val bucket1 = contents(VersionedTable.readCurrent(spark, root, schema,
      wanted = Some(Seq(1))))
    // the racer: an online index tick rewriting bucket 0 and moving the
    // cursor, landed the first time the compactor lists a partition dir
    var fired = false
    HookedLocalFs.arm(new org.apache.hadoop.fs.Path(root, "data")) {
      fired = true
      VersionedTable.publishDelta(spark, root, Seq(0), rowsDf((2L, "R", 0)),
        properties = Map("corpus_version" -> "2"))
    }
    spark.conf.set("fs.file.impl", classOf[HookedLocalFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    val rewritten =
      try VersionedTable.compact(spark, root, schema, maxFilesPerPart = 1)
      finally {
        spark.conf.unset("fs.file.impl")
        spark.conf.unset("fs.file.impl.disable.cache")
        HookedLocalFs.disarm()
      }
    assert(fired, "the racer must land inside the compaction")
    val snap = VersionedTable.currentSnapshot(spark, root).get
    assert(snap.version == 3L, "racer v2, then the re-derived compaction")
    assert(contents(VersionedTable.readCurrent(spark, root, schema,
      wanted = Some(Seq(0)))) == Set((2L, "R", 0)),
      "the racer's rows must survive the compaction")
    assert(rewritten == Seq("bucket=1"),
      "bucket 0 is one file after the racer: only bucket 1 is oversized")
    assert(contents(VersionedTable.readCurrent(spark, root, schema,
      wanted = Some(Seq(1)))) == bucket1, "compaction is content-identical")
    assert(snap.properties("corpus_version") == "2",
      "the cursor describes the content it carries")
  }

  test("vacuum: MANY live partitions sharing one generation all survive") {
    // regression: the live-set flip must not re-key by generation —
    // that collapsed every partition sharing a gen to one survivor and
    // vacuum swept live data
    val root = newRoot("vacmany")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1), (3L, "c", 2), (4L, "d", 3)))
    VersionedTable.publishDelta(spark, root, Seq(3), rowsDf((4L, "D2", 3)))
    VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "a", 0), (2L, "b", 1), (3L, "c", 2), (4L, "D2", 3)),
      "buckets 0..2 share the v1 generation and are all still live")
  }

  test("vacuum: unreferenced generations go, retained versions stay readable") {
    val root = newRoot("vacuum")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1)))
    VersionedTable.publishDelta(spark, root, Seq(1), rowsDf((2L, "B2", 1)))
    VersionedTable.publishDelta(spark, root, Seq(1), rowsDf((2L, "B3", 1)))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def genCount = fs.listStatus(
      new org.apache.hadoop.fs.Path(root, "data")).count(_.isDirectory)
    assert(genCount == 3)
    // keep 2: v2's bucket=1 gen is still referenced; v1's is not — but
    // v1's gen ALSO holds bucket=0, still shared by v2 and v3, so the
    // generation survives with only its dead subdir swept
    VersionedTable.vacuum(spark, root, keepVersions = 2, graceMs = 0L)
    val mdir = new org.apache.hadoop.fs.Path(root, "manifests")
    assert(fs.listStatus(mdir).map(_.getPath.getName).sorted.toSeq ==
      Seq("v00000002.json", "v00000003.json"))
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "a", 0), (2L, "B3", 1)))
    // the retained PREVIOUS version is still fully readable (that is
    // what keepVersions buys)
    val snap2 = VersionedTable.currentSnapshot(spark, root).get
    assert(snap2.version == 3L)
    // now keep only current: v2's gen becomes fully dead, v1's gen
    // keeps serving bucket=0
    VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    assert(genCount == 2, "v2's generation is unreferenced and swept; " +
      "v1's survives because v3 still shares its bucket=0")
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "a", 0), (2L, "B3", 1)))
  }

  test("vacuumRetain: wall-clock retention drops versions past the window, always keeps the newest, behind-retention reads fail loudly") {
    val root = newRoot("vacretain")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1)))
    Thread.sleep(15) // distinct committedAtMs per version
    VersionedTable.publishDelta(spark, root, Seq(1), rowsDf((2L, "B2", 1)))
    Thread.sleep(15)
    VersionedTable.publishDelta(spark, root, Seq(1), rowsDf((2L, "B3", 1)))
    val hist = VersionedTable.history(spark, root)
      .orderBy("version").collect()
      .map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(hist(1L) < hist(2L) && hist(2L) < hist(3L),
      "publishes must stamp strictly increasing commit instants")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def manifests = fs.listStatus(
        new org.apache.hadoop.fs.Path(root, "manifests"))
      .map(_.getPath.getName).sorted.toSeq
    // retention window opens midway between v1 and v2's commit instants:
    // v1 is past the window, v2/v3 inside it — the RETAIN n HOURS shape,
    // driven through the nowMs seam so the test owns the clock
    val nowFixed = hist(3L) + 1000000L
    VersionedTable.vacuumRetain(spark, root,
      retainMs = nowFixed - (hist(1L) + hist(2L)) / 2, graceMs = 0L,
      nowMs = () => nowFixed)
    assert(manifests == Seq("v00000002.json", "v00000003.json"),
      "v1 committed before the window must go; v2/v3 inside it stay")
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "a", 0), (2L, "B3", 1)))
    // behind-retention access is LOUD, same as count-based removal:
    // the vacuumed version resolves to nothing and restore refuses
    assert(VersionedTable.snapshotAt(spark, root, 1L).isEmpty)
    val e = intercept[IllegalStateException] {
      VersionedTable.restore(spark, root, 1L)
    }
    assert(e.getMessage.contains("not retained"))
    // retainMs = 0 expires EVERYTHING — but the newest always survives:
    // an idle table never loses its current snapshot to the clock
    VersionedTable.vacuumRetain(spark, root, retainMs = 0L, graceMs = 0L,
      nowMs = () => nowFixed)
    assert(manifests == Seq("v00000003.json"))
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "a", 0), (2L, "B3", 1)))
  }

  test("manifest versions past 8 digits: numeric resolve, not lexicographic; vacuum keeps the true newest") {
    val root = newRoot("wide")
    VersionedTable.publishFull(spark, root, "bucket", rowsDf((1L, "a", 0)))
    val base = VersionedTable.currentSnapshot(spark, root).get
    // simulate a long-lived table jumping the %08d minimum-width
    // boundary (a manifest carries the FULL live mapping, so committing
    // the same mapping at a higher version is a valid no-op publish)
    VersionedTable.commitManifest(spark, root,
      base.copy(version = 99999999L))
    VersionedTable.commitManifest(spark, root,
      base.copy(version = 100000000L))
    // "v100000000.json" < "v99999999.json" LEXICOGRAPHICALLY — a string
    // max would roll the table back to v99999999 and vacuum would keep
    // the wrong manifest
    assert(VersionedTable.currentSnapshot(spark, root).get.version ==
      100000000L, "resolve must order by parsed numeric version")
    VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root, "manifests"))
      .map(_.getPath.getName).toSeq == Seq("v100000000.json"),
      "vacuum retains exactly the numerically-newest manifest")
    assert(VersionedTable.currentSnapshot(spark, root).get.version ==
      100000000L)
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "a", 0)), "the kept manifest still serves its data")
  }

  test("crash-staged generation (staged, never committed) is vacuumed past grace; committed state unharmed") {
    val root = newRoot("crash")
    VersionedTable.publishFull(spark, root, "bucket", rowsDf((1L, "a", 0)))
    // a builder that died between staging its generation and committing
    // the manifest: a complete staged gen (partition dir + an extra)
    // that NO manifest references
    val dead = new org.apache.hadoop.fs.Path(root, "data/gen-crashsim0000")
    rowsDf((9L, "z", 9)).write.partitionBy("bucket").parquet(dead.toString)
    rowsDf((9L, "z", 9)).write
      .parquet(new org.apache.hadoop.fs.Path(dead, "stats").toString)
    val fs = dead.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(dead))
    // inside grace: protected (it could be an IN-FLIGHT commit's staging)
    VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 3600000L)
    assert(fs.exists(dead), "a recent staging dir is protected by graceMs")
    // past grace: the orphan is reclaimed wholesale — partitions, extra,
    // and the emptied gen dir itself — while committed data is untouched
    VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    assert(!fs.exists(dead), "an orphaned staging dir must be reclaimed")
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "a", 0)))
  }

  test("retryingPublish: a commit-race loser re-derives against the winner; both deltas land") {
    val root = newRoot("retry")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 1), (2L, "b", 2), (3L, "c", 3)))
    var attempts = 0
    val basesSeen = scala.collection.mutable.ArrayBuffer[Long]()
    val v = VersionedTable.retryingPublish(spark, root) { base =>
      attempts += 1
      basesSeen += base.version
      if (attempts == 1)
        // a competitor lands AFTER we resolved our base — the nightly
        // job vs backfill collision the retry loop exists for
        VersionedTable.publishDelta(spark, root, Seq(3),
          rowsDf((3L, "C2", 3)))
      // our delta is DERIVED from the base we were handed (upper-case
      // bucket 1's current content) — a re-derivation against a fresh
      // base is observable through basesSeen
      val cur = contents(VersionedTable.read(spark, base, root, schema,
        Some(Seq(1))))
      VersionedTable.Delta(Seq(1),
        rowsDf(cur.toSeq.map { case (k, s, b) => (k, s.toUpperCase, b) }: _*))
    }
    assert(attempts == 2 && basesSeen.toList == List(1L, 2L),
      "first attempt loses v2 to the competitor, retry re-derives from v2")
    assert(v == 3L)
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "A", 1), (2L, "b", 2), (3L, "C2", 3)),
      "disjoint concurrent deltas BOTH land — final state equals " +
        "sequential application in either order")
    // exhaustion: with maxAttempts=1 the same collision propagates
    intercept[VersionedTable.ConcurrentCommitException] {
      VersionedTable.retryingPublish(spark, root, maxAttempts = 1) { base =>
        VersionedTable.publishDelta(spark, root, Seq(2), rowsDf((2L, "B2", 2)))
        VersionedTable.Delta(Seq(1), rowsDf((1L, "a2", 1)))
      }
    }
  }

  test("snapshotAt + history: retained versions resolve exactly; vacuumed ones return None, not another state") {
    val root = newRoot("tt")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1)))
    VersionedTable.publishDelta(spark, root, Seq(1), rowsDf((2L, "B2", 1)))
    VersionedTable.publishDelta(spark, root, Seq(1), rowsDf((2L, "B3", 1)))
    // pin v2 and reproduce exactly its state (the time-travel read)
    val s2 = VersionedTable.snapshotAt(spark, root, 2L).get
    assert(contents(VersionedTable.read(spark, s2, root, schema)) ==
      Set((1L, "a", 0), (2L, "B2", 1)))
    assert(VersionedTable.snapshotAt(spark, root, 9L).isEmpty,
      "a never-committed version must not resolve")
    val hist = VersionedTable.history(spark, root)
      .orderBy("version").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    assert(hist.toSeq == Seq((1L, 2L, 1L), (2L, 2L, 2L), (3L, 2L, 2L)),
      "history: v1 = 2 parts/1 gen; v2 and v3 each span 2 generations " +
        "(bucket=0 shared with v1, bucket=1 rewritten)")
    VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    assert(VersionedTable.snapshotAt(spark, root, 2L).isEmpty,
      "a vacuumed version returns None — never a silently different state")
    assert(VersionedTable.history(spark, root).count() == 1L)
  }

  test("concurrent committers through DIFFERENT spellings of one root serialize on one lock") {
    // the commit monitor keys on the QUALIFIED table URI: raw-string
    // keys let "/t" and "file:/t" bypass each other's monitor and the
    // second same-JVM FileChannel.lock() on the shared .commit.lock
    // throws OverlappingFileLockException (an uncaught crash, not a
    // retryable ConcurrentCommitException) — round-11 review
    val root = newRoot("spell")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1)))
    val spellings = Seq(root, "file:" + root)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = spellings.zipWithIndex.map { case (r, i) =>
      new Thread(() => {
        try {
          for (n <- 1 to 3)
            VersionedTable.retryingPublish(spark, r, maxAttempts = 30) {
              _ => VersionedTable.Delta(Seq(i),
                rowsDf((10L * i + n, s"t$i-$n", i)))
            }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty,
      s"spellings of one root must serialize, got: ${errs.peek()}")
    // 1 full + 6 deltas, every commit landed exactly once
    assert(VersionedTable.currentSnapshot(spark, root).get.version == 7L)
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((3L, "t0-3", 0), (13L, "t1-3", 1)),
      "each thread's LAST delta content serves its bucket")
  }

  /** Rewrite a committed manifest's JSON in place to simulate a LEGACY
    * manifest (committed before `committedAtMs` existed) — the
    * adoption-path twin of the schemaFp legacy test. */
  /** Rewrite a committed manifest without one field — simulates a
    * manifest from before that field existed (legacy compatibility). */
  private def stripField(root: String, name: String, field: String): Unit = {
    val p = java.nio.file.Paths.get(root, "manifests", name)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(java.nio.file.Files.readAllBytes(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove(field)
    java.nio.file.Files.write(p, mapper.writeValueAsBytes(node))
    // the rewrite bypassed Hadoop's ChecksumFileSystem — drop the stale
    // .crc sidecar or the next manifest read fails checksum verification
    java.nio.file.Files.deleteIfExists(
      p.getParent.resolve(s".${p.getFileName}.crc"))
  }

  private def stripCommittedAt(root: String, name: String): Unit =
    stripField(root, name, "committedAtMs")

  test("snapshotAsOf: LEGACY manifests (no stamped instant) fall back to file mtime") {
    val root = newRoot("asof")
    VersionedTable.publishFull(spark, root, "bucket", rowsDf((1L, "a", 0)))
    VersionedTable.publishDelta(spark, root, Seq(0), rowsDf((1L, "A2", 0)))
    // simulate manifests committed before the field existed, then pin
    // the commit instants via mtime (coarse-mtime filesystems; no sleeps)
    stripCommittedAt(root, "v00000001.json")
    stripCommittedAt(root, "v00000002.json")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def pin(name: String, ts: Long) = fs.setTimes(
      new org.apache.hadoop.fs.Path(root, s"manifests/$name"), ts, -1)
    pin("v00000001.json", 1000L)
    pin("v00000002.json", 2000L)
    assert(VersionedTable.snapshotAsOf(spark, root, 500L).isEmpty,
      "before the first commit there is no state to resolve")
    assert(VersionedTable.snapshotAsOf(spark, root, 1500L)
      .map(_.version).contains(1L))
    assert(VersionedTable.snapshotAsOf(spark, root, 2000L)
      .map(_.version).contains(2L), "at-or-before is inclusive")
    assert(VersionedTable.snapshotAsOf(spark, root, 99999L)
      .map(_.version).contains(2L))
    // history exposes the same instants for choosing the pin
    val hist = VersionedTable.history(spark, root).orderBy("version")
      .select("version", "committed_at_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(hist.toSeq == Seq((1L, 1000L), (2L, 2000L)))
  }

  test("snapshotAsOf: the stamped commit instant survives a byte-for-byte table copy — mtime does not decide") {
    val root = newRoot("asofcopy")
    VersionedTable.publishFull(spark, root, "bucket", rowsDf((1L, "a", 0)))
    VersionedTable.publishDelta(spark, root, Seq(0), rowsDf((1L, "A2", 0)))
    // the instants the manifests actually carry (history shows the same
    // rule asOf resolves by)
    val instants = VersionedTable.history(spark, root).orderBy("version")
      .select("committed_at_ms").collect().map(_.getLong(0))
    val Array(t1, t2) = instants
    assert(t1 <= t2)
    // migrate the table: copy every file to a new root with FRESH
    // mtimes (and then deliberately scramble them) — the round-11
    // verdict scenario where mtime-based resolution silently shifts
    // history after a file copy
    val dst = newRoot("asofdst")
    val srcP = java.nio.file.Paths.get(root)
    java.nio.file.Files.walk(srcP).forEach { p =>
      val t = java.nio.file.Paths.get(dst).resolve(srcP.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.setTimes(new org.apache.hadoop.fs.Path(dst,
      "manifests/v00000001.json"), 9999999999999L, -1)
    fs.setTimes(new org.apache.hadoop.fs.Path(dst,
      "manifests/v00000002.json"), 1L, -1)
    // the copy resolves the SAME answers at the SAME instants
    assert(VersionedTable.snapshotAsOf(spark, dst, t1 - 1).isEmpty)
    if (t2 > t1)
      assert(VersionedTable.snapshotAsOf(spark, dst, t1)
        .map(_.version).contains(1L))
    assert(VersionedTable.snapshotAsOf(spark, dst, t2)
      .map(_.version).contains(2L))
    assert(contents(VersionedTable.read(spark,
      VersionedTable.snapshotAsOf(spark, dst, t2).get, dst, schema)) ==
      Set((1L, "A2", 0)), "the copied table serves its data")
  }

  test("properties: commit with the snapshot, carry over across deltas and compaction, overwrite on set, replace on full publish") {
    val root = newRoot("props")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L to 30L).map(i => (i, s"v$i", (i % 2).toInt)): _*)
        .repartition(3),
      properties = Map("corpus_version" -> "7", "owner" -> "nightly"))
    assert(VersionedTable.currentSnapshot(spark, root).get.properties ==
      Map("corpus_version" -> "7", "owner" -> "nightly"))
    // a delta that sets one key overwrites it; untouched keys carry
    VersionedTable.publishDelta(spark, root, Seq(0), rowsDf((2L, "B", 0)),
      properties = Map("corpus_version" -> "8"))
    assert(VersionedTable.currentSnapshot(spark, root).get.properties ==
      Map("corpus_version" -> "8", "owner" -> "nightly"))
    // compaction is a plain delta commit — the cursor must survive it
    // (an index losing its corpus_version to housekeeping would force a
    // full rebuild on the next nightly)
    assert(VersionedTable.compact(spark, root, schema,
      maxFilesPerPart = 1).nonEmpty)
    assert(VersionedTable.currentSnapshot(spark, root).get.properties ==
      Map("corpus_version" -> "8", "owner" -> "nightly"))
    // a full rewrite REPLACES the map (nothing of the old state carries)
    VersionedTable.publishFull(spark, root, "bucket", rowsDf((9L, "z", 0)),
      properties = Map("corpus_version" -> "9"))
    assert(VersionedTable.currentSnapshot(spark, root).get.properties ==
      Map("corpus_version" -> "9"))
  }

  test("restore: a concurrent publisher racing the undo retries instead of dying") {
    val root = newRoot("restorerace")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1)))
    VersionedTable.publishDelta(spark, root, Seq(1), rowsDf((2L, "OOPS", 1)))
    // a publisher hammers bucket 0 while the restore-to-v1 runs: both
    // must land (the restore's ConcurrentCommitException is retried
    // internally, like any publish — round-11 advisor)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    var restoredV = 0L
    val publisher = new Thread(() => {
      try {
        for (n <- 1 to 5)
          VersionedTable.retryingPublish(spark, root, maxAttempts = 30) {
            _ => VersionedTable.Delta(Seq(0), rowsDf((1L, s"p$n", 0)))
          }
      } catch { case t: Throwable => errs.add(t) }
    })
    val restorer = new Thread(() => {
      try restoredV = VersionedTable.restore(spark, root, 1L,
        maxAttempts = 30)
      catch { case t: Throwable => errs.add(t) }
    })
    publisher.start(); restorer.start()
    publisher.join(); restorer.join()
    assert(errs.isEmpty, s"both must land, got: ${errs.peek()}")
    // 1 full + 1 bad delta + 5 publishes + 1 restore = 8 commits
    assert(VersionedTable.currentSnapshot(spark, root).get.version == 8L)
    assert(restoredV >= 3L)
    // the restore's own commit serves v1's exact content
    assert(contents(VersionedTable.read(spark,
      VersionedTable.snapshotAt(spark, root, restoredV).get, root, schema)) ==
      Set((1L, "a", 0), (2L, "b", 1)))
  }

  test("changes: a duplicated key in a changed partition fails loudly instead of feeding bogus image pairs") {
    val root = newRoot("cdcdup")
    // v1 carries doc 2 TWICE in bucket 1 — the key contract violation
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1), (2L, "b2", 1)))
    val s1 = VersionedTable.currentSnapshot(spark, root).get
    VersionedTable.publishDelta(spark, root, Seq(1), rowsDf((2L, "B", 1)))
    val s2 = VersionedTable.currentSnapshot(spark, root).get
    val e = intercept[IllegalStateException] {
      VersionedTable.changes(spark, root, s1, s2, schema, "k")
    }
    assert(e.getMessage.contains("not unique"))
    // the guard is scoped to CHANGED partitions: the same duplicate in
    // an untouched bucket is not read, so a delta elsewhere still flows
    VersionedTable.publishDelta(spark, root, Seq(0), rowsDf((1L, "A2", 0)))
    val s3 = VersionedTable.currentSnapshot(spark, root).get
    assert(feedRows(VersionedTable.changes(spark, root, s2, s3,
      schema, "k")) ==
      Set((1L, "a", 0, "update_pre"), (1L, "A2", 0, "update_post")))
    // explicit opt-out restores the old garbage-tolerant behavior for
    // producers with a transactional uniqueness guarantee
    VersionedTable.changes(spark, root, s1, s2, schema, "k",
      validateKeys = false).collect()
  }

  private def feedRows(df: DataFrame): Set[(Long, String, Int, String)] =
    df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSet

  test("changes: manifest-diff CDC — insert/update/delete exact, COW-carried rows silent, reads only changed partitions") {
    val root = newRoot("cdc")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1), (3L, "c", 1), (4L, "d", 2)))
    val s1 = VersionedTable.currentSnapshot(spark, root).get
    // delta: bucket 1 rewritten (2 updated, 3 carried byte-identical,
    // 5 inserted); bucket 2 emptied (4 deleted); bucket 0 untouched
    VersionedTable.publishDelta(spark, root, Seq(1, 2),
      rowsDf((2L, "B2", 1), (3L, "c", 1), (5L, "e", 1)))
    val s2 = VersionedTable.currentSnapshot(spark, root).get
    assert(VersionedTable.changedPartitionDirs(s1, s2) ==
      Seq("bucket=1", "bucket=2"),
      "manifest diff: exactly the replaced partitions, pure map math")
    val feed = VersionedTable.changes(spark, root, s1, s2, schema, "k")
    assert(feedRows(feed) == Set(
      (2L, "b", 1, "update_pre"), // old image — the retraction
      (2L, "B2", 1, "update_post"), // new image — the application
      (5L, "e", 1, "insert"),
      (4L, "d", 2, "delete")), // pre-image carried for the retraction
      "row 3's unchanged COW re-delivery must be suppressed")
    // the delta-bounded-I/O law: no file of the untouched bucket=0 is
    // scanned — the feed's cost is the delta, not the table
    val files = feed.inputFiles
    assert(files.nonEmpty && files.forall(f =>
      f.contains("/bucket=1/") || f.contains("/bucket=2/")),
      s"scan must touch only changed partitions, got: ${files.mkString(",")}")
    assert(VersionedTable.changes(spark, root, s2, s2, schema, "k")
      .isEmpty, "changes(v, v) is empty")
    // net diff across a version gap: drop row 5 again in v3, so its
    // v2 insert + v3 delete must cancel out of changes(v1, v3)
    VersionedTable.publishDelta(spark, root, Seq(1),
      rowsDf((2L, "B2", 1), (3L, "c", 1)))
    val s3 = VersionedTable.currentSnapshot(spark, root).get
    assert(feedRows(VersionedTable.changes(spark, root, s1, s3,
      schema, "k")) ==
      Set((2L, "b", 1, "update_pre"), (2L, "B2", 1, "update_post"),
        (4L, "d", 2, "delete")),
      "changes(v1, v3) is the NET diff — a row born and dropped between " +
        "the endpoints never appears")
  }

  test("schema drift guard: renamed/retyped delta rows are rejected before staging; column order is not drift; legacy manifests adopt") {
    val root = newRoot("schemafp")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1)))
    val renamed = rowsDf((2L, "B2", 1)).withColumnRenamed("v", "val")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.publishDelta(spark, root, Seq(1), renamed)
    }
    assert(e.getMessage.contains("drops or renames"))
    intercept[IllegalArgumentException] { // silent type drift
      VersionedTable.publishDelta(spark, root, Seq(1),
        rowsDf((2L, "B2", 1)).withColumn("v", lit(5)))
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root, "data"))
      .count(_.isDirectory) == 1,
      "a rejected delta must not leave a staged generation to vacuum")
    assert(VersionedTable.currentSnapshot(spark, root).get.version == 1L)
    // column ORDER is not drift (read takes the caller's order anyway)
    VersionedTable.publishDelta(spark, root, Seq(1),
      rowsDf((2L, "B2", 1)).select("bucket", "v", "k"))
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "a", 0), (2L, "B2", 1)))
    // a pre-schemaFp manifest (legacy) accepts one delta — adopting its
    // fingerprint — after which drift is caught again
    val cur = VersionedTable.currentSnapshot(spark, root).get
    VersionedTable.commitManifest(spark, root,
      cur.copy(version = cur.version + 1, schemaFp = None))
    VersionedTable.publishDelta(spark, root, Seq(0), rowsDf((1L, "A", 0)))
    intercept[IllegalArgumentException] {
      VersionedTable.publishDelta(spark, root, Seq(0), renamed)
    }
    // EXTRAS are guarded too: a side table republished under a drifted
    // schema (renamed stats column) must fail, not read back as nulls
    VersionedTable.publishDelta(spark, root, Seq(0), rowsDf((1L, "A", 0)),
      extras = Map("stats" -> Seq((1L, 2L)).toDF("n", "total")))
    val de = intercept[IllegalArgumentException] {
      VersionedTable.publishDelta(spark, root, Seq(0), rowsDf((1L, "A", 0)),
        extras = Map("stats" -> Seq((1L, 2L)).toDF("n", "total_len")))
    }
    assert(de.getMessage.contains("extra 'stats' schema drifted"))
    // same-schema extra replacement still lands
    VersionedTable.publishDelta(spark, root, Seq(0), rowsDf((1L, "A", 0)),
      extras = Map("stats" -> Seq((9L, 9L)).toDF("n", "total")))
  }

  test("additive schema evolution: nullable column adds commit, old generations null-fill, CDC classifies across the add; rename/retype/non-nullable still rejected") {
    val root = newRoot("evolve")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1), (3L, "c", 2)))
    val s1 = VersionedTable.currentSnapshot(spark, root).get
    val evolved = StructType(schema.fields :+
      StructField("lang", StringType))
    // nullable add commits (bucket 1 rewritten with the new column;
    // `when` keeps the column nullable — a lit() add is non-nullable
    // and correctly rejected below)
    val v2rows = rowsDf((20L, "B", 1))
      .withColumn("lang", when(col("k") > 0, lit("en")))
    VersionedTable.publishDelta(spark, root, Seq(1), v2rows)
    val s2 = VersionedTable.currentSnapshot(spark, root).get
    assert(s2.schemaFields("lang") == "string")
    // read CURRENT through the evolved schema: old generations (buckets
    // 0 and 2, still v1 files) null-fill the added column
    val cur = VersionedTable.read(spark, s2, root, evolved).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        Option(r.getString(3)))).toSet
    assert(cur == Set((1L, "a", 0, None), (20L, "B", 1, Some("en")),
      (3L, "c", 2, None)))
    // the RETAINED v1 snapshot reads through BOTH schemas (time travel
    // across an add must not break old readers or new ones)
    assert(contents(VersionedTable.read(spark, s1, root, schema)) ==
      Set((1L, "a", 0), (2L, "b", 1), (3L, "c", 2)))
    assert(VersionedTable.read(spark, s1, root, evolved)
      .filter(col("lang").isNotNull).count() == 0)
    // CDC across the add: bucket 1's rewrite classifies normally with
    // the evolved schema (old image lang=null)
    val feed = VersionedTable.changes(spark, root, s1, s2, evolved, "k")
      .collect().map(r => (r.getLong(0), Option(r.getString(3)),
        r.getString(4))).toSet
    assert(feed == Set((2L, None, "delete"), (20L, Some("en"), "insert")))
    // a delta carrying the PRE-evolution schema is now a drop — rejected
    val eOld = intercept[IllegalArgumentException] {
      VersionedTable.publishDelta(spark, root, Seq(0), rowsDf((1L, "A", 0)))
    }
    assert(eOld.getMessage.contains("drops or renames"))
    // retype of the added column — rejected
    intercept[IllegalArgumentException] {
      VersionedTable.publishDelta(spark, root, Seq(0),
        rowsDf((1L, "A", 0)).withColumn("lang", when(col("k") > 0, lit(7))))
    }
    // non-nullable add — rejected (old generations cannot deliver it)
    val eNN = intercept[IllegalArgumentException] {
      VersionedTable.publishDelta(spark, root, Seq(0),
        v2rows.withColumn("score", lit(1.0)))
    }
    assert(eNN.getMessage.contains("non-nullable"))
    // legacy manifest (no schemaFields record): strict equality again —
    // an add against it is refused with the republish-full hint
    stripField(root, f"v${s2.version}%08d.json", "schemaFields")
    val eLegacy = intercept[IllegalArgumentException] {
      VersionedTable.publishDelta(spark, root, Seq(0),
        v2rows.withColumn("extra", when(col("k") > 0, lit(1L))))
    }
    assert(eLegacy.getMessage.contains("predates the schema-evolution"))
  }

  test("additive evolution feeds downstream grids: the q144-shape add/retract consumer survives a column add") {
    val root = newRoot("evolvegrid")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "aaaa", 0), (2L, "bb", 1), (3L, "cccccc", 1)))
    val s1 = VersionedTable.currentSnapshot(spark, root).get
    val evolved = StructType(schema.fields :+
      StructField("lang", StringType))
    // the grid is maintained from the feed alone, as q144 does
    def gridOf(df: DataFrame) = df.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("v"))), lit(0L)).as("n_chars"))
    val base = gridOf(VersionedTable.read(spark, s1, root, schema))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    // v2: bucket 1 rewritten — one text edit, one delete, the new column
    VersionedTable.publishDelta(spark, root, Seq(1),
      rowsDf((2L, "bb-longer", 1))
        .withColumn("lang", when(col("k") > 0, lit("en"))))
    val s2 = VersionedTable.currentSnapshot(spark, root).get
    val feed = VersionedTable.changes(spark, root, s1, s2, evolved, "k")
    val add = col("change_type").isin("insert", "update_post")
    val delta = feed.groupBy(col("bucket")).agg(
      sum(when(col("change_type") === "insert", 1L)
        .when(col("change_type") === "delete", -1L)
        .otherwise(0L)).as("d_docs"),
      sum(when(add, lit(1L)).otherwise(lit(-1L)) *
        coalesce(length(col("v")).cast("long"), lit(0L))).as("d_chars"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val maintained = base.map { case (b, n, c) =>
      val (dn, dc) = delta.getOrElse(b, (0L, 0L))
      (b, n + dn, c + dc)
    }.filter(_._2 > 0)
    val direct = gridOf(VersionedTable.read(spark, s2, root, evolved))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(maintained == direct,
      s"feed-maintained grid must equal the direct v2 recompute across " +
        s"the column add: $maintained vs $direct")
  }

  test("compact is CDC-silent: a content-identical commit emits zero changes — null keys included") {
    val root = newRoot("cdcsilent")
    // a NULL-key row rides along: the row diff must match it to itself
    // across the rewrite (null-safe key equality) or compaction would
    // emit a spurious delete+insert pair for it
    val nullKeyRow = Seq((Option.empty[Long], "z", 0)).toDF("k", "v", "bucket")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L to 30L).map(i => (i, s"v$i", (i % 2).toInt)): _*)
        .unionByName(nullKeyRow).repartition(3))
    val pre = VersionedTable.currentSnapshot(spark, root).get
    assert(VersionedTable.compact(spark, root, schema,
      maxFilesPerPart = 1).nonEmpty)
    val post = VersionedTable.currentSnapshot(spark, root).get
    assert(VersionedTable.changedPartitionDirs(pre, post).nonEmpty,
      "compaction rewrote partitions at the manifest level...")
    assert(VersionedTable.changes(spark, root, pre, post, schema, "k")
      .isEmpty,
      "...but no row changed — a consumer must not re-process anything")
  }

  test("restore: re-commits a retained snapshot's mapping; CDC sees the inverse delta; vacuumed targets fail loudly") {
    val root = newRoot("restore")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((1L, "a", 0), (2L, "b", 1)))
    val s1 = VersionedTable.currentSnapshot(spark, root).get
    // the "bad" publish: 2 updated, 3 inserted
    VersionedTable.publishDelta(spark, root, Seq(1),
      rowsDf((2L, "OOPS", 1), (3L, "x", 1)))
    val s2 = VersionedTable.currentSnapshot(spark, root).get
    val v3 = VersionedTable.restore(spark, root, 1L)
    assert(v3 == 3L, "a restore is a normal forward commit")
    val s3 = VersionedTable.currentSnapshot(spark, root).get
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "a", 0), (2L, "b", 1)), "v3 serves v1's exact content")
    assert(s3.parts == s1.parts && s3.extras == s1.extras,
      "no data copied — the restored manifest references v1's generations")
    // CDC inverse law: the feed from bad→restored is the bad delta
    // undone, so downstream state heals through the normal feed
    assert(feedRows(VersionedTable.changes(spark, root, s2, s3,
      schema, "k")) == Set(
      (2L, "OOPS", 1, "update_pre"), (2L, "b", 1, "update_post"),
      (3L, "x", 1, "delete")))
    // vacuum away v1/v2, keep only the restored current: restoring to a
    // swept version must fail loudly, never serve a mapping to dead files
    VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    intercept[IllegalStateException] {
      VersionedTable.restore(spark, root, 2L)
    }
    assert(contents(VersionedTable.readCurrent(spark, root, schema)) ==
      Set((1L, "a", 0), (2L, "b", 1)),
      "the restored current survives the vacuum (its gens are live)")
  }

  test("reconstruction law (seeded-random): v1 ⊕ changes(v1,v2) == v2 — the feed is a complete transport of the state delta") {
    // applying the feed to v1 (drop delete/update_pre images, add
    // insert/update_post images) must reconstruct v2 exactly — for
    // random mutations including null values, value-only updates, and
    // rows that MOVE partitions (both buckets rewritten; the key join
    // spans them)
    for (seed <- Seq(7, 42, 1337)) {
      val rnd = new scala.util.Random(seed)
      val root = newRoot(s"recon$seed")
      def row(k: Long) = (k, if (rnd.nextInt(10) == 0) null
        else s"v${rnd.nextInt(5)}", rnd.nextInt(6))
      val v1Rows = (1L to 40L).map(row)
      val v2Rows = v1Rows.flatMap { case (k, v, b) =>
        rnd.nextInt(10) match {
          case 0 => None // dropped
          case 1 => Some((k, s"upd$k", b)) // value update
          case 2 => Some((k, v, (b + 1) % 6)) // partition move
          case _ => Some((k, v, b)) // carried
        }
      } ++ (41L to 45L).map(row) // fresh inserts
      val df1 = v1Rows.toDF("k", "v", "bucket")
      val df2 = v2Rows.toDF("k", "v", "bucket")
      VersionedTable.publishFull(spark, root, "bucket", df1)
      val touched = (v1Rows.toSet -- v2Rows.toSet)
        .union(v2Rows.toSet -- v1Rows.toSet).map(_._3)
        .toSeq.sorted
      VersionedTable.publishDelta(spark, root, touched,
        df2.filter(col("bucket").isin(touched: _*)))
      val s1 = VersionedTable.snapshotAt(spark, root, 1L).get
      val s2 = VersionedTable.snapshotAt(spark, root, 2L).get
      val feed = VersionedTable.changes(spark, root, s1, s2, schema, "k")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1),
          r.getInt(2), r.getString(3)))
      val drop = feed.filter(f =>
        f._4 == "delete" || f._4 == "update_pre").map(f => (f._1, f._2, f._3))
      val add = feed.filter(f =>
        f._4 == "insert" || f._4 == "update_post").map(f => (f._1, f._2, f._3))
      val reconstructed = (v1Rows.toSet -- drop) ++ add
      assert(reconstructed == v2Rows.toSet,
        s"seed $seed: feed must transport exactly the v1→v2 delta")
    }
  }

  /** Distinct partition DIRECTORIES a frame's scan touches. */
  private def scannedDirs(df: DataFrame): Set[String] =
    df.inputFiles.map(f =>
      new org.apache.hadoop.fs.Path(f).getParent.getName).toSet

  test("zone maps: a range read touches ONLY the partitions whose recorded min/max overlap — the file-count law") {
    val root = newRoot("zones")
    // 16 buckets, k ranges DISJOINT per bucket: bucket b holds
    // k ∈ [100b, 100b+99] — the doc_id-range layout of a real corpus
    val data = spark.range(0, 1600).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"),
      (col("id") / 100).cast("int").as("bucket"))
    VersionedTable.publishFull(spark, root, "bucket", data)
    val snap = VersionedTable.currentSnapshot(spark, root).get
    // stats recorded exactly: bucket=2 holds k ∈ [200, 299]
    assert(snap.stats("bucket=2")("k") ==
      VersionedTable.ColStat("long", "200", "299"))
    assert(snap.stats.keySet == snap.parts.keySet)
    // the law: k ∈ [250, 410] overlaps buckets 2,3,4 ONLY
    val ranged = VersionedTable.readRange(spark, snap, root, schema,
      "k", 250L, 410L)
    assert(scannedDirs(ranged) == Set("bucket=2", "bucket=3", "bucket=4"),
      s"zone map must prune to exactly the overlapping dirs, " +
        s"scanned: ${scannedDirs(ranged)}")
    // answer-equal to the unpruned read + filter
    assert(contents(ranged) ==
      contents(VersionedTable.read(spark, snap, root, schema)
        .filter(col("k") >= 250 && col("k") <= 410)))
    assert(ranged.count() == 161)
  }

  test("zone maps: delta stats move with the partitions — replaced dirs re-stat, carried dirs keep theirs, emptied dirs drop") {
    val root = newRoot("zonedelta")
    VersionedTable.publishFull(spark, root, "bucket",
      rowsDf((10L, "a", 0), (20L, "b", 1), (30L, "c", 2)))
    val s1 = VersionedTable.currentSnapshot(spark, root).get
    // replace bucket 1 with k=2000 (new bounds), empty bucket 2
    VersionedTable.publishDelta(spark, root, Seq(1, 2),
      rowsDf((2000L, "B", 1)))
    val s2 = VersionedTable.currentSnapshot(spark, root).get
    assert(s2.stats("bucket=0") == s1.stats("bucket=0"),
      "carried-over partition keeps its recorded stats")
    assert(s2.stats("bucket=1")("k") ==
      VersionedTable.ColStat("long", "2000", "2000"))
    assert(!s2.stats.contains("bucket=2"),
      "an emptied partition's stats disappear with its mapping")
    // pruning reflects the NEW bounds: k ≤ 100 now touches only bucket 0
    assert(scannedDirs(VersionedTable.readRange(spark, s2, root, schema,
      "k", 0L, 100L)) == Set("bucket=0"))
    // and the OLD snapshot still prunes by ITS stats (k=20 lived in b1)
    assert(scannedDirs(VersionedTable.readRange(spark, s1, root, schema,
      "k", 15L, 25L)) == Set("bucket=1"))
  }

  test("zone maps: double columns prune; all-null and NaN bounds record nothing and stay conservative; legacy manifests never prune") {
    val dschema = StructType(Seq(StructField("k", LongType),
      StructField("score", DoubleType), StructField("bucket", IntegerType)))
    val root = newRoot("zonedbl")
    val data = Seq(
      (1L, java.lang.Double.valueOf(0.1), 0),
      (2L, java.lang.Double.valueOf(0.9), 0),
      (3L, java.lang.Double.valueOf(5.5), 1),
      (4L, null.asInstanceOf[java.lang.Double], 2), // all-null partition
      (5L, java.lang.Double.valueOf(Double.NaN), 3)) // NaN poisons max
      .toDF("k", "score", "bucket")
    VersionedTable.publishFull(spark, root, "bucket", data)
    val snap = VersionedTable.currentSnapshot(spark, root).get
    assert(snap.stats("bucket=1")("score") ==
      VersionedTable.ColStat("double", "5.5", "5.5"))
    assert(!snap.stats("bucket=2").contains("score"),
      "an all-null column records no bound for that dir")
    assert(!snap.stats("bucket=3").contains("score"),
      "a NaN bound records nothing — never a bogus range")
    // score ∈ [5.0, 6.0]: bucket 0 provably outside (pruned); buckets
    // 2 and 3 have no stat (kept, conservative); rows filter correctly
    val r = VersionedTable.readRange(spark, snap, root, dschema,
      "score", 5.0, 6.0)
    val dirs = scannedDirs(r)
    assert(!dirs.contains("bucket=0") && dirs.contains("bucket=1"))
    assert(dirs.contains("bucket=2") && dirs.contains("bucket=3"),
      "statless dirs are scanned, not skipped")
    assert(r.collect().map(_.getLong(0)).toSet == Set(3L),
      "NaN and null rows never satisfy the range predicate")
    // legacy manifest: strip the stats field — everything is scanned,
    // the answer is unchanged
    stripField(root, f"v${snap.version}%08d.json", "stats")
    val legacy = VersionedTable.currentSnapshot(spark, root).get
    assert(legacy.stats.isEmpty)
    val lr = VersionedTable.readRange(spark, legacy, root, dschema,
      "score", 5.0, 6.0)
    assert(scannedDirs(lr) == legacy.parts.keySet)
    assert(lr.collect().map(_.getLong(0)).toSet == Set(3L))
  }

  test("zone maps: string columns prune — the lang='de' dir-skip law; long/non-ASCII extremes record nothing") {
    val sschema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("note", StringType),
      StructField("bucket", IntegerType)))
    val root = newRoot("zonestr")
    // lang-clustered layout: each bucket holds a contiguous lang slice
    val big = "x" * 100 // > the 64-char record cap
    VersionedTable.publishFull(spark, root, "bucket", Seq(
      (1L, "de", "ok", 0), (2L, "de", "ok", 0),
      (3L, "en", big, 1), // oversized note extreme: no stat for note@b1
      (4L, "fr", "voilà", 2), // non-ASCII max: no stat for note@b2
      (5L, "pt", "ok", 3)).toDF("doc_id", "lang", "note", "bucket"))
    val snap = VersionedTable.currentSnapshot(spark, root).get
    assert(snap.stats("bucket=0")("lang") ==
      VersionedTable.ColStat("string", "de", "de"))
    assert(!snap.stats("bucket=1").contains("note"),
      "an extreme past the 64-char cap records nothing — no truncated-" +
        "bound trap")
    assert(!snap.stats("bucket=2").contains("note"),
      "a non-ASCII extreme records nothing — JVM vs UTF8 order can " +
        "diverge there")
    assert(snap.stats("bucket=2")("lang") ==
      VersionedTable.ColStat("string", "fr", "fr"),
      "the ASCII column of the same dir still records")
    // the dir-skip law: lang='de' touches ONLY bucket 0; statless
    // columns prune nothing
    assert(VersionedTable.pruneParts(snap, "lang",
      Some("de"), Some("de")).keySet == Set("bucket=0"))
    assert(VersionedTable.pruneParts(snap, "note",
      Some("ok"), Some("ok")).keySet ==
      Set("bucket=0", "bucket=1", "bucket=2", "bucket=3"),
      "dirs without a recorded stat for the column are kept")
    // numeric bound against a string stat: type confusion stays
    // conservative — everything kept, nothing thrown
    assert(VersionedTable.pruneParts(snap, "lang",
      Some(java.lang.Long.valueOf(1L)), None).keySet ==
      snap.parts.keySet)
    // readRange end-to-end on the string column: file-count law +
    // answer equality vs the unpruned read
    val ranged = VersionedTable.readRange(spark, snap, root, sschema,
      "lang", "de", "en")
    assert(scannedDirs(ranged) == Set("bucket=0", "bucket=1"))
    assert(ranged.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("zone-map bounds: java.math.BigDecimal/BigInteger convert exactly — no long truncation mis-prune") {
    // round-13 advisor: toBound routed java.math.BigDecimal through
    // n.longValue, so hi = 10.5 became 10 and PRUNED a dir whose min is
    // 10.3 — wrong answers, not just missed pruning
    assert(VersionedTable.toBound(new java.math.BigDecimal("10.5")) ==
      BigDecimal("10.5"))
    assert(VersionedTable.toBound(
      new java.math.BigInteger("9223372036854775808")) ==
      BigDecimal("9223372036854775808"), "beyond Long.MaxValue, exact")
    assert(VersionedTable.toBound(java.lang.Double.valueOf(2.5)) ==
      BigDecimal(2.5))
    val dschema = StructType(Seq(StructField("k", LongType),
      StructField("score", DoubleType), StructField("bucket", IntegerType)))
    val root = newRoot("zonebd")
    VersionedTable.publishFull(spark, root, "bucket", Seq(
      (1L, java.lang.Double.valueOf(0.4), 0),
      (2L, java.lang.Double.valueOf(10.3), 1), // min 10.3 > truncated 10
      (3L, java.lang.Double.valueOf(25.0), 2)).toDF("k", "score", "bucket"))
    val snap = VersionedTable.currentSnapshot(spark, root).get
    // score ∈ [10.5, 10.5] with java.math bounds: bucket=1 ([10.3,10.3])
    // must be PRUNED on exact decimals — under the truncation bug hi=10
    // dropped it while lo=10 kept bucket=0's [0.4,0.4] pruned, so the
    // visible symptom was the mirror case: lo = 10.5 truncated to 10
    // KEPT nothing wrong but hi = 10.5 truncated to 10 pruned bucket=1
    // even though 10.3 ≤ 10.5
    val kept = VersionedTable.pruneParts(snap, "score",
      Some(new java.math.BigDecimal("10.2")),
      Some(new java.math.BigDecimal("10.5")))
    assert(kept.keySet == Set("bucket=1"),
      s"exact decimal bounds must keep the [10.3,10.3] dir, got $kept")
  }

  test("zone-map stats: repeat publishes share one stats session, so the stats plan compiles once, not once per publish") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = newRoot("statscodegen")
    val rows = spark.range(0, 400).select(col("id").as("k"),
      col("id").cast("string").as("v"), (col("id") % 4).cast("int")
        .as("bucket"))
    def compilations(body: => Any): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    def publish() = VersionedTable.publishFull(spark, root, "bucket", rows)
    publish() // compiles whatever this JVM has not compiled yet
    val repeats = Seq.fill(3)(compilations(publish()))
    assert(repeats.forall(_ == 0),
      s"a repeat publish of one frame compiles nothing new: $repeats")
    assert(VersionedTable.currentSnapshot(spark, root).get.stats
      .values.forall(_.contains("k")), "and its zone maps still record")
  }

  test("SnapshotMemo: one entry per root — version hit, rollover replace, degenerate loads pin nothing") {
    val memo = new VersionedTable.SnapshotMemo[java.lang.Long]
    val s1 = VersionedTable.Snapshot(1L, "bucket", Map.empty, Map.empty)
    val s2 = VersionedTable.Snapshot(2L, "bucket", Map.empty, Map.empty)
    var loads = 0
    def load(v: Long): Option[java.lang.Long] = { loads += 1; Some(v) }
    assert(memo.get("r", s1)(load(10)).contains(10L) && loads == 1)
    assert(memo.get("r", s1)(load(99)).contains(10L) && loads == 1,
      "same (root, version) is a hit — the by-name load never runs")
    assert(memo.get("r", s2)(load(20)).contains(20L) && loads == 2,
      "a newer version replaces the root's entry (O(1), no map walk)")
    assert(memo.get("r", s1)(load(10)).contains(10L) && loads == 3,
      "the superseded version re-loads — one entry per root by design")
    assert(memo.get("r2", s2)(load(30)).contains(30L) && loads == 4,
      "roots are independent")
    assert(memo.get("r2", s2)(load(99)).contains(30L) && loads == 4)
    var dloads = 0
    def dload: Option[java.lang.Long] = { dloads += 1; None }
    assert(memo.get("r3", s1)(dload).isEmpty && dloads == 1)
    assert(memo.get("r3", s1)(dload).isEmpty && dloads == 2,
      "a degenerate (None) read is never cached — the memo self-heals")
  }
}

/** A local filesystem whose `listStatus` runs a one-shot hook the first
  * time it lists a partition dir (`<col>=<value>`) under an armed
  * prefix: a deterministic way to land a commit inside another
  * operation's read-then-commit window. Bound through `fs.file.impl`
  * (with the FS cache off) on the session for one test. */
class HookedLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def listStatus(f: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    HookedLocalFs.fire(f)
    super.listStatus(f)
  }
}

object HookedLocalFs {
  private val hook =
    new java.util.concurrent.atomic.AtomicReference[(String, () => Unit)]()

  def arm(under: org.apache.hadoop.fs.Path)(body: => Unit): Unit =
    hook.set((under.toUri.getPath + "/", () => body))

  def disarm(): Unit = hook.set(null)

  private def fire(p: org.apache.hadoop.fs.Path): Unit = {
    val h = hook.get()
    if (h != null && p.toUri.getPath.startsWith(h._1) &&
        p.getName.contains("=") && hook.compareAndSet(h, null)) h._2()
  }
}
