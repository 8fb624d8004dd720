package graft

import org.apache.spark.sql.SparkSession

/** Headline benchmark: runs every `SparkEntry.queries` entry against
  * `SPARK_GRAFT_SF_DIR` through a noop sink, prints one JSON line, and
  * persists the COMPLETE result to `bench_out/bench.json`.
  *
  * The measurement SELF-ADJUDICATES. History of why, in three rounds:
  * the round-6 driver capture recorded 357 s for a suite that re-times
  * at ~109 s in a clean window → round 7 added a pre/post q01 sentinel;
  * the round-8 driver capture recorded 624.95 s and the pre/post
  * sentinel STILL said clean, because the contention window opened
  * after the first sentinel and closed before the last (isolated
  * re-times showed 10–45× inflation on mid-suite queries, zero plan
  * regression). Round 9 closes that blind spot; the signals now are:
  *
  *  - **Interleaved sentinels**: the flagship q01 scan+agg is timed in
  *    isolation before the suite, after every [[SentinelEvery]] queries,
  *    and after the suite. `contaminated` is true when ANY sample
  *    exceeds `sentinel_band_sec` (2.0 s at sf0.1 — 2× the worst clean
  *    record, BASELINE.md rounds 4–8). A contention window shorter than
  *    ~16 queries (~15 s clean) can still slip between samples, but the
  *    round-8 episode inflated 40+ consecutive queries — that shape
  *    cannot hide from a sample every 16. The verdict is keyed on the
  *    sentinel ONLY: load average during the suite is dominated by the
  *    bench's own 32 threads and cannot distinguish self-load from
  *    contention (the per-query 1-min load map still rides in the full
  *    output as after-the-fact context).
  *  - **Per-query clean bands + auto-replay**: `bench_bands.json` (a
  *    classpath resource, committed, regenerated from clean-run medians
  *    by [[tools/bands.py]]) records each query's clean-window median at
  *    the driver config (sf0.1, local[32]). After the suite, any query
  *    that exceeded [[replayThreshold]] (3× its band, with a +1 s floor
  *    so sub-second bands don't replay on scheduler jitter) is RE-RUN
  *    once in suite order; the replay time becomes the query's reported
  *    number, the first-run time is kept in `original_sec`, and the
  *    replayed names are listed in `replayed`. A final sentinel sample
  *    after the replays adjudicates THEM (`sentinel_post_replay_sec`,
  *    part of the same any-sample-breaches verdict) — a replay executed
  *    inside a still-open contention window must not launder the
  *    number. Bands apply only at the config they were measured at
  *    (`bands_applied` says whether replay was armed).
  *  - **Clean by construction** (round-10): the calibrated config
  *    first WAITS for the machine to go quiet ([[waitForQuiet]] —
  *    both r8's false-clean and r9's honest-contaminated official
  *    benches started inside the round's own wind-down), and if the
  *    suite verdict is STILL contaminated, the breached spans
  *    ([[breachedQueryIdx]] — the queries adjacent to every hot
  *    sentinel sample) are re-run ONCE after a second quiet wait
  *    ([[runAdjudicated]]). The re-run's own sentinels adjudicate the
  *    re-measured numbers; first-run times are preserved in
  *    `original_sec` and the first verdict in `contaminated_first_run`
  *    — the final `contaminated` flips to clean only when the re-run
  *    MEASURED clean, never by assertion.
  *  - **Shared-build attribution** (round-12 verdict): session-memo
  *    materialization time paid inside a query's window is reported
  *    RIDEALONG (`memo_build_sec` per query, `build_total_sec` on the
  *    compact line) via [[Memo.buildNanos]] deltas — so a cross-round
  *    reader separates "this plan regressed" from "suite order moved
  *    the shared shingle-pair/Lloyd build onto a different carrier"
  *    (q60's phantom +3 s in round 12 was exactly the latter).
  *  - **The full line reaches disk**: eight straight rounds of
  *    `parsed:null` prove the driver's ~2000-char log tail never
  *    carries the 128-query map. The complete JSON (per-query times,
  *    loads, originals, sentinel samples, adjudication) is now WRITTEN
  *    to `bench_out/bench.json` (override dir: `SPARK_GRAFT_BENCH_OUT`)
  *    as well as printed; the compact tail-sized line carries the
  *    totals, the adjudication fields, and the file path.
  *
  * `BenchSpec` covers the machinery: the adjudication functions on
  * synthetic inputs, band-resource/catalog key parity, and an
  * end-to-end mini-suite where a busy-load opened AFTER the pre
  * sentinel and closed BEFORE the post sentinel — the exact round-8
  * shape — self-labels contaminated via the mid-run samples.
  */
object Bench {
  /** Sentinel clean band (sec) at sf0.1: 2× the worst clean-window q01
    * record (1.1 s @ 8 CPUs; 0.94–0.98 s @ 32 CPUs — BASELINE.md). */
  private[graft] val SentinelBandSec = 2.0

  /** Queries between interleaved sentinel samples. ~15 s of clean suite
    * time: small enough that a round-8-shaped contention episode (tens
    * of consecutive inflated queries) always straddles a sample, large
    * enough that 8 extra q01 runs cost <10 s total. */
  private[graft] val SentinelEvery = 16

  private[graft] def loadAvg(): Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage // -1.0 if unsupported

  // ------------------------------------------------ adjudication rules
  /** Any sentinel sample outside the band marks the run contaminated —
    * pre, post, mid-suite, or post-replay alike. */
  private[graft] def isContaminated(samples: Seq[Double],
      band: Double = SentinelBandSec): Boolean = samples.exists(_ > band)

  /** Wait for the MACHINE to go quiet before measuring (round-9
    * verdict: two rounds running, the driver's end-of-round bench
    * landed inside the round's own sbt/DuckDB wind-down — the fix is
    * to not start measuring until the 1-min load average has decayed).
    * Polls until load < `quietLoad` or `maxWaitSec` elapses; returns
    * the seconds actually waited (recorded as `waited_quiet_sec`).
    * `load`/`sleep` are test seams. The 1-min average decays by ~e per
    * minute after the offending processes exit, so a wind-down load of
    * ~10 clears the 1.5 threshold in ~2 min — inside the budget; a
    * GENUINELY busy machine times out and the sentinel verdict (which
    * this wait does not replace) still tells the truth. */
  private[graft] def waitForQuiet(maxWaitSec: Double = 240.0,
      quietLoad: Double = 1.5, pollSec: Double = 5.0,
      load: () => Double = () => loadAvg(),
      sleep: Long => Unit = Thread.sleep): Double = {
    var waited = 0.0
    while (load() > quietLoad && waited < maxWaitSec) {
      sleep((pollSec * 1000).toLong)
      waited += pollSec
    }
    waited
  }

  /** Map breached sentinel samples back to the query indices they
    * adjudicate. Sample 0 (pre) sits before query 0; mid samples sit
    * before queries `sentinelEvery, 2·sentinelEvery, …`; the post
    * sample after query n-1; an optional post-replay sample (present
    * iff `hadReplay`) adjudicates only the replayed set. A breached
    * sample taints BOTH adjacent spans — the contention window that
    * inflated the sample overlaps queries on either side of it.
    * Returns (tainted first-run query indices, post-replay breached). */
  private[graft] def breachedQueryIdx(n: Int, samples: Seq[Double],
      sentinelEvery: Int, band: Double,
      hadReplay: Boolean): (Set[Int], Boolean) = {
    if (n == 0) return (Set.empty, hadReplay && samples.exists(_ > band))
    val mid = (n - 1) / sentinelEvery
    // boundary position of each main-run sample: pre=0, mids, post=n
    val pos = 0 +: (1 to mid).map(_ * sentinelEvery) :+ n
    val mainSamples = samples.take(pos.size)
    val tainted = mainSamples.zipWithIndex.collect {
      case (s, j) if s > band =>
        val lo = pos(math.max(0, j - 1))
        val hi = pos(math.min(pos.size - 1, j + 1))
        lo until hi
    }.flatten.toSet
    val postReplayBreached = hadReplay &&
      samples.drop(pos.size).exists(_ > band)
    (tainted, postReplayBreached)
  }

  /** Replay trigger for a query with clean-band median `band`: 3× the
    * band (the verdict's rule), floored at band+1 s so a 0.2 s query
    * jittering to 0.7 s on task scheduling doesn't replay. */
  private[graft] def replayThreshold(band: Double): Double =
    math.max(3.0 * band, band + 1.0)

  private[graft] def needsReplay(sec: Double, band: Option[Double]): Boolean =
    band.exists(b => sec > replayThreshold(b))

  // ------------------------------------------------------- clean bands
  /** Per-query clean-window medians (sec) at the driver config (sf0.1,
    * local[32]) — committed resource, regenerated by `tools/bands.py`
    * from `bench_out/bench.json` of certified-clean runs. `BenchSpec`
    * pins its key set equal to the query catalog, so adding a query
    * without measuring its band fails the build, not the bench. */
  private[graft] lazy val cleanBands: Map[String, Double] = {
    val in = getClass.getResourceAsStream("/graft/bench_bands.json")
    if (in == null) Map.empty
    else try {
      val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      val entry = """"([^"]+)"\s*:\s*([0-9]+(?:\.[0-9]+)?)""".r
      entry.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
    } finally in.close()
  }

  /** The round-3 matched-subset anchor (committed resource): the 60
    * query names shared with the round-3 record plus their round-3
    * subtotal (64.127 s at sf0.1/local[32]). The naive all-catalog s/q
    * average grows every round purely from catalog mix (each round adds
    * structurally heavier rungs), so the cross-round drift tripwire is
    * this FIXED subset's subtotal — the round-3-comparable slice of the
    * engine at the round-3 price. Emitted on the driver-visible compact
    * line every calibrated run (round-13 verdict item 2). */
  private[graft] lazy val matchedR03: (Double, Seq[String]) = {
    val in = getClass.getResourceAsStream("/graft/bench_r03_matched.json")
    if (in == null) (0.0, Nil)
    else try {
      val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      val base = """"baseline_sec"\s*:\s*([0-9.]+)""".r
        .findFirstMatchIn(txt).map(_.group(1).toDouble).getOrElse(0.0)
      // query names are q<digit>… — the pattern must not match the
      // literal "queries" key
      val names = """"(q[0-9][^"]*)"""".r
        .findAllMatchIn(txt).map(_.group(1)).toSeq
      (base, names)
    } finally in.close()
  }

  // ------------------------------------------------------ suite runner
  final case class SuiteResult(
      times: scala.collection.immutable.ListMap[String, Double],
      originalSec: Map[String, Double], // pre-replay times of replayed queries
      replayed: Seq[String],
      loads: scala.collection.immutable.ListMap[String, Double],
      sentinels: Seq[Double], // pre, mid…, post, [post-replay]
      contaminated: Boolean,
      bandsApplied: Boolean,
      // session-memo build seconds PAID inside each query's measured
      // window ([[Memo.buildNanos]] deltas) — the shared-intermediate
      // ledger: a query carrying the shingle-pair/CC or Lloyd build for
      // its whole family reports the build cost RIDEALONG, so a
      // cross-round per-query comparison separates "this plan
      // regressed" from "suite order moved the shared build here"
      // (round-12 verdict: q60's phantom +3 s was exactly this)
      buildSec: Map[String, Double] = Map.empty) {
    def total: Double = times.values.filter(_ >= 0).sum
  }

  private[graft] def timeNoop(spark: SparkSession, name: String,
      sfDir: String): Double = {
    val t0 = System.nanoTime()
    // noop sink: every row is fully materialized through the complete
    // plan (projections, sorts, limits) but written nowhere — unlike
    // count(), which lets Catalyst prune projections and drop sorts,
    // timing a cheaper plan than the query declares.
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The sentinel sample: one timed run of the flagship q01 scan+agg. */
  private val q01Sentinel: (SparkSession, String) => Double =
    timeNoop(_, "q01_pricing_summary", _)

  /** Run `names` in order with interleaved sentinels and post-suite
    * replay of band outliers. `sentinel` takes one sentinel sample;
    * it and `onQueryStart` are test seams (`BenchSpec` scripts the
    * samples, or opens/closes a busy-load window mid-suite). */
  private[graft] def runSuite(spark: SparkSession, sfDir: String,
      names: Seq[String], bands: Map[String, Double],
      sentinel: (SparkSession, String) => Double = q01Sentinel,
      sentinelEvery: Int = SentinelEvery,
      sentinelBand: Double = SentinelBandSec,
      onQueryStart: Int => Unit = _ => ()): SuiteResult = {
    val sentinels = scala.collection.mutable.ArrayBuffer[Double]()
    val loads = scala.collection.mutable.LinkedHashMap[String, Double]()
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    // a sentinel that THROWS must not abort the suite and lose every
    // measurement (same contract as the query loops); a failed sample
    // records as band-breaching so the run self-labels contaminated —
    // a window in which the flagship query cannot even run is the
    // strongest possible contamination signal
    def sentinelSample(): Double =
      try sentinel(spark, sfDir)
      catch {
        case e: Throwable =>
          System.err.println(
            s"[bench] sentinel FAILED: ${e.getMessage} — recording a " +
              "band-breaching sample")
          sentinelBand + 999.0
      }
    val buildSec = scala.collection.mutable.Map[String, Double]()
    def timedWithBuild(name: String): Double = {
      val b0 = graft.Memo.buildNanos
      val t = timeNoop(spark, name, sfDir)
      val b = (graft.Memo.buildNanos - b0) / 1e9
      // REPLACE the prior entry, don't just add: in the replay path a
      // re-measured query whose new run paid ~no build must not keep
      // the FIRST run's build attribution against its new build-free
      // time (round-13 advisor) — cross-round build attribution would
      // then be wrong for exactly the re-measured queries
      if (b > 0.005) buildSec(name) = b else buildSec -= name
      t
    }
    sentinels += sentinelSample()
    names.zipWithIndex.foreach { case (name, i) =>
      onQueryStart(i)
      if (i > 0 && i % sentinelEvery == 0)
        sentinels += sentinelSample()
      loads(name) = loadAvg()
      times(name) =
        try timedWithBuild(name)
        catch {
          case e: Throwable =>
            // a failed query must not masquerade as a fast one
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
        }
    }
    sentinels += sentinelSample()
    val toReplay = names.filter(n =>
      times(n) >= 0 && needsReplay(times(n), bands.get(n)))
    val originals = scala.collection.mutable.Map[String, Double]()
    if (toReplay.nonEmpty) {
      // drop the session memo before re-timing: a replayed query whose
      // first run PAID a shared intermediate (the shingle base, BPE
      // rules) would otherwise re-measure as a warm cache read — a
      // 0.04 s "clean" number for a 3.5 s query, flattering the
      // official total and poisoning band regeneration. Disk artifacts
      // stay warm on purpose (steady-state serving is their honest
      // semantics); the SESSION memo is the distortion.
      graft.Memo.evict(spark)
      toReplay.foreach { n =>
        originals(n) = times(n)
        // a replay that THROWS (transient OOM, flaky read) must not
        // abort the suite after ~all measurements were taken — keep the
        // first-run time as the query's number (conservative: the slow
        // sample stands) and move on, same contract as the first-run loop
        times(n) =
          try timedWithBuild(n) // replay build cost replaces the ledger's
          catch {
            case e: Throwable =>
              System.err.println(
                s"[bench] replay of $n FAILED (${e.getMessage}) — " +
                  "keeping the first-run time")
              originals(n)
          }
      }
      // the replays themselves ran in SOME window — sample it too
      sentinels += sentinelSample()
    }
    SuiteResult(
      scala.collection.immutable.ListMap(times.toSeq: _*),
      originals.toMap, toReplay,
      scala.collection.immutable.ListMap(loads.toSeq: _*),
      sentinels.toSeq,
      isContaminated(sentinels.toSeq, sentinelBand),
      bandsApplied = bands.nonEmpty,
      buildSec = buildSec.toMap)
  }

  // ------------------------------------- clean-by-construction verdict
  /** The whole-run adjudication (round-9 verdict item 1): `first` is
    * the full-suite result; if its sentinel verdict was contaminated
    * and the config is calibrated, the tainted spans were RE-RUN once
    * after a second quiet wait — `rerun` carries that sub-suite's
    * result, `times`/`originalSec` the merged headline (re-run numbers
    * where available, first-run numbers preserved), and `contaminated`
    * the FINAL verdict: the re-run's own sentinels adjudicate the
    * re-measured spans, and every other query's number comes from a
    * first-run span whose surrounding sentinels were in-band. */
  final case class AdjudicatedRun(
      first: SuiteResult,
      rerunSpan: Seq[String],
      rerun: Option[SuiteResult],
      rerunWaitedSec: Double,
      times: scala.collection.immutable.ListMap[String, Double],
      originalSec: Map[String, Double],
      contaminated: Boolean,
      buildSec: Map[String, Double] = Map.empty) {
    def total: Double = times.values.filter(_ >= 0).sum
    def buildTotal: Double = buildSec.values.sum
  }

  /** Run the suite; if the verdict is contaminated (and `calibrated`
    * armed a verdict at all), wait for quiet and re-run ONLY the
    * breached spans, merging their re-measured times into the
    * headline. A re-run whose own sentinels stay in-band flips the
    * final verdict to clean BY MEASUREMENT, not by assertion; a re-run
    * that is itself contaminated leaves the verdict true (both runs'
    * numbers are preserved either way). */
  private[graft] def runAdjudicated(spark: SparkSession, sfDir: String,
      names: Seq[String], bands: Map[String, Double], calibrated: Boolean,
      waitQuiet: () => Double = () => waitForQuiet(),
      sentinel: (SparkSession, String) => Double = q01Sentinel,
      sentinelBand: Double = SentinelBandSec,
      sentinelEvery: Int = SentinelEvery,
      onQueryStart: Int => Unit = _ => ()): AdjudicatedRun = {
    val first = runSuite(spark, sfDir, names, bands, sentinel = sentinel,
      sentinelEvery = sentinelEvery, sentinelBand = sentinelBand,
      onQueryStart = onQueryStart)
    if (!calibrated || !first.contaminated)
      return AdjudicatedRun(first, Nil, None, 0.0, first.times,
        first.originalSec, calibrated && first.contaminated,
        first.buildSec)
    val (taintedIdx, postReplayBreached) = breachedQueryIdx(names.size,
      first.sentinels, sentinelEvery, sentinelBand,
      first.replayed.nonEmpty)
    // suite order; replays re-ran inside the final window, so a breach
    // of THAT window taints every replayed query too
    val span = names.zipWithIndex.collect {
      case (n, i) if taintedIdx(i) ||
        (postReplayBreached && first.replayed.contains(n)) => n
    }
    val waited = waitQuiet()
    // same honesty rule as the replay path: the re-measured span must
    // pay its own shared-intermediate builds, not ride the first run's
    // session memo (runSuite's replay-eviction comment)
    graft.Memo.evict(spark)
    val rr = runSuite(spark, sfDir, span, bands, sentinel = sentinel,
      sentinelEvery = sentinelEvery, sentinelBand = sentinelBand,
      onQueryStart = onQueryStart)
    // a re-run that FAILED a query (-1.0) must not shadow a valid
    // first-run measurement — same keep-the-first-number contract as
    // runSuite's replay-failure path
    val merged = scala.collection.immutable.ListMap(names.map { n =>
      n -> rr.times.get(n).filter(_ >= 0).getOrElse(first.times(n))
    }: _*)
    val originals = first.originalSec ++
      span.map(n => n -> first.originalSec.getOrElse(n, first.times(n)))
    // re-measured queries report the RE-RUN's build ledger (they
    // re-paid their builds after the evict); a re-run query whose new
    // window carried NO build must not keep the first run's entry
    // (round-13 advisor — same rule as timedWithBuild's replace), so
    // drop the first-run attribution for every query the re-run
    // actually measured; a FAILED re-run (-1) keeps the first-run
    // time and therefore the first-run build entry too
    val rerunMeasured = span.filter(n => rr.times.get(n).exists(_ >= 0))
    AdjudicatedRun(first, span, Some(rr), waited, merged, originals,
      rr.contaminated,
      (first.buildSec -- rerunMeasured) ++ rr.buildSec)
  }

  // ------------------------------------------------------------ output
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def encMap(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val outDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out")
    val loadStart = loadAvg() // BEFORE any Spark work: external load only
    val spark = GraftSession.local(cpus)
    // Warmup so the first timed query isn't charged for one-time session
    // spin-up (classloading, the codegen compiler, parquet vectorized
    // reader + footer paths, shuffle/AQE machinery): a synthetic agg plus
    // the flagship scan+agg query at sf0.001 (~6k rows — data cost is
    // negligible, the class/codegen warm-up is what matters; measured
    // ~18 s charged to whichever query happened to run first otherwise).
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    // bands AND the 2.0 s sentinel band were measured at sf0.1 AND the
    // driver's 32 CPUs — match the directory BASENAME exactly (a
    // substring test would arm sf0.1 thresholds at sf0.15 and replay
    // the whole suite pointlessly) and the CPU count too: a clean q01
    // at sf0.1 on local[4] legitimately exceeds 2.0 s, so a sentinel
    // verdict there would be a false alarm, not a measurement
    // (round-9 advisor) — contaminated:null, like any other SF.
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    val calibrated = sfName == "sf0.1" && cpus == 32
    val bands = if (calibrated) cleanBands else Map.empty[String, Double]
    // clean BY CONSTRUCTION (round-9 verdict item 1): at the calibrated
    // config, don't start measuring inside someone else's wind-down —
    // wait for the 1-min load to decay first (the sentinel verdict
    // still adjudicates whatever window we actually got)
    val waitedQuietSec = if (calibrated) waitForQuiet() else 0.0
    val a = runAdjudicated(spark, sfDir, SparkEntry.queries.keys.toSeq,
      bands, calibrated)
    val r = a.first
    val loadEnd = loadAvg()

    val sorted = a.times.toSeq.sortBy { case (_, v) => -v }
    // matched-r03 subtotal over whichever anchor queries exist in the
    // current catalog (a renamed/retired query drops out — the count
    // rides the line so a shrunk subset is visible, never silent)
    val matchedPresent = matchedR03._2.filter(n =>
      a.times.get(n).exists(_ >= 0))
    val matchedRaw = matchedPresent.map(a.times(_)).sum
    val matchedPlan = matchedPresent.map(n =>
      a.times(n) - a.buildSec.getOrElse(n, 0.0)).sum
    val midSamples = r.sentinels.drop(1)
      .dropRight(if (r.replayed.nonEmpty) 2 else 1)
    // `maxReplayNames` bounds the replayed-name array: under round-8-
    // shaped contention 40+ queries can trip their bands, and an
    // unbounded name list would push the COMPACT line past the driver's
    // ~2000-char tail window — the parsed:null failure this machinery
    // exists to fix. The full line / bench.json carry every name; the
    // compact line carries the count plus the first few.
    def adjudication(maxReplayNames: Int): String =
      s""""load_avg_start":${fmt(loadStart)},"load_avg_end":${fmt(loadEnd)},""" +
      s""""sentinel_samples":[${r.sentinels.map(fmt).mkString(",")}],""" +
      s""""sentinel_pre_sec":${fmt(r.sentinels.head)},""" +
      s""""sentinel_mid_max_sec":${fmt(
          if (midSamples.nonEmpty) midSamples.max else 0.0)},""" +
      s""""sentinel_post_sec":${fmt(
          r.sentinels(if (r.replayed.nonEmpty) r.sentinels.size - 2
            else r.sentinels.size - 1))},""" +
      (if (r.replayed.nonEmpty)
        s""""sentinel_post_replay_sec":${fmt(r.sentinels.last)},""" else "") +
      s""""sentinel_band_sec":${fmt(SentinelBandSec)},""" +
      s""""sentinel_calibrated":$calibrated,""" +
      s""""bands_applied":${r.bandsApplied},""" +
      s""""replayed_n":${r.replayed.size},""" +
      s""""replayed":[${r.replayed.take(maxReplayNames)
          .map("\"" + _ + "\"").mkString(",")}],""" +
      s""""waited_quiet_sec":${fmt(waitedQuietSec)},""" +
      // shared-build ledger total — per-query map rides the full line
      s""""build_total_sec":${fmt(a.buildTotal)},""" +
      // the honest instruments, ON the driver-visible line (round-13
      // verdict item 2): the naive total conflates catalog growth with
      // speed — plan_total subtracts the shared-build ledger, and the
      // matched-r03 subtotal prices the round-3-comparable slice
      // against its committed 64.127 s anchor (raw + build-net forms)
      s""""plan_total_sec":${fmt(a.total - a.buildTotal)},""" +
      s""""matched_r03_n":${matchedPresent.size},""" +
      s""""matched_r03_baseline_sec":${fmt(matchedR03._1)},""" +
      s""""matched_r03_sec":${fmt(matchedRaw)},""" +
      s""""matched_r03_plan_sec":${fmt(matchedPlan)},""" +
      // run-metadata flag for tools/bands.py: replay/re-run times in
      // THIS record were measured after a session-memo evict, so a
      // rerun-replaced sample is a clean cold measurement — band
      // material. Records without the flag predate the evict protocol
      // (their replaced samples are warm reads) and stay filtered.
      s""""memo_evicted_replays":true,""" +
      s""""contaminated_first_run":${
          if (calibrated) r.contaminated.toString else "null"},""" +
      (a.rerun match {
        case Some(rr) =>
          s""""rerun_span_n":${a.rerunSpan.size},""" +
          s""""rerun_span":[${a.rerunSpan.take(maxReplayNames)
              .map("\"" + _ + "\"").mkString(",")}],""" +
          s""""rerun_waited_sec":${fmt(a.rerunWaitedSec)},""" +
          s""""rerun_sentinels":[${rr.sentinels.map(fmt).mkString(",")}],"""
        case None => ""
      }) +
      // the 2.0 s band is an sf0.1 measurement — at any other SF a
      // clean q01 legitimately exceeds it, so a boolean verdict there
      // would be unconditionally (and falsely) contaminated: null =
      // "no calibrated verdict possible", never a silent clean. With a
      // quiet re-run of the breached spans, THIS is the final verdict:
      // the re-run's sentinels adjudicate the re-measured numbers.
      s""""contaminated":${if (calibrated) a.contaminated.toString else "null"}"""
    val fullLine =
      s"""{"metric":"total","value":${fmt(a.total)},"unit":"sec",""" +
      s""""queries":${encMap(sorted)},""" +
      s""""memo_build_sec":${encMap(
        a.buildSec.toSeq.sortBy { case (_, v) => -v })},""" +
      s""""original_sec":${encMap(a.originalSec)},""" +
      s""""load_avg_per_query":${encMap(r.loads)},""" +
      s""""sf":${VerifyCommon.jsonStr(sfDir)},""" +
      s""""cpus":$cpus,""" +
      s"""${adjudication(Int.MaxValue)}}"""

    // persist the COMPLETE record — the driver's log tail drops it
    val outPath = java.nio.file.Paths.get(outDir, "bench.json")
    java.nio.file.Files.createDirectories(outPath.getParent)
    java.nio.file.Files.write(outPath,
      (fullLine + "\n").getBytes("UTF-8"))
    println(fullLine)

    // compact copy sized for the driver's ~2000-char tail capture:
    // slowest queries first into a fixed budget, drop count declared,
    // adjudication fields riding along so a truncated capture still
    // self-labels
    // shrunk from 900 when the matched-r03/plan_total instruments
    // (+~170 chars) joined the adjudication block — the compact line
    // must stay inside the driver's ~2000-char tail capture
    val budget = 730
    val buf = new StringBuilder
    var omitted = 0
    sorted.foreach { kv =>
      val e = "\"" + kv._1 + "\":" + fmt(kv._2)
      if (buf.length + e.length + 1 <= budget) {
        if (buf.nonEmpty) buf.append(',')
        buf.append(e)
      } else omitted += 1
    }
    println(s"""{"metric":"total","value":${fmt(a.total)},"unit":"sec","queries":{$buf},"sf":${VerifyCommon.jsonStr(sfDir)},${adjudication(4)},"queries_omitted_for_length":$omitted,"full_json_file":${VerifyCommon.jsonStr(outPath.toAbsolutePath.toString)}}""")
    spark.stop()
  }
}
