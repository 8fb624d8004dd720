package graft

/** The bench's self-adjudication machinery (round-9 verdict item 1: the
  * round-8 driver bench recorded a false-clean 625 s because its
  * pre/post-only sentinel could not see a contention window that opened
  * after the first sample and closed before the last).
  *
  * Three layers: the pure adjudication rules on synthetic inputs; the
  * committed clean-band resource's parity with the live query catalog;
  * and an end-to-end mini-suite where a busy-load opens AFTER the pre
  * sentinel and closes BEFORE the post sentinel — the exact round-8
  * blind-spot shape — which must self-label contaminated via the
  * interleaved samples.
  */
class BenchSpec extends SparkSpec {

  test("adjudication rules: any sentinel sample breaches; replay at 3x band with +1s jitter floor") {
    // pre/post clean but a mid sample hot -> contaminated (the round-8 shape)
    assert(Bench.isContaminated(Seq(1.1, 1.0, 7.3, 1.2, 1.0), band = 2.0))
    assert(!Bench.isContaminated(Seq(1.1, 1.0, 1.9, 1.2, 1.0), band = 2.0))
    assert(Bench.isContaminated(Seq(2.1, 1.0), band = 2.0)) // pre alone
    // replay threshold: 3x band, floored at band+1s for sub-second bands
    assert(Bench.replayThreshold(2.0) == 6.0)
    assert(Bench.replayThreshold(0.2) == 1.2) // NOT 0.6 — jitter floor
    assert(Bench.needsReplay(1.3, Some(0.2)))
    assert(!Bench.needsReplay(1.1, Some(0.2)))
    assert(!Bench.needsReplay(59.0, None)) // no band -> replay disarmed
  }

  test("clean-band resource: loads, covers the catalog exactly, sane magnitudes") {
    val bands = Bench.cleanBands
    val queries = SparkEntry.queries.keySet
    assert(bands.keySet == queries,
      "bench_bands.json must cover the live catalog exactly — a new query " +
        "needs a measured clean band (regenerate with tools/bands.py from a " +
        s"certified-clean bench_out/bench.json); missing=" +
        s"${(queries -- bands.keySet).toSeq.sorted.take(5)} stale=" +
        s"${(bands.keySet -- queries).toSeq.sorted.take(5)}")
    // clean medians at sf0.1/local[32] live well inside (0, 15) seconds;
    // a zero/negative or giant band means a corrupted regeneration
    assert(bands.values.forall(b => b > 0.0 && b < 15.0))
    // the sentinel's own band entry must sit inside the sentinel band —
    // otherwise every clean run would flag itself
    assert(bands("q01_pricing_summary") < Bench.SentinelBandSec)
  }

  test("matched-r03 anchor resource: 60 names, all in the live catalog, baseline pinned") {
    val (baseline, names) = Bench.matchedR03
    // the anchor is FROZEN at the round-3 record: 60 shared queries,
    // 64.127 s subtotal — the cross-round drift tripwire the compact
    // line prices every calibrated run against
    assert(names.size == 60, s"expected 60 anchor names, got ${names.size}")
    assert(names.distinct.size == names.size)
    assert(math.abs(baseline - 64.127) < 0.001)
    val missing = names.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty,
      s"matched-r03 anchor names absent from the catalog: $missing — " +
        "renaming an anchored query silently shrinks the drift tripwire")
  }

  test("mid-suite contention window (invisible to pre/post sentinels) self-labels contaminated") {
    // this test MANUFACTURES its contention window against a baseline it
    // calibrates in THIS session/JVM, under whatever ambient load the box
    // carries (a suite run, sbt's own compile threads): one warm-up run
    // keeps JIT and class loading out of the baseline, then three clean
    // sentinel samples. Only an unsteady calibration cancels — samples
    // more than 1.5x apart mean the baseline itself is contended (the
    // same condition the bench labels), not a code defect.
    // calibration direction matters per test: THIS test must DETECT a
    // manufactured contention window, so the band is 2x the MIN clean
    // sample (the production band is likewise ~2x the clean record; a
    // tight band = a reliable breach) — relative slowdown, not absolute
    // machine speed; the verdict-flip test below anchors on the median
    // instead (loose band = a clean re-run is not flaked by one ambient
    // burst)
    Bench.timeNoop(spark, "q01_pricing_summary", sfDir)
    val samples = (1 to 3).map(_ =>
      Bench.timeNoop(spark, "q01_pricing_summary", sfDir))
    assume(samples.max <= samples.min * 1.5,
      s"clean q01 samples disagree by more than 1.5x: $samples")
    val clean = samples.min
    val band = clean * 2.0
    // the window stays 3x oversubscribed over what the calibration ran
    // against — the cores plus the measured ambient 1-min load — capped
    // at 8 spinners a core
    val ambient = scala.util.Try(
      scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble).getOrElse(0.0)
    val cores = Runtime.getRuntime.availableProcessors()
    val nSpin = math.min(cores * 8, math.ceil(3 * (cores + ambient)).toInt)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val spinners = new java.util.concurrent.atomic.AtomicReference[Seq[Thread]](Nil)
    def startLoad(): Unit = {
      val ts = (1 to nSpin).map { _ =>
        val t = new Thread(() => {
          var x = 0L
          while (!stop.get()) { x += 1; if (x == Long.MaxValue) x = 0 }
        })
        t.setDaemon(true); t.start(); t
      }
      spinners.set(ts)
    }
    def stopLoad(): Unit = { stop.set(true); spinners.get().foreach(_.join(2000)) }
    // 6 cheap queries, sentinel every 2; the load window opens at query 1
    // (after the PRE sentinel ran) and closes at query 5 (before the POST
    // sentinel runs) — the round-8 shape that pre/post-only missed
    val names = Seq("q02_filter_project", "q10_topk", "q14_distinct_agg",
      "q02_filter_project", "q10_topk", "q14_distinct_agg")
    try {
      val r = Bench.runSuite(spark, sfDir, names, bands = Map.empty,
        sentinelEvery = 2, sentinelBand = band,
        onQueryStart = i => { if (i == 1) startLoad(); if (i == 5) stopLoad() })
      assert(r.sentinels.size >= 4, "mini-suite must interleave sentinels")
      assert(r.contaminated,
        s"a 3x-oversubscribed window spanning queries 1-4 must breach a " +
          s"mid sentinel: clean=$clean band=$band ambient=$ambient " +
          s"spinners=$nSpin samples=${r.sentinels}")
      info(f"clean sentinel $clean%.2f s, band $band%.2f s, ambient " +
        f"$ambient%.2f, $nSpin spinners, samples " +
        r.sentinels.map(s => f"$s%.2f").mkString(", "))
    } finally stopLoad()
  }

  test("waitForQuiet: polls until load decays, times out on a genuinely busy box") {
    // decaying load: two polls above threshold, then quiet
    var loads = List(5.0, 3.0, 1.0, 0.5)
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val w1 = Bench.waitForQuiet(maxWaitSec = 240.0, quietLoad = 1.5,
      pollSec = 5.0,
      load = () => { val h = loads.head; loads = loads.tail; h },
      sleep = slept += _)
    assert(w1 == 10.0, s"two 5s polls above 1.5 then quiet: $w1")
    assert(slept.toSeq == Seq(5000L, 5000L))
    // never quiet: bounded by the timeout, not an infinite stall
    val w2 = Bench.waitForQuiet(maxWaitSec = 20.0, quietLoad = 1.5,
      pollSec = 5.0, load = () => 99.0, sleep = _ => ())
    assert(w2 == 20.0)
    // already quiet: zero wait, zero sleeps
    assert(Bench.waitForQuiet(load = () => 0.1,
      sleep = _ => fail("must not sleep")) == 0.0)
  }

  test("breachedQueryIdx: breached samples taint both adjacent spans; post-replay sample taints only replays") {
    // 40 queries, sentinel every 16: samples at positions 0,16,32,post(40)
    def idx(samples: Seq[Double], hadReplay: Boolean = false) =
      Bench.breachedQueryIdx(40, samples, 16, 2.0, hadReplay)
    assert(idx(Seq(1.0, 1.0, 1.0, 1.0)) == (Set.empty[Int], false))
    // mid sample (position 16) hot -> spans [0,16) and [16,32) tainted
    assert(idx(Seq(1.0, 7.0, 1.0, 1.0))._1 == (0 until 32).toSet)
    // pre hot -> first span only
    assert(idx(Seq(7.0, 1.0, 1.0, 1.0))._1 == (0 until 16).toSet)
    // post hot -> last span only
    assert(idx(Seq(1.0, 1.0, 1.0, 7.0))._1 == (32 until 40).toSet)
    // post-replay sample hot: no first-run span tainted, replays flagged
    val (t, pr) = idx(Seq(1.0, 1.0, 1.0, 1.0, 7.0), hadReplay = true)
    assert(t.isEmpty && pr)
    // short suite (no mid samples): pre+post only
    assert(Bench.breachedQueryIdx(5, Seq(1.0, 7.0), 16, 2.0, false)._1 ==
      (0 until 5).toSet)
  }

  test("runAdjudicated: contaminated first run -> quiet re-run of breached spans flips the verdict by measurement") {
    // scripted sentinel samples in place of real contention: every sample
    // before the quiet wait reads hot, every one after it reads cool —
    // exactly the wind-down-then-rerun sequence the production path
    // performs, independent of this host's ambient load
    val band = 2.0
    @volatile var quiet = false
    val samples = scala.collection.mutable.ArrayBuffer[Double]()
    val scripted: (org.apache.spark.sql.SparkSession, String) => Double =
      (_, _) => {
        val s = if (quiet) band / 4 else band * 4
        samples.synchronized(samples += s)
        s
      }
    val names = Seq("q02_filter_project", "q10_topk", "q14_distinct_agg")
    var waited = -1.0
    val a = Bench.runAdjudicated(spark, sfDir, names, bands = Map.empty,
      calibrated = true, waitQuiet = () => { quiet = true; waited = 7.0; 7.0 },
      sentinel = scripted, sentinelBand = band, sentinelEvery = 2)
    assert(a.first.contaminated, "first run under load must self-flag")
    assert(waited == 7.0, "quiet wait must run before the re-run")
    assert(a.rerun.isDefined)
    assert(a.rerunSpan.nonEmpty,
      "hot sentinels must map back to a non-empty span")
    assert(!a.contaminated,
      s"clean re-run must flip the verdict: rerun sentinels " +
        s"${a.rerun.get.sentinels}")
    // merged headline: re-run numbers where re-measured, originals kept
    a.rerunSpan.foreach { n =>
      assert(a.originalSec.contains(n), s"$n first-run time must be kept")
      assert(a.times(n) > 0)
    }
    assert(a.first.sentinels ++ a.rerun.get.sentinels == samples.toSeq,
      "every sentinel sample comes from the passed-through function")
    info(f"band $band%.2f s; first=" +
      a.first.sentinels.map(s => f"$s%.2f").mkString(",") +
      " rerun=" + a.rerun.get.sentinels.map(s => f"$s%.2f").mkString(","))
  }

  test("runAdjudicated: clean first run and uncalibrated configs never re-run") {
    val clean = Bench.runAdjudicated(spark, sfDir,
      Seq("q02_filter_project"), bands = Map.empty, calibrated = true,
      waitQuiet = () => fail("clean run must not wait"),
      sentinelBand = 1e9, sentinelEvery = 100)
    assert(clean.rerun.isEmpty && !clean.contaminated)
    assert(clean.times == clean.first.times)
    // uncalibrated: even a breaching sentinel must not trigger the
    // re-run (there is no calibrated verdict to repair)
    val uncal = Bench.runAdjudicated(spark, sfDir,
      Seq("q02_filter_project"), bands = Map.empty, calibrated = false,
      waitQuiet = () => fail("uncalibrated run must not wait"),
      sentinelBand = 0.000001, sentinelEvery = 100)
    assert(uncal.rerun.isEmpty && !uncal.contaminated)
  }

  test("replay: band outliers re-run once, original kept, post-replay sentinel sampled") {
    // bands chosen so the first run of q02 ALWAYS trips the threshold
    // (replayThreshold(-2) = -1 s < any real time; production bands are
    // positive — this just forces the trigger deterministically) and
    // q10's never does
    val bands = Map("q02_filter_project" -> -2.0,
      "q10_topk" -> 10000.0)
    // a session-memoized shared intermediate built during the first run
    // must NOT survive into the replay window: a replayed query would
    // re-measure as a warm cache read (the 0.04 s "band" class)
    var memoBuilds = 0
    def marker() = graft.Memo.cached(spark, "benchspec:replay_marker") {
      memoBuilds += 1; spark.range(1).toDF()
    }
    marker(); marker()
    assert(memoBuilds == 1, "memo must serve the second call warm")
    val r = Bench.runSuite(spark, sfDir,
      Seq("q02_filter_project", "q10_topk"), bands,
      sentinelEvery = 100, sentinelBand = 10000.0)
    marker()
    assert(memoBuilds == 2,
      "the replay path must evict the session memo before re-timing")
    assert(r.replayed == Seq("q02_filter_project"))
    assert(r.originalSec.keySet == Set("q02_filter_project"))
    assert(r.originalSec("q02_filter_project") > 0)
    assert(r.times("q02_filter_project") > 0)
    assert(r.times("q10_topk") > 0)
    // pre + post + post-replay = 3 sentinel samples at sentinelEvery=100
    assert(r.sentinels.size == 3,
      s"replays must be followed by their own sentinel sample: ${r.sentinels}")
    assert(r.bandsApplied)
  }
}
