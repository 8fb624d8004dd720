package graft

import graft.functions.TextExpressions
import graft.operators.TextOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Specs for the non-oracle text operators (SURVEY.md §5.2-2): MinHash LSH
  * vs exact pairwise, SimHash banding, fingerprint determinism. */
class TextOpsSpec extends SparkSpec {

  test("minhash LSH near-dup pairs match exact pairwise at small SF") {
    val exact = TextOps.neardupShingle(spark, sfDir)
      .select("id_a", "id_b", "jac").collect().toSet
    val lsh = TextOps.neardupMinhashLsh(spark, sfDir)
      .select("id_a", "id_b", "jac").collect().toSet
    // precision is 1.0 by construction (candidates are exact-verified)
    assert(lsh.subsetOf(exact), s"LSH produced non-dup pairs: ${lsh -- exact}")
    // 8 bands x 4 rows at jac>=0.8: expected recall ~0.99; the planted
    // near-dups in the testdata are all found
    assert(exact.nonEmpty, "testdata should contain near-dup pairs")
    assert(lsh == exact, s"LSH missed pairs: ${exact -- lsh}")
  }

  test("simhash banded pairs find the planted near-dups") {
    val exactIds = TextOps.neardupShingle(spark, sfDir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = TextOps.simhashPairs(spark, sfDir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactIds.subsetOf(sim) || (exactIds -- sim).size <= exactIds.size / 2,
      s"simhash missed most near-dups: found=$sim exact=$exactIds")
  }

  test("bloom incremental dedup: no false negatives, planted dups all flagged (q77)") {
    val r = TextOps.incrementalDedupBloomAudit(spark, sfDir).collect()(0)
    val nArriving = r.getLong(0)
    val nTrueDups = r.getLong(1)
    val nFlagged = r.getLong(2)
    val nFalsePos = r.getLong(3)
    val nFalseNeg = r.getLong(4)
    val fpRate = r.getDouble(5)
    // expected planted re-deliveries: seen (even ids) with doc_id % 10 == 0
    val expectedDups = Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(10)) === 0).count()
    val nOdd = Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(2)) === 1).count()
    assert(nArriving == nOdd + expectedDups)
    assert(nTrueDups == expectedDups,
      s"planted re-deliveries must be the only exact dups: $nTrueDups != $expectedDups")
    assert(nFalseNeg == 0, "a Bloom filter can never produce a false negative")
    assert(nFlagged >= nTrueDups)
    assert(fpRate <= 0.05, s"fp rate $fpRate above 5% with 128 KB bits")
    assert(nFalsePos == nFlagged - nTrueDups)
    // deterministic across runs (partial sketches OR-merge, order-free)
    assert(TextOps.incrementalDedupBloomAudit(spark, sfDir).collect()(0) == r)
    // the declared law-flag form carries the exact values + green flags
    val declared = TextOps.incrementalDedupBloom(spark, sfDir).collect()(0)
    assert(declared.getLong(0) == nArriving)
    assert(declared.getLong(1) == nTrueDups)
    assert(declared.getLong(2) == 0L)
    assert(declared.getBoolean(3), "fp_ok must hold on the fixture")
  }

  test("repeated-span and trigram-LM oracles are non-vacuous on the fixture") {
    // the q63 lesson: an oracle comparing 0 == 0 rows proves nothing
    val spans = TextOps.repeatedSpans(spark, sfDir)
    assert(spans.count() == 20, "fixture must produce a full top-20 span list")
    assert(spans.filter(col("n_docs") >= 2).count() == 20)
    val lm = graft.operators.PipelineOps.trigramLmScore(spark, sfDir)
    assert(lm.count() > 0)
    // surprisal is positive and bounded by log2 of the model size
    val bad = lm.filter(col("avg_bits") <= 0 || col("avg_bits") > 20).count()
    assert(bad == 0, "bits-per-trigram must lie in (0, 20]")
  }

  test("fingerprints are deterministic and content-keyed") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fox"), // identical content, different id
      (3L, "fox brown quick the")  // same words, different order
    ).toDF("doc_id", "text")
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"),
        TextExpressions.rollingHash64(col("text")).as("rfp"),
        TextExpressions.simhash64(col("w")).as("sfp"))
    val rows = df.collect().sortBy(_.getLong(0))
    val Seq(r1, r2, r3) = rows.toSeq
    assert(r1.getLong(1) == r2.getLong(1), "equal text must give equal rolling hash")
    assert(r1.getLong(2) == r2.getLong(2), "equal tokens must give equal simhash")
    assert(r1.getLong(1) != r3.getLong(1), "rolling hash must be order-sensitive")
    assert(r1.getLong(2) == r3.getLong(2), "simhash over token SET is order-insensitive")
    // determinism across executions
    val again = df.collect().sortBy(_.getLong(0)).toSeq
    assert(again == rows.toSeq)
  }

  test("lang-id confusion matrix is deterministic and covers all langs") {
    val m1 = TextOps.langId(spark, sfDir).collect().toSeq
    val m2 = TextOps.langId(spark, sfDir).collect().toSeq
    assert(m1 == m2)
    val langs = m1.map(_.getString(0)).toSet
    assert(langs == Set("en", "es", "de", "fr", "zh"))
    assert(m1.map(_.getLong(2)).sum == 500L) // every doc classified once
  }

  test("NGramGenerator: counts, boundaries, and short-input behavior") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("x", "y")),
      (3L, Seq("solo")),      // shorter than n -> no rows
      (4L, Seq.empty[String]) // empty -> no rows
    ).toDF("id", "w")
    val grams = df.select(col("id"),
      graft.functions.NGramGenerator.ngrams(col("w"), 2).as(Seq("pos", "ngram")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(grams == Seq(
      (1L, 0, "a b"), (1L, 1, "b c"), (1L, 2, "c d"),
      (2L, 0, "x y")))
  }

  test("q83 normalization is non-vacuous and leaves zero residual") {
    // the q63 lesson again: the corpus is pure ASCII, so the planted
    // markers must actually exercise every cleanup path — changed rows
    // exist, NFC composition shrank bytes, and a second pass finds nothing
    val r = graft.operators.PipelineOps.normalizeText(spark, sfDir).collect()
    assert(r.nonEmpty)
    val changed = r.map(_.getAs[Long]("n_changed")).sum
    val nonnfc = r.map(_.getAs[Long]("n_nonnfc")).sum
    val residual = r.map(_.getAs[Long]("n_residual")).sum
    val bytesRaw = r.map(_.getAs[Long]("bytes_raw")).sum
    val bytesNorm = r.map(_.getAs[Long]("bytes_norm")).sum
    assert(changed > 0, "planted markers must change documents")
    assert(nonnfc > 0, "planted combining marks must be non-NFC pre-pass")
    assert(residual == 0, "normalization must be idempotent (zero residual)")
    assert(bytesNorm < bytesRaw,
      "composition + stripping must shrink the corpus byte count")
  }

  test("Misra-Gries guarantee holds where eviction actually happens") {
    // the fixture vocabulary (31 words) is smaller than k=64, so q84's
    // oracle never exercises eviction — prove the containment guarantee
    // on a corpus with vocab >> k: 10 hot tokens (1000 occurrences each)
    // among 5000 cold tokens (1-3 each), shuffled across 8 partitions so
    // both reduce-time decrements AND merge-time cuts fire
    import spark.implicits._
    import org.apache.spark.sql.functions.udaf
    val k = 64
    val rnd = new scala.util.Random(13)
    val hot = (0 until 10).map(i => s"hot_$i")
    val cold = (0 until 5000).map(i => s"cold_$i")
    val tokens = rnd.shuffle(
      hot.flatMap(t => Seq.fill(1000)(t)) ++
        cold.flatMap(t => Seq.fill(1 + rnd.nextInt(3))(t)))
    val n = tokens.size.toLong
    val truth = tokens.groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    val mg = udaf(new graft.functions.MisraGriesAggregator(k))
    val summary = tokens.toDF("word").repartition(8)
      .agg(mg(col("word")).as("s"))
      .collect()(0).getAs[Map[String, Long]]("s")
    assert(summary.size <= k, s"summary overflowed: ${summary.size} > $k")
    // containment: every item with true count > n/(k+1) survives
    val threshold = n / (k + 1)
    hot.foreach(t => assert(summary.contains(t),
      s"$t (count 1000 > n/(k+1)=$threshold) missing from summary"))
    // estimates are lower bounds with additive error <= n/(k+1)
    summary.foreach { case (t, est) =>
      val truthCnt = truth(t)
      assert(est <= truthCnt, s"$t estimate $est exceeds truth $truthCnt")
      assert(truthCnt - est <= threshold,
        s"$t undercount ${truthCnt - est} exceeds n/(k+1)=$threshold")
    }
    // end-to-end: the two-pass q84 plan equals the brute-force exact form
    val viaOp = graft.operators.TextOps.heavyHitters(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val brute = graft.operators.TextOps.wordFreq(spark, sfDir) // top-20 exact
    val total = brute.sparkSession.read
      .parquet(s"$sfDir/documents.parquet")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .count()
    val bruteHh = brute.collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .filter { case (_, c) => c * 32 >= total }.toSeq
    // q84 returns ALL heavy hitters; top-20 exact covers at least the
    // top-20 of them — every brute row must appear identically in q84
    bruteHh.foreach(row => assert(viaOp.contains(row),
      s"brute-force heavy hitter $row missing from q84"))
  }

  test("q86 representatives: one per cluster, member of it, argmax policy") {
    val labels = TextOps.dedupClusters(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byCluster = labels.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reps = graft.operators.TextOps.clusterRepresentatives(spark, sfDir)
      .collect()
    assert(reps.map(_.getAs[Long]("canon_id")).toSet == byCluster.keySet,
      "exactly one representative per q60 cluster")
    reps.foreach { r =>
      val canon = r.getAs[Long]("canon_id")
      val rep = r.getAs[Long]("rep_doc_id")
      val members = byCluster(canon)
      assert(members.contains(rep), s"rep $rep not in cluster $canon")
      assert(r.getAs[Long]("cluster_size") == members.size)
      // keep policy: no member has more chars, and ties resolve to min id
      val best = members.maxBy(d => (docs(d), -d))
      assert(rep == best, s"cluster $canon kept $rep, policy says $best")
    }
  }

  test("q85 transition probabilities are a valid row-stochastic matrix") {
    val rows = graft.operators.EventOps.eventTransitions(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("from_type")).foreach { case (from, grp) =>
      val total = grp.map(_.getAs[Double]("p")).sum
      // per-cell round(·,4) keeps the row sum within n_cells·5e-5 of 1
      assert(math.abs(total - 1.0) <= grp.length * 5e-5,
        s"row $from sums to $total")
      grp.foreach(r => assert(r.getAs[Double]("p") > 0.0))
    }
  }

  test("q87 alpha-sampling: shares normalize, boosts compress toward uniform") {
    val rows = graft.operators.PipelineOps.mixtureWeights(spark, sfDir)
      .collect()
    assert(rows.length > 1)
    val sumQ = rows.map(_.getAs[Double]("q_sampled")).sum
    assert(math.abs(sumQ - 1.0) <= rows.length * 5e-5,
      s"adjusted shares must sum to 1, got $sumQ")
    // alpha < 1 moves every cell toward uniform: the largest natural
    // share is downsampled, the smallest upsampled
    val byP = rows.sortBy(_.getAs[Double]("p_natural"))
    assert(byP.last.getAs[Double]("boost") < 1.0,
      "highest-resource cell must be downsampled")
    assert(byP.head.getAs[Double]("boost") > 1.0,
      "lowest-resource cell must be upsampled")
    rows.foreach(r => assert(r.getAs[Double]("boost") > 0.0))
  }

  test("q88 integer anomaly predicate == the float z>3 definition") {
    // recompute hourly grids driver-side and check the flagged set equals
    // the straightforward floating-point definition it encodes
    val flagged = graft.operators.EventOps.anomalyHours(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(flagged.nonEmpty, "fixture must contain natural 3-sigma hours")
    val hours = Tables.events(spark, sfDir)
      .select(col("event_type"), expr("(ts div 1000000) div 3600000").as("hour"))
      .groupBy(col("event_type"), col("hour")).count()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = hours.groupBy(_._1).toSeq.flatMap { case (tpe, grp) =>
      val n = grp.length.toDouble
      val mean = grp.map(_._3).sum / n
      val varS = grp.map(c => math.pow(c._3 - mean, 2)).sum / (n - 1)
      grp.toSeq.filter(c => c._3 - mean > 3 * math.sqrt(varS))
        .map(c => (tpe, c._2))
    }.toSet
    assert(flagged == expected,
      s"integer predicate diverged: only-op=${flagged -- expected} only-float=${expected -- flagged}")
    graft.operators.EventOps.anomalyHours(spark, sfDir).collect()
      .foreach(r => assert(r.getAs[Double]("z") > 3.0))
  }

  test("q89 deciles are balanced, complete, and monotonically ordered") {
    val rows = graft.operators.PipelineOps.qualityDeciles(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    rows.groupBy(_._1).foreach { case (source, grp) =>
      assert(grp.map(_._2).sorted.toSeq == (1 to 10),
        s"$source missing deciles")
      val sizes = grp.map(_._3)
      assert(sizes.max - sizes.min <= 1,
        s"$source tiles unbalanced: ${sizes.toSeq}")
      // ordered DESC by chars: each decile's min >= the next decile's max
      val byTile = grp.sortBy(_._2)
      byTile.sliding(2).foreach { case Array(hi, lo) =>
        assert(hi._5 >= lo._4,
          s"$source decile ${hi._2} min ${hi._5} < decile ${lo._2} max ${lo._4}")
      }
    }
  }

  test("q90 chunks tile every document: full coverage, fixed stride, exact chars") {
    val chunks = graft.operators.PipelineOps.chunkPlan(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(chunks.nonEmpty && docs.keySet == chunks.map(_._1).toSet)
    chunks.groupBy(_._1).foreach { case (docId, grp) =>
      val w = docs(docId)
      val byIdx = grp.sortBy(_._2)
      // stride law: starts are 0, 24, 48, ...; idx dense from 0
      byIdx.zipWithIndex.foreach { case ((_, idx, start, len, chars), i) =>
        assert(idx == i && start == 24L * i)
        assert(len == math.min(32L, w.length - start), s"doc $docId len")
        // exact reconstruction: chars == joined slice length
        val text = w.slice(start.toInt, (start + len).toInt).mkString(" ")
        assert(chars == text.length, s"doc $docId chunk $idx chars")
      }
      // coverage law: last chunk reaches the end of the token array
      val (_, _, lastStart, lastLen, _) = byIdx.last
      assert(lastStart + lastLen == w.length, s"doc $docId tail coverage")
    }
  }

  test("q91 growth curve: monotone, positive arrivals, totals match brute force") {
    val curve = graft.operators.TextOps.vocabGrowth(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(curve.length > 1, "growth curve must have multiple points")
    assert(curve.head._1 == 0L, "corpus start must introduce vocabulary")
    curve.foreach { case (_, nw, _) => assert(nw > 0) }
    // cumulative law + monotonicity
    curve.foldLeft(0L) { case (acc, (_, nw, cum)) =>
      assert(cum == acc + nw); cum
    }
    // brute force: total distinct bigrams over the whole corpus
    val brute = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w) - 1), i -> concat_ws(' ', w[i-1], w[i]))"))
        .as("g"))
      .distinct().count()
    assert(curve.last._3 == brute,
      s"curve total ${curve.last._3} != brute-force vocab $brute")
  }

  test("dedup is idempotent (property, SURVEY §5.2-3)") {
    val once = TextOps.dedupKeyed(spark, sfDir)
    val keys = once.select("lang", "source").collect().toSet
    assert(keys.size == once.count(), "dedup output must be key-unique")
  }

  test("q109: containment is directional — short doc embedded in long scores 1.0, reverse stays low") {
    import spark.implicits._
    val short = (1 to 10).map(i => s"w$i").mkString(" ")            // 3 8-grams
    val long = (1 to 40).map(i => s"w$i").mkString(" ")             // 33 8-grams
    val other = (100 to 130).map(i => s"v$i").mkString(" ")         // disjoint
    val docs = Seq((1L, short), (2L, long), (3L, other)).toDF("doc_id", "text")
    val out = graft.operators.TextOps.containmentPairsOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // doc 1's grams all appear in doc 2; doc 2 shares only 3 of its 33
    assert(out((1L, 2L)) == ((3L, 3L, 1.0)),
      "short-in-long must be full containment")
    assert(out((2L, 1L))._3 < 0.1, "reverse direction must stay low")
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L },
      "disjoint doc must pair with nobody")
    // the top-ranked pair is the planted full containment
    val top = graft.operators.TextOps.containmentPairsOf(docs).head()
    assert((top.getLong(0), top.getLong(1)) == ((1L, 2L)))
  }

  test("q107: entropy exact on planted distributions; repeated-char garbage ranks first") {
    import spark.implicits._
    val docs = Seq(
      (1L, "xx", "aaaaaaaa"),              // one symbol -> 0 bits
      (2L, "xx", "abababab"),              // two equiprobable -> 1 bit
      (3L, "xx", "abcd"),                  // four equiprobable -> 2 bits
      (4L, "xx", "the quick brown fox"))   // natural-ish, highest here
      .toDF("doc_id", "lang", "text")
    val out = graft.operators.TextOps.charEntropyOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L),
      "lowest entropy (most degenerate) must rank first")
    assert(out(0) == ((1L, 8L, 1L, 0.0)))
    assert(out(1) == ((2L, 8L, 2L, 1.0)))
    assert(out(2) == ((3L, 4L, 4L, 2.0)))
    assert(out(3)._4 > 2.0)
  }

  test("q115: rare-gram blocking reproduces q109's full top-20 at two SFs") {
    // the at-scale variant earns its place exactly the way q93's LSH
    // path did: prove the cheap candidate source loses nothing against
    // the exhaustive one on real fixtures, at more than one scale
    for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val full = TextOps.containmentPairs(spark, sf).collect().toSeq
      val rare = TextOps.containmentPairsRare(spark, sf).collect().toSeq
      assert(full == rare,
        s"$sf: rare-gram blocking changed the top-20:\nfull=$full\nrare=$rare")
    }
  }

  test("q107: plan law — no per-char generator; astral code points count once") {
    import spark.implicits._
    // the in-row histogram must never explode one row per corpus char
    // (the q99 single-scan-law discipline: pin the shape, not just the
    // answer — a regression back to explode() is a 10^14-row generator
    // at the 100 TB target)
    val plan = TextOps.charEntropy(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"per-char generator found in q107 plan:\n$plan")
    // code-point semantics: two identical emoji are 2 chars / 1 distinct
    // / 0 bits — NOT four surrogate halves (which would still score 0.0
    // but report n=4) and NOT 2 distinct halves (1 bit). Matches DuckDB
    // string_split.
    val astral = Seq((1L, "xx", "😀😀"),
      (2L, "xx", "a😀a🙂"))
      .toDF("doc_id", "lang", "text")
    val rows = TextOps.charEntropyOf(astral).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(rows(1L) == ((2L, 1L, 0.0)),
      s"astral run must count code points, got ${rows(1L)}")
    assert(rows(2L) == ((4L, 3L, 1.5)), // counts 2,1,1 over n=4 -> 1.5 bits
      s"mixed BMP/astral histogram wrong: ${rows(2L)}")
  }

  test("q119 compression ratio: repetitive text scores low, noise high, deterministic") {
    import spark.implicits._
    // planted corpus: template spam (one phrase repeated), natural-ish
    // prose, and base64-like noise (already-compressed garbage)
    val spam = Array.fill(80)("click here to win a free prize now").mkString(" ")
    val prose = "the committee reviewed seventeen distinct proposals during " +
      "the autumn session and rejected eleven of them for budgetary reasons " +
      "while the remaining six advanced to a second round of expert review " +
      "scheduled for early spring pending quorum and final documentation"
    val rnd = new scala.util.Random(7)
    val noise = Array.fill(300)(
      "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
        .charAt(rnd.nextInt(64))).mkString
    val docs = Seq(
      (1L, "en", "web", spam), (2L, "en", "web", prose),
      (3L, "en", "web", noise)).toDF("doc_id", "lang", "source", "text")
    val out = graft.operators.PipelineOps.compressionQualityOf(docs).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(r.fieldIndex("most_compressible_doc")) == 1L,
      s"template spam must compress best: $r")
    assert(r.getLong(r.fieldIndex("least_compressible_doc")) == 3L,
      s"random noise must compress worst: $r")
    assert(r.getDouble(r.fieldIndex("min_ratio")) < 0.1,
      "80x-repeated phrase should compress below 10%")
    assert(r.getDouble(r.fieldIndex("max_ratio")) > 0.7,
      "base64-like noise should stay near-incompressible")
    // deterministic and partitioning-invariant (thread-local zlib state
    // must not leak across rows/partitions)
    val again = graft.operators.PipelineOps
      .compressionQualityOf(docs.repartition(5)).collect()
    assert(out.toSeq == again.toSeq)
    // fixture sanity: every (lang, source) present, ratios in (0, 2]
    val fx = graft.operators.PipelineOps
      .compressionQuality(spark, sfDir).collect()
    assert(fx.nonEmpty)
    fx.foreach { row =>
      val lo = row.getDouble(row.fieldIndex("min_ratio"))
      val hi = row.getDouble(row.fieldIndex("max_ratio"))
      assert(lo > 0.0 && lo <= hi && hi <= 2.0, s"ratio bounds broken: $row")
    }
  }

  test("q120 gram novelty: planted first-occurrence attribution is exact") {
    import spark.implicits._
    // docA: 9 words -> 2 grams, both globally first (source s1)
    // docB: exact duplicate of docA, later doc_id (s2) -> 0 novel of 2
    // docC: 8 fresh words -> 1 gram, novel (s2)
    // docD: shifted window over docA's words + 2 fresh -> 3 grams, the
    //       first ("b..i") already docA's second gram -> 2 novel of 3
    val docs = Seq(
      (0L, "s1", "a b c d e f g h i"),
      (1L, "s2", "a b c d e f g h i"),
      (2L, "s2", "p q r s t u v w"),
      (3L, "s3", "b c d e f g h i j k")
    ).toDF("doc_id", "source", "text")
    val out = graft.operators.TextOps.gramNoveltyOf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(out == Seq(
      ("s1", 1L, 2L, 2L, 1.0),
      ("s2", 2L, 1L, 3L, 0.3333),
      ("s3", 1L, 2L, 3L, 0.6667)), s"novelty table wrong: $out")
    // attribution is by doc_id order, not arrival order: repartitioning
    // must not move a first occurrence
    val again = graft.operators.TextOps.gramNoveltyOf(docs.repartition(7))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(again == out)
  }

  test("q124 zipf fit: exact power-law corpus scores slope -1, R2 1; rank limit map-side") {
    import spark.implicits._
    // counts 12/6/4/3 at ranks 1..4 = C·r^-1 exactly, so the log-log
    // regression is a perfect line: slope -1, R² 1
    val text = List("a" -> 12, "b" -> 6, "c" -> 4, "d" -> 3)
      .flatMap { case (w, n) => List.fill(n)(w) }.mkString(" ")
    val docs = Seq((1L, "s1", text)).toDF("doc_id", "source", "text")
    val out = graft.operators.TextOps.zipfSlopeOf(docs).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 4)
    assert(r.getDouble(2) == -1.0, s"slope ${r.getDouble(2)} != -1.0")
    assert(r.getDouble(3) == math.rint(math.log(12) / math.log(2) * 10000) / 10000
      || math.abs(r.getDouble(3) - math.log(12) / math.log(2)) < 1e-3,
      s"intercept ${r.getDouble(3)} != log2(12)")
    assert(r.getDouble(4) == 1.0, s"R2 ${r.getDouble(4)} != 1.0")
    // the rank≤200 predicate must prune map-side (q94's WindowGroupLimit law)
    val plan = graft.operators.TextOps.zipfSlopeOf(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"rank limit not map-side pruned:\n$plan")
    // deterministic under repartition
    val again = graft.operators.TextOps.zipfSlopeOf(docs.repartition(5)).collect()
    assert(again.toSeq == out.toSeq)
  }

  test("q133 BM25: tf saturates, IDF downweights common terms, length normalizes") {
    import spark.implicits._
    val q = Seq("alpha", "beta")
    // beta appears in EVERY doc (low IDF); alpha only in docs 1-3 (high
    // IDF). doc 1: one alpha, short; doc 2: many alphas, same length ->
    // higher score but sub-linear (saturation); doc 3: one alpha diluted
    // in a long doc -> below doc 1 (length normalization); doc 4: beta
    // only -> lowest; doc 5: no query terms -> absent.
    val filler = (1 to 40).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, "alpha beta one two three four five six seven eight"),
      (2L, "alpha alpha alpha alpha beta five six seven eight nine"),
      (3L, s"alpha beta $filler"),
      (4L, "beta one two three four five six seven eight nine"),
      (5L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val out = graft.operators.PipelineOps.bm25SearchOf(docs, q).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(!out.contains(5L), "a doc with no query terms must not score")
    assert(out(1L)._2 == 2 && out(4L)._2 == 1, "query-term coverage counts")
    assert(out(2L)._1 > out(1L)._1, "higher tf must score higher")
    // saturation: 4x the tf buys far less than 4x the score
    assert(out(2L)._1 < out(1L)._1 * 3,
      s"tf must saturate: ${out(2L)._1} vs ${out(1L)._1}")
    assert(out(1L)._1 > out(3L)._1,
      "the same tf diluted in a longer doc must score lower")
    assert(out(1L)._1 > out(4L)._1,
      "a high-IDF term must outweigh an everywhere-term")
    // deterministic under repartition
    val again = graft.operators.PipelineOps
      .bm25SearchOf(docs.repartition(5), q).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(again == out)
  }

  test("gram family shares ONE session gram base: no per-query corpus re-scan") {
    // round-7 verdict "What's wrong #1": q109, q115 and q120 each ran
    // their own corpus explode+distinct pass. The declared forms now
    // derive from the memoized session gram base — prime it, then pin
    // that every family member's plan reads the cache and never touches
    // the documents parquet or an explode again.
    graft.operators.TextOps.gramNovelty(spark, sfDir).collect()
    for (name <- Seq("q109_containment_pairs", "q115_containment_rare",
        "q120_gram_novelty")) {
      // logical leaves: a cached frame is an InMemoryRelation LEAF (its
      // build lineage is not a child), so "every leaf is the cache"
      // means the query touches NOTHING but the shared base — no
      // parquet re-scan, no re-derived gram explode
      val leaves = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.optimizedPlan.collectLeaves()
        .map(_.getClass.getSimpleName)
      assert(leaves.nonEmpty && leaves.forall(_ == "InMemoryRelation"),
        s"$name reads beyond the shared gram base: $leaves")
    }
    // sharing must not change answers: declared == standalone cores
    val docs = GraftSession.spread(
      Tables.documents(spark, sfDir), col("doc_id"))
    assert(SparkEntry.queries("q109_containment_pairs")(spark, sfDir)
      .collect().toSeq ==
      graft.operators.TextOps.containmentPairsOf(docs).collect().toSeq)
    assert(SparkEntry.queries("q120_gram_novelty")(spark, sfDir)
      .collect().toSeq ==
      graft.operators.TextOps.gramNoveltyOf(docs).collect().toSeq)
  }

  test("q130 PMI: inseparable pair outranks a chance pair; counts exact") {
    import spark.implicits._
    // 'new york' occurs 6 times, and those are the ONLY occurrences of
    // either word -> p(a,b) = p(a) = p(b), maximal PMI. 'the data' also
    // occurs 6 times, but 'the' and 'data' each occur 24 times spread
    // over other contexts -> far lower PMI at the same pair count.
    val filler = (1 to 6).map(i =>
      "the x data the y data the z data " +
      "w the q data").mkString(" ")
    val docs = Seq(
      (1L, (1 to 6).map(_ => "new york").mkString(" ")),
      (2L, (1 to 6).map(_ => "the data").mkString(" ")),
      (3L, filler),
      // 1-token doc: wordGramExpr's sequence(1, 0) counts DOWN without the
      // size(w)>=2 caller-contract guard and would fabricate a bogus
      // 'solo' bigram, inflating n2 and shifting every PMI row
      (4L, "solo")
    ).toDF("doc_id", "text")
      .withColumn("w", split(lower(col("text")), " "))
    val rows = graft.operators.TextOps.pmiCollocationsOf(docs).collect()
    assert(rows.forall(_.getString(0).contains(" ")),
      s"single-token doc fabricated a bogus bigram: ${rows.map(_.getString(0)).toSeq}")
    val out = rows
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    val ny = out("new york")
    val td = out("the data")
    assert(ny._1 == 6 && ny._2 == 6 && ny._3 == 6,
      s"'new york' counts wrong: $ny")
    assert(td._1 == 6, s"'the data' pair count wrong: $td")
    assert(ny._4 > td._4 + 2.0,
      s"inseparable pair must dominate: PMI(ny)=${ny._4} PMI(td)=${td._4}")
  }
}
