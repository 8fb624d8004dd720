package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SQL-surface checks for the registered custom functions, and the
  * session invariant that registers them (see [[GraftSession]]). */
class GraftFunctionsSpec extends SparkSpec {

  test("a GraftSession.local session is tuned once: confs set, every function resolves") {
    // the shared fixture IS a GraftSession.local(4) session
    Seq("spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true").foreach {
      case (k, v) => assert(spark.conf.get(k) == v, k)
    }
    val registry = spark.sessionState.functionRegistry
    val missing = GraftFunctions.all.map(_._1)
      .filterNot(n => registry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"unregistered: ${missing.mkString(", ")}")
  }

  test("building and collecting a declared query leaves caller-set confs alone") {
    val key = "spark.sql.adaptive.skewJoin.enabled"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try Seq("q01_pricing_summary", "q34_simhash_pairs").foreach { q =>
      SparkEntry.queries(q)(spark, sfDir).collect()
      assert(spark.conf.get(key) == "false", s"$q re-set $key")
    } finally spark.conf.set(key, prior)
  }

  test("custom functions are callable from spark.sql") {
    val r = spark.sql(
      """SELECT
        |  simhash64(array('a','b','c')) AS sh,
        |  minhash_signature(array('a','b'), 4) AS mh,
        |  rolling_hash64('hello') AS rh,
        |  round(cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                          array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))), 6) AS cs,
        |  hyperplane_bucket(array(CAST(0.5 AS FLOAT), CAST(-0.5 AS FLOAT)), 8) AS hb,
        |  st_x(st_point(1.5, -2.5)) AS px,
        |  st_y(st_point(1.5, -2.5)) AS py,
        |  st_is_wkb_point(st_point(0.0, 0.0)) AS ok""".stripMargin).collect()(0)
    assert(r.getSeq[Long](1).length == 4)
    assert(r.getDouble(3) == 1.0)
    assert(r.getInt(4) >= 0 && r.getInt(4) < 256)
    assert(r.getDouble(5) == 1.5 && r.getDouble(6) == -2.5)
    assert(r.getBoolean(7))
    // SQL route must agree with the Column route
    val viaSql = spark.sql("SELECT rolling_hash64('same input')").collect()(0).getLong(0)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val viaCol = Seq("same input").toDF("s")
      .select(graft.functions.TextExpressions.rollingHash64(col("s")))
      .collect()(0).getLong(0)
    assert(viaSql == viaCol)
  }

  test("general WKB functions are callable from spark.sql (codegen route)") {
    val r = spark.sql(
      """SELECT
        |  st_geometrytype(st_point(1.0, 2.0)) AS gt,
        |  st_is_valid_wkb(st_point(1.0, 2.0)) AS ok,
        |  st_is_valid_wkb(CAST('junk' AS BINARY)) AS bad,
        |  st_srid(st_set_srid(st_point(1.0, 2.0), 4326)) AS srid,
        |  st_srid(st_point(1.0, 2.0)) AS no_srid,
        |  st_geometrytype(st_set_srid(st_point(1.0, 2.0), 4326)) AS gt_ewkb""".stripMargin)
      .collect()(0)
    assert(r.getString(0) == "POINT")
    assert(r.getBoolean(1) && !r.getBoolean(2))
    assert(r.getInt(3) == 4326)
    assert(r.isNullAt(4))
    assert(r.getString(5) == "POINT")
  }

  test("sorted_intersect_count == size(array_intersect) on sorted-distinct inputs") {
    // golden: 2 shared elements, probe array unsorted (only the RIGHT side
    // must be sorted), miss-before-first / miss-after-last covered
    val g = spark.sql(
      """SELECT sorted_intersect_count(array('zz', 'b', 'mm', 'a'),
        |                              array('b', 'c', 'mm', 'x')) AS n""".stripMargin)
      .collect()(0).getInt(0)
    assert(g == 2)
    // empty sides
    val e = spark.sql(
      """SELECT sorted_intersect_count(array('a'), CAST(array() AS ARRAY<STRING>)) AS l,
        |       sorted_intersect_count(CAST(array() AS ARRAY<STRING>), array('a')) AS r""".stripMargin)
      .collect()(0)
    assert(e.getInt(0) == 0 && e.getInt(1) == 0)
    // randomized equivalence with the built-in on 200 generated rows
    import org.apache.spark.sql.functions._
    import graft.functions.TextExpressions
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200) {
      val a = Seq.fill(rnd.nextInt(20))(rnd.nextInt(30).toString).distinct
      val b = Seq.fill(rnd.nextInt(20))(rnd.nextInt(30).toString).distinct.sorted
      (a, b)
    }
    val df = spark.createDataFrame(rows).toDF("a", "b")
      .withColumn("fast", TextExpressions.sortedIntersectCount(col("a"), col("b")))
      .withColumn("builtin", size(array_intersect(col("a"), col("b"))))
    assert(df.filter(col("fast") =!= col("builtin")).count() == 0)
    // non-string arrays must fail at analysis, not return silent garbage
    val bad = intercept[Exception] {
      spark.sql("SELECT sorted_intersect_count(array(1, 2), array(1, 2))").collect()
    }
    assert(bad.getMessage.contains("array<string>") ||
      bad.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("nfc_normalize: composition, idempotence, fast path, nulls, types") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // canonical composition: "e" + U+0301 composes to the single code
    // point U+00E9, shrinking the string by one UTF-16 unit
    val composed = Seq("cafe\u0301").toDF("s")
      .select(graft.functions.TextExpressions.nfcNormalize(col("s")).as("n"))
      .collect()(0).getString(0)
    assert(composed == "caf\u00e9" && composed.length == 4)
    // agreement with the JDK reference on randomized combining-mark soup
    val rnd = new scala.util.Random(11)
    val marks = Seq('\u0301', '\u0300', '\u0308', '\u0327')
    val strs = Seq.fill(200)(Seq.fill(rnd.nextInt(12))(
      if (rnd.nextBoolean()) ('a' + rnd.nextInt(26)).toChar
      else marks(rnd.nextInt(marks.size))).mkString)
    val out = strs.toDF("s")
      .select(col("s"), graft.functions.TextExpressions.nfcNormalize(col("s")).as("n"))
      .collect()
    out.foreach { row =>
      val expect = java.text.Normalizer.normalize(
        row.getString(0), java.text.Normalizer.Form.NFC)
      assert(row.getString(1) == expect, s"mismatch on ${row.getString(0)}")
    }
    // idempotence: a second pass is the identity
    val idem = strs.toDF("s")
      .select(graft.functions.TextExpressions.nfcNormalize(col("s")).as("n"))
      .select(graft.functions.TextExpressions.nfcNormalize(col("n")).as("n2"),
        col("n"))
      .filter(col("n2") =!= col("n"))
    assert(idem.count() == 0)
    // null in, null out; non-string arg fails at analysis
    assert(spark.sql("SELECT nfc_normalize(CAST(NULL AS STRING))")
      .collect()(0).isNullAt(0))
    val bad = intercept[Exception] {
      spark.sql("SELECT nfc_normalize(42)").collect()
    }
    assert(bad.getMessage.contains("string") ||
      bad.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("custom expressions: interpreted eval == generated code") {
    // every custom expression implements BOTH nullSafeEval and doGenCode;
    // a divergence between the two is the classic custom-Expression bug
    // (works in tests, breaks when codegen kicks in, or vice versa).
    // Evaluate the same inputs under CODEGEN_ONLY and NO_CODEGEN factory
    // modes and require identical results.
    val exprs = Seq(
      "simhash64(array('a','b','c'))",
      "minhash_signature(array('x','y','z'), 8)",
      "rolling_hash64('the quick brown fox')",
      "deflate_len('the quick brown fox jumps over the lazy dog')",
      "nfc_normalize('cafe" + "\u0301" + " and x" + "\u0007" + "y')",
      "sorted_intersect_count(array('b','a'), array('a','c'))",
      "round(cosine_similarity(array(CAST(0.6 AS FLOAT), CAST(0.8 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))), 6)",
      "hyperplane_bucket(array(CAST(0.3 AS FLOAT), CAST(-0.7 AS FLOAT)), 8)",
      "hyperplane_bands(array(CAST(0.3 AS FLOAT), CAST(-0.7 AS FLOAT)), 4, 6)",
      "st_x(st_point(3.25, -1.5))",
      "st_srid(st_set_srid(st_point(1.0, 2.0), 4326))")
    val sql = exprs.mkString("SELECT ", ", ", "")
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    def run(mode: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.sql(sql).collect()(0).toSeq
    }
    try {
      val gen = run("CODEGEN_ONLY")
      val interp = run("NO_CODEGEN")
      assert(gen == interp,
        s"codegen/interpreted divergence:\n  codegen: $gen\n  interp:  $interp")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("non-literal k in minhash_signature is rejected with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_signature(array('a'), 1 + 1)").collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      e.getCause != null && e.getCause.getMessage.contains("integer literal"))
  }
}
