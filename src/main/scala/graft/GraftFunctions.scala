package graft

import graft.functions.{SpatialExpressions => Sp, TextExpressions => Tx, VectorExpressions => Vx}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL registration for the engine's custom Catalyst expressions, so they
  * are first-class functions in `spark.sql(...)` / `expr(...)` alongside
  * the built-ins:
  *
  *   simhash64(arr), minhash_signature(arr, k), rolling_hash64(str),
  *   deflate_len(str), nfc_normalize(str),
  *   sorted_intersect_count(arr, sorted_arr),
  *   cosine_similarity(a, b), hyperplane_bucket(v, bits),
  *   st_point(x, y), st_x(wkb), st_y(wkb), st_is_wkb_point(wkb),
  *   st_geometrytype(wkb), st_is_valid_wkb(wkb), st_srid(wkb),
  *   st_set_srid(wkb, srid)
  *
  * Two routes, same builders:
  *  - `GraftFunctions.register(spark)` on a running session, called once
  *    per session by `GraftSession.tune`;
  *  - `GraftExtensions` for an embedder that injects them at session
  *    build time (`spark.sql.extensions` / `.withExtensions(...)`).
  */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  // SQL literals arrive as DECIMAL / array<double>; coerce at the boundary
  private def asDouble(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e,
      org.apache.spark.sql.types.DoubleType)
  private def asFloatArray(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))

  /** (name, builder) for every custom function. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> { es => Tx.SimHash64(es.head) },
    "minhash_signature" -> { es =>
      Tx.MinHashSignature(es.head, intLit(es(1), "minhash_signature k")) },
    "rolling_hash64" -> { es => Tx.RollingHash64(es.head) },
    "deflate_len" -> { es => Tx.DeflateLen(es.head) },
    "nfc_normalize" -> { es => Tx.NfcNormalize(es.head) },
    // contract: the SECOND array must be ascending-sorted (array_sort
    // order) — binary search over an unsorted array under-counts silently
    "sorted_intersect_count" -> { es =>
      Tx.SortedIntersectCount(es.head, es(1)) },
    "cosine_similarity" -> { es =>
      Vx.CosineSimilarity(asFloatArray(es.head), asFloatArray(es(1))) },
    "hyperplane_bucket" -> { es =>
      Vx.HyperplaneBucket(asFloatArray(es.head),
        intLit(es(1), "hyperplane_bucket bits"),
        if (es.size > 2) intLit(es(2), "hyperplane_bucket plane offset") else 0) },
    "hyperplane_bands" -> { es =>
      Vx.HyperplaneBands(asFloatArray(es.head),
        intLit(es(1), "hyperplane_bands bands"),
        intLit(es(2), "hyperplane_bands bits")) },
    "st_point" -> { es => Sp.StPoint(asDouble(es.head), asDouble(es(1))) },
    "st_x" -> { es => Sp.StX(es.head) },
    "st_y" -> { es => Sp.StY(es.head) },
    "st_is_wkb_point" -> { es => Sp.StIsWkbPoint(es.head) },
    "st_geometrytype" -> { es => Sp.StGeometryType(es.head) },
    "st_is_valid_wkb" -> { es => Sp.StIsValidWkb(es.head) },
    "st_srid" -> { es => Sp.StSrid(es.head) },
    "st_set_srid" -> { es => Sp.StSetSrid(es.head,
      org.apache.spark.sql.catalyst.expressions.Cast(es(1),
        org.apache.spark.sql.types.IntegerType)) },
    "ngrams" -> { es =>
      graft.functions.NGramGenerator(es.head, intLit(es(1), "ngrams n")) },
    // Spark ships BloomFilterAggregate / BloomFilterMightContain as public
    // Catalyst classes but leaves them OFF the SQL registry (they back the
    // runtime row-level filter). The engine surfaces them as functions —
    // the incremental-dedup seen-set sketch (q77) is exactly their shape.
    // might_contain's bloom side must be a constant or scalar subquery
    // (enforced by its own checkInputDataTypes).
    // arity is matched explicitly (Spark's own constructor defaults for
    // the 1-/2-arg forms): a bare es(1)/es(2) index would surface a raw
    // IndexOutOfBoundsException from function resolution instead of a
    // usable arity error
    "bloom_filter_agg" -> { es =>
      val agg = es match {
        case Seq(c) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(c)
        case Seq(c, n) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(c, n)
        case Seq(c, n, b) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate
            .BloomFilterAggregate(c, n, b)
        case _ => throw new IllegalArgumentException(
          s"bloom_filter_agg expects 1 to 3 arguments, got ${es.length}")
      }
      agg.toAggregateExpression() },
    "might_contain" -> { es =>
      if (es.length != 2) throw new IllegalArgumentException(
        s"might_contain expects 2 arguments, got ${es.length}")
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        es.head, es(1)) })

  /** Register on a live session. Re-registering replaces each function
    * (Spark logs a warning per name), so a session's owner calls this once. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** Session-extension route: `spark.sql.extensions=graft.GraftExtensions`
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftFunctions", name),
        builder))
    }
}
