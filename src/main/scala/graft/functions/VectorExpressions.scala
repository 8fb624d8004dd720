package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.GraftBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.types._

/** Custom Catalyst expressions for embedding similarity (SURVEY.md §2.3
  * E13; north-star similarity-search ops). A single fused pass per vector
  * pair — versus three separate higher-order `aggregate()` calls — keeps
  * the hot loop primitive-typed with no per-element lambda dispatch.
  * Accumulation is in Double, in index order, so results are deterministic.
  */
object VectorExpressions {

  private[functions] def floatsOf(a: ArrayData): Array[Float] =
    a.toFloatArray()

  /** Cosine similarity of two float vectors, computed in one pass with
    * double accumulation. Returns null if either side is null OR the
    * lengths differ (a truncated row from a failed embedder degrades to
    * null like every other malformed-input path in this file — the old
    * min-length truncation let a 1-dim garbage prefix score cosine 1.0
    * and rank first in top-k, round-9 review); 0.0 if either norm is
    * zero. Full `doGenCode` (not CodegenFallback): the expression runs
    * once per corpus row in brute-force top-k, and a fallback there
    * would break the scan→project→TakeOrdered whole-stage codegen span.
    * Array elements must be non-null (parquet float lists). */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = floatsOf(l.asInstanceOf[ArrayData])
      val b = floatsOf(r.asInstanceOf[ArrayData])
      if (a.length != b.length) return null
      val n = a.length
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  int $n = $a.numElements();
           |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    double $x = (double) $a.getFloat($i);
           |    double $y = (double) $b.getFloat($i);
           |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
           |  }
           |  ${ev.value} = ($na == 0.0 || $nb == 0.0)
           |    ? 0.0 : $dot / java.lang.Math.sqrt($na * $nb);
           |}
         """.stripMargin
      })
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): CosineSimilarity = copy(l, r)
    override def prettyName: String = "cosine_similarity"
  }

  /** Random-hyperplane LSH bucket of a float vector: `nBits` sign bits of
    * dot products against pseudo-random GAUSSIAN hyperplanes. Components
    * are Box–Muller transforms of XXH64 counter hashes (seeded by plane
    * index, `StrictMath` for cross-JVM determinism) — no stored model, any
    * dimension; plane vectors are precomputed once per JVM and cached, so
    * the hot path is a plain dot product. Vectors with high cosine
    * similarity collide with probability exactly `1 − θ/π` per bit
    * (Goemans–Williamson / Charikar SimHash analysis) — the guarantee the
    * banding-formula parameter derivation in `AnnParams` inverts. The
    * previous Rademacher (±1 bits of one hash word) family was measurably
    * biased for structured fixture vectors: global sign-agreement matched
    * 1 − θ/π but disagreements anti-clustered across plane indices, so
    * banded shapes missed boundary pairs far above the formula rate.
    * `planeOffset` shifts the plane seeds so banded variants (B
    * independent bucket tables) draw disjoint hyperplanes. */
  case class HyperplaneBucket(child: Expression, nBits: Int,
      planeOffset: Int = 0) extends UnaryExpression {
    require(nBits > 0 && nBits <= 30, "nBits must be in 1..30")
    require(planeOffset >= 0, "planeOffset must be >= 0")
    override def dataType: DataType = IntegerType
    override def nullSafeEval(input: Any): Any =
      VectorExpressions.hyperplaneEval(input.asInstanceOf[ArrayData], nBits,
        planeOffset)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorExpressions.hyperplaneEval($c, $nBits, $planeOffset)")
    override protected def withNewChildInternal(c: Expression): HyperplaneBucket =
      copy(child = c)
    override def prettyName: String = "hyperplane_bucket"
  }

  // plane cache: (global plane index, dim) → Gaussian direction. Filled
  // once per JVM (executors derive identical planes — pure function of the
  // key), read lock-free on the hot path. Size is tiny: even a 256-band ×
  // 10-bit shape over 64 dims is 2,560 vectors ≈ 1.3 MB.
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Double]]()

  /** Deterministic Gaussian plane `q` for dimension `dim`: component `i`
    * is Box–Muller over two counter-mode XXH64 draws. StrictMath keeps
    * log/cos bit-identical across JVMs/architectures, so every executor
    * derives the same plane with no broadcast. */
  private[functions] def plane(q: Int, dim: Int): Array[Double] = {
    val key = (q.toLong << 32) | (dim.toLong & 0xffffffffL)
    var g = planeCache.get(key)
    if (g == null) {
      g = Array.tabulate(dim) { i =>
        // u1 ∈ (0, 1] (never 0 → log defined); u2 ∈ [0, 1)
        val u1 = ((XXH64.hashLong(i.toLong, 2L * q) >>> 11) + 1).toDouble *
          1.1102230246251565e-16
        val u2 = (XXH64.hashLong(i.toLong, 2L * q + 1) >>> 11).toDouble *
          1.1102230246251565e-16
        StrictMath.sqrt(-2.0 * StrictMath.log(u1)) *
          StrictMath.cos(2.0 * Math.PI * u2)
      }
      planeCache.putIfAbsent(key, g)
    }
    g
  }

  /** Static eval used by HyperplaneBucket's generated code. */
  def hyperplaneEval(input: ArrayData, nBits: Int, planeOffset: Int): Int = {
    val v = floatsOf(input)
    var bucket = 0
    var p = 0
    while (p < nBits) {
      val g = plane(planeOffset + p, v.length)
      var s = 0.0
      var i = 0
      while (i < v.length) {
        s += g(i) * v(i)
        i += 1
      }
      if (s > 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  /** ALL banded-LSH buckets of one vector in a single pass: element `b`
    * is the `nBits`-bit bucket from disjoint planes
    * `[b·nBits, (b+1)·nBits)` — value-identical to `bands` separate
    * [[HyperplaneBucket]] calls with `planeOffset = b·nBits`, but the
    * float array is materialized ONCE instead of once per band (a
    * 128–256-band shape re-copied its input that many times per row) and
    * the analyzer sees one expression instead of a `bands`-element
    * array-of-structs tree. */
  case class HyperplaneBands(child: Expression, bands: Int, nBits: Int)
      extends UnaryExpression {
    require(bands > 0, "bands must be positive")
    require(nBits > 0 && nBits <= 30, "nBits must be in 1..30")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      VectorExpressions.hyperplaneBandsEval(input.asInstanceOf[ArrayData],
        bands, nBits)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.VectorExpressions.hyperplaneBandsEval($c, $bands, $nBits)")
    override protected def withNewChildInternal(c: Expression): HyperplaneBands =
      copy(child = c)
    override def prettyName: String = "hyperplane_bands"
  }

  /** Static eval used by HyperplaneBands' generated code. */
  def hyperplaneBandsEval(input: ArrayData, bands: Int,
      nBits: Int): ArrayData = {
    val v = floatsOf(input)
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0
      var p = 0
      while (p < nBits) {
        val g = plane(b * nBits + p, v.length)
        var s = 0.0
        var i = 0
        while (i < v.length) {
          s += g(i) * v(i)
          i += 1
        }
        if (s > 0) bucket |= (1 << p)
        p += 1
      }
      out(b) = bucket
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def cosineSimilarity(a: Column, b: Column): Column =
    toCol(CosineSimilarity(toExpr(a), toExpr(b)))
  def hyperplaneBucket(v: Column, nBits: Int, planeOffset: Int = 0): Column =
    toCol(HyperplaneBucket(toExpr(v), nBits, planeOffset))

  /** How a [[NearestCentroid]] scores: `Cosine` keeps the highest
    * [[CosineSimilarity]], `SquaredL2` the lowest `Σ (x − c)²` summed in
    * double in index order (`VectorOps.sqDist`'s arithmetic). */
  sealed trait Metric extends Serializable
  case object Cosine extends Metric
  case object SquaredL2 extends Metric

  /** Position of the nearest centroid of `cents`, a codebook ordered by
    * cell — the one compiled kernel behind every IVF and PQ assignment
    * (training rounds, artifact builds and updates, q45's serving pass,
    * q118's in-row coarse cell). The ≤k-row codebook rides inside the
    * expression as a reference object, so each row runs one primitive
    * loop. Scores compare in Spark's double order (NaN greatest,
    * −0.0 = 0.0) and the first best wins, so the lowest cell takes a
    * tie: the answer of Spark's `array_max`/`array_min` over
    * (score, cell) structs, bit for bit. A null vector, one whose width
    * differs from the codebook's, or an empty codebook gets no cell
    * (null). */
  case class NearestCentroid(child: Expression, cents: Array[Array[Float]],
      metric: Metric) extends UnaryExpression {
    require(cents.forall(_.length == cents(0).length), "ragged codebook")
    // cosine's centroid norms, summed once exactly as CosineSimilarity
    // sums them per row; null selects squared L2
    private val norms: Array[Double] = metric match {
      case Cosine => cents.map(_.foldLeft(0.0)((s, y) => s + y.toDouble * y))
      case SquaredL2 => null
    }
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any =
      VectorExpressions.nearestCentroidOrNull(
        input.asInstanceOf[ArrayData], cents, norms)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val centsRef = ctx.addReferenceObj("cents", cents, "float[][]")
      val normsRef = ctx.addReferenceObj("norms", norms, "double[]")
      nullSafeCodeGen(ctx, ev, c => {
        val tmp = ctx.freshName("cell")
        s"""
           |java.lang.Integer $tmp = graft.functions.VectorExpressions
           |  .nearestCentroidOrNull($c, $centsRef, $normsRef);
           |if ($tmp == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $tmp.intValue(); }
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(c: Expression): NearestCentroid =
      copy(child = c)
    override def prettyName: String = "nearest_centroid"
  }

  /** Static eval for NearestCentroid: null unless the codebook is
    * non-empty and the vector has its width; `cosineNorms` null means
    * squared L2. */
  def nearestCentroidOrNull(arr: ArrayData, cents: Array[Array[Float]],
      cosineNorms: Array[Double]): java.lang.Integer =
    if (cents.length == 0 || arr.numElements() != cents(0).length) null
    else java.lang.Integer.valueOf(
      if (cosineNorms != null) nearestCosine(arr, cents, cosineNorms)
      else nearestL2(arr, 0, cents, Array.emptyFloatArray))

  /** Argmax of the cosine of `arr` to each centroid (first best wins
    * under Spark's double order). */
  private def nearestCosine(arr: ArrayData, cents: Array[Array[Float]],
      norms: Array[Double]): Int = {
    val n = arr.numElements()
    var na = 0.0
    var i = 0
    while (i < n) { val x = arr.getFloat(i).toDouble; na += x * x; i += 1 }
    var best = -1
    var bestS = 0.0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var dot = 0.0
      i = 0
      while (i < n) { dot += arr.getFloat(i).toDouble * c(i); i += 1 }
      val s = if (na == 0.0 || norms(j) == 0.0) 0.0
              else dot / math.sqrt(na * norms(j))
      if (best < 0 || SQLOrderingUtil.compareDoubles(s, bestS) > 0) {
        best = j; bestS = s
      }
      j += 1
    }
    best
  }

  /** Argmin of the squared L2 distance from `arr[off, off + w)` minus
    * `center[off, off + w)` (no centre when empty) to each w-wide
    * centroid, first best winning under Spark's double order. */
  private def nearestL2(arr: ArrayData, off: Int, cents: Array[Array[Float]],
      center: Array[Float]): Int = {
    val hasCenter = center.length > 0
    var best = -1
    var bestD = 0.0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var d = 0.0
      var i = 0
      while (i < c.length) {
        val v = arr.getFloat(off + i).toDouble -
          (if (hasCenter) center(off + i).toDouble else 0.0) - c(i)
        d += v * v
        i += 1
      }
      if (best < 0 || SQLOrderingUtil.compareDoubles(d, bestD) < 0) {
        best = j; bestD = d
      }
      j += 1
    }
    best
  }

  /** Fused PQ/ADC score: Σ_s dtable(s)(argmin_j ‖v_s − center_s − cb(s)(j)‖²)
    * over contiguous sub-spaces (cb may be ragged — Lloyd can drop
    * cells). `center` empty = raw-vector PQ (q117); non-empty = residual
    * PQ against that coarse centroid (q118/IVFADC). Codebook and distance
    * table are expression-embedded reference objects, so the whole encode
    * + lookup is ONE expression per row with tight primitive loops —
    * replacing m·k HOF columns whose analysis alone dominated serving.
    * Each sub-space argmin is [[NearestCentroid]]'s squared-L2 law, and
    * a vector whose width is not the sub-spaces' total gets null. */
  case class PqAdcScore(child: Expression, cb: Array[Array[Array[Float]]],
      dt: Array[Array[Double]], center: Array[Float])
      extends UnaryExpression {
    require(cb.nonEmpty && cb.length == dt.length, "codebook/table shape")
    // concatenated sub-space width precomputed once: the per-row guard
    // is a single comparison
    private val need: Int = cb.map(_(0).length).sum
    // the need guard only checks the INPUT vector's width — a residual
    // center shorter than the sub-space concatenation would index past
    // its end on the first row and abort the serving scan; reject the
    // malformed construction here instead
    require(center.isEmpty || center.length >= need,
      s"residual center width ${center.length} < sub-space total $need")
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(input: Any): Any =
      VectorExpressions.pqAdcScoreOrNull(
        input.asInstanceOf[ArrayData], cb, dt, center, need)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val cbRef = ctx.addReferenceObj("pqcb", cb, "float[][][]")
      val dtRef = ctx.addReferenceObj("pqdt", dt, "double[][]")
      val cRef = ctx.addReferenceObj("pqcenter", center, "float[]")
      nullSafeCodeGen(ctx, ev, c => {
        val tmp = ctx.freshName("adc")
        s"""
           |java.lang.Double $tmp = graft.functions.VectorExpressions
           |  .pqAdcScoreOrNull($c, $cbRef, $dtRef, $cRef, $need);
           |if ($tmp == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $tmp.doubleValue(); }
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(c: Expression): PqAdcScore =
      copy(child = c)
    override def prettyName: String = "pq_adc_score"
  }

  /** Static eval for PqAdcScore: null unless the vector's width is the
    * concatenated sub-space width (`need`, precomputed). */
  def pqAdcScoreOrNull(arr: ArrayData, cb: Array[Array[Array[Float]]],
      dt: Array[Array[Double]], center: Array[Float], need: Int)
      : java.lang.Double =
    if (arr.numElements() != need) null
    else {
      var total = 0.0
      var off = 0
      var s = 0
      while (s < cb.length) {
        total += dt(s)(nearestL2(arr, off, cb(s), center))
        off += cb(s)(0).length
        s += 1
      }
      java.lang.Double.valueOf(total)
    }

  def hyperplaneBands(v: Column, bands: Int, nBits: Int): Column =
    toCol(HyperplaneBands(toExpr(v), bands, nBits))
  def nearestCentroid(v: Column, cents: Array[Array[Float]],
      metric: Metric): Column =
    toCol(NearestCentroid(toExpr(v), cents, metric))
  def pqAdcScore(v: Column, cb: Array[Array[Array[Float]]],
      dt: Array[Array[Double]], center: Array[Float]): Column =
    toCol(PqAdcScore(toExpr(v), cb, dt, center))
}
