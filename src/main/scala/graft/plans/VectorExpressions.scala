package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd cosine similarity over two embedding arrays
  * (float32 or float64) — `graft_cosine(a, b)`.
  *
  * Replaces the `aggregate(zip_with(...))` higher-order-function chain in
  * the ANN/near-dup queries: Catalyst HOFs are interpreted per row (lambda
  * closures, boxed element iterators, an allocated intermediate array per
  * zip_with), while this expression is one primitive loop, [[CosineSim.compute]],
  * called from inside WholeStageCodegen. Semantics match the HOF
  * formulation on defined inputs: double accumulation in element order over
  * min(len) elements, dot / (sqrt(dot(a,a)) * sqrt(dot(b,b))). Null ARRAY
  * inputs are null-propagated.
  *
  * An UNDEFINED similarity is NULL: a zero-norm side (0/0) or a null
  * ELEMENT (parquet array columns are containsNull=true by default, so a
  * strict rejection like Simhash64's would refuse every real embedding
  * column). NaN would be the wrong answer here: Spark orders NaN above every
  * double and `NaN >= t` is true, so a NaN similarity passes every
  * threshold and ranks first; NULL fails every comparison, sorts last, and
  * the ANN queries drop it before ranking. The null-element guard runs only
  * when an input's type says nulls are possible.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two ARRAY<FLOAT|DOUBLE> inputs, got " +
        s"(${left.dataType}, ${right.dataType})")
  }

  private def elemNullable: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val s = CosineSim.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right), elemNullable)
    if (s.isNaN) null else s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.plans.CosineSim.compute($a, $b,
         |  ${isFloat(left)}, ${isFloat(right)}, $elemNullable);
         |${ev.isNull} = Double.isNaN(${ev.value});""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** The cosine loop, shared by interpreted eval and codegen; NaN when the
    * similarity is undefined (a zero norm, or a null element while
    * `nullGuard` is set). */
  def compute(x: ArrayData, y: ArrayData, xFloat: Boolean, yFloat: Boolean,
      nullGuard: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (nullGuard && (x.isNullAt(i) || y.isNullAt(i))) return Double.NaN
      val xv = if (xFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** All LSH band signatures of an embedding in ONE pass — `sigs[band]` is the
  * r-bit sign pattern of the embedding against hyperplanes band*r..band*r+r-1.
  *
  * One cache-friendly matrix-vector product instead of bands*r separate dot
  * products per row (72 at the default 6x12 geometry, each re-reading the
  * embedding array): one pass over the embedding accumulates all bands*r
  * dots against a precomputed plane matrix carried as a codegen reference
  * object. Bit j of band b is set iff the dot with plane b*r+j is > 0.
  *
  * An embedding with numElements != dims uses MIN-LENGTH partial dots
  * (SparkJobsSpec pins full and 48-of-64 inputs against a driver-side
  * loop). The zip_with/aggregate HOF cosine formulation differs on mismatch
  * (zip_with pads with null, poisoning the dot); an embedding column only
  * holds exactly-dims vectors.
  */
case class HyperplaneSigs(child: Expression, bands: Int, r: Int, dims: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_hyperplane_sigs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<FLOAT|DOUBLE>, got $t")
  }

  /** planes[p][d] = ±1, p = band*r + j — same bank as Ann.hyperplaneSign. */
  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(bands * r, dims)((p, d) => graft.ops.Ann.hyperplaneSign(p, d))

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      HyperplaneSigs.compute(input.asInstanceOf[ArrayData], isFloat, planes, r, dims))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, e =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.plans.HyperplaneSigs.compute($e, $isFloat, $mat, $r, $dims));""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigs =
    copy(child = newChild)
}

object HyperplaneSigs {
  /** The matrix-vector pass, shared by interpreted eval and codegen: the
    * planes.length / r band signatures of `e` against `planes` (one row of
    * `dims` signs per plane). Dots accumulate in element order. */
  def compute(e: ArrayData, isFloat: Boolean, planes: Array[Array[Double]],
      r: Int, dims: Int): Array[Int] = {
    val nPlanes = planes.length
    val n = math.min(e.numElements(), dims)
    val dots = new Array[Double](nPlanes)
    var d = 0
    while (d < n) {
      val v = if (isFloat) e.getFloat(d).toDouble else e.getDouble(d)
      var p = 0
      while (p < nPlanes) { dots(p) += v * planes(p)(d); p += 1 }
      d += 1
    }
    val sigs = new Array[Int](nPlanes / r)
    var p = 0
    while (p < nPlanes) {
      if (dots(p) > 0) sigs(p / r) |= 1 << (p % r)
      p += 1
    }
    sigs
  }
}

/** 64-bit SimHash of a token-hash array in ONE pass — `graft_simhash64(h)`.
  *
  * Replaces 64 separate interpreted `aggregate()` HOF folds (one per bit,
  * each re-traversing the array with boxed lambda evaluation) with a single
  * primitive loop accumulating all 64 bit counters. Semantics identical to
  * the fold formulation (pinned in SparkJobsSpec): bit b of the result is
  * set iff 2 * |{h_i : bit b of h_i set}| > n. Empty arrays yield 0L; null
  * input null-propagates; elements are assumed non-null (the input is
  * `transform(tokens, xxhash64)`).
  */
case class Simhash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  // containsNull inputs are REJECTED (ADVICE r4): compute reads getLong on
  // every slot, so a null element would read undefined garbage and silently
  // corrupt the fingerprint. The internal pipelines always feed
  // transform(tokens, xxhash64) — containsNull=false — and any other
  // caller gets an analysis error instead of a wrong answer.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<BIGINT> with non-null elements, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    Simhash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, e =>
      s"${ev.value} = graft.plans.Simhash64.compute($e);")

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
}

object Simhash64 {
  /** One pass, 64 counters; shared by interpreted eval and codegen (the
    * static call is JIT-compiled — the win over the HOF folds is avoiding
    * 64 interpreted traversals, not codegen fusion of this loop itself). */
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) { counts(b) += ((h >>> b) & 1L).toInt; b += 1 }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) * 2 > n) out |= 1L << b; b += 1 }
    out
  }
}

/** IVF probe order: centroid indices sorted by descending dot(e, centroid),
  * ties by ascending index — one fused pass over the embedding.
  *
  * Replaces the Column formulation `array_sort(array(struct(-dot_k, k)...))`
  * whose k*dims inline literals (1024 at k=16, dims=64) ballooned codegen
  * compile time (the dominant cost of ann_ivf's training loop, which builds
  * that plan fresh per Lloyd iteration). The centroid matrix rides along as
  * a codegen reference object instead. Each centroid's dot accumulates in
  * element order over min(len) elements (SparkJobsSpec pins the ranking
  * against a driver-side sort). */
case class CentroidArgsort(child: Expression, cents: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_centroid_argsort"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<FLOAT|DOUBLE>, got $t")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      CentroidArgsort.compute(input.asInstanceOf[ArrayData], isFloat, cents))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, e =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.plans.CentroidArgsort.compute($e, $isFloat, $mat));""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidArgsort =
    copy(child = newChild)
}

object CentroidArgsort {
  /** dots + stable argsort, shared by interpreted eval and codegen. */
  def compute(e: ArrayData, isFloat: Boolean, cents: Array[Array[Double]]): Array[Int] = {
    val k = cents.length
    val dots = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cent = cents(c)
      val n = math.min(e.numElements(), cent.length)
      var dot = 0.0
      var i = 0
      while (i < n) {
        val v = if (isFloat) e.getFloat(i).toDouble else e.getDouble(i)
        dot += v * cent(i)
        i += 1
      }
      dots(c) = dot
      c += 1
    }
    val idx = Array.tabulate(k)(identity)
    // insertion sort on (dot desc, index asc): k is small (16)
    var i = 1
    while (i < k) {
      val cur = idx(i)
      var j = i - 1
      while (j >= 0 && (dots(idx(j)) < dots(cur) ||
          (dots(idx(j)) == dots(cur) && idx(j) > cur))) {
        idx(j + 1) = idx(j); j -= 1
      }
      idx(j + 1) = cur
      i += 1
    }
    idx
  }
}
