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
  * zip_with), while this expression compiles to a primitive fused loop
  * inside WholeStageCodegen. Semantics match the HOF formulation exactly:
  * double accumulation in element order over min(len) elements,
  * dot / (sqrt(dot(a,a)) * sqrt(dot(b,b))); both-zero vectors yield NaN
  * either way. Null ARRAY inputs are null-propagated. A null ELEMENT
  * yields NaN (parquet array columns are containsNull=true by default, so
  * a strict rejection like Simhash64's would refuse every real embedding
  * column — NaN is the honest "undefined similarity" and every threshold
  * comparison drops it). The null guard is generated only
  * when an input's type says nulls are possible.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

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
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lt = elemType(left); val rt = elemType(right)
    val n = math.min(x.numElements(), y.numElements())
    val guard = elemNullable
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (guard && (x.isNullAt(i) || y.isNullAt(i))) return Double.NaN
      val xv = if (lt == FloatType) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rt == FloatType) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def get(arr: String, i: String, t: DataType): String = t match {
        case FloatType => s"(double) $arr.getFloat($i)"
        case _         => s"$arr.getDouble($i)"
      }
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val bad = ctx.freshName("bad")
      val nullGuard =
        if (elemNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }"
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |boolean $bad = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullGuard
         |  double $xv = ${get(a, i, elemType(left))};
         |  double $yv = ${get(b, i, elemType(right))};
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $bad ? Double.NaN
         |  : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Native codegen'd dot product over two embedding arrays — the building
  * block behind LSH hyperplane signatures and IVF centroid assignment
  * (there the right side is a LITERAL plane/centroid array, so codegen
  * reads it straight out of a constant ArrayData). Same accumulation
  * semantics as the zip_with/aggregate HOF chain it replaces. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

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

  // same null-ELEMENT policy as CosineSim: NaN when a slot is null, guard
  // generated only for types that admit nulls
  private def elemNullable: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull ||
      right.dataType.asInstanceOf[ArrayType].containsNull

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lt = elemType(left); val rt = elemType(right)
    val n = math.min(x.numElements(), y.numElements())
    val guard = elemNullable
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (guard && (x.isNullAt(i) || y.isNullAt(i))) return Double.NaN
      val xv = if (lt == FloatType) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rt == FloatType) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def get(arr: String, i: String, t: DataType): String = t match {
        case FloatType => s"(double) $arr.getFloat($i)"
        case _         => s"$arr.getDouble($i)"
      }
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val bad = ctx.freshName("bad")
      val nullGuard =
        if (elemNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }"
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |boolean $bad = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullGuard
         |  $dot += ${get(a, i, elemType(left))} * ${get(b, i, elemType(right))};
         |}
         |${ev.value} = $bad ? Double.NaN : $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** All LSH band signatures of an embedding in ONE pass — `sigs[band]` is the
  * r-bit sign pattern of the embedding against hyperplanes band*r..band*r+r-1.
  *
  * Replaces bands*r separate DotProduct evaluations per row (72 at the
  * default 6x12 geometry, each re-reading the embedding array) with a single
  * cache-friendly matrix-vector product: one pass over the embedding,
  * accumulating all bands*r dots from a precomputed plane matrix carried as
  * a codegen reference object. Bit/sign semantics identical to the unfused
  * formulation (same per-plane accumulation order, bit j set iff dot > 0).
  *
  * Length-mismatch semantics (ADVICE r3): an embedding with
  * numElements != dims uses MIN-LENGTH partial dots — the same canonical
  * semantics as the native DotProduct building block that the unfused
  * `Ann.bandSig` reference is built on (equality on mismatched lengths is
  * pinned in SparkJobsSpec). The zip_with/aggregate HOF cosine formulation
  * differs on mismatch (zip_with pads with null, poisoning the dot) — the
  * exact-HOF-equivalence claim holds for exactly-dims embeddings only,
  * which is the only shape an embedding column contains.
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

  override protected def nullSafeEval(input: Any): Any = {
    val e = input.asInstanceOf[ArrayData]
    val n = math.min(e.numElements(), dims)
    val nPlanes = bands * r
    val dots = new Array[Double](nPlanes)
    val fl = isFloat
    var d = 0
    while (d < n) {
      val v = if (fl) e.getFloat(d).toDouble else e.getDouble(d)
      var p = 0
      while (p < nPlanes) { dots(p) += v * planes(p)(d); p += 1 }
      d += 1
    }
    val sigs = new Array[Int](bands)
    var p = 0
    while (p < nPlanes) {
      if (dots(p) > 0) sigs(p / r) |= 1 << (p % r)
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("planes", planes, "double[][]")
    val get = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, e => {
      val dots = ctx.freshName("dots"); val sigs = ctx.freshName("sigs")
      val n = ctx.freshName("n"); val d = ctx.freshName("d")
      val p = ctx.freshName("p"); val v = ctx.freshName("v")
      s"""
         |int $n = java.lang.Math.min($e.numElements(), $dims);
         |double[] $dots = new double[${bands * r}];
         |for (int $d = 0; $d < $n; $d++) {
         |  double $v = (double) $e.$get($d);
         |  for (int $p = 0; $p < ${bands * r}; $p++) {
         |    $dots[$p] += $v * $mat[$p][$d];
         |  }
         |}
         |int[] $sigs = new int[$bands];
         |for (int $p = 0; $p < ${bands * r}; $p++) {
         |  if ($dots[$p] > 0) $sigs[$p / $r] |= 1 << ($p % $r);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sigs);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigs =
    copy(child = newChild)
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
  * a codegen reference object instead. Ordering semantics are identical to
  * the struct-sort (same per-centroid accumulation order, descending dot,
  * ascending index on ties). */
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

  override protected def nullSafeEval(input: Any): Any = {
    val e = input.asInstanceOf[ArrayData]
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      CentroidArgsort.argsort(e, isFloat, cents))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("cents", cents, "double[][]")
    val fl = if (isFloat) "true" else "false"
    nullSafeCodeGen(ctx, ev, e => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.plans.CentroidArgsort.argsort($e, $fl, $mat));
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidArgsort =
    copy(child = newChild)
}

object CentroidArgsort {
  /** dots + stable argsort, shared by interpreted eval and codegen. */
  def argsort(e: ArrayData, isFloat: Boolean, cents: Array[Array[Double]]): Array[Int] = {
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
