package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** Native Catalyst dot product over two numeric arrays — a tight
  * primitive loop over ArrayData in both interpreted and codegen mode,
  * ~10-50× less per-row overhead than the equivalent
  * `aggregate(zip_with(...))` higher-order chain that allocates an
  * intermediate array and a lambda frame per element. Semantics are
  * identical: left-to-right double accumulation (float elements are
  * exactly representable as doubles, so results match the HOF/oracle
  * bit-for-bit). Mismatched lengths use the common prefix.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}"
      )
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = isFloat(left)
    val rf = isFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (isFloat(left)) "getFloat" else "getDouble"
    val rGet = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $x.$lGet($i)) * ((double) $y.$rGet($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity over two numeric arrays in ONE pass with three
  * left-to-right double accumulators: a·b over the common prefix (as
  * [[DotProduct]]), a·a over all of `a`, b·b over all of `b`. Returns
  * (a·b) / (sqrt(a·a) * sqrt(b·b)), null when that denominator is 0.0
  * — bit-identical to the three-[[DotProduct]] Column form kept as
  * `VectorFunctions.cosineSimilarityHof`.
  *
  * Why one expression rather than that Column form: there `sqrt(dot(q,
  * q))` of a literal query vector is a foldable subtree, ConstantFolding
  * turns it into a double, and codegen inlines that double into the Java
  * source — every new query norm compiled new classes. Here neither
  * operand is folded on its own, and an array literal reaches generated
  * code only through `references[]`, so one plan shape compiles once.
  */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.min(nx, ny)
    val lf = isFloat(left)
    val rf = isFloat(right)
    var ab = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      ab += xv * yv
      aa += xv * xv
      bb += yv * yv
      i += 1
    }
    while (i < nx) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      aa += xv * xv
      i += 1
    }
    i = n
    while (i < ny) {
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      bb += yv * yv
      i += 1
    }
    val denom = math.sqrt(aa) * math.sqrt(bb)
    if (denom == 0.0) null else ab / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (isFloat(left)) "getFloat" else "getDouble"
    val rGet = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val ab = ctx.freshName("ab")
      val aa = ctx.freshName("aa")
      val bb = ctx.freshName("bb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |int $nx = $x.numElements();
         |int $ny = $y.numElements();
         |int $n = Math.min($nx, $ny);
         |double $ab = 0.0;
         |double $aa = 0.0;
         |double $bb = 0.0;
         |int $i = 0;
         |for (; $i < $n; $i++) {
         |  double $xv = (double) $x.$lGet($i);
         |  double $yv = (double) $y.$rGet($i);
         |  $ab += $xv * $yv;
         |  $aa += $xv * $xv;
         |  $bb += $yv * $yv;
         |}
         |for (; $i < $nx; $i++) {
         |  double $xv = (double) $x.$lGet($i);
         |  $aa += $xv * $xv;
         |}
         |for ($i = $n; $i < $ny; $i++) {
         |  double $yv = (double) $y.$rGet($i);
         |  $bb += $yv * $yv;
         |}
         |double $denom = Math.sqrt($aa) * Math.sqrt($bb);
         |if ($denom == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $ab / $denom;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance over two numeric arrays — same tight-loop
  * contract as [[DotProduct]]: left-to-right double accumulation of
  * (x−y)², identical bits to the `aggregate(zip_with(...))` HOF form
  * on equal-length inputs (the only case the engine produces; the HOF
  * null-pads the shorter side to a null result, this uses the common
  * prefix). The HOF chain is interpreted per element (HOFs are
  * CodegenFallback), which the sf100 probe measured as the dominant
  * vector-family cost; this is one generated loop.
  */
case class L2DistanceSq(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"l2_distance_sq needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = isFloat(left)
    val rf = isFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (isFloat(left)) "getFloat" else "getDouble"
    val rGet = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ((double) $x.$lGet($i)) - ((double) $y.$rGet($i));
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** L2-normalize a numeric array to a unit vector, one pass + one
  * divide loop. Replaces the Column formulation
  * `when(n === 0, v).otherwise(transform(v, x => x / n))` whose lambda
  * body EMBEDS the `n = sqrt(dot(v, v))` subtree: higher-order
  * functions are CodegenFallback, interpreted eval re-evaluates the
  * embedded norm for every element, and the per-row cost silently
  * becomes O(dim²) — ~1M multiply-adds per 1024-dim row, the sf100
  * probe's dominant prepare cost. Bits are identical: the norm here is
  * the same left-to-right Σx² then sqrt, applied once, and x/n per
  * element; zero-norm inputs pass through as the plain double cast.
  * Assumes no null elements (embedding columns never carry them).
  */
case class NormalizeL2(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"normalize_l2 needs array<float|double>, got $t")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Double](n)
    var s = 0.0
    var i = 0
    while (i < n) {
      val v = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      out(i) = v
      s += v * v
      i += 1
    }
    val norm = math.sqrt(s)
    if (norm != 0.0) {
      i = 0
      while (i < n) { out(i) = out(i) / norm; i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val out = ctx.freshName("out")
      val norm = ctx.freshName("norm")
      s"""
         |int $n = $x.numElements();
         |double[] $out = new double[$n];
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double v = (double) $x.$get($i);
         |  $out[$i] = v;
         |  $s += v * v;
         |}
         |double $norm = Math.sqrt($s);
         |if ($norm != 0.0) {
         |  for (int $i = 0; $i < $n; $i++) { $out[$i] = $out[$i] / $norm; }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQ8 encode: per-dimension affine map to an 8-bit code given the
  * per-dimension [min, max] stats arrays. One generated loop replacing
  * the `transform(v, (x, i) => least(255, greatest(0, floor((x − mn)
  * · 255 / (mx − mn)))))` HOF chain (interpreted per element). The
  * arithmetic replays the Column form EXACTLY — ((x − mn) · 255) /
  * (mx − mn), Math.floor to long, clamp in long, cast to int; constant
  * dimensions (mx == mn) encode to 0 — so the DuckDB oracle replaying
  * the SQL formulation stays bit-identical (q_sq8_topk's contract).
  */
case class Sq8Encode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    def vecOk(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    def dblOk(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (vecOk(first.dataType) && dblOk(second.dataType) && dblOk(third.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"sq8_encode needs (array<float|double>, array<double>, array<double>), got " +
          s"${first.dataType} / ${second.dataType} / ${third.dataType}")
  }

  private def isFloat: Boolean =
    first.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any, mn: Any, mx: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val mns = mn.asInstanceOf[ArrayData]
    val mxs = mx.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val xv = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val lo = mns.getDouble(i)
      val hi = mxs.getDouble(i)
      out(i) =
        if (hi == lo) 0
        else {
          val f = Math.floor((xv - lo) * 255.0 / (hi - lo)).toLong
          Math.min(255L, Math.max(0L, f)).toInt
        }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, mns, mxs) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val f = ctx.freshName("f")
      s"""
         |int $n = $x.numElements();
         |int[] $out = new int[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $lo = $mns.getDouble($i);
         |  double $hi = $mxs.getDouble($i);
         |  if ($hi == $lo) { $out[$i] = 0; } else {
         |    long $f = (long) Math.floor((((double) $x.$get($i)) - $lo) * 255.0 / ($hi - $lo));
         |    $out[$i] = (int) Math.min(255L, Math.max(0L, $f));
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** SQ8 midpoint dequantization: code c → mn + (c + ½)(mx − mn)/255,
  * replaying the Column form's association — mn + (((c + 0.5) · (mx −
  * mn)) / 255) — exactly, one generated loop instead of an interpreted
  * per-element HOF.
  */
case class Sq8Decode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    def dblOk(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (first.dataType.isInstanceOf[ArrayType] &&
      first.dataType.asInstanceOf[ArrayType].elementType == IntegerType &&
      dblOk(second.dataType) && dblOk(third.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"sq8_decode needs (array<int>, array<double>, array<double>), got " +
          s"${first.dataType} / ${second.dataType} / ${third.dataType}")
  }

  override def nullSafeEval(cAny: Any, mn: Any, mx: Any): Any = {
    val codes = cAny.asInstanceOf[ArrayData]
    val mns = mn.asInstanceOf[ArrayData]
    val mxs = mx.asInstanceOf[ArrayData]
    val n = codes.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val lo = mns.getDouble(i)
      val hi = mxs.getDouble(i)
      out(i) = lo + ((codes.getInt(i) + 0.5) * (hi - lo)) / 255.0
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, mns, mxs) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      s"""
         |int $n = $c.numElements();
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $lo = $mns.getDouble($i);
         |  double $hi = $mxs.getDouble($i);
         |  $out[$i] = $lo + ((((double) $c.getInt($i)) + 0.5) * ($hi - $lo)) / 255.0;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object VectorExpressions {
  import org.apache.spark.sql.GraftBridge
  import org.apache.spark.sql.functions.lit

  /** Column wrapper for [[DotProduct]] (Spark 4 Column↔Expression
    * bridge lives in sql.classic; see GraftBridge).
    */
  def dotFast(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column wrapper for [[CosineSimilarity]]. */
  def cosineFast(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column wrapper for [[L2DistanceSq]]. */
  def l2DistanceSqFast(a: Column, b: Column): Column =
    GraftBridge.column(L2DistanceSq(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column wrapper for [[NormalizeL2]]. */
  def normalizeFast(a: Column): Column =
    GraftBridge.column(NormalizeL2(GraftBridge.expression(a)))

  /** Column wrapper for [[NearestPivotCosine]]; a flat set takes the default cell 0. */
  def nearestPivotCosine(vec: Column, pivots: PivotSet, cell: Column = lit(0)): Column =
    GraftBridge.column(NearestPivotCosine(
      GraftBridge.expression(vec), GraftBridge.expression(cell), pivots))

  /** Column wrapper for [[TopPivotsCosine]]. */
  def topPivotsCosine(vec: Column, pivots: PivotSet, n: Int): Column =
    GraftBridge.column(TopPivotsCosine(GraftBridge.expression(vec), pivots, n))

  /** Column wrapper for [[PivotCosine]]. */
  def pivotCosine(vec: Column, idx: Column, pivots: PivotSet): Column =
    GraftBridge.column(PivotCosine(
      GraftBridge.expression(vec), GraftBridge.expression(idx), pivots))

  /** Column wrapper for [[Sq8Encode]]. */
  def sq8Encode(vec: Column, mns: Column, mxs: Column): Column =
    GraftBridge.column(Sq8Encode(
      GraftBridge.expression(vec), GraftBridge.expression(mns), GraftBridge.expression(mxs)))

  /** Column wrapper for [[Sq8Decode]]. */
  def sq8Decode(code: Column, mns: Column, mxs: Column): Column =
    GraftBridge.column(Sq8Decode(
      GraftBridge.expression(code), GraftBridge.expression(mns), GraftBridge.expression(mxs)))
}
