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

/** Nearest-pivot-by-cosine cluster id: ONE generated loop over a small
  * bound pivot matrix (k × dim floats, the broadcast-centroid scale of
  * IVF/SemDeDup assignment), computing k cosines and their argmax per
  * row. Replaces a k-wide `greatest` + `when`-chain tree in which each
  * cosine subtree appears twice and the vector's own norm 2k times —
  * that tree is codegen'd but so large that at driver-test row counts
  * it never leaves the JVM interpreter (measured ~8× slower per row).
  *
  * Semantics match the SQL formulation bit-for-bit: per pivot,
  * dot/( |v|·|p| ) with left-to-right double accumulation
  * ([[DotProduct]] contract); argmax with ties to the LOWEST pivot
  * index (strict `>` while scanning in order). Pivot norms are
  * precomputed once at plan time. A zero vector (norm 0, every cosine
  * undefined) deterministically lands in the LAST cluster — the same
  * fall-through the `when`-chain had; zero vectors are not meaningful
  * under cosine and callers filter them when they can occur.
  */
case class NearestPivotCosine(child: Expression, pivots: Seq[Seq[Float]])
    extends UnaryExpression {

  require(pivots.nonEmpty, "pivots must be non-empty")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"nearest_pivot needs array<float|double>, got $t")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val matrix: Array[Array[Float]] = pivots.map(_.toArray).toArray
  @transient private lazy val pivotNorms: Array[Double] = matrix.map { p =>
    var s = 0.0; var i = 0
    while (i < p.length) { s += p(i).toDouble * p(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val nv = v.numElements()
    val f = isFloat
    var vn = 0.0
    var i = 0
    while (i < nv) {
      val x = if (f) v.getFloat(i).toDouble else v.getDouble(i)
      vn += x * x
      i += 1
    }
    if (vn == 0.0) return matrix.length - 1
    val vnorm = math.sqrt(vn)
    var best = Double.NegativeInfinity
    var bi = matrix.length - 1
    var j = 0
    while (j < matrix.length) {
      val p = matrix(j)
      val n = math.min(nv, p.length)
      var d = 0.0
      var k = 0
      while (k < n) {
        val x = if (f) v.getFloat(k).toDouble else v.getDouble(k)
        d += x * p(k).toDouble
        k += 1
      }
      val cos = d / (vnorm * pivotNorms(j))
      if (cos > best) { best = cos; bi = j }
      j += 1
    }
    bi
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    val m = ctx.addReferenceObj("pivotMatrix", matrix, "float[][]")
    val pn = ctx.addReferenceObj("pivotNorms", pivotNorms, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val nv = ctx.freshName("nv")
      val vn = ctx.freshName("vn")
      val x = ctx.freshName("x")
      val best = ctx.freshName("best")
      val bi = ctx.freshName("bi")
      val j = ctx.freshName("j")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val k = ctx.freshName("k")
      val cos = ctx.freshName("cos")
      val vnorm = ctx.freshName("vnorm")
      s"""
         |int $nv = $v.numElements();
         |double $vn = 0.0;
         |for (int $k = 0; $k < $nv; $k++) {
         |  double $x = (double) $v.$get($k);
         |  $vn += $x * $x;
         |}
         |int $bi = $m.length - 1;
         |if ($vn != 0.0) {
         |  double $vnorm = Math.sqrt($vn);
         |  double $best = Double.NEGATIVE_INFINITY;
         |  for (int $j = 0; $j < $m.length; $j++) {
         |    float[] $p = $m[$j];
         |    int ${k}n = Math.min($nv, $p.length);
         |    double $d = 0.0;
         |    for (int $k = 0; $k < ${k}n; $k++) {
         |      $d += ((double) $v.$get($k)) * ((double) $p[$k]);
         |    }
         |    double $cos = $d / ($vnorm * $pn[$j]);
         |    if ($cos > $best) { $best = $cos; $bi = $j; }
         |  }
         |}
         |${ev.value} = $bi;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Top-`n` nearest pivots by cosine, as an int array in rank order —
  * the multi-probe variant of [[NearestPivotCosine]] (same matrix
  * binding, same tie-to-lowest contract at equal cosine). Rows
  * exploded over these probes meet in EVERY shared bucket, the OR
  * pattern that recovers cluster-boundary near-dup pairs a single
  * hard assignment splits. Zero vectors return [k-1, k-2, …].
  */
case class TopPivotsCosine(child: Expression, pivots: Seq[Seq[Float]], n: Int)
    extends UnaryExpression {

  require(pivots.nonEmpty, "pivots must be non-empty")
  require(n >= 1 && n <= pivots.size, s"n must be in [1, ${pivots.size}], got $n")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"top_pivots needs array<float|double>, got $t")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val matrix: Array[Array[Float]] = pivots.map(_.toArray).toArray
  @transient private lazy val pivotNorms: Array[Double] = matrix.map { p =>
    var s = 0.0; var i = 0
    while (i < p.length) { s += p(i).toDouble * p(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val nv = v.numElements()
    val f = isFloat
    var vn = 0.0
    var i = 0
    while (i < nv) {
      val x = if (f) v.getFloat(i).toDouble else v.getDouble(i)
      vn += x * x
      i += 1
    }
    val out = new Array[Int](n)
    if (vn == 0.0) {
      var s = 0
      while (s < n) { out(s) = matrix.length - 1 - s; s += 1 }
      return UnsafeArrayData.fromPrimitiveArray(out)
    }
    val vnorm = math.sqrt(vn)
    val bestCos = Array.fill(n)(Double.NegativeInfinity)
    java.util.Arrays.fill(out, matrix.length - 1)
    var j = 0
    while (j < matrix.length) {
      val p = matrix(j)
      val m = math.min(nv, p.length)
      var d = 0.0
      var k = 0
      while (k < m) {
        val x = if (f) v.getFloat(k).toDouble else v.getDouble(k)
        d += x * p(k).toDouble
        k += 1
      }
      val cos = d / (vnorm * pivotNorms(j))
      // insertion into the top-n (strict >: ties keep the earlier pivot)
      var s = 0
      var done = false
      while (s < n && !done) {
        if (cos > bestCos(s)) {
          var t = n - 1
          while (t > s) { bestCos(t) = bestCos(t - 1); out(t) = out(t - 1); t -= 1 }
          bestCos(s) = cos; out(s) = j
          done = true
        }
        s += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    val m = ctx.addReferenceObj("topPivotMatrix", matrix, "float[][]")
    val pn = ctx.addReferenceObj("topPivotNorms", pivotNorms, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val nv = ctx.freshName("nv")
      val vn = ctx.freshName("vn")
      val x = ctx.freshName("x")
      val out = ctx.freshName("out")
      val bc = ctx.freshName("bc")
      val j = ctx.freshName("j")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val t = ctx.freshName("t")
      val cos = ctx.freshName("cos")
      val vnorm = ctx.freshName("vnorm")
      val lim = ctx.freshName("lim")
      val done = ctx.freshName("done")
      s"""
         |int $nv = $v.numElements();
         |double $vn = 0.0;
         |for (int $i = 0; $i < $nv; $i++) {
         |  double $x = (double) $v.$get($i);
         |  $vn += $x * $x;
         |}
         |int[] $out = new int[$n];
         |if ($vn == 0.0) {
         |  for (int $s = 0; $s < $n; $s++) $out[$s] = $m.length - 1 - $s;
         |} else {
         |  double[] $bc = new double[$n];
         |  java.util.Arrays.fill($bc, Double.NEGATIVE_INFINITY);
         |  java.util.Arrays.fill($out, $m.length - 1);
         |  double $vnorm = Math.sqrt($vn);
         |  for (int $j = 0; $j < $m.length; $j++) {
         |    float[] $p = $m[$j];
         |    int $lim = Math.min($nv, $p.length);
         |    double $d = 0.0;
         |    for (int $i = 0; $i < $lim; $i++) {
         |      $d += ((double) $v.$get($i)) * ((double) $p[$i]);
         |    }
         |    double $cos = $d / ($vnorm * $pn[$j]);
         |    boolean $done = false;
         |    for (int $s = 0; $s < $n && !$done; $s++) {
         |      if ($cos > $bc[$s]) {
         |        for (int $t = $n - 1; $t > $s; $t--) { $bc[$t] = $bc[$t-1]; $out[$t] = $out[$t-1]; }
         |        $bc[$s] = $cos; $out[$s] = $j;
         |        $done = true;
         |      }
         |    }
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cell-local nearest-pivot: like [[NearestPivotCosine]] but the pivot
  * matrix is selected PER ROW by a cell id from a bound 3-D array of
  * matrices — the level-2 assignment step of hierarchical k-means
  * (each level-1 cell owns its own sub-centroid matrix, the way a
  * two-level IVF/IMI trains a large nlist without an n × nlist
  * assignment pass). Returns the sub-pivot index within the row's
  * cell; same cosine/argmax/tie contract as [[NearestPivotCosine]].
  * A cell id outside [0, #cells) or a zero vector lands in the LAST
  * sub-pivot of the clamped cell.
  */
case class GroupedNearestPivotCosine(
    left: Expression, right: Expression, matrices: Seq[Seq[Seq[Float]]])
    extends BinaryExpression {

  require(matrices.nonEmpty && matrices.forall(_.nonEmpty), "matrices must be non-empty")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _) | ArrayType(DoubleType, _), IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(s"grouped_nearest_pivot needs (array<float|double>, int), got $l / $r")
  }

  private def isFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val mats: Array[Array[Array[Float]]] =
    matrices.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val matNorms: Array[Array[Double]] = mats.map(_.map { p =>
    var s = 0.0; var i = 0
    while (i < p.length) { s += p(i).toDouble * p(i).toDouble; i += 1 }
    math.sqrt(s)
  })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cell0 = b.asInstanceOf[Int]
    val cell = math.min(math.max(cell0, 0), mats.length - 1)
    val m = mats(cell); val pn = matNorms(cell)
    val nv = v.numElements()
    val f = isFloat
    var vn = 0.0
    var i = 0
    while (i < nv) {
      val x = if (f) v.getFloat(i).toDouble else v.getDouble(i)
      vn += x * x
      i += 1
    }
    if (vn == 0.0) return m.length - 1
    val vnorm = math.sqrt(vn)
    var best = Double.NegativeInfinity
    var bi = m.length - 1
    var j = 0
    while (j < m.length) {
      val p = m(j)
      val n = math.min(nv, p.length)
      var d = 0.0
      var kk = 0
      while (kk < n) {
        val x = if (f) v.getFloat(kk).toDouble else v.getDouble(kk)
        d += x * p(kk).toDouble
        kk += 1
      }
      val cos = d / (vnorm * pn(j))
      if (cos > best) { best = cos; bi = j }
      j += 1
    }
    bi
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    val ms = ctx.addReferenceObj("groupedPivotMats", mats, "float[][][]")
    val pns = ctx.addReferenceObj("groupedPivotNorms", matNorms, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, cellIn) => {
      val cell = ctx.freshName("cell")
      val m = ctx.freshName("m")
      val pn = ctx.freshName("pn")
      val nv = ctx.freshName("nv")
      val vn = ctx.freshName("vn")
      val x = ctx.freshName("x")
      val best = ctx.freshName("best")
      val bi = ctx.freshName("bi")
      val j = ctx.freshName("j")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val cos = ctx.freshName("cos")
      val vnorm = ctx.freshName("vnorm")
      val lim = ctx.freshName("lim")
      s"""
         |int $cell = Math.min(Math.max($cellIn, 0), $ms.length - 1);
         |float[][] $m = $ms[$cell];
         |double[] $pn = $pns[$cell];
         |int $nv = $v.numElements();
         |double $vn = 0.0;
         |for (int $i = 0; $i < $nv; $i++) {
         |  double $x = (double) $v.$get($i);
         |  $vn += $x * $x;
         |}
         |int $bi = $m.length - 1;
         |if ($vn != 0.0) {
         |  double $vnorm = Math.sqrt($vn);
         |  double $best = Double.NEGATIVE_INFINITY;
         |  for (int $j = 0; $j < $m.length; $j++) {
         |    float[] $p = $m[$j];
         |    int $lim = Math.min($nv, $p.length);
         |    double $d = 0.0;
         |    for (int $i = 0; $i < $lim; $i++) {
         |      $d += ((double) $v.$get($i)) * ((double) $p[$i]);
         |    }
         |    double $cos = $d / ($vnorm * $pn[$j]);
         |    if ($cos > $best) { $best = $cos; $bi = $j; }
         |  }
         |}
         |${ev.value} = $bi;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[GroupedNearestPivotCosine]] with the 3-D matrix stack behind a
  * BROADCAST VARIABLE — the large-k regime of hierarchical assignment:
  * with k ∝ n (the SemDeDup recipe) the sub-pivot stack grows without
  * bound, and a plan literal would ship it in every task closure
  * (1 GB at k = 4 M, dim 64). Identical contract to the literal
  * expression (cell clamp, argmax, tie-to-lowest, zero vector → last
  * sub-pivot), spec-pinned bit-for-bit.
  */
case class BroadcastGroupedNearestPivotCosine(
    left: Expression,
    right: Expression,
    bc: org.apache.spark.broadcast.Broadcast[(Array[Array[Array[Float]]], Array[Array[Double]])])
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _) | ArrayType(DoubleType, _), IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(s"grouped_nearest_pivot needs (array<float|double>, int), got $l / $r")
  }

  private def isFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val mats: Array[Array[Array[Float]]] = bc.value._1
  @transient private lazy val matNorms: Array[Array[Double]] = bc.value._2

  /** Same algorithm as [[GroupedNearestPivotCosine.nullSafeEval]]. */
  def evalIdx(a: Any, cell0: Int): Int = {
    val v = a.asInstanceOf[ArrayData]
    val cell = math.min(math.max(cell0, 0), mats.length - 1)
    val m = mats(cell); val pn = matNorms(cell)
    val nv = v.numElements()
    val f = isFloat
    var vn = 0.0
    var i = 0
    while (i < nv) {
      val x = if (f) v.getFloat(i).toDouble else v.getDouble(i)
      vn += x * x
      i += 1
    }
    if (vn == 0.0) return m.length - 1
    val vnorm = math.sqrt(vn)
    var best = Double.NegativeInfinity
    var bi = m.length - 1
    var j = 0
    while (j < m.length) {
      val p = m(j)
      val n = math.min(nv, p.length)
      var d = 0.0
      var kk = 0
      while (kk < n) {
        val x = if (f) v.getFloat(kk).toDouble else v.getDouble(kk)
        d += x * p(kk).toDouble
        kk += 1
      }
      val cos = d / (vnorm * pn(j))
      if (cos > best) { best = cos; bi = j }
      j += 1
    }
    bi
  }

  override def nullSafeEval(a: Any, b: Any): Any = evalIdx(a, b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bcastGroupedPivot", this,
      classOf[BroadcastGroupedNearestPivotCosine].getName)
    defineCodeGen(ctx, ev, (v, c) => s"$ref.evalIdx($v, $c)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[NearestPivotCosine]] with the pivot matrix behind a BROADCAST
  * VARIABLE instead of a plan literal. Identical contract (argmax
  * cosine, ties to the lowest index, zero vector → last pivot) —
  * pinned bit-for-bit against the literal expression by
  * VectorFunctionsSpec.
  *
  * When to use which: a plan literal is serialized into the expression
  * tree of EVERY task closure — right at IVF-centroid scale (k×dim ≤
  * ~1 MB), wrong at a 50k×1024-float eval suite (~200 MB per task
  * binary). A broadcast ships once per executor through the block
  * manager and the expression carries only the handle, so plan size
  * stays flat in |pivots| (spec-probed via serialized expression
  * size). Norms ride pre-computed in the broadcast so tasks don't
  * redo the k·dim norm pass on every deserialization.
  */
case class BroadcastNearestPivotCosine(
    child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[(Array[Array[Float]], Array[Double])])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"nearest_pivot needs array<float|double>, got $t")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val matrix: Array[Array[Float]] = bc.value._1
  @transient private lazy val pivotNorms: Array[Double] = bc.value._2

  /** Same algorithm as [[NearestPivotCosine.nullSafeEval]] — called
    * from both interpreted eval and generated code (the RegexChain
    * codegen pattern: the k·dim inner loop dwarfs one virtual call).
    */
  def evalIdx(a: Any): Int = {
    val v = a.asInstanceOf[ArrayData]
    val nv = v.numElements()
    val f = isFloat
    var vn = 0.0
    var i = 0
    while (i < nv) {
      val x = if (f) v.getFloat(i).toDouble else v.getDouble(i)
      vn += x * x
      i += 1
    }
    if (vn == 0.0) return matrix.length - 1
    val vnorm = math.sqrt(vn)
    var best = Double.NegativeInfinity
    var bi = matrix.length - 1
    var j = 0
    while (j < matrix.length) {
      val p = matrix(j)
      val n = math.min(nv, p.length)
      var d = 0.0
      var k = 0
      while (k < n) {
        val x = if (f) v.getFloat(k).toDouble else v.getDouble(k)
        d += x * p(k).toDouble
        k += 1
      }
      val cos = d / (vnorm * pivotNorms(j))
      if (cos > best) { best = cos; bi = j }
      j += 1
    }
    bi
  }

  override def nullSafeEval(a: Any): Any = evalIdx(a)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bcastNearestPivot", this,
      classOf[BroadcastNearestPivotCosine].getName)
    defineCodeGen(ctx, ev, c => s"$ref.evalIdx($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cosine between the row vector and broadcast pivot `idx` — the
  * broadcast-route mirror of
  * `cosineSimilarity(vec, element_at(litMatrix, idx + 1))`: same
  * accumulation orders as [[DotProduct]] (dot over min length, norms
  * over each full length, denom = product of sqrts), null on a zero
  * denominator. Bit-parity with the literal route is spec-pinned.
  */
case class BroadcastPivotCosine(
    left: Expression,
    right: Expression,
    bc: org.apache.spark.broadcast.Broadcast[(Array[Array[Float]], Array[Double])])
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _) | ArrayType(DoubleType, _), IntegerType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(s"pivot_cosine needs (array<float|double>, int), got $l / $r")
  }

  private def isFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val matrix: Array[Array[Float]] = bc.value._1
  @transient private lazy val pivotNorms: Array[Double] = bc.value._2

  def evalCos(a: Any, idx: Int): java.lang.Double = {
    val v = a.asInstanceOf[ArrayData]
    val p = matrix(idx)
    val nv = v.numElements()
    val f = isFloat
    var vn = 0.0
    var i = 0
    while (i < nv) {
      val x = if (f) v.getFloat(i).toDouble else v.getDouble(i)
      vn += x * x
      i += 1
    }
    val denom = math.sqrt(vn) * pivotNorms(idx)
    if (denom == 0.0) null
    else {
      val n = math.min(nv, p.length)
      var d = 0.0
      var k = 0
      while (k < n) {
        val x = if (f) v.getFloat(k).toDouble else v.getDouble(k)
        d += x * p(k).toDouble
        k += 1
      }
      java.lang.Double.valueOf(d / denom)
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = evalCos(a, b.asInstanceOf[Int])
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bcastPivotCosine", this,
      classOf[BroadcastPivotCosine].getName)
    nullSafeCodeGen(ctx, ev, (v, i) => {
      val r = ctx.freshName("cosRes")
      s"""
         |java.lang.Double $r = $ref.evalCos($v, $i);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  import org.apache.spark.sql.GraftBridge

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

  /** Column wrapper for [[NearestPivotCosine]]. */
  def nearestPivotCosine(vec: Column, pivots: Seq[Array[Float]]): Column =
    GraftBridge.column(NearestPivotCosine(GraftBridge.expression(vec), pivots.map(_.toSeq)))

  /** Broadcast a pivot matrix once per executor (norms pre-computed
    * with the same left-to-right double accumulation as [[DotProduct]],
    * so broadcast-route cosines are bit-identical to the literal
    * route's `sqrt(dot(p,p))`). Share the returned handle across
    * [[bcastNearestPivotCosine]] / [[bcastPivotCosine]] calls.
    */
  def broadcastPivots(
      spark: org.apache.spark.sql.SparkSession,
      pivots: Seq[Array[Float]]
  ): org.apache.spark.broadcast.Broadcast[(Array[Array[Float]], Array[Double])] = {
    val m = pivots.map(_.clone()).toArray
    val norms = m.map { p =>
      var s = 0.0; var i = 0
      while (i < p.length) { s += p(i).toDouble * p(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    spark.sparkContext.broadcast((m, norms))
  }

  /** Column wrapper for [[BroadcastNearestPivotCosine]]. */
  def bcastNearestPivotCosine(
      vec: Column,
      bc: org.apache.spark.broadcast.Broadcast[(Array[Array[Float]], Array[Double])]): Column =
    GraftBridge.column(BroadcastNearestPivotCosine(GraftBridge.expression(vec), bc))

  /** Column wrapper for [[BroadcastPivotCosine]]. */
  def bcastPivotCosine(
      vec: Column,
      idx: Column,
      bc: org.apache.spark.broadcast.Broadcast[(Array[Array[Float]], Array[Double])]): Column =
    GraftBridge.column(BroadcastPivotCosine(
      GraftBridge.expression(vec), GraftBridge.expression(idx), bc))

  /** Column wrapper for [[TopPivotsCosine]]. */
  def topPivotsCosine(vec: Column, pivots: Seq[Array[Float]], n: Int): Column =
    GraftBridge.column(TopPivotsCosine(GraftBridge.expression(vec), pivots.map(_.toSeq), n))

  /** Column wrapper for [[GroupedNearestPivotCosine]]. */
  def groupedNearestPivotCosine(
      vec: Column, cell: Column, matrices: Seq[Seq[Array[Float]]]): Column =
    GraftBridge.column(GroupedNearestPivotCosine(
      GraftBridge.expression(vec), GraftBridge.expression(cell),
      matrices.map(_.map(_.toSeq))))

  /** Broadcast a grouped (per-cell) pivot stack once per executor,
    * norms pre-computed like [[broadcastPivots]].
    */
  def broadcastGroupedPivots(
      spark: org.apache.spark.sql.SparkSession,
      matrices: Seq[Seq[Array[Float]]]
  ): org.apache.spark.broadcast.Broadcast[(Array[Array[Array[Float]]], Array[Array[Double]])] = {
    val mats = matrices.map(_.map(_.clone()).toArray).toArray
    val norms = mats.map(_.map { p =>
      var s = 0.0; var i = 0
      while (i < p.length) { s += p(i).toDouble * p(i).toDouble; i += 1 }
      math.sqrt(s)
    })
    spark.sparkContext.broadcast((mats, norms))
  }

  /** Column wrapper for [[BroadcastGroupedNearestPivotCosine]]. */
  def bcastGroupedNearestPivotCosine(
      vec: Column,
      cell: Column,
      bc: org.apache.spark.broadcast.Broadcast[(Array[Array[Array[Float]]], Array[Array[Double]])]): Column =
    GraftBridge.column(BroadcastGroupedNearestPivotCosine(
      GraftBridge.expression(vec), GraftBridge.expression(cell), bc))

  /** Column wrapper for [[Sq8Encode]]. */
  def sq8Encode(vec: Column, mns: Column, mxs: Column): Column =
    GraftBridge.column(Sq8Encode(
      GraftBridge.expression(vec), GraftBridge.expression(mns), GraftBridge.expression(mxs)))

  /** Column wrapper for [[Sq8Decode]]. */
  def sq8Decode(code: Column, mns: Column, mxs: Column): Column =
    GraftBridge.column(Sq8Decode(
      GraftBridge.expression(code), GraftBridge.expression(mns), GraftBridge.expression(mxs)))
}
