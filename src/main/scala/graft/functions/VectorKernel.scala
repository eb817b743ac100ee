package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** The one definition of each vector loop. The vector expressions call
  * it from interpreted eval and from generated code alike, and code
  * working on collected vectors calls its array forms. Contracts:
  *  - every sum is a left-to-right double accumulation, float elements
  *    promoted exactly, so results are bit-identical to the
  *    higher-order-function forms in [[VectorFunctions]] and to the
  *    DuckDB oracles' replays;
  *  - a dot product runs over the common prefix; a norm over the whole
  *    vector;
  *  - a zero vector has no cosine: [[cosine]] is null there, and each
  *    array-form caller picks its own answer.
  */
object VectorKernel {

  private def at(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** x·y over the common prefix. */
  def dot(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += at(x, xf, i) * at(y, yf, i); i += 1 }
    s
  }

  /** (x·y) / (|x|·|y|) in one pass with three accumulators: x·y over the
    * common prefix, x·x and y·y over each full length. Null when the
    * denominator is 0.0.
    */
  def cosine(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean): java.lang.Double = {
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.min(nx, ny)
    var xy = 0.0
    var xx = 0.0
    var yy = 0.0
    var i = 0
    while (i < n) {
      val a = at(x, xf, i)
      val b = at(y, yf, i)
      xy += a * b
      xx += a * a
      yy += b * b
      i += 1
    }
    while (i < nx) { val a = at(x, xf, i); xx += a * a; i += 1 }
    i = n
    while (i < ny) { val b = at(y, yf, i); yy += b * b; i += 1 }
    val denom = math.sqrt(xx) * math.sqrt(yy)
    if (denom == 0.0) null else java.lang.Double.valueOf(xy / denom)
  }

  /** Σ (x − y)² over the common prefix. */
  def l2DistanceSq(x: ArrayData, xf: Boolean, y: ArrayData, yf: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { val d = at(x, xf, i) - at(y, yf, i); s += d * d; i += 1 }
    s
  }

  /** x / |x| as doubles; a zero vector comes back as its double cast. */
  def normalize(x: ArrayData, xf: Boolean): ArrayData = {
    val n = x.numElements()
    val out = new Array[Double](n)
    var s = 0.0
    var i = 0
    while (i < n) { val v = at(x, xf, i); out(i) = v; s += v * v; i += 1 }
    val norm = math.sqrt(s)
    if (norm != 0.0) {
      i = 0
      while (i < n) { out(i) = out(i) / norm; i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** SQ8 code of each component: floor((x − mn)·255 / (mx − mn)) clamped
    * to [0, 255], 0 on a constant dimension (mx == mn).
    */
  def sq8Encode(x: ArrayData, xf: Boolean, mns: ArrayData, mxs: ArrayData): ArrayData = {
    val n = x.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val lo = mns.getDouble(i)
      val hi = mxs.getDouble(i)
      out(i) =
        if (hi == lo) 0
        else Math.min(255L, Math.max(0L, Math.floor((at(x, xf, i) - lo) * 255.0 / (hi - lo)).toLong)).toInt
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** SQ8 midpoint of each code: mn + ((c + 0.5)·(mx − mn)) / 255. */
  def sq8Decode(codes: ArrayData, mns: ArrayData, mxs: ArrayData): ArrayData = {
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

  /** a·b over the common prefix. */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** a·b over the common prefix. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** |a|. */
  def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

  /** |a|. */
  def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))

  private[functions] def isFloat(vec: Expression): Boolean =
    vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Every one of `vecs` is an array<float|double>. */
  private[functions] def checkVec(name: String, vecs: Expression*): TypeCheckResult =
    vecs.map(_.dataType).find {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => false
      case _ => true
    }.fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(t =>
      TypeCheckResult.TypeCheckFailure(s"$name needs array<float|double>, got $t"))

  /** Java source calling `kernel.method(args)` through its static forwarder. */
  private[functions] def call(kernel: AnyRef, method: String, args: String*): String =
    s"${kernel.getClass.getName.stripSuffix("$")}.$method(${args.mkString(", ")})"
}
