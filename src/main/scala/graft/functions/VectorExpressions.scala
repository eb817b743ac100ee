package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}
import VectorKernel.{call, checkVec, isFloat}

/* The vector expressions: dot, cosine, squared L2, normalize and the SQ8
 * encode/decode pair, each one native Catalyst expression instead of an
 * interpreted `aggregate(zip_with(…))` / `transform(…)` higher-order chain
 * (an intermediate array and a lambda frame per element; HOFs are
 * CodegenFallback). Each loop is written once, in [[VectorKernel]]:
 * `nullSafeEval` calls it on the evaluated children, and `doGenCode`
 * emits one call to it, so interpreted and generated code cannot drift
 * apart. Arithmetic (left-to-right double sums, exact float→double
 * promotion) replays the HOF forms kept in [[VectorFunctions]] and the
 * DuckDB oracles bit for bit.
 */

/** x·y over the common prefix of two numeric arrays. */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = checkVec("dot_product", left, right)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.dot(a.asInstanceOf[ArrayData], isFloat(left), b.asInstanceOf[ArrayData], isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      call(VectorKernel, "dot", x, isFloat(left).toString, y, isFloat(right).toString))

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity of two numeric arrays in one pass
  * ([[VectorKernel.cosine]]); null when either norm is 0 — bit-identical
  * to the three-[[DotProduct]] Column form kept as
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

  override def checkInputDataTypes(): TypeCheckResult = checkVec("cosine_sim", left, right)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.cosine(a.asInstanceOf[ArrayData], isFloat(left), b.asInstanceOf[ArrayData], isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val r = ctx.freshName("cos")
      val cos = call(VectorKernel, "cosine", x, isFloat(left).toString, y, isFloat(right).toString)
      s"""
         |java.lang.Double $r = $cos;
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ (x − y)² over the common prefix of two numeric arrays: the same
  * bits as the `aggregate(zip_with(...))` HOF form on equal-length inputs
  * (the only case the engine produces; the HOF null-pads the shorter
  * side to a null result).
  */
case class L2DistanceSq(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = checkVec("l2_distance_sq", left, right)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.l2DistanceSq(a.asInstanceOf[ArrayData], isFloat(left), b.asInstanceOf[ArrayData], isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      call(VectorKernel, "l2DistanceSq", x, isFloat(left).toString, y, isFloat(right).toString))

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** A numeric array scaled to a unit vector; a zero vector passes through
  * as its double cast. Replaces `when(n === 0, v).otherwise(transform(v,
  * x => x / n))`, whose lambda body EMBEDS the `n = sqrt(dot(v, v))`
  * subtree: interpreted HOF eval re-evaluates it per element, O(dim²)
  * per row (~1M multiply-adds at dim 1024, the sf100 probe's dominant
  * prepare cost). Assumes no null elements (embedding columns never
  * carry them).
  */
case class NormalizeL2(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = checkVec("normalize_l2", child)

  override def nullSafeEval(a: Any): Any =
    VectorKernel.normalize(a.asInstanceOf[ArrayData], isFloat(child))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x =>
      call(VectorKernel, "normalize", x, isFloat(child).toString))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQ8 encode: per-dimension affine map to an 8-bit code given the
  * per-dimension [min, max] stats arrays. It replays the Column form
  * `least(255, greatest(0, floor((x − mn) · 255 / (mx − mn))))` EXACTLY
  * — constant dimensions (mx == mn) encode to 0 — so the DuckDB oracle
  * replaying the SQL formulation stays bit-identical (q_sq8_topk's
  * contract).
  */
case class Sq8Encode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (first.dataType, second.dataType, third.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (a, b, c) => TypeCheckResult.TypeCheckFailure(
      s"sq8_encode needs (array<float|double>, array<double>, array<double>), got $a / $b / $c")
  }

  override def nullSafeEval(v: Any, mn: Any, mx: Any): Any =
    VectorKernel.sq8Encode(v.asInstanceOf[ArrayData], isFloat(first),
      mn.asInstanceOf[ArrayData], mx.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, mns, mxs) =>
      call(VectorKernel, "sq8Encode", x, isFloat(first).toString, mns, mxs))

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** SQ8 midpoint dequantization: code c → mn + (c + ½)(mx − mn)/255,
  * replaying the Column form's association — mn + (((c + 0.5) · (mx −
  * mn)) / 255) — exactly.
  */
case class Sq8Decode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (first.dataType, second.dataType, third.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (a, b, c) => TypeCheckResult.TypeCheckFailure(
      s"sq8_decode needs (array<int>, array<double>, array<double>), got $a / $b / $c")
  }

  override def nullSafeEval(c: Any, mn: Any, mx: Any): Any =
    VectorKernel.sq8Decode(c.asInstanceOf[ArrayData], mn.asInstanceOf[ArrayData], mx.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, mns, mxs) => call(VectorKernel, "sq8Decode", c, mns, mxs))

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object VectorExpressions {
  import org.apache.spark.sql.GraftBridge
  import org.apache.spark.sql.functions.lit

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
