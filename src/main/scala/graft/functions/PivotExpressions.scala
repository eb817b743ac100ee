package graft.functions

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}
import VectorKernel.{call, checkVec, isFloat}

/** A stack of k×dim float pivot matrices (IVF centroids, SemDeDup
  * pivots, an eval suite's vectors) with every pivot's L2 norm,
  * computed once here by [[VectorKernel.norm]], so a cosine against a
  * pivot is bit-identical to [[CosineSimilarity]] against the same
  * vector. A flat set is a stack of one matrix; hierarchical k-means
  * stacks one sub-pivot matrix per level-1 cell. Equality is by value
  * (bit patterns), so two plans built from equal matrices canonicalize
  * equal.
  */
final class PivotStack private (val mats: Array[Array[Array[Float]]]) extends Serializable {
  val norms: Array[Array[Double]] = mats.map(_.map(VectorKernel.norm))

  @transient private lazy val hash = java.util.Arrays.deepHashCode(mats.asInstanceOf[Array[AnyRef]])
  override def hashCode: Int = hash
  override def equals(o: Any): Boolean = o match {
    case s: PivotStack =>
      (s eq this) || (s.hash == hash &&
        java.util.Arrays.deepEquals(s.mats.asInstanceOf[Array[AnyRef]], mats.asInstanceOf[Array[AnyRef]]))
    case _ => false
  }
  override def toString: String = s"${mats.length} matrices, ${mats.map(_.length).sum} pivots"
}

object PivotStack {
  private[functions] def apply(stack: Seq[Seq[Array[Float]]]): PivotStack =
    new PivotStack(stack.map(_.map(_.clone()).toArray).toArray)
}

/** Where a [[PivotStack]] lives while a plan runs: inline, serialized
  * with the plan into every task, or behind one broadcast handle that
  * ships once per executor. [[PivotSet.of]] picks the form by size; the
  * expressions over a set and their generated code are the same for
  * both forms.
  */
sealed abstract class PivotSet extends Serializable {
  def stack: PivotStack
}

object PivotSet {

  /** Held in the plan. Right for small matrices: no block fetch. */
  final case class Inline(stack: PivotStack) extends PivotSet {
    override def toString: String = s"PivotSet(inline: $stack)"
  }

  /** Behind a broadcast handle: the plan carries the handle only. */
  final case class Broadcasted(handle: Broadcast[PivotStack]) extends PivotSet {
    @transient lazy val stack: PivotStack = handle.value
    override def toString: String = s"PivotSet(broadcast ${handle.id})"
  }

  /** Above this stack size (total floats × 4 bytes) a set is broadcast:
    * an inline set is serialized into every task closure, so a 50k ×
    * 1024-float eval suite would cost ~200 MB per task binary, and with
    * k ∝ n the hierarchical sub-pivot stack grows without bound (1 GB at
    * k = 4 M, dim 64). Below it the inline set is cheaper.
    */
  val MaxLiteralBytes: Long = 1L << 20

  // one broadcast per (SparkContext, stack), keyed weakly on the stack
  // so a model assigned repeatedly in one session ships its stack once.
  // A hit is reused only if it was made under the caller's context and
  // that context is not stopped (executors of a new context cannot
  // fetch a dead context's blocks); otherwise it is replaced. Whether a
  // broadcast was destroyed is not checked: no caller destroys these.
  private val cache =
    new java.util.WeakHashMap[Seq[Seq[Array[Float]]], (SparkContext, Broadcast[PivotStack])]()

  /** The set for `stack`, inline up to `maxLiteralBytes`, else broadcast. */
  def of(
      spark: SparkSession,
      stack: Seq[Seq[Array[Float]]],
      maxLiteralBytes: Long = MaxLiteralBytes): PivotSet = {
    require(stack.nonEmpty && stack.forall(_.nonEmpty), "pivot matrices must be non-empty")
    val bytes = stack.iterator.flatten.map(_.length.toLong * 4L).sum
    if (bytes <= maxLiteralBytes) Inline(PivotStack(stack))
    else {
      val sc = spark.sparkContext
      Broadcasted(cache.synchronized {
        val got = cache.get(stack)
        if (got != null && (got._1 eq sc) && !sc.isStopped) got._2
        else {
          val b = sc.broadcast(PivotStack(stack))
          cache.put(stack, (sc, b))
          b
        }
      })
    }
  }
}

/** The one nearest-pivot kernel. Interpreted eval and generated code
  * both call it, so there is one copy of each loop. Contracts:
  *  - a cosine is dot / (|v|·|p|), every sum a left-to-right double
  *    accumulation (the [[DotProduct]] contract; dot over the common
  *    prefix, norms over each full length);
  *  - ranking ties go to the LOWEST pivot index (strict `>` while
  *    scanning in order), and a NaN cosine never ranks;
  *  - a zero vector (every cosine undefined) ranks the pivots from the
  *    last: nearest → k−1, top-n → [k−1, k−2, …];
  *  - a cell id outside [0, #matrices) is clamped.
  */
object PivotKernel {

  /** Index of the nearest pivot of matrix `cell`. */
  def nearest(v: ArrayData, isFloat: Boolean, pivots: PivotSet, cell: Int): Int = {
    val s = pivots.stack
    val c = math.min(math.max(cell, 0), s.mats.length - 1)
    val out = new Array[Int](1)
    rank(v, isFloat, s.mats(c), s.norms(c), out)
    out(0)
  }

  /** The `n` nearest pivots of the first matrix, in rank order. */
  def topN(v: ArrayData, isFloat: Boolean, pivots: PivotSet, n: Int): ArrayData = {
    val s = pivots.stack
    val out = new Array[Int](n)
    rank(v, isFloat, s.mats(0), s.norms(0), out)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Cosine to pivot `idx` of the first matrix; null on a zero
    * denominator or an index outside the matrix.
    */
  def cosineAt(v: ArrayData, isFloat: Boolean, pivots: PivotSet, idx: Int): java.lang.Double = {
    val s = pivots.stack
    val m = s.mats(0)
    if (idx < 0 || idx >= m.length) return null
    val p = m(idx)
    val nv = v.numElements()
    val lim = math.min(nv, p.length)
    var vn = 0.0
    var d = 0.0
    var i = 0
    while (i < lim) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      vn += x * x
      d += x * p(i).toDouble
      i += 1
    }
    while (i < nv) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      vn += x * x
      i += 1
    }
    val denom = math.sqrt(vn) * s.norms(0)(idx)
    if (denom == 0.0) null else java.lang.Double.valueOf(d / denom)
  }

  /** The pivot scan: ranks the top `out.length` pivots of `m` into `out`. */
  private def rank(
      v: ArrayData, isFloat: Boolean, m: Array[Array[Float]], norms: Array[Double],
      out: Array[Int]): Unit = {
    val n = out.length
    val nv = v.numElements()
    val x = new Array[Double](nv)
    var vn = 0.0
    var i = 0
    while (i < nv) {
      x(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      vn += x(i) * x(i)
      i += 1
    }
    if (vn == 0.0) {
      i = 0
      while (i < n) { out(i) = m.length - 1 - i; i += 1 }
      return
    }
    val vnorm = math.sqrt(vn)
    val best = new Array[Double](n)
    java.util.Arrays.fill(best, Double.NegativeInfinity)
    java.util.Arrays.fill(out, m.length - 1)
    var j = 0
    while (j < m.length) {
      val p = m(j)
      val lim = math.min(nv, p.length)
      var d = 0.0
      i = 0
      while (i < lim) { d += x(i) * p(i).toDouble; i += 1 }
      val cos = d / (vnorm * norms(j))
      i = 0
      while (i < n && !(cos > best(i))) i += 1
      if (i < n) {
        System.arraycopy(best, i, best, i + 1, n - 1 - i)
        System.arraycopy(out, i, out, i + 1, n - 1 - i)
        best(i) = cos
        out(i) = j
      }
      j += 1
    }
  }

  private[functions] def checkVecInt(vec: Expression, idx: Expression, name: String): TypeCheckResult =
    if (idx.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(s"$name needs an int index, got ${idx.dataType}")
    else checkVec(name, vec)

  /** `pivots` as a reference in generated code; one Java type for both forms. */
  private[functions] def ref(ctx: CodegenContext, pivots: PivotSet): String =
    ctx.addReferenceObj("pivots", pivots, classOf[PivotSet].getName)
}

/** Nearest pivot by cosine within matrix `cell` of `pivots` (IVF and
  * SemDeDup assignment, the SemanticDecon argmax, the level-2 step of
  * hierarchical k-means): one pass over k pivots per row instead of a
  * k-wide `greatest` + `when`-chain tree, which codegens into methods
  * too large to JIT (measured ~8× slower per row). A flat set is
  * assigned with cell literal 0. Contract: [[PivotKernel]].
  */
case class NearestPivotCosine(left: Expression, right: Expression, pivots: PivotSet)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    PivotKernel.checkVecInt(left, right, "nearest_pivot")

  override def nullSafeEval(v: Any, cell: Any): Any =
    PivotKernel.nearest(v.asInstanceOf[ArrayData], isFloat(left), pivots, cell.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = PivotKernel.ref(ctx, pivots)
    defineCodeGen(ctx, ev, (v, c) =>
      call(PivotKernel, "nearest", v, isFloat(left).toString, ref, c))
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The `n` nearest pivots of a flat set by cosine, as an int array in
  * rank order: the multi-probe form of [[NearestPivotCosine]]. Rows
  * exploded over these probes meet in EVERY shared bucket, the OR
  * pattern that recovers cluster-boundary near-dup pairs a single hard
  * assignment splits. Contract: [[PivotKernel]].
  */
case class TopPivotsCosine(child: Expression, pivots: PivotSet, n: Int) extends UnaryExpression {

  require(pivots.stack.mats.length == 1, "top-n needs a flat pivot set")
  require(n >= 1 && n <= pivots.stack.mats(0).length,
    s"n must be in [1, ${pivots.stack.mats(0).length}], got $n")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = checkVec("top_pivots", child)

  override def nullSafeEval(v: Any): Any =
    PivotKernel.topN(v.asInstanceOf[ArrayData], isFloat(child), pivots, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = PivotKernel.ref(ctx, pivots)
    defineCodeGen(ctx, ev, v =>
      call(PivotKernel, "topN", v, isFloat(child).toString, ref, n.toString))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cosine between the row vector and pivot `idx` of a flat set (the
  * cosine to the assigned pivot): bit-identical to [[CosineSimilarity]]
  * against that pivot, null on a zero denominator or an `idx` outside
  * the set. Reads the same [[PivotSet]] as the assignment, so a plan
  * ships the matrix once. Contract: [[PivotKernel]].
  */
case class PivotCosine(left: Expression, right: Expression, pivots: PivotSet)
    extends BinaryExpression {

  require(pivots.stack.mats.length == 1, "cosine-at needs a flat pivot set")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    PivotKernel.checkVecInt(left, right, "pivot_cosine")

  override def nullSafeEval(v: Any, idx: Any): Any = {
    val r = PivotKernel.cosineAt(v.asInstanceOf[ArrayData], isFloat(left), pivots, idx.asInstanceOf[Int])
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = PivotKernel.ref(ctx, pivots)
    nullSafeCodeGen(ctx, ev, (v, i) => {
      val r = ctx.freshName("cos")
      s"""
         |java.lang.Double $r = ${call(PivotKernel, "cosineAt", v, isFloat(left).toString, ref, i)};
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
