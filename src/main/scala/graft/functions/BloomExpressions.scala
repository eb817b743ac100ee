package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe against a BROADCAST Bloom filter as a native
  * Catalyst predicate — the codegen'd replacement for the
  * `udf((h: Long) => bloomB.value.mightContainLong(h))` shape. The
  * boxed-lambda UDF runs once per gram on the hottest stream in the
  * dedup family (~10^10 invocations at the 10^8-document decade, one
  * `java.lang.Long` allocation each, sandwiched between codegen'd
  * stages); this stays inside whole-stage codegen and probes on the
  * primitive value.
  *
  * Accepts LONG children (probed via `mightContainLong` — the
  * [[graft.dedup.Dedup.scrubDuplicateSpans]] xxhash64 gram-hash route)
  * and STRING children (probed via `mightContainBinary` over the
  * UTF8String's UTF-8 bytes — byte-identical to the
  * `mightContainString` call the [[graft.dedup.Dedup.bloomContainmentPairs]]
  * UDF made, since `mightContainString(s)` IS
  * `mightContainBinary(s.getBytes(UTF_8))`, with no intermediate
  * java.lang.String materialized here).
  *
  * The filter rides a broadcast HANDLE (as a broadcast
  * [[PivotSet]] does): tasks carry only the
  * reference, the bits ship once per executor through the block
  * manager, and the codegen reference object is `this` so both
  * interpreted eval and generated code share one probe body.
  * Deterministic on purpose — a Bloom probe is a pure function of its
  * input for a fixed filter, and determinism lets the optimizer
  * collapse the probe into the projection that computes its child
  * (e.g. inline `xxhash64(g)` straight into the filter) instead of
  * fencing it the way the old `asNondeterministic()` UDF did.
  */
case class BloomMightContain(child: Expression, bc: Broadcast[BloomFilter])
    extends UnaryExpression with Predicate {

  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | StringType => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(s"bloom_might_contain needs bigint or string, got $t")
  }

  private def isLong: Boolean = child.dataType == LongType

  @transient private lazy val bloom: BloomFilter = bc.value

  def containsLong(v: Long): Boolean = bloom.mightContainLong(v)

  def containsUtf8(s: UTF8String): Boolean = bloom.mightContainBinary(s.getBytes)

  override def nullSafeEval(v: Any): Any =
    if (isLong) containsLong(v.asInstanceOf[Long])
    else containsUtf8(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomMightContain", this, classOf[BloomMightContain].getName)
    val call = if (isLong) "containsLong" else "containsUtf8"
    defineCodeGen(ctx, ev, c => s"$ref.$call($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomExpressions {
  import org.apache.spark.sql.GraftBridge

  /** Column wrapper for [[BloomMightContain]] — deliberately the ONLY
    * public surface. Unlike `dot_product`, this expression is NOT
    * registered in [[GraftFunctions]]: a FunctionRegistry builder gets
    * just the argument Expressions parsed from SQL text, and a
    * `Broadcast[BloomFilter]` handle cannot ride through SQL text — it
    * exists only as a JVM object created by the caller that built the
    * filter. Spark's own `bloom_filter_agg`/`might_contain` SQL pair
    * solves this by making the FILTER ITSELF a value in the plan
    * (an aggregate producing binary); callers who want a pure-SQL
    * route should use that pair. This expression exists for the dedup
    * operators' shape — filter built once on the driver, broadcast,
    * probed from codegen with zero per-row boxing — where the handle
    * is naturally in scope. (VERDICT r16 #7: documented decision over
    * a registration that could only ever throw at parse time.)
    */
  def mightContain(c: Column, bc: Broadcast[BloomFilter]): Column =
    GraftBridge.column(BloomMightContain(GraftBridge.expression(c), bc))
}
