package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column => columnOf, expression => exprOf}
import org.apache.spark.sql.functions._

/** Vector math as Column expressions — no UDFs, evaluated inside the
  * SQL engine on ArrayData without row-object churn. Each operation is
  * a native expression over [[VectorKernel]], the one definition of its
  * loop; the `*Hof` forms spell the same arithmetic as higher-order
  * functions over double-cast arrays and stay as the reference the
  * tests pin the expressions against. Sums are left-to-right doubles,
  * which the DuckDB oracle reproduces bit-for-bit.
  */
object VectorFunctions {

  private def asDouble(a: Column): Column = a.cast("array<double>")

  /** Dot product: sum(a[i] * b[i]) left-to-right, as the
    * [[DotProduct]] expression over [[VectorKernel.dot]] (float→double
    * promotion is exact, so results are bit-identical to the
    * higher-order-function formulation kept below for cross-checking).
    */
  def dotProduct(a: Column, b: Column): Column = columnOf(DotProduct(exprOf(a), exprOf(b)))

  /** Reference HOF formulation of the dot product (slower; used by
    * tests to pin the fast path's semantics).
    */
  def dotProductHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0),
      (acc, x) => acc + x
    )

  /** Euclidean (L2) norm. */
  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  /** Cosine similarity; null on a zero vector or a null input — the
    * [[CosineSimilarity]] expression over the one-pass
    * [[VectorKernel.cosine]]. One plan shape compiles once: a literal
    * query vector reaches the generated code as a referenced object, so
    * a new query (and its norm) reuses the compiled classes.
    * Bit-identical to [[cosineSimilarityHof]].
    */
  def cosineSimilarity(a: Column, b: Column): Column = columnOf(CosineSimilarity(exprOf(a), exprOf(b)))

  /** Reference three-sum formulation of cosine similarity,
    * dot(a,b) / (l2Norm(a) * l2Norm(b)) (kept for tests to pin the fast
    * path bit-for-bit; not for query plans — with a literal operand its
    * norm constant-folds into the generated source, so each new value
    * compiles new classes).
    */
  def cosineSimilarityHof(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(null)).otherwise(dotProduct(a, b) / denom)
  }

  /** Squared L2 distance — the [[L2DistanceSq]] expression over
    * [[VectorKernel.l2DistanceSq]].
    */
  def l2DistanceSq(a: Column, b: Column): Column = columnOf(L2DistanceSq(exprOf(a), exprOf(b)))

  /** Reference HOF formulation of squared L2 distance (interpreted —
    * HOFs are CodegenFallback; kept for tests to pin the fast path).
    */
  def l2DistanceSqHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(asDouble(a), asDouble(b), (x, y) => (x - y) * (x - y)),
      lit(0.0),
      (acc, x) => acc + x
    )

  /** L2-normalize an array column to a unit vector (E3) — the
    * [[NormalizeL2]] expression over [[VectorKernel.normalize]]. The HOF
    * formulation below embeds the norm subtree INSIDE the transform
    * lambda, and interpreted HOF eval re-evaluates it per element —
    * O(dim²) multiply-adds per row (~1M at dim 1024), the dominant cost
    * the sf100 probe measured in the PQ/SQ8 prepare passes.
    */
  def normalize(a: Column): Column = columnOf(NormalizeL2(exprOf(a)))

  /** Reference HOF formulation of normalize (kept for tests to pin the
    * fast path bit-for-bit; do not use on a hot path — see above).
    */
  def normalizeHof(a: Column): Column = {
    val n = l2Norm(a)
    when(n === 0.0, asDouble(a)).otherwise(transform(asDouble(a), x => x / n))
  }
}
