package graft.dedup

import graft.functions.{PivotSet, VectorExpressions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic (embedding-space) decontamination: flag training vectors
  * whose cosine to ANY benchmark/eval vector reaches `tau` — the
  * embedding-side complement of the exact 8-gram containment
  * decontamination ([[Dedup]] — a paraphrased eval item shares no
  * 8-gram but sits next to its source in embedding space).
  *
  * Scale shape: the benchmark set is SMALL by nature (eval suites are
  * thousands of items, the corpus is billions), so it is one
  * [[graft.functions.PivotSet]] read by two expressions per corpus row:
  * [[graft.functions.NearestPivotCosine]] finds the argmax-cosine
  * benchmark in one pass (NO join, NO shuffle, cost = n·|bench|
  * multiply-adds exactly like IVF centroid assignment), and
  * [[graft.functions.PivotCosine]] scores the matched vector only (not
  * |bench| of them). The set is inline up to `maxLiteralBytes` and
  * broadcast above it, so a real eval suite never rides in task
  * closures; both forms give identical rows. Ties in the argmax go to
  * the LOWEST benchmark index = the lowest benchmark id when the caller
  * passes the set id-sorted.
  */
object SemanticDecon {

  /** Corpus rows with max-cosine ≥ tau: (idCol, bench_id, cosine).
    * `bench` must be id-sorted for the lowest-id tie contract. Zero
    * corpus vectors (cosine undefined) are never flagged. Output is
    * IDENTICAL whichever form the set takes (SemanticDeconSpec pins
    * inline ≡ broadcast bit-for-bit).
    */
  def flag(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      bench: Seq[(Long, Array[Float])],
      tau: Double,
      maxLiteralBytes: Long = PivotSet.MaxLiteralBytes
  ): DataFrame = {
    require(bench.nonEmpty, "benchmark set is empty")
    require(bench.map(_._1) == bench.map(_._1).sorted, "bench must be id-sorted")
    val pivots = PivotSet.of(corpus.sparkSession, Seq(bench.map(_._2)), maxLiteralBytes)
    corpus
      .withColumn("__bi", VectorExpressions.nearestPivotCosine(col(vecCol), pivots))
      .withColumn("cosine", VectorExpressions.pivotCosine(col(vecCol), col("__bi"), pivots))
      .withColumn("bench_id", element_at(typedLit(bench.map(_._1)), col("__bi") + 1))
      .filter(col("cosine") >= tau)
      .select(col(idCol), col("bench_id"), col("cosine"))
  }
}
