package graft.search

import graft.functions.VectorKernel
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Result re-ranking that runs AFTER a retriever's top-k heap — MMR
  * (Maximal Marginal Relevance, Carbonell & Goldstein SIGIR'98):
  * iteratively select the candidate maximizing
  * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), trading relevance for
  * diversity so near-duplicate hits don't fill the page — the standard
  * post-processing step RAG stacks put between vector search and
  * prompt assembly (the reference assembles prompts from raw top-k,
  * rag_search.py; MMR is the diversity upgrade).
  *
  * Altitude: the input is an already-top-n candidate set (k-row scale,
  * like [[SearchFacade]]'s RAG collect), and greedy MMR is inherently
  * sequential in the number of SELECTIONS — so selection runs on the
  * driver over n rows. The corpus-scale work (scoring + top-n heap)
  * stays in the retriever's distributed plan. Never feed this
  * corpus-scale rows.
  *
  * Determinism (DuckDB-replayed in q_mmr_rerank): pairwise cosines are
  * computed left-to-right in doubles and rounded HALF_UP to
  * [[SimDigits]] (DuckDB's round-half-away-from-zero), the MMR
  * objective uses λ and (1 − λ) — the oracle spells `(1 - λ)` the same
  * way, since the IEEE double `1 − 0.7` is NOT the literal `0.3` — and
  * ties fall to ascending id.
  */
object Rerank {

  /** Decimals of a pairwise cosine, rounded before it enters the objective. */
  val SimDigits = 4

  /** Decimals of an output `mmr_score`. */
  val MmrDigits = 6

  /** MMR-select `k` rows from `candidates` (columns: idCol, relCol,
    * vecCol). Output: rank (1-based), id, mmr_score (the objective
    * value at selection time; rank 1 carries its raw relevance).
    */
  def mmr(
      candidates: DataFrame,
      k: Int,
      lambda: Double = 0.7,
      idCol: String = "vec_id",
      relCol: String = "rel",
      vecCol: String = "embedding"
  ): DataFrame = {
    val spark = candidates.sparkSession
    val rows = candidates.select(idCol, relCol, vecCol).collect()
    val ids = rows.map(_.getLong(0))
    val rels = rows.map(_.getDouble(1))
    val vecs = rows.map(_.getSeq[Float](2).map(_.toDouble).toArray)
    val n = rows.length

    def roundHalfUp(x: Double, digits: Int): Double =
      if (x.isNaN || x.isInfinite) x
      else BigDecimal(x).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble

    // a zero vector is at sim 0.0 to everything
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = VectorKernel.norm(a) * VectorKernel.norm(b)
      if (d == 0) 0.0 else VectorKernel.dot(a, b) / d
    }

    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)] // (rank, idx, mmr)
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val remaining = scala.collection.mutable.LinkedHashSet(0 until n: _*)
    // cache rounded pairwise sims lazily (n² worst case, n is k-row scale)
    val simCache = scala.collection.mutable.HashMap.empty[(Int, Int), Double]
    def sim(i: Int, j: Int): Double =
      simCache.getOrElseUpdate(
        if (i < j) (i, j) else (j, i),
        roundHalfUp(cos(vecs(i), vecs(j)), SimDigits)
      )

    var rank = 1
    while (rank <= math.min(k, n)) {
      val best =
        if (chosen.isEmpty)
          remaining.minBy(i => (-rels(i), ids(i)))
        else
          remaining.minBy { i =>
            val maxSim = chosen.iterator.map(j => sim(i, j)).max
            (-(lambda * rels(i) - (1 - lambda) * maxSim), ids(i))
          }
      val score =
        if (chosen.isEmpty) rels(best)
        else lambda * rels(best) - (1 - lambda) * chosen.iterator.map(j => sim(best, j)).max
      selected += ((rank, best, score))
      chosen += best
      remaining -= best
      rank += 1
    }

    val out = selected.map { case (r, idx, score) =>
      Row(r, ids(idx), roundHalfUp(score, MmrDigits))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq, 1),
      StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField(idCol, LongType, nullable = false),
        StructField("mmr_score", DoubleType, nullable = false)
      ))
    )
  }
}
