package graft.search

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector search operators (reference milvus_store.py:254-368,
  * SURVEY.md §2.6). One ranking, written once: [[score]] adds the cosine
  * against a query vector, [[bestK]] keeps the k best rows and
  * [[bestKPerKey]] the k best rows of each key. Every search in the
  * tree — these operators, [[IvfIndex]], [[ScalarQuant]],
  * [[ProductQuant]] and the catalog's search rows — composes them.
  *
  * Exact top-k relies on Catalyst planning `orderBy(desc).limit(k)` as
  * `TakeOrderedAndProject` — per-partition heaps of size k merged on the
  * driver, no global sort, no shuffle of the full table. Metadata filters
  * go BEFORE the top-k so semantics match the reference's in-index pre-k
  * filtering (Q2, O1).
  */
object VectorSearch {

  /** A rounded score has this many decimals (Spark's HALF_UP `round`).
    * The oracles round the same double to the same grid, so a ranking on
    * the rounded score with an id tiebreak is engine-independent.
    */
  val ScoreDigits = 4

  /** `score` rounded to [[ScoreDigits]] when `rounded`, else as is. */
  private[search] def graded(score: Column, rounded: Boolean): Column =
    if (rounded) round(score, ScoreDigits) else score

  /** score — `df` plus `score`, the cosine of `vecCol` against the query
    * vector, raw or rounded. The one place a query-vector literal reaches
    * a plan. The vector (like a string literal in a predicate) reaches
    * the generated code as a referenced object, so every query of one
    * plan shape reuses the same compiled classes (SearchFacadeSpec runs
    * 200 distinct-norm queries and pins zero compiles after the first).
    */
  def score(df: DataFrame, queryVec: Array[Float], rounded: Boolean, vecCol: String = "embedding"): DataFrame =
    df.withColumn("score", graded(cosineSimilarity(col(vecCol), typedLit(queryVec.toSeq)), rounded))

  /** best-k — the k rows of highest `score`, equal scores in ascending
    * `tieBreak` order. Plans as `TakeOrderedAndProject`; the tiebreak is
    * only an extra sort key of the same heap.
    */
  def bestK(df: DataFrame, k: Int, tieBreak: Seq[String] = Nil): DataFrame =
    df.orderBy(desc("score") +: tieBreak.map(col): _*).limit(k)

  /** best-k-per-key — for each value of `key`, the k rows of highest `by`
    * (the score unless named), equal values in ascending `tieBreak`
    * order, numbered 1..k in `rank`. Spark turns the rank filter into a
    * `WindowGroupLimit`, so each partition keeps at most k rows per key
    * before the key shuffle.
    */
  def bestKPerKey(df: DataFrame, key: String, k: Int, tieBreak: Seq[String], by: String = "score"): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(desc(by) +: tieBreak.map(col): _*)
    df.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Q1 — single-collection exact top-k by cosine against a query
    * vector: [[score]] then [[bestK]]. `predicate` (e.g. language)
    * applies pre-k; `rounded` ranks on the rounded score, which needs a
    * `tieBreak` to be deterministic.
    */
  def topK(
      collection: DataFrame,
      queryVec: Array[Float],
      k: Int,
      vecCol: String = "embedding",
      predicate: Option[Column] = None,
      rounded: Boolean = false,
      tieBreak: Seq[String] = Nil
  ): DataFrame =
    bestK(score(predicate.fold(collection)(collection.filter), queryVec, rounded, vecCol), k, tieBreak)

  /** Q4 — multi-collection fan-out: per-collection top-k, tag with the
    * collection name, union, global top-k by descending similarity
    * (milvus_store.py:301-325; sort direction is correct for
    * similarity metrics — we key on similarity explicitly, not on a
    * metric-dependent "distance").
    */
  def multiCollectionTopK(
      collections: Seq[(String, DataFrame)],
      queryVec: Array[Float],
      k: Int,
      vecCol: String = "embedding",
      predicate: Option[Column] = None
  ): DataFrame = {
    val perColl = collections.map { case (name, df) =>
      topK(df, queryVec, k, vecCol, predicate).withColumn("collection", lit(name))
    }
    bestK(perColl.reduce(_ unionByName _), k)
  }

  /** Vector-to-vector top-k JOIN: for every query row, the k nearest
    * corpus rows by cosine, as (query_id, neighbor_id, score, rank).
    * Planned as a broadcast nested-loop join + [[bestKPerKey]] on the
    * query id, ties by neighbor id. The corpus side streams; only the
    * query side is materialized per task — broadcast the smaller side.
    * `excludeSelf` drops the corpus row whose id equals the query's
    * before ranking (it would take a rank slot); `rounded` ranks on the
    * rounded score. For the 100 TB path, prune candidates first with
    * [[IvfIndex.knnJoinExact]] so the cross product never forms.
    */
  def knnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      corpusIdCol: String,
      k: Int,
      queryVecCol: String = "embedding",
      corpusVecCol: String = "embedding",
      excludeSelf: Boolean = false,
      rounded: Boolean = false
  ): DataFrame = {
    val pairs = corpus.crossJoin(broadcast(
      queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qvec"))))
    rankPairs(
      if (excludeSelf) pairs.filter(col(corpusIdCol) =!= col("query_id")) else pairs,
      corpusIdCol, corpusVecCol, k, rounded)
  }

  /** Hard-negative mining for retrieval training (the DPR recipe,
    * Karpukhin et al. 2020: the best negatives are the highest-scoring
    * NON-relevant passages): for each query row, the top-k most
    * cosine-similar corpus rows whose label differs from the query's —
    * same-label rows are potential positives and are excluded, as is
    * the query itself. Output (query_id, neighbor_id, score, rank),
    * ranked on the raw score.
    *
    * [[knnJoin]]'s ranking with the exclusion pushed into the join: the
    * query side broadcasts, the corpus streams once, the mismatch
    * filter drops candidates BEFORE the scoring projection, and the
    * per-query top-k window sees only survivors.
    */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      corpusIdCol: String,
      queryLabelCol: String,
      corpusLabelCol: String,
      k: Int,
      queryVecCol: String = "embedding",
      corpusVecCol: String = "embedding"
  ): DataFrame = {
    val q = queries.select(
      col(queryIdCol).as("query_id"),
      col(queryLabelCol).as("__qlab"),
      col(queryVecCol).as("__qvec"))
    val c = corpus.select(
      col(corpusIdCol).as("neighbor_id"),
      col(corpusLabelCol).as("__clab"),
      col(corpusVecCol).as("__cvec"))
    rankPairs(
      c.join(broadcast(q), col("__clab") =!= col("__qlab") && col("neighbor_id") =!= col("query_id")),
      "neighbor_id", "__cvec", k, rounded = false)
  }

  /** The kNN-join ranking: (corpus row, query) pairs carrying the query
    * as `query_id` and `__qvec` are scored, the k best per query kept
    * (ties by the corpus id) and returned as (query_id, neighbor_id,
    * score, rank).
    */
  private def rankPairs(pairs: DataFrame, corpusIdCol: String, corpusVecCol: String, k: Int, rounded: Boolean)
      : DataFrame =
    bestKPerKey(
      pairs.withColumn("score", graded(cosineSimilarity(col(corpusVecCol), col("__qvec")), rounded)),
      "query_id", k, Seq(corpusIdCol))
      .select(col("query_id"), col(corpusIdCol).as("neighbor_id"), col("score"), col("rank"))

  /** Range search (the Milvus `radius`/`range_filter` search mode the
    * reference's store exposes alongside top-k): every row whose
    * rounded similarity to the query lies in [minScore, maxScore).
    * Unlike top-k there is no global ordering step at all — the plan is
    * scan → scalar filter, embarrassingly parallel at any scale (the
    * score predicate sits on top of the scan stage; no shuffle, no heap).
    */
  def rangeSearch(
      collection: DataFrame,
      queryVec: Array[Float],
      minScore: Double,
      maxScore: Option[Double] = None,
      vecCol: String = "embedding",
      predicate: Option[Column] = None
  ): DataFrame = {
    val scored = score(predicate.fold(collection)(collection.filter), queryVec, rounded = true, vecCol)
    val lower = scored.filter(col("score") >= minScore)
    maxScore.fold(lower)(ub => lower.filter(col("score") < ub))
  }

  /** Grouping search (Milvus `group_by_field`): the best hit per group,
    * for the top `kGroups` groups by that best score — "most relevant
    * document per source/category". [[bestKPerKey]] with k = 1 on the
    * rounded score (ties by `idCol`), then [[bestK]] over the groups
    * (ties by group). Spark rewrites the rank-1 filter to
    * WindowGroupLimit, so each partition keeps one candidate row per
    * group before the group-key shuffle — map-side pruned, skew-safe at
    * 100 TB.
    */
  def groupedTopK(
      collection: DataFrame,
      queryVec: Array[Float],
      groupCol: String,
      kGroups: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    bestK(
      bestKPerKey(score(collection, queryVec, rounded = true, vecCol), groupCol, 1, Seq(idCol)).drop("rank"),
      kGroups, Seq(groupCol))

  /** Q3 — attribute-only query: scalar filter + projection + limit
    * (test/find_curriculum.py:16-22).
    */
  def attributeQuery(
      collection: DataFrame,
      predicate: Column,
      outputFields: Seq[String],
      limit: Int
  ): DataFrame =
    collection.filter(predicate).select(outputFields.map(col): _*).limit(limit)
}
