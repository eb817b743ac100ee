package graft.search

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector search operators (reference milvus_store.py:254-368,
  * SURVEY.md §2.6). Exact top-k relies on Catalyst planning
  * `orderBy(desc).limit(k)` as `TakeOrderedAndProject` — per-partition
  * heaps of size k merged on the driver, no global sort, no shuffle of
  * the full table. Metadata filters go BEFORE the top-k so semantics
  * match the reference's in-index pre-k filtering (Q2, O1).
  */
object VectorSearch {

  /** Q1 — single-collection exact top-k by cosine vs a literal query
    * vector. `predicate` (e.g. language) applies pre-k. The query vector
    * (like a string literal in the predicate) reaches the generated code
    * as a referenced object, so every query of one plan shape reuses the
    * same compiled classes (SearchFacadeSpec runs 200 distinct-norm
    * queries and pins zero compiles after the first).
    */
  def topK(
      collection: DataFrame,
      queryVec: Array[Float],
      k: Int,
      vecCol: String = "embedding",
      scoreCol: String = "score",
      predicate: Option[Column] = None
  ): DataFrame = {
    val q = typedLit(queryVec.toSeq)
    val filtered = predicate.fold(collection)(collection.filter)
    filtered
      .withColumn(scoreCol, cosineSimilarity(col(vecCol), q))
      .orderBy(desc(scoreCol))
      .limit(k)
  }

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
      topK(df, queryVec, k, vecCol, predicate = predicate)
        .withColumn("collection", lit(name))
    }
    perColl.reduce(_ unionByName _).orderBy(desc("score")).limit(k)
  }

  /** Vector-to-vector top-k JOIN: for every query row, the k nearest
    * corpus rows by cosine. Planned as a (broadcast-able) cross join +
    * per-query window top-k. The corpus side streams; only the query
    * side is materialized per task — broadcast the smaller side.
    * For the 100 TB path, prune candidates first with [[IvfIndex]] so
    * the cross product never forms.
    */
  def knnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      corpusIdCol: String,
      k: Int,
      queryVecCol: String = "embedding",
      corpusVecCol: String = "embedding"
  ): DataFrame = {
    val q = queries.select(
      col(queryIdCol).as("query_id"),
      col(queryVecCol).as("__qvec")
    )
    val c = corpus.select(
      col(corpusIdCol).as("neighbor_id"),
      col(corpusVecCol).as("__cvec")
    )
    val scored = c
      .crossJoin(broadcast(q))
      .withColumn("score", cosineSimilarity(col("__cvec"), col("__qvec")))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Hard-negative mining for retrieval training (the DPR recipe,
    * Karpukhin et al. 2020: the best negatives are the highest-scoring
    * NON-relevant passages): for each query row, the top-k most
    * cosine-similar corpus rows whose label differs from the query's —
    * same-label rows are potential positives and are excluded, as is
    * the query itself. Output (query_id, neighbor_id, score, rank).
    *
    * Shape = [[knnJoin]] with the exclusion pushed into the join: the
    * query side broadcasts, the corpus streams once, the mismatch
    * filter drops candidates BEFORE the scoring projection, and the
    * per-query top-k window sees only survivors. At IVF altitude the
    * same exclusion composes with cluster probing
    * ([[IvfIndex.knnJoin]]) — mine negatives from the probed clusters
    * only.
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
    val scored = c
      .join(broadcast(q), col("__clab") =!= col("__qlab") && col("neighbor_id") =!= col("query_id"))
      .withColumn("score", cosineSimilarity(col("__cvec"), col("__qvec")))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** Range search (the Milvus `radius`/`range_filter` search mode the
    * reference's store exposes alongside top-k): every row whose
    * similarity to the query lies in [minScore, maxScore). Unlike
    * top-k there is no global ordering step at all — the plan is scan →
    * scalar filter, embarrassingly parallel at any scale (the score
    * predicate sits on top of the scan stage; no shuffle, no heap).
    */
  def rangeSearch(
      collection: DataFrame,
      queryVec: Array[Float],
      minScore: Double,
      maxScore: Option[Double] = None,
      vecCol: String = "embedding",
      scoreCol: String = "score",
      predicate: Option[Column] = None,
      scoreRounding: Int = 4
  ): DataFrame = {
    val q = typedLit(queryVec.toSeq)
    val filtered = predicate.fold(collection)(collection.filter)
    val scored = filtered.withColumn(
      scoreCol,
      round(cosineSimilarity(col(vecCol), q), scoreRounding)
    )
    val lower = scored.filter(col(scoreCol) >= minScore)
    maxScore.fold(lower)(ub => lower.filter(col(scoreCol) < ub))
  }

  /** Grouping search (Milvus `group_by_field`): the best hit per group,
    * for the top `kGroups` groups by that best score — "most relevant
    * document per source/category". Planned as a per-group top-1
    * window; Spark rewrites the rank-1 filter to WindowGroupLimit, so
    * each partition keeps one candidate row per group before the
    * group-key shuffle — map-side pruned, skew-safe at 100 TB.
    */
  def groupedTopK(
      collection: DataFrame,
      queryVec: Array[Float],
      groupCol: String,
      kGroups: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      scoreCol: String = "score",
      scoreRounding: Int = 4
  ): DataFrame = {
    val q = typedLit(queryVec.toSeq)
    val scored = collection.withColumn(
      scoreCol,
      round(cosineSimilarity(col(vecCol), q), scoreRounding)
    )
    val w = Window.partitionBy(col(groupCol)).orderBy(desc(scoreCol), col(idCol))
    scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .orderBy(desc(scoreCol), col(groupCol))
      .limit(kGroups)
  }

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
