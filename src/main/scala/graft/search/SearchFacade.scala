package graft.search

import graft.embed.Embedder
import graft.lang.LanguageDetect
import graft.model.SearchConfig
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Search façade (reference search_utils.py:36-98, SURVEY.md §2.6
  * Q5-Q8): query-language auto-detection → metadata filter → top-k,
  * plus RAG prompt assembly (Q7) and the retrieval QA battery (Q8).
  */
object SearchFacade {

  /** Q6 — language-aware search: detect the QUERY's language (C15
    * thresholds, NOT the loader variant) unless an explicit filter is
    * given, filter pre-k, embed the query, exact top-k.
    */
  def search(
      collection: DataFrame,
      query: String,
      embedder: Embedder,
      k: Int = SearchConfig().defaultK,
      filterLanguage: Option[String] = None,
      autoDetectLanguage: Boolean = true,
      langCol: String = "language",
      vecCol: String = "embedding"
  ): DataFrame = {
    val lang: Option[String] = filterLanguage.orElse {
      if (autoDetectLanguage) Some(detectQueryLanguageScala(query)) else None
    }
    val qvec = embedder.embed(query)
    val predicate: Option[Column] = lang.map(l => col(langCol) === l)
    VectorSearch.topK(collection, qvec, k, vecCol = vecCol, predicate = predicate)
  }

  /** Q6/Q8 batch form — MANY queries against ONE collection. A naive
    * per-query loop re-executes the collection's whole upstream plan
    * (clean → detect → embed) once PER QUERY; the round-10 sf10 bench
    * measured the graded facade query at ~3× its single-pass
    * corpus-embed cost, exactly that re-derivation. This materializes
    * the NARROW projection the searches need (filter column + vector +
    * caller-kept columns) with one localCheckpoint and runs every
    * per-query top-k against those blocks.
    *
    * The blocks are released as soon as `use` returns, so a long-lived
    * session (the bench runs the facade query warm-up plus two timed
    * attempts) cannot accumulate them. `use` must fully consume the
    * per-query frames (collect / checkpoint / write) before returning —
    * after the bracket they would silently recompute from the
    * un-checkpointed lineage.
    */
  def withSearchBatch[T](
      collection: DataFrame,
      queries: Seq[(String, String)],
      embedder: Embedder,
      k: Int = SearchConfig().defaultK,
      langCol: String = "language",
      vecCol: String = "embedding",
      extraCols: Seq[String] = Nil
  )(use: Seq[(String, DataFrame)] => T): T = {
    val narrow = collection
      .select((Seq(langCol, vecCol) ++ extraCols).distinct.map(col): _*)
      .localCheckpoint()
    try use(queries.map { case (tag, q) =>
      tag -> search(narrow, q, embedder, k, langCol = langCol, vecCol = vecCol)
    })
    finally narrow.queryExecution.logical.foreach {
      // Dataset.unpersist only drops CacheManager entries: the blocks of
      // a localCheckpoint belong to the RDD under its LogicalRDD
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  private val VietChars: Set[Char] =
    "àáạảãâầấậẩẫăằắặẳẵèéẹẻẽêềếệểễìíịỉĩòóọỏõôồốộổỗơờớợởỡùúụủũưừứựửữỳýỵỷỹđ".toSet

  /** Driver-side C15 (the query is a single driver-side string). Same
    * thresholds as the Column variant: korean > 10%, viet > 5% on the
    * lowercased text, default english.
    */
  def detectQueryLanguageScala(text: String): String = {
    if (text == null || text.isEmpty) return "english"
    val total = text.length.toDouble
    val kr = text.count(c => c >= '가' && c <= '힣')
    val vi = text.toLowerCase(java.util.Locale.ROOT).count(VietChars.contains)
    if (kr / total > 0.1) "korean"
    else if (vi / total > 0.05) "vietnamese"
    else "english"
  }

  /** Q7 — RAG prompt assembly: k result rows (already driver-sized) →
    * numbered context block + system/user messages
    * (search_utils.py:101-136). The collect here is the correct
    * altitude: k ≤ 10 rows.
    */
  def ragPrompt(results: DataFrame, query: String, textCol: String = "text"): Seq[(String, String)] = {
    val docs = results.select(col(textCol)).collect().map(_.getString(0))
    val context = docs.zipWithIndex
      .map { case (content, i) => s"문서 ${i + 1}: $content" }
      .mkString("\n\n")
    Seq(
      "system" -> ("다음 문서들을 참고하여 질문에 답변해 주세요.\n\n" + context),
      "user" -> query
    )
  }

  /** Q8 — retrieval QA battery: run each query through the façade,
    * return (query, rank, score, source) rows for threshold judging
    * (quality_monitor.py:101-141).
    */
  def qaBattery(
      collection: DataFrame,
      queries: Seq[String],
      embedder: Embedder,
      k: Int = 3
  )(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = withSearchBatch(collection, queries.map(q => (q, q)), embedder, k)(_
      .flatMap { case (q, hits) =>
        hits.collect().zipWithIndex.map { case (r, i) =>
          val score = r.getAs[Double]("score")
          (q, i + 1, score)
        }
      })
    rows.toDF("query", "rank", "score")
  }
}
