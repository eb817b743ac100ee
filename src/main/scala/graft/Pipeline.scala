package graft

import graft.chunk.Chunker
import graft.clean.TextCleaner
import graft.dedup.Dedup
import graft.embed.Embedders
import graft.lang.LanguageDetect
import graft.model.{Chunk, ChunkerConfig, Doc}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The ETL spine, defined once: clean → language → S8 ([[documents]]),
  * chunk → exact dedup ([[chunks]]) and embed ([[embedded]]). The
  * sources, `Cli`'s stages and `StreamingIngest`'s micro-batches run
  * these definitions; [[docsToChunks]] is the typed front door over them.
  * The catalog row q_pipeline_e2e keeps its own composition: its graded
  * parameters differ (a `doc_id` dedup key, a 64-d embedder, no S8
  * filter, a rebalance before embedding).
  */
object Pipeline {

  /** S8 — a document whose cleaned text is shorter than this is dropped. */
  val MinChars = 10

  /** Collection names are this prefix plus the normalized folder (C19). */
  val CollectionPrefix = "docs_"

  /** Clean → language → S8: `text` cleaned in place, `char_count` and
    * `language` taken from the cleaned text, short documents dropped.
    */
  def documents(docs: DataFrame, clean: Column => Column): DataFrame =
    docs
      .withColumn("text", clean(col("text")))
      .withColumn("char_count", length(col("text")))
      .withColumn("language", LanguageDetect.detectContentLanguage(col("text")))
      .filter(length(col("text")) >= MinChars)

  /** Chunk with the default config, then exact dedup keyed by
    * (source, chunk_index).
    */
  def chunks(docs: DataFrame): DataFrame =
    Dedup.exactDedup(
      Chunker.explodeChunks(docs, "text", "source", ChunkerConfig.default),
      "text",
      Seq("source", "chunk_index"))

  /** The default embedder's vector of each chunk's text, as `embedding`. */
  def embedded(chunks: DataFrame): DataFrame =
    Embedders.withEmbedding(chunks, "text", "embedding", Embedders.default)

  /** `Dataset[Doc]` in, `Dataset[Chunk]` out — compile-time field checks
    * over the exact collection schema (FIXTURES.md §2), with the
    * insert-time caps (C18) applied.
    */
  def docsToChunks(docs: Dataset[Doc]): Dataset[Chunk] = {
    import docs.sparkSession.implicits._
    TextCleaner.capForStore(embedded(chunks(documents(docs.toDF(), TextCleaner.cleanText))))
      .withColumn("collection", TextCleaner.collectionName(col("folder_name"), CollectionPrefix))
      .select(
        col("chunk_id"),
        col("text"),
        col("embedding"),
        col("source"),
        col("filename"),
        col("language"),
        col("chunk_index"),
        col("total_chunks"),
        col("chunk_size_chars"),
        col("chunk_size_tokens"),
        col("collection"),
        // dynamic-field overflow: empty on the typed path (Doc carries
        // no ad-hoc keys); DataFrame callers with extra columns go
        // through VectorStore.packDynamicFields / writeCollectionDynamic
        typedLit(Map.empty[String, String]).as("extra")
      )
      .as[Chunk]
  }
}
