package graft

import graft.chunk.Chunker
import graft.clean.TextCleaner
import graft.dedup.Dedup
import graft.embed.{Embedder, Embedders}
import graft.lang.LanguageDetect
import graft.model.{Chunk, ChunkerConfig, Doc}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Typed front door for the ETL spine: `Dataset[Doc]` in,
  * `Dataset[Chunk]` out — compile-time field checks over the exact
  * collection schema (FIXTURES.md §2), same operators as the untyped
  * catalog path underneath.
  */
object Pipeline {

  def docsToChunks(
      docs: Dataset[Doc],
      cfg: ChunkerConfig = ChunkerConfig.default,
      embedder: Embedder = Embedders.default,
      collectionPrefix: String = "docs_"
  ): Dataset[Chunk] = {
    import docs.sparkSession.implicits._
    val cleaned = docs.toDF()
      .withColumn("text", TextCleaner.cleanText(col("text")))
      .withColumn("language", LanguageDetect.detectContentLanguage(col("text")))
      .filter(length(col("text")) >= 10)
    val chunks = Chunker.explodeChunks(cleaned, "text", "source", cfg)
    val deduped = Dedup.exactDedup(chunks, "text", Seq("source", "chunk_index"))
    val embedded = Embedders.withEmbedding(deduped, "text", "embedding", embedder)
    TextCleaner.capForStore(embedded)
      .withColumn("collection", TextCleaner.collectionName(col("folder_name"), collectionPrefix))
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
