package graft.streaming

import graft.Pipeline
import graft.clean.TextCleaner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming ingest — the incremental upgrade over the
  * reference's daily full-rebuild Airflow batch (SURVEY.md §2.7
  * "Streaming"): new document files land in a directory, each
  * micro-batch runs the spine's clean → language → S8 → chunk → dedup
  * → embed definitions ([[graft.Pipeline]], the same ones `Cli`'s
  * batch stages run) and appends to the store partitioned by folder.
  * Exactly-once via the checkpoint + parquet sink commit protocol. The
  * micro-batches are written without the insert-time caps (C18): the
  * input contract (source, folder_name, text) has no `filename`.
  */
object StreamingIngest {

  /** One micro-batch through the spine: the definitions the batch
    * stages run — one definition, two execution modes (the Spark idiom
    * the reference's per-DAG copies of the pipeline lack).
    */
  def transformBatch(docs: DataFrame): DataFrame =
    Pipeline.embedded(Pipeline.chunks(Pipeline.documents(docs, TextCleaner.cleanText)))

  /** Watch `inputDir` for parquet document files and pipe micro-batches
    * into the collection store at `storeDir`, partitioned by folder.
    * Trigger AvailableNow processes the backlog then stops — the
    * batch-friendly mode; pass a processing-time trigger for a
    * long-running ingest.
    */
  def start(
      spark: SparkSession,
      inputDir: String,
      storeDir: String,
      checkpointDir: String,
      schema: StructType,
      trigger: Trigger = Trigger.AvailableNow()
  ): StreamingQuery = {
    val stream = spark.readStream
      .schema(schema)
      .option("recursiveFileLookup", "true") // batch writers nest part files
      .parquet(inputDir)
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        transformBatch(batch)
          .withColumn("collection", TextCleaner.collectionName(col("folder_name"), Pipeline.CollectionPrefix))
          .write
          .mode("append")
          .partitionBy("collection")
          .parquet(storeDir)
      }
      .start()
  }

  /** Gap-based sessionization — the streaming-native shape of the batch
    * lag+cumulative-sum formulation (q_sessionize): `session_window`
    * merges events within `gap` of each other per user, and the
    * watermark finalizes (and emits, in append mode) a session once no
    * in-order event can extend it. State is bounded by the watermark —
    * the property the batch formulation cannot give an unbounded
    * stream.
    */
  def sessionize(
      events: DataFrame,
      tsCol: String = "ts",
      userCol: String = "user_id",
      gap: String = "30 minutes",
      watermark: String = "1 hour"
  ): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(userCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col(userCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events")
      )

  /** Windowed event aggregation with watermark — the streaming shape of
    * qEventsHourly (tumbling 1h windows, 2h late-data bound). Batch and
    * stream share the plan; tested via the batch path and exposed for
    * `readStream` composition.
    */
  def hourlyEventCounts(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events
      .withWatermark(tsCol, "2 hours")
      .groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("n_events"),
        col("sum_value")
      )
}
