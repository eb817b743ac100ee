package graft.store

import graft.clean.TextCleaner
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Collection storage (reference milvus_store.py:78-234, SURVEY.md §2.1
  * S10-S12). A "collection" is a directory of parquet partitioned by
  * folder-derived collection name — Milvus's per-folder collections
  * become partition pruning (O3), batched insert becomes the parquet
  * writer, flush becomes the atomic commit protocol (O10).
  */
final class VectorStore(root: String) {

  private def dir(collection: String) = s"$root/$collection"

  /** S10 — write one collection (drop_existing ≡ overwrite), as is:
    * callers apply the reference's insert-time caps (C18) first with
    * [[graft.clean.TextCleaner.capForStore]].
    */
  def writeCollection(df: DataFrame, collection: String, overwrite: Boolean = true): Unit = {
    val mode = if (overwrite) SaveMode.Overwrite else SaveMode.Append
    df.write.mode(mode).parquet(dir(collection))
  }

  /** G1 — route one DataFrame into per-folder collections in a single
    * pass: `partitionBy` gives one directory per collection with no
    * driver loop (vs the reference's per-folder insert loop,
    * milvus_store.py:144-166).
    *
    * `extraPartitionCols` nests further partition levels under the
    * collection — the O1 composite layout: with `Seq("language")`, the
    * language-aware pre-k filter (search_utils.py:18-38 query-language
    * routing) becomes DIRECTORY pruning too, so a Korean query against
    * one collection reads `collection=X/language=korean/` and nothing
    * else. Keep extra levels low-cardinality (language ~5 values) —
    * every level multiplies directory count.
    *
    * Returns the written store read back with the schema it was written
    * with, without a schema-inference job: Spark lays it out as a plain
    * [[readAll]] does, data columns first, then the partition columns
    * in directory order.
    */
  def writePartitioned(
      df: DataFrame,
      collectionCol: String,
      prefix: String,
      extraPartitionCols: Seq[String] = Nil
  ): DataFrame = {
    val out = df.withColumn("collection", TextCleaner.collectionName(col(collectionCol), prefix))
    out.write
      .mode(SaveMode.Overwrite)
      .partitionBy("collection" +: extraPartitionCols: _*)
      .parquet(root)
    out.sparkSession.read.schema(out.schema).parquet(root)
  }

  def readCollection(spark: SparkSession, collection: String): DataFrame =
    spark.read.parquet(dir(collection))

  /** Read the partitioned store; filtering on `collection` prunes
    * directories (partition pruning, O3).
    */
  def readAll(spark: SparkSession): DataFrame = spark.read.parquet(root)

  /** S13/O5 — persist an IVF-labeled corpus partitioned by cluster_id:
    * an ANN probe of nprobe clusters becomes parquet PARTITION PRUNING
    * (only those directories are read) — the storage layout that makes
    * IVF search sublinear at 100 TB.
    */
  def writeIndexed(labeled: DataFrame, collection: String): Unit =
    labeled.write
      .mode(SaveMode.Overwrite)
      .partitionBy("cluster_id")
      .parquet(dir(collection))

  /** Bucketed catalog table — the co-located-join layout: two tables
    * bucketed (and sorted) on the same key join WITHOUT a shuffle or a
    * sort, the key optimization for repeated chunk↔embedding or
    * chunk↔metadata joins across pipeline stages at 100 TB.
    * (Bucketing requires the table catalog; directory parquet cannot
    * carry bucket metadata.)
    */
  def writeBucketedTable(
      df: DataFrame,
      table: String,
      bucketCol: String,
      numBuckets: Int
  ): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** S12 — per-collection row counts. */
  def stats(spark: SparkSession): DataFrame =
    readAll(spark).groupBy("collection").count().orderBy("collection")

  /** S11 — drop a collection / everything (reference reset,
    * main.py:243-277).
    */
  def dropCollection(collection: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir(collection)))

  /** S10 + dynamic field — write with the overflow map packed first. */
  def writeCollectionDynamic(
      df: DataFrame,
      collection: String,
      fixedCols: Seq[String] = graft.model.Chunk.FixedFields,
      overwrite: Boolean = true
  ): Unit =
    writeCollection(VectorStore.packDynamicFields(df, fixedCols), collection, overwrite)

  def dropAll(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
}

object VectorStore {

  /** Dynamic-field overflow (reference `enable_dynamic_field=True`,
    * milvus_store.py:65; SURVEY §1.2): every column OUTSIDE the fixed
    * schema spills into one `extra: map<string,string>` column, so
    * ad-hoc metadata survives the store round-trip with no schema
    * migration. Null values are dropped from the map (absent key ==
    * absent field — the reference's JSON-field semantics). Pure column
    * expressions: the packing is codegen'd, no UDF, no shuffle.
    */
  def packDynamicFields(
      df: DataFrame,
      fixedCols: Seq[String],
      extraCol: String = "extra"
  ): DataFrame = {
    val fixed = fixedCols.toSet
    val dynamic = df.columns.filterNot(c => fixed.contains(c) || c == extraCol)
    val m: Column =
      if (dynamic.isEmpty) typedLit(Map.empty[String, String])
      else
        map_filter(
          map(dynamic.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*),
          (_, v) => v.isNotNull
        )
    df.withColumn(extraCol, m).drop(dynamic: _*)
  }

  /** Accessor for one dynamic field (null when absent) — the read-side
    * counterpart of [[packDynamicFields]].
    */
  def dynamicField(key: String, extraCol: String = "extra"): Column =
    element_at(col(extraCol), key)
}
