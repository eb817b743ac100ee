package graft

import graft.queries.{CatalogSupport, QueryCatalog}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The real catalog lives in [[graft.queries.QueryCatalog]]; every map
  * and set here is derived from its rows.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: the full ETL spine
    * (clean → chunk → dedup → embed → vector top-k). Driver
    * smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    QueryCatalog.queries("q_pipeline_e2e")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryCatalog.queries

  /** Load-side preparation (IVF index build + cache) for a
    * scale-factor dir — the work the reference does at insert time.
    * Benchmarks run this before the timing loop.
    */
  def prepare(spark: SparkSession, sfDir: String): Unit =
    CatalogSupport.prepare(spark, sfDir)

  /** Rows that read the prepared in-memory index artifacts — Bench
    * re-pins cache residency before timing these (see
    * QueryCatalog.indexBackedQueries).
    */
  def indexBackedQueries: Set[String] = QueryCatalog.indexBackedQueries

  /** Re-materialize evicted index-cache blocks; returns whether the
    * caches were already fully resident.
    */
  def ensureIndexCaches(spark: SparkSession, sfDir: String): Boolean =
    CatalogSupport.ensureIndexCaches(spark, sfDir)

  /** DuckDB-equivalent SQL per query; a row declared rows-only (none
    * today) is absent and gets the driver's rows > 0 check.
    */
  def oracleSql: Map[String, String] =
    QueryCatalog.oracleSql
}
