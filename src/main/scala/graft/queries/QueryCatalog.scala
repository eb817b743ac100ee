package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The driver-contract query catalog: every operator from SURVEY.md §2
  * (plus the training-data-pipeline additions) as a named row over the
  * testdata tables, each with DuckDB oracle SQL. Each row is declared
  * once, as a [[CatalogRow]] in its family file; every per-row map and
  * set below is derived from [[rows]]. Column names are aligned between
  * the Spark plan and the oracle; floating aggregates are rounded
  * identically on both sides so value hashing is stable.
  */
object QueryCatalog {

  type Q = (SparkSession, String) => DataFrame

  /** Every row, in name order. */
  val rows: Seq[CatalogRow] = registry(
    Seq(RelationalRows, CleanChunkRows, DedupRows, SearchRows, TextRows, MultimodalRows, StreamingRows)
      .flatMap(_.rows))

  /** `all` in name order; fails on a duplicated name, which a name-keyed
    * map would silently collapse to its last row.
    */
  private[queries] def registry(all: Seq[CatalogRow]): Seq[CatalogRow] = {
    val dups = all.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty, s"duplicate catalog row names: ${dups.toSeq.sorted.mkString(", ")}")
    all.sortBy(_.name)
  }

  val queries: Map[String, Q] = rows.map(r => r.name -> r.q).toMap

  val oracleSql: Map[String, String] =
    rows.flatMap(r => r.oracle.toOption.map(r.name -> _)).toMap

  /** Rows whose graded form slices the corpus to a replica-0 cap. Bench
    * annotates its JSON with this set, so a capped timing at a ScaleUp
    * decade is never read as a full-corpus one (ADVICE r14); full-corpus
    * decade behavior for these operators is probe-measured (SCALE.md).
    */
  val cappedQueries: Set[String] = rows.filter(_.cap.isDefined).map(_.name).toSet

  /** Rows that read the PREPARED in-memory index artifacts
    * (CatalogSupport's IVF/PQ caches). Bench re-ensures residency right
    * before timing these: the round-11 sf100 record showed q_pq_recall
    * at 8.4 s in-batch vs 0.44–0.59 s isolated because the bench batch's
    * own working set had LRU-evicted the encoded corpus between prepare
    * and the query — a harness artifact, not a plan property, and it
    * belongs outside the timed window.
    */
  val indexBackedQueries: Set[String] = rows.filter(_.indexBacked).map(_.name).toSet

  /** The named rows in the given order, or every row when none is named
    * (names are trimmed, blanks skipped). Fails naming every unknown
    * name, so a typo never runs an empty set.
    */
  def select(names: Seq[String]): Seq[CatalogRow] = {
    val wanted = names.map(_.trim).filter(_.nonEmpty).distinct
    val unknown = wanted.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown catalog queries: ${unknown.mkString(", ")}")
    if (wanted.isEmpty) rows
    else {
      val byName = rows.map(r => r.name -> r).toMap
      wanted.map(byName)
    }
  }
}
