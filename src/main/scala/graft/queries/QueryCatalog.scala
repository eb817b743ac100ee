package graft.queries

import graft.chunk.Chunker
import graft.clean.TextCleaner
import graft.dedup.{Dedup, SemanticDedup}
import graft.embed.{Embedders, HashEmbedder}
import graft.functions.VectorFunctions._
import graft.lang.LanguageDetect
import graft.model.{ChunkerConfig, FieldCaps}
import graft.operators.SkewTools
import graft.plans.{IvfCatalog, IvfPruning}
import graft.quality.QualityMonitor
import graft.search.{HybridSearch, IvfIndex, KeywordSearch, ProductQuant, Rerank, ScalarQuant, VectorSearch}
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The driver-contract query catalog: every operator from SURVEY.md §2
  * (plus the training-data-pipeline additions) as a named query over
  * the testdata tables, each with DuckDB oracle SQL where the
  * semantics are ANSI-SQL-expressible. Column names are aligned
  * between the Spark plan and the oracle; floating aggregates are
  * rounded identically on both sides so value hashing is stable.
  */
object QueryCatalog {

  type Q = (SparkSession, String) => DataFrame

  /** Replica-0 graded-slice caps (round 14's retirement of the
    * by-design sf100 skips): rows whose ORACLES are deliberately
    * quadratic (exhaustive all-pairs Jaccard, recursive closures,
    * non-spillable per-doc embedding state) grade a fixed-density
    * replica-0 slice so their from-first-principles answer checks
    * replay at every decade. Both values are invariant-coupled to the
    * fixture layout and the driver gate, asserted by QueryCatalogSpec:
    *
    *  - cap < [[graft.tools.ScaleUp.DefaultKeyStride]] (10^7), so the
    *    filter selects exactly the replica-0 family at every decade
    *    (ScaleUp offsets replica keys by `replica · stride`);
    *  - cap > the max driver-sf key (sf0.1 doc_ids end at 4,999), so
    *    the filter is a NO-OP at the sfs the driver grades — the gate
    *    compares the full corpus, the big sweeps a fixed-density slice.
    *
    * One definition site interpolated into BOTH the Scala filters and
    * the oracle SQL strings (VERDICT r14 #1 — the two sides of an
    * oracle pair must never slice differently).
    */
  val Replica0Cap: Long = 5000L

  /** The smaller slice for rows whose exhaustive oracle is quadratic
    * PLUS recursive/stateful (q_dedup_clusters' transitive closure
    * TIMEOUT'd DuckDB at the 5000-doc slice, sweep100_r14g;
    * q_pack_sequences' recursion depth, q_embed_neardup's all-pairs
    * verification). No-op at the sf0.01 driver gate (2000 > max
    * sf0.01 key), asserted by QueryCatalogSpec.
    */
  val Replica0CapSmall: Long = 2000L

  /** The smallest slice, for the one row whose oracle is exhaustive
    * all-pairs over SETS of tokens (q_prefix_jaccard's capped
    * exact-verify reference — list_distinct + list intersections per
    * pair in DuckDB). Named so the cap-set audit (CapAuditSpec) can
    * recognize every graded-slice cap syntactically; a bare numeric
    * literal in a filter would be indistinguishable from a semantic
    * id predicate. No-op at the sf0.001 smoke corpus only; the
    * sf0.01+ gates grade the capped slice on BOTH engines.
    */
  val Replica0CapTiny: Long = 500L

  /** Rows whose graded form slices the corpus to a fixed-density
    * replica-0 cap ([[Replica0Cap]]/[[Replica0CapSmall]]/smaller):
    * at the ScaleUp decades these rows execute (and Bench TIMES) the
    * capped slice, not the full corpus — Bench annotates its JSON
    * with this set so round-over-round comparisons and full-corpus
    * performance claims can't silently read a capped timing as an
    * uncapped one (ADVICE r14). Full-corpus decade behavior for these
    * operators is probe-measured (SCALE.md) on the realistic-dup
    * fixtures, not bench-measured.
    */
  val cappedQueries: Set[String] = Set(
    "q_ngram_jaccard", "q_minhash_lsh", "q_dedup_clusters",
    "q_simhash", "q_simhash_fast", "q_scrub_spans",
    "q_pipeline_e2e", "q_search_facade", "q_pack_sequences",
    "q_embed_neardup", "q_embed_neardup_banded", "q_prefix_jaccard",
    "q_stream_neardup",
    // r17: the recursive-CTE chunk replays exhausted DuckDB's cap on
    // the realistic sf100r fixture (non-spillable recursion carrying
    // full per-doc chunk lists over mostly-unique text) — see the
    // qChunkRecursiveSql scaladoc; full-corpus chunking at scale stays
    // graded via q_chunk_fixed / q_chunk_meta
    "q_chunk_recursive", "q_chunk_semantic",
    // r17: the repetition replay's per-doc count-map state is
    // non-spillable and exhausted BOTH the memory cap (q_repetition:
    // "Failed to allocate block") and the spill budget (q_gopher_full:
    // "failed to offload") at sf100r realistic — see the qRepetition
    // scaladoc; boundary docs ride the gopher union uncapped
    "q_repetition", "q_gopher_full",
    // r17: one hashed row per 512 payload bytes + per-doc list()
    // vector rebuild — non-spillable, OOM'd at sf100r realistic (see
    // the qMediaFeatures scaladoc)
    "q_media_features",
    // r18 cap-audit catch: graded with fixed pivots on the vec_id <
    // Replica0CapSmall slice since its cap landed (see the
    // qSemanticDedup scaladoc) but never listed here — BENCH artifacts
    // had been labeling it uncapped. CapAuditSpec now derives this set
    // from the filter sites so the omission class can't recur.
    "q_semantic_dedup")

  /** Cap/fixture routing for COMPOSED oracles rewrites every
    * base-table read of `documents`; a component SQL that writes the
    * read differently (newline between FROM and the name, different
    * case, quoting) would silently escape the rewrite and surface as a
    * confusing oracle mismatch instead of a loud error (ADVICE r14).
    * Requires every read to be in the exact canonical form the
    * replace catches, then rewrites them all.
    */
  private def rerouteDocReads(sql: String, replacement: String): String = {
    val canonical = "FROM documents"
    val exact = canonical.r.findAllIn(sql).size
    val any = "(?i)\\bfrom\\s+\"?documents\\b".r.findAllIn(sql).size
    require(exact > 0 && exact == any,
      s"non-canonical `documents` reads escape the cap rewrite (canonical=$exact, regex=$any)")
    sql.replace(canonical, replacement)
  }

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events.parquet, robust to the physical `ts` encodings the corpus
    * has shipped as (VERDICT r9 #1): TIMESTAMP(NANOS) — the original
    * driver testdata and fix_scaleup_events output, readable by Spark
    * only as long nanos under `nanosAsLong`; plain INT64 nanos — raw
    * ScaleUp output; and timestamp[us] (isAdjustedToUTC=false → NTZ)
    * — the regenerated driver testdata. Callers that use `ts` must go
    * through [[eventsMicros]]; this raw read exists for the queries
    * that only touch non-time columns but still must not fail on a
    * NANOS footer.
    */
  /** The PHYSICAL parquet encoding of the `ts` column, read from the
    * file footer itself ("NANOS" | "MICROS" | "MILLIS" | "INT64"). The
    * inferrable Spark schema is NOT trustworthy here: a rewritten file
    * can carry stale `org.apache.spark.sql.parquet.row.metadata`
    * key-value metadata whose catalyst type contradicts the parquet
    * annotation (fix_scaleup_events.py used to produce exactly that —
    * NANOS data under a timestamp_ntz metadata schema — which passes
    * analysis and then fails every scan with
    * FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH). The footer
    * is what the column reader actually decodes, so it is the only
    * ground truth worth branching on.
    */
  private def tsFooterEncoding(s: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
    val conf = s.sessionState.newHadoopConf()
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    // Probes ONE part file: every writer that has produced this corpus
    // (driver pyarrow, ScaleUp, fix_scaleup_events) writes a directory
    // with a single uniform encoding — a mixed-encoding directory would
    // fail at scan time on whichever parts disagree with the probe.
    val file =
      if (fs.getFileStatus(p).isDirectory) {
        val parts = fs.listStatus(p).map(_.getPath)
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        if (parts.isEmpty)
          sys.error(s"tsFooterEncoding: no part files under $path — cannot probe the ts encoding")
        parts.head
      } else p
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try reader.getFileMetaData.getSchema.getType(Seq("ts"): _*).asPrimitiveType()
      .getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit.toString
      case _                                 => "INT64"
    } finally reader.close()
  }

  /** events.parquet read so that non-time queries work under any `ts`
    * encoding: for a TIMESTAMP(NANOS) footer the session must carry
    * `nanosAsLong` or schema inference itself throws. The flag is set
    * ONLY when the footer demands it (and the scan consults it again at
    * execution time, so a scoped set/restore would fail at runtime); it
    * is a no-op for every other encoding and table — events is the only
    * nanos-bearing table.
    */
  private def eventsRaw(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    // NOTE this is a GLOBAL session-conf mutation made by a table read:
    // safe while events is the only nanos-bearing table (the flag is a
    // no-op everywhere else), but any FUTURE nanos-annotated table must
    // route through eventsRaw/eventsMicros-style helpers too — a bare
    // spark.read against a NANOS footer in the same session would
    // otherwise succeed or fail depending on which query ran first.
    if (tsFooterEncoding(s, path) == "NANOS")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(path)
  }

  /** events.parquet with `ts` normalized to epoch-MICROSECOND LongType
    * across every physical encoding the corpus has shipped as (VERDICT
    * r9 #1) — TIMESTAMP(NANOS), plain INT64 nanos, timestamp[us] (NTZ),
    * and the stale-metadata hybrid (see [[tsFooterEncoding]]) — matching
    * DuckDB's `epoch_us(ts)` exactly so the event-time oracles compare
    * value-for-value. The read uses an explicit schema derived from the
    * FOOTER encoding, overriding any embedded catalyst metadata.
    */
  private def eventsMicros(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{StructType, LongType, TimestampType}
    val path = s"$dir/events.parquet"
    val enc = tsFooterEncoding(s, path)
    if (enc == "NANOS") s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // catalyst type the column READER accepts for this footer: long for
    // nanos (under the flag) and raw INT64; TIMESTAMP_LTZ for micros /
    // millis — an LTZ request decodes the stored count verbatim,
    // independent of session timezone (an NTZ->LTZ cast would shift by
    // the session offset; probed against DuckDB's epoch_us)
    val tsType = if (enc == "NANOS" || enc == "INT64") LongType else TimestampType
    val base = s.read.parquet(path).schema
    val explicit = StructType(base.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val df = s.read.schema(explicit).parquet(path)
    enc match {
      // integer DIV keeps precision a double division would lose on
      // 1e18-scale values
      case "NANOS" | "INT64" => df.withColumn("ts", expr("ts DIV 1000"))
      case "MICROS" | "MILLIS" => df.withColumn("ts", unix_micros(col("ts")))
      case other => sys.error(s"events.ts: unsupported parquet encoding $other")
    }
  }

  /** Driver-side query-vector fetch (mirrors reference embed_query +
    * broadcast, milvus_store.py:271): one k-row collect, never a
    * driver-side loop over data.
    */
  private def vecOf(s: SparkSession, dir: String, vecId: Long): Array[Float] =
    tbl(s, dir, "embeddings")
      .filter(col("vec_id") === vecId)
      .select("embedding")
      .head()
      .getSeq[Float](0)
      .toArray

  // ---------------------------------------------------------------
  // Relational spine (joins / aggs / windows the engine gets from
  // Catalyst; exercised so the 100 TB plan shape is graded)
  // ---------------------------------------------------------------

  val q1Agg: Q = (s, dir) => {
    val li = tbl(s, dir, "lineitem")
    li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        // exact integer cents (the q_rollup idiom): round(sum(double), 2)
        // is bit-stable only while |sum|·n·ε stays under a cent — the
        // round-11 sf100 sweep caught this group summing ~2.8e12 over
        // 5e7 rows, where Spark's and DuckDB's reduce orders
        // legitimately diverge in the last cent. Cents sums stay under
        // 2^53, so the long→double division is exact in both engines
        // at any scale.
        (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0)
          .as("sum_base_price"),
        // l_quantity is integer-valued, so avg_qty is an INTEGER RATIO
        // — exact-integer 4-dp HALF_UP (ratioCol; the r16 midpoint
        // class), not round(avg): integer ratios can sit exactly on
        // .5·10⁻⁵ and the engines' double-rounding paths disagree there.
        // PINNED INVARIANT (ADVICE r17): this cast pair is symmetric
        // ONLY because l_quantity is integer-valued by TPC-H
        // construction — Spark's .cast("long") TRUNCATES while the
        // oracle's CAST(… AS BIGINT) rounds to nearest, so a fractional
        // quantity would silently diverge the sums. A fractional-valued
        // column must scale-to-integer first (the cents idiom above).
        sum(col("l_quantity").cast("long")).as("__sum_qty_l"),
        count(lit(1)).as("count_order")
      )
      .withColumn("avg_qty", ratioCol("__sum_qty_l", "count_order", 10000L))
      .drop("__sum_qty_l")
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("sum_base_price"), col("avg_qty"), col("count_order"))
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_base_price,
       ((2 * sum(CAST(l_quantity AS BIGINT)) * 10000 + count(*)) // (2 * count(*))) / 10000.0 AS avg_qty,
       count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  /** Join + agg + top-k. customer is the small side — broadcast it so
    * the only shuffle is the groupBy (verified in plan).
    */
  val q3JoinTopK: Q = (s, dir) => {
    val c = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = tbl(s, dir, "orders")
    val l = tbl(s, dir, "lineitem")
    // revenue terms are 10⁻⁴-exact (cents × integer-percent discount),
    // so the TRUE group sum can end exactly in .xx50 — a genuine 2-dp
    // midpoint the engines' double paths round apart (the r16 class).
    // Per-term scale-to-integer (rule-independent on identical
    // doubles) → exact bigint sum → exact-integer 2-dp HALF_UP.
    l.join(broadcast(c.join(o, c("c_custkey") === o("o_custkey"))), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * lit(10000))
        .cast("long")).as("__rev4"))
      .withColumn("revenue", expr("(__rev4 + 50) div 100").cast("double") / lit(100.0))
      .select(col("o_orderkey"), col("revenue"))
      .orderBy(desc("revenue"), col("o_orderkey"))
      .limit(10)
  }

  val q3JoinTopKSql: String =
    """SELECT o_orderkey,
       ((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) + 50) // 100) / 100.0 AS revenue
       FROM customer, orders, lineitem
       WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
       GROUP BY o_orderkey
       ORDER BY revenue DESC, o_orderkey LIMIT 10"""

  /** Star join over the two tiny dims — both broadcast, zero shuffle
    * until the final groupBy.
    */
  val qRegionJoin: Q = (s, dir) => {
    val sup = tbl(s, dir, "supplier")
    val nat = tbl(s, dir, "nation")
    val reg = tbl(s, dir, "region")
    sup
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"), round(sum(col("s_acctbal")), 2).as("total_acctbal"))
  }

  val qRegionJoinSql: String =
    """SELECT r_name, n_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS total_acctbal
       FROM supplier JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name, n_name ORDER BY r_name, n_name"""

  /** Grouped top-N per key — the reference's only window-shaped
    * computation family (K4/G6 analog) at relational scale.
    */
  val qWindowTopN: Q = (s, dir) => {
    val o = tbl(s, dir, "orders")
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    o.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        col("rn"),
        round(col("o_totalprice"), 2).as("price")
      )
  }

  val qWindowTopNSql: String =
    """SELECT o_custkey, o_orderkey, rn, round(o_totalprice, 2) AS price FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rn
         FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"""

  /** Tumbling-window aggregation over the event stream table — the
    * batch shape of the Structured Streaming path (same plan under
    * `readStream` + watermark).
    */
  val qEventsHourly: Q = (s, dir) => {
    // ts arrives as epoch micros whatever the file encoding (eventsMicros)
    val e = eventsMicros(s, dir)
      .withColumn("ts", timestamp_micros(col("ts")))
    e.groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("sum_value")
      )
      .select(unix_timestamp(col("h")).as("hour_epoch"), col("n_events"), col("n_users"), col("sum_value"))
  }

  val qEventsHourlySql: String =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       round(sum(value), 2) AS sum_value
       FROM events GROUP BY 1 ORDER BY 1"""

  /** Rollup aggregation — subtotals + grand total in one pass
    * (grouping-sets family; SURVEY §2.7 lists it as engine-for-free).
    * The money total is summed as exact integer CENTS and divided once
    * (the catalog's bit-reproducible idiom): `round(sum(double), 2)`
    * held only while |sum|·n·ε stayed under the cent — at sf10 the
    * grand-total groups reach 2.5e11 over 6M rows and the two engines'
    * summation orders legitimately diverge in the last cent (round-10
    * sf10 sweep, 21 differing rows). Cent-sums are order-independent
    * at any scale.
    */
  val qRollup: Q = (s, dir) =>
    tbl(s, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0).as("total"))

  val qRollupSql: String =
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total
       FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
       ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST"""

  /** Set operations: INTERSECT / EXCEPT distinct semantics over
    * per-user activity classes. Membership is thresholded because every
    * synthetic user emits every event type — raw type membership made
    * all three sets identical and the result empty, and a 0-row green
    * row certifies nothing (VERDICT r3). The threshold is DERIVED FROM
    * THE DATA (ADVICE r4): a user is "active" in a type iff their count
    * exceeds that type's mean per-user count — which splits each set
    * roughly in half at ANY scale factor, where the old hardcoded ≥15
    * collapsed back to empty once per-user counts outgrew it. The mean
    * is one IEEE division of exact integer aggregates (the catalog's
    * bit-reproducible idiom); verified non-empty AND op-order-sensitive
    * at sf0.001/0.01/0.1 (2/16/171 rows vs 1/21/148 swapped).
    */
  val qSetOps: Q = (s, dir) => {
    val per = eventsRaw(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val thr = per.groupBy(col("event_type"))
      .agg((sum(col("n")) * lit(1.0) / count(lit(1))).as("t"))
    val active = per.join(broadcast(thr), Seq("event_type")).filter(col("n") > col("t"))
    def users(t: String) = active.filter(col("event_type") === t).select(col("user_id"))
    users("click").intersect(users("purchase")).except(users("error"))
  }

  val qSetOpsSql: String =
    """WITH per AS (
         SELECT user_id, event_type, count(*) AS n FROM events
         GROUP BY user_id, event_type),
       thr AS (SELECT event_type, sum(n) * 1.0 / count(*) AS t FROM per GROUP BY event_type),
       active AS (
         SELECT user_id, per.event_type FROM per JOIN thr USING (event_type) WHERE n > t)
       (SELECT user_id FROM active WHERE event_type = 'click'
        INTERSECT SELECT user_id FROM active WHERE event_type = 'purchase')
       EXCEPT SELECT user_id FROM active WHERE event_type = 'error'
       ORDER BY user_id"""

  /** Gap-based sessionization: a new session starts after > 30 min of
    * user inactivity; session id = running count of session starts per
    * user (lag + cumulative sum windows — the batch shape of
    * session_window streaming aggregation).
    */
  val qSessionize: Q = (s, dir) => {
    val e = eventsMicros(s, dir)
      .select(col("user_id"), col("ts").as("ts_us"), col("value"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val gapUs = 30L * 60 * 1000 * 1000
    e.withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1L).otherwise(0L)
      )
      .withColumn("session_id", sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start"),
        max(col("ts_us")).as("session_end"),
        round(sum(col("value")), 2).as("session_value")
      )
  }

  val qSessionizeSql: String =
    """WITH t AS (
         SELECT user_id, epoch_us(ts) AS ts_us, value,
                lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_ts
         FROM events),
       marked AS (
         SELECT user_id, ts_us, value,
                CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > 1800000000 THEN 1 ELSE 0 END AS new_session
         FROM t),
       sessions AS (
         SELECT user_id, ts_us, value,
                CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM marked)
       SELECT user_id, session_id, count(*) AS n_events,
              min(ts_us) AS session_start, max(ts_us) AS session_end,
              round(sum(value), 2) AS session_value
       FROM sessions GROUP BY user_id, session_id
       ORDER BY user_id, session_id"""

  /** As-of join (backward): each purchase picks the user's most recent
    * click at-or-before it. Union+window formulation — one shuffle on
    * the key, no range explosion (operators.AsofJoin). DuckDB's native
    * ASOF LEFT JOIN is the oracle.
    */
  val qAsofJoin: Q = (s, dir) => {
    // ts is already epoch micros (eventsMicros), matching the oracle's
    // epoch_us on both output columns
    val e = eventsMicros(s, dir)
    val clicks = e
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("ts").as("click_ts"), col("value").as("click_value"))
    val purchases = e
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.operators.AsofJoin
      .asofBackward(purchases, clicks, Seq("user_id"), "ts", Seq("click_ts", "click_value"))
  }

  val qAsofJoinSql: String =
    """WITH clicks AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
         purchases AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
       SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts,
              epoch_us(c.ts) AS asof_click_ts,
              c.value AS asof_click_value
       FROM purchases p ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
       ORDER BY event_id"""

  /** G4 — 30-bin histogram over document lengths; min/max resolved in a
    * first tiny job, binning in the second (both deterministic).
    */
  val qHistogram: Q = (s, dir) =>
    QualityMonitor.histogram(
      tbl(s, dir, "documents").select(col("n_chars")),
      "n_chars",
      bins = 30
    )

  val qHistogramSql: String =
    """WITH mm AS (SELECT CAST(min(n_chars) AS DOUBLE) AS lo, CAST(max(n_chars) AS DOUBLE) AS hi FROM documents)
       SELECT CAST(least(floor((n_chars - lo) / (CASE WHEN hi > lo THEN (hi - lo) / 30 ELSE 1 END)), 29) AS INT) AS bin,
              count(*) AS "count"
       FROM documents, mm GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------------
  // Cleaning / language / token operators (C-battery)
  // ---------------------------------------------------------------

  /** Spread a small scan across all cores before a CPU-heavy per-row
    * stage (regex battery, UDF chunker, signature hashing). The local
    * testdata is one parquet row group per table, so the scan itself
    * can never parallelize past one task no matter how the file is
    * split — a testdata artifact: at production scale the same plans
    * get their parallelism from file/row-group splits and this shuffle
    * (a few hundred KB here) would be unnecessary. Applied only where
    * per-row compute dominates; cheap projections keep the plain scan.
    */
  private def rebalanced(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  // Full-output queries do NOT end in orderBy: the driver harness (and
  // check_oracles.py) sorts rows itself before hashing, and a trailing
  // global sort is not just a wasted range exchange — the range
  // partitioner's bounds-sampling pass EXECUTES the child plan a second
  // time, doubling the cost of whatever expensive projection/window/agg
  // sits below it. orderBy is kept only where it is semantics (top-k
  // before a limit).

  /** Noise wrapped around each document so the battery has real work to
    * do in BOTH engines: HTML tags (C4), template tags (C5), URLs +
    * copyright/footer lines (C8), special chars outside the keep-set
    * (C9), plus Hangul that must pass through untouched. The noise is
    * deliberately constructed so the stages DuckDB's RE2 cannot express
    * (C3's lookarounds) are provable no-ops on it: no Korean noise
    * syllables, no single-capital runs, no letter-digit adjacency, no
    * `javascript:`/`function(`, no emoji, no chars outside C2's
    * whitelist. The old trim()-only oracle additionally proved the
    * battery is identity on the raw corpus, so corpus-side interactions
    * reduce to the same regexes running on the same string in both
    * engines.
    */
  private val CleanNoiseSuffix: String =
    " </div> {{#head}}tpl{{/head}} {% if x %} ${var} " +
      "see https://example.com/abc?q=1 and www.test.com here " +
      "Copyright 2024 All Rights Reserved Page 3 of 7 " +
      "alpha = beta & gamma 페이지"

  private def noisyText: Column =
    concat(lit("<div class='x'> "), col("text"), lit(CleanNoiseSuffix))

  // The same noisy column in DuckDB SQL (single quotes doubled).
  private val NoisySqlExpr: String =
    "'<div class=''x''> ' || text || ' </div> {{#head}}tpl{{/head}} {% if x %} ${var} " +
      "see https://example.com/abc?q=1 and www.test.com here " +
      "Copyright 2024 All Rights Reserved Page 3 of 7 " +
      "alpha = beta & gamma 페이지'"

  // DuckDB (RE2) replication of the battery stages that act on the
  // noisy corpus: C2 whitelist, C4 HTML, C5 templates, C8
  // header/footer/URL, C9 special chars, C10 whitespace, C11 line trim
  // + end trim. RE2 has no (?U), but after C1/C2 only ASCII + Hangul
  // survive and Hangul is explicit in the C9 class, so ASCII \w is
  // equivalent here. C2 reuses the EXACT Java pattern (plain char
  // class, RE2-compatible; only divergence is \x0B in \s, absent from
  // every corpus) — it is a no-op on the driver corpus but NOT on the
  // ScaleUp sf1 corpus, whose per-replica `_rN` token suffixes carry
  // underscores that C2 must space out in both engines.
  private def cleanSqlChain(input: String): String = {
    val c2Class = TextCleaner.AllowedCharsPattern.replace("'", "''")
    val c2 = s"regexp_replace($input, '$c2Class', ' ', 'g')"
    val c4 = s"regexp_replace($c2, '<[^>]+>', ' ', 'g')"
    val c5 = Seq(
      "(?i)\\{\\{#?/?[^}]+\\}\\}",
      "(?i)\\{%[^%]+%\\}",
      "(?i)\\$\\{[^}]+\\}",
      "(?i)<%[^%]+%>",
      "(?i)\\[\\[[^\\]]+\\]\\]"
    ).foldLeft(c4)((acc, p) => s"regexp_replace($acc, '$p', '', 'g')")
    val c8 = Seq(
      "(?im)Copyright.*?\\d{4}",
      "(?im)All [Rr]ights [Rr]eserved",
      "(?im)Page\\s*\\d+\\s*(of\\s*\\d+)?",
      "(?im)^\\s*\\d+\\s*$",
      "(?im)\\|\\s*Page\\s*\\d+",
      "(?im)www\\..*?\\.com",
      "(?im)http[s]?://(?:[a-zA-Z]|[0-9]|[$-_@.&+]|[!*\\\\(\\\\),]|(?:%[0-9a-fA-F][0-9a-fA-F]))+"
    ).foldLeft(c5)((acc, p) => s"regexp_replace($acc, '$p', '', 'g')")
    val c9 =
      s"regexp_replace($c8, '[^\\w\\s가-힣ㄱ-ㅎㅏ-ㅣa-zA-Z0-9.,!?;:''\"\\-()\\[\\]{}+@/·•]', ' ', 'g')"
    val c10 = s"regexp_replace(regexp_replace(regexp_replace($c9, " +
      "'[ \\t]+', ' ', 'g'), '\\n\\s*\\n', chr(10)||chr(10), 'g'), " +
      "'\\n{3,}', chr(10)||chr(10), 'g')"
    s"regexp_replace(regexp_replace(regexp_replace($c10, " +
      "'(?m)^[ \\t\\x0B\\f\\r]+|[ \\t\\x0B\\f\\r]+$', '', 'g'), " +
      "'\\n{3,}', chr(10)||chr(10), 'g'), '^\\s+|\\s+$', '', 'g')"
  }

  /** Full C1-C11 battery over noise-wrapped corpus text — the oracle
    * replicates C4/C5/C8/C9/C10/C11 as DuckDB regexp_replace chains, so
    * a green row certifies the battery transforms noisy text
    * identically in both engines. Korean/HWP-noise stages stay pinned
    * by the 145 TextCleanerSpec goldens (RE2 can't express their
    * lookarounds).
    */
  val qCleanBattery: Q = (s, dir) =>
    rebalanced(tbl(s, dir, "documents"))
      .select(col("doc_id"), TextCleaner.cleanText(noisyText).as("clean_text"))

  val qCleanBatterySql: String =
    s"""SELECT doc_id, ${cleanSqlChain(s"($NoisySqlExpr)")} AS clean_text
        FROM documents ORDER BY doc_id"""

  /** C12 — HWP-strict clean over the same noisy column. On this corpus
    * (single-line docs — proven by the round-1 green trim oracle, which
    * would hash-mismatch on any multi-line doc) the line filter keeps
    * the single ≥10-char line, so the oracle is the battery chain plus
    * the observable flatten-all-whitespace quirk.
    */
  val qCleanHwp: Q = (s, dir) =>
    rebalanced(tbl(s, dir, "documents"))
      .select(col("doc_id"), TextCleaner.cleanHwpText(noisyText).as("clean_text"))

  val qCleanHwpSql: String =
    s"""SELECT doc_id, regexp_replace(regexp_replace(${cleanSqlChain(s"($NoisySqlExpr)")},
          '\\s+', ' ', 'g'), '^\\s+|\\s+$$', '', 'g') AS clean_text
        FROM documents ORDER BY doc_id"""

  /** One boundary-fixture document: `kr` hangul + `vi` diacritic +
    * `en` ASCII-letter chars, zero-digit-padded to EXACTLY 100 chars,
    * so every graded ratio is an exact k/100 rational whose IEEE
    * comparison behavior both engines share.
    */
  private def langDoc(kr: Int = 0, vi: Int = 0, en: Int = 0, viChar: String = "à"): String = {
    val s = ("가" * kr) + (viChar * vi) + ("a" * en)
    require(s.length <= 100)
    s + ("0" * (100 - s.length))
  }

  /** Boundary-fixture documents for the TWO divergent language
    * detectors (VERDICT r14 #7, the gopherBoundaryDocs pattern):
    * docs exactly AT and just above each published ratio threshold —
    * C14 content detect (kr > 0.10, vi > 0.02, en > 0.30, argmax
    * fallback with kr >= vi >= en tie order, empty → korean) and C15
    * query detect (kr > 0.1, vi > 0.05 on the LOWERED text, empty →
    * english) — so the oracle diff certifies the boundary semantics
    * (strict > excludes the exact threshold), the argmax tie order,
    * the divergent vi thresholds/empty defaults between the two
    * detectors, and C15's lower()-before-counting ('À' is only in
    * C15's set after lowering, and not in C14's raw set at all). The
    * en > 0.30 boundary has NO observable at/over flip on any single
    * doc — the argmax fallback returns english at en = 0.30 unless
    * kr/vi ≥ 0.30, which would trip their own earlier branches — so
    * the chain ORDER around it is pinned instead (kr over-threshold
    * beats en = 0.80). The same fixture unions into BOTH rows, so
    * every doc gets both detectors' verdicts. Constructed and
    * validated by tools/gen_lang_boundary.py (faithful replicas of
    * both detectors; re-run it when editing). Negative doc_ids
    * (-11..-23, disjoint from gopherBoundaryDocs' -1..-10) cannot
    * collide with any corpus at any sf.
    */
  private val langBoundaryDocs: Seq[(Long, String)] = Seq(
    (-11L, langDoc(kr = 10, en = 20)), // kr AT 0.10 → C14/C15 english
    (-12L, langDoc(kr = 11, en = 20)), // kr over → korean, both
    (-13L, langDoc(vi = 2, en = 20)),  // C14 vi AT 0.02 → english
    (-14L, langDoc(vi = 3, en = 20)),  // C14 vi over → vietnamese; C15 english (0.03 ≤ 0.05)
    (-15L, langDoc(vi = 5)),           // C15 vi AT 0.05 → english; C14 vietnamese
    (-16L, langDoc(vi = 6)),           // C15 vi over → vietnamese, both
    (-17L, langDoc(kr = 1, vi = 1)),   // C14 argmax tie kr ≥ vi → korean
    (-18L, langDoc(kr = 1, vi = 2)),   // C14 argmax vi ahead → vietnamese
    (-19L, langDoc(vi = 1, en = 1)),   // C14 argmax tie vi ≥ en → vietnamese
    (-20L, langDoc(vi = 1, en = 2)),   // C14 argmax en ahead → english
    (-21L, langDoc(kr = 15, en = 80)), // chain order: kr > 0.10 beats en = 0.80
    (-22L, ""),                        // divergent empty defaults: korean / english
    (-23L, langDoc(vi = 6, en = 1, viChar = "À"))) // C15 lower() set only → english / vietnamese

  /** The fixture as SQL VALUES (texts are letters/digits/diacritics
    * only — no quotes or newlines to escape).
    */
  private val langBoundaryValues: String = langBoundaryDocs
    .map { case (id, t) => s"($id, '$t')" }
    .mkString(",\n              ")

  private val langBoundaryCte: String =
    s"""ldocs AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM (VALUES
              $langBoundaryValues) t(doc_id, text))"""

  val qLangContent: Q = (s, dir) => {
    import s.implicits._
    rebalanced(tbl(s, dir, "documents"))
      .select(col("doc_id"), col("text"))
      .unionByName(langBoundaryDocs.toDF("doc_id", "text"))
      .select(col("doc_id"), LanguageDetect.detectContentLanguage(col("text")).as("language"))
  }

  /** C14 thresholds: korean>10%, viet>2%, english>30%, else argmax,
    * empty → korean. ASCII corpus → english when alpha>30%.
    */
  // Full threshold + argmax tiebreak chain (kr >= vi >= en), exactly
  // mirroring detectContentLanguage — no corpus-dependent ELSE shortcut.
  val qLangContentSql: String =
    s"""WITH $langBoundaryCte,
       c AS (
         SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS total,
           CAST(length(text) - length(regexp_replace(text, '[가-힣]', '', 'g')) AS DOUBLE) AS kr,
           CAST(length(text) - length(regexp_replace(text, '[ăâđêôơưĂÂĐÊÔƠƯàáảãạèéẻẽẹìíỉĩịòóỏõọùúủũụỳýỷỹỵ]', '', 'g')) AS DOUBLE) AS vi,
           CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) AS en
         FROM ldocs)
       SELECT doc_id, CASE
         WHEN total = 0 THEN 'korean'
         WHEN kr / total > 0.10 THEN 'korean'
         WHEN vi / total > 0.02 THEN 'vietnamese'
         WHEN en / total > 0.30 THEN 'english'
         WHEN kr / total >= vi / total AND kr / total >= en / total THEN 'korean'
         WHEN vi / total >= en / total THEN 'vietnamese'
         ELSE 'english' END AS language
       FROM c ORDER BY doc_id"""

  val qLangQuery: Q = (s, dir) => {
    import s.implicits._
    rebalanced(tbl(s, dir, "documents"))
      .select(col("doc_id"), col("text"))
      .unionByName(langBoundaryDocs.toDF("doc_id", "text"))
      .select(col("doc_id"), LanguageDetect.detectQueryLanguage(col("text")).as("language"))
  }

  val qLangQuerySql: String =
    s"""WITH $langBoundaryCte
       SELECT doc_id, CASE
         WHEN length(text) = 0 THEN 'english'
         WHEN length(text) - length(regexp_replace(text, '[가-힣]', '', 'g')) > 0.1 * length(text) THEN 'korean'
         WHEN length(lower(text)) - length(regexp_replace(lower(text), '[àáạảãâầấậẩẫăằắặẳẵèéẹẻẽêềếệểễìíịỉĩòóọỏõôồốộổỗơờớợởỡùúụủũưừứựửữỳýỵỷỹđ]', '', 'g')) > 0.05 * length(text) THEN 'vietnamese'
         ELSE 'english' END AS language
       FROM ldocs ORDER BY doc_id"""

  val qTokens: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .select(
        col("doc_id"),
        LanguageDetect.estimateTokens(col("text")).as("est_tokens"),
        TextAnalysis.tokenCountWhitespace(col("text")).as("ws_tokens")
      )

  val qTokensSql: String =
    """SELECT doc_id,
       CAST(floor((length(text) - length(regexp_replace(text, '[가-힣]', '', 'g'))) / 1.5
            + length(regexp_replace(text, '[가-힣]', '', 'g')) / 4.0) AS INT) AS est_tokens,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS ws_tokens
       FROM documents ORDER BY doc_id"""

  // ---------------------------------------------------------------
  // Chunking (K-operators)
  // ---------------------------------------------------------------

  private val FixedSize = 300
  private val FixedStride = 240 // size - overlap(60)

  /** Fixed-size/overlap chunk explode — the SQL-expressible chunker
    * used for oracle coverage of the Generator shape (posexplode, no
    * shuffle). The production recursive chunker is qChunkRecursive.
    */
  val qChunkFixed: Q = (s, dir) => {
    val d = tbl(s, dir, "documents")
    val len = length(col("text"))
    val n = when(len <= FixedSize, lit(1))
      .otherwise(ceil((len - FixedSize).cast("double") / FixedStride).cast("int") + 1)
    d.select(
      col("doc_id"),
      posexplode(
        transform(sequence(lit(0), n - 1), i => col("text").substr(i * FixedStride + 1, lit(FixedSize)))
      ).as(Seq("chunk_index", "chunk_text"))
    )
  }

  val qChunkFixedSql: String =
    raw"""WITH idx AS (
          SELECT doc_id, text, unnest(range(0,
            CASE WHEN length(text) <= $FixedSize THEN 1
                 ELSE CAST(ceil((length(text) - $FixedSize) / $FixedStride.0) AS INT) + 1 END)) AS i
          FROM documents)
        SELECT doc_id, CAST(i AS INT) AS chunk_index,
               substring(text, 1 + i*$FixedStride, $FixedSize) AS chunk_text
        FROM idx ORDER BY doc_id, chunk_index"""

  /** K4 + C16 + C17 metadata on the fixed chunks: index, total, sizes,
    * md5-derived chunk_id — all derived from the exploded position,
    * zero shuffle.
    */
  val qChunkMeta: Q = (s, dir) => {
    val chunks = qChunkFixed(s, dir)
    val totals = Window.partitionBy(col("doc_id"))
    chunks
      .withColumn("total_chunks", count(lit(1)).over(totals).cast("int"))
      .withColumn("chunk_size_chars", length(col("chunk_text")))
      .withColumn("chunk_size_tokens", LanguageDetect.estimateTokens(col("chunk_text")))
      .withColumn(
        "chunk_id",
        Chunker.chunkId(concat(lit("doc"), col("doc_id")), col("chunk_index"), col("chunk_text"))
      )
      .select("doc_id", "chunk_index", "total_chunks", "chunk_size_chars", "chunk_size_tokens", "chunk_id")
  }

  val qChunkMetaSql: String =
    raw"""WITH idx AS (
          SELECT doc_id, text, unnest(range(0,
            CASE WHEN length(text) <= $FixedSize THEN 1
                 ELSE CAST(ceil((length(text) - $FixedSize) / $FixedStride.0) AS INT) + 1 END)) AS i
          FROM documents),
        chunks AS (
          SELECT doc_id, CAST(i AS INT) AS chunk_index,
                 substring(text, 1 + i*$FixedStride, $FixedSize) AS chunk_text
          FROM idx)
        SELECT doc_id, chunk_index,
          CAST(count(*) OVER (PARTITION BY doc_id) AS INT) AS total_chunks,
          CAST(length(chunk_text) AS INT) AS chunk_size_chars,
          CAST(floor(length(chunk_text) / 4.0) AS INT) AS chunk_size_tokens,
          substring(md5('doc' || doc_id || '_' || chunk_index || '_' || substring(chunk_text, 1, 50)), 1, 12) AS chunk_id
        FROM chunks ORDER BY doc_id, chunk_index"""

  /** The production hybrid chunker (K1 pass-through → K2 recursive
    * split → K3 merge). Fully oracled: on this corpus (single-space
    * text, no finer separators) the recursive splitter reduces to the
    * word-level greedy merge with overlap carry-over, which the DuckDB
    * oracle replays EXACTLY via two recursive CTEs over per-doc word
    * prefix sums — split boundaries (≤300 chars, 60-char overlap pop)
    * and the K3 small-chunk merge (<100 → join with \n, cap 500) —
    * plus the full K4 metadata (sizes, token estimate, md5 chunk_id).
    * ChunkerSpec still pins the general separator-hierarchy semantics
    * the corpus doesn't exercise.
    */
  val qChunkRecursive: Q = (s, dir) =>
    Chunker
      .explodeChunks(
        rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < Replica0Cap))
          .select(col("doc_id"), col("source"), col("text")),
        "text",
        "source",
        ChunkerConfig.default
      )
      .select("doc_id", "source", "chunk_index", "total_chunks", "text", "chunk_size_chars", "chunk_size_tokens", "chunk_id")

  /** Shared CTE body: replay the chunker over `documents`, ending in an
    * `enriched` relation with every K4 metadata column. The split CTE
    * walks chunk boundaries over the word-length prefix-sum list `cl`:
    * a chunk starting at word s covers words up to
    * c = max j: cl[j]-cl[s-1] <= 300, and the next chunk starts after
    * popping the front to within the 60-char overlap
    * (s' = first j: cl[c]-cl[j-1] <= 60, +1). Chunk text is a
    * substring of the original doc (pieces carry their separator), so
    * no string rebuilding happens — only boundary arithmetic. The merge
    * CTE then replays ChunkMerger's buffer scan verbatim.
    */
  private val chunkCtes: String =
    raw"""WITH RECURSIVE
          doc AS (SELECT doc_id, source, text, length(text) AS n FROM documents),
          wpos AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                   generate_subscripts(string_split(text, ' '), 1) AS i
            FROM doc),
          wcum AS (
            SELECT doc_id, i,
                   sum(CASE WHEN i = 1 THEN length(word) ELSE length(word) + 1 END)
                     OVER (PARTITION BY doc_id ORDER BY i) AS cum
            FROM wpos),
          cums AS (
            SELECT doc_id, list(cum ORDER BY i) AS cl FROM wcum GROUP BY doc_id),
          big AS (
            SELECT d.doc_id, d.text, c.cl, len(c.cl) AS nw
            FROM doc d JOIN cums c USING (doc_id) WHERE d.n > 500),
          split AS (
            SELECT doc_id, text, cl, nw, 1 AS k,
                   1 AS s, 0::BIGINT AS startc,
                   len(list_filter(cl, x -> x <= 300)) AS c
            FROM big
            UNION ALL
            SELECT doc_id, text, cl, nw, k + 1,
                   len(list_filter(cl, x -> x < cl[c] - 60)) + 2 AS s2,
                   cl[len(list_filter(cl, x -> x < cl[c] - 60)) + 1] AS startc2,
                   len(list_filter(cl, x -> x - cl[len(list_filter(cl, x -> x < cl[c] - 60)) + 1] <= 300)) AS c2
            FROM split WHERE c < nw),
          split_chunks AS (
            SELECT doc_id, k,
                   CASE WHEN s = 1 THEN substring(text, 1, CAST(cl[c] AS INT))
                        ELSE substring(text, CAST(startc + 2 AS INT), CAST(cl[c] - startc - 1 AS INT)) END AS chunk
            FROM split),
          pre_merge AS (
            SELECT doc_id, list(chunk ORDER BY k) AS chunks FROM split_chunks GROUP BY doc_id
            UNION ALL
            SELECT doc_id, [text] AS chunks FROM doc WHERE n <= 500),
          mstate AS (
            SELECT doc_id, 1 AS pos, chunks[1] AS buffer, []::VARCHAR[] AS emitted, len(chunks) AS nc, chunks
            FROM pre_merge
            UNION ALL
            SELECT doc_id, pos + 1,
              CASE WHEN (length(buffer) < 100 OR length(chunks[pos+1]) < 100)
                        AND length(buffer || chr(10) || chunks[pos+1]) <= 500
                   THEN buffer || chr(10) || chunks[pos+1] ELSE chunks[pos+1] END,
              CASE WHEN (length(buffer) < 100 OR length(chunks[pos+1]) < 100)
                        AND length(buffer || chr(10) || chunks[pos+1]) <= 500
                   THEN emitted ELSE list_append(emitted, buffer) END,
              nc, chunks
            FROM mstate WHERE pos < nc),
          finals AS (
            SELECT doc_id, list_append(emitted, buffer) AS chunks FROM mstate WHERE pos = nc),
          exploded AS (
            SELECT f.doc_id, d.source,
                   CAST(generate_subscripts(f.chunks, 1) - 1 AS INT) AS chunk_index,
                   CAST(len(f.chunks) AS INT) AS total_chunks,
                   unnest(f.chunks) AS text
            FROM finals f JOIN doc d USING (doc_id)),
          enriched AS (
            SELECT doc_id, source, chunk_index, total_chunks, text,
                   CAST(length(text) AS INT) AS chunk_size_chars,
                   CAST(floor((length(text) - length(regexp_replace(text, '[가-힣]', '', 'g'))) / 1.5
                        + length(regexp_replace(text, '[가-힣]', '', 'g')) / 4.0) AS INT) AS chunk_size_tokens,
                   substring(md5(coalesce(source, 'unknown') || '_' || chunk_index || '_' || substring(text, 1, 50)), 1, 12) AS chunk_id
            FROM exploded)"""

  private def chunkOracle(finalSelect: String): String =
    chunkCtes + raw"""
          SELECT $finalSelect FROM enriched ORDER BY doc_id, chunk_index"""

  /** The two recursive-replay rows grade the replica-0 slice (r17):
    * DuckDB's recursive CTEs are non-spillable, and the mstate CTE
    * carries each doc's full chunk LIST per recursion step — on the
    * REALISTIC sf100r fixture (mostly-unique salted text, so no shared
    * string dictionary) both oracles exhausted a ~107 GB cap
    * (records/sweep_sf100r_r17.log), while the maximal sf100 fixture
    * passed in r13/r14 only because its text universe is tiny. Same
    * re-scope as q_pipeline_e2e (r14e): no-op at the driver sfs (cap >
    * max driver doc_id — the gate still compares the FULL corpus),
    * fixed-density slice at the ScaleUp decades. Full-corpus chunker
    * execution at scale stays covered by q_chunk_fixed / q_chunk_meta
    * (non-recursive oracles, PASS at sf100r with 20.2M rows).
    */
  val qChunkRecursiveSql: String = rerouteDocReads(
    chunkOracle("doc_id, source, chunk_index, total_chunks, text, chunk_size_chars, chunk_size_tokens, chunk_id"),
    s"FROM (SELECT * FROM documents WHERE doc_id < $Replica0Cap)")

  val qChunkSemanticSql: String = rerouteDocReads(
    chunkOracle("doc_id, chunk_index, total_chunks, text, chunk_id"),
    s"FROM (SELECT * FROM documents WHERE doc_id < $Replica0Cap)")

  /** K1 semantic-first hybrid chunking (sentence embeddings +
    * percentile-70 breakpoints, then K2/K3 size optimization).
    * Oracled: this corpus has no sentence boundaries (no `.!?` runs, no
    * newlines), so the semantic stage's own <2-sentences fallback
    * (SemanticSplitterSpec pins it) passes the text through and the
    * result is exactly the K2/K3 pipeline — the same recursive-CTE
    * oracle as q_chunk_recursive, projected to this query's columns.
    * SemanticSplitterSpec covers the breakpoint math the corpus can't.
    */
  val qChunkSemantic: Q = (s, dir) => {
    val semantic = new graft.chunk.SemanticSplitter(new HashEmbedder(dim = 64))
    Chunker
      .explodeChunks(
        rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < Replica0Cap))
          .select(col("doc_id"), col("source"), col("text")),
        "text",
        "source",
        ChunkerConfig.default.copy(chunkingMode = "semantic_first"),
        Some(semantic)
      )
      .select("doc_id", "chunk_index", "total_chunks", "text", "chunk_id")
  }

  // ---------------------------------------------------------------
  // Dedup family (K5 + training-data near-dup ops)
  // ---------------------------------------------------------------

  /** K5 exact dedup over the fixed chunks, keep-first by
    * (doc_id, chunk_index) — deterministic distributed "first".
    */
  val qDedupExact: Q = (s, dir) => {
    val chunks = qChunkFixed(s, dir)
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"), col("chunk_index"))
    chunks
      .withColumn("content_hash", Dedup.contentHash(col("chunk_text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "chunk_index", "content_hash")
  }

  /** K5 keep-first via the hot-key-safe variant
    * ([[Dedup.exactDedupAggJoin]]): winner selection is a
    * map-side-combinable aggregate + left-semi join instead of a
    * window, so one astronomically hot duplicate group (the
    * boilerplate-page profile) cannot funnel into a single window
    * task. Winners are identical to q_dedup_exact by construction,
    * so the oracle is the window-formulation SQL verbatim — the row
    * grades that equivalence cross-engine on real data, on top of
    * DedupSpec's plan assert (aggregate, no Window).
    */
  val qDedupHotkey: Q = (s, dir) => {
    val keyed = qChunkFixed(s, dir)
      .withColumn("content_hash", Dedup.contentHash(col("chunk_text")))
      .select("doc_id", "chunk_index", "content_hash")
    Dedup.exactDedupAggJoin(keyed, "content_hash", Seq("doc_id", "chunk_index"))
  }

  val qDedupExactSql: String =
    raw"""WITH idx AS (
          SELECT doc_id, text, unnest(range(0,
            CASE WHEN length(text) <= $FixedSize THEN 1
                 ELSE CAST(ceil((length(text) - $FixedSize) / $FixedStride.0) AS INT) + 1 END)) AS i
          FROM documents),
        chunks AS (
          SELECT doc_id, CAST(i AS INT) AS chunk_index,
                 substring(text, 1 + i*$FixedStride, $FixedSize) AS chunk_text
          FROM idx)
        SELECT doc_id, chunk_index,
               md5(trim(regexp_replace(lower(chunk_text), '\s+', ' ', 'g'))) AS content_hash
        FROM chunks
        QUALIFY row_number() OVER (PARTITION BY content_hash ORDER BY doc_id, chunk_index) = 1
        ORDER BY doc_id, chunk_index"""

  /** Word-bigram Jaccard near-dup pairs via MinHash banding with exact
    * verification — the plan you'd run at 100 TB: candidates come from
    * an equi-join on (band, bucket) with an id-only shuffle (no
    * same-block all-pairs join anywhere; the round-2 language-blocked
    * bitmap variant was O(n²/#langs) — quadratic at scale with only ~5
    * blocks), then every candidate is re-checked with true 2-gram-set
    * Jaccard, so the exhaustive-self-join oracle certifies recall 1.0.
    * 64 hashes / 16 bands (r=4): per-pair miss probability 2e-4 at the
    * J=0.8 threshold, ~1e-12 at the J≥0.9 this corpus's true pairs sit
    * at — banding loss cannot realistically go red.
    *
    * Why n-GRAMS and not token sets: near-dup similarity needs a
    * discriminative universe for ANY candidate-pruning scheme to work.
    * On this shared-vocabulary corpus, unigram token sets give random
    * doc pairs J≈0.5 — measured: EVERY pruning strategy degenerates to
    * all-pairs (prefix filter 75 s, token-level LSH 190 s at sf0.1 —
    * both enumerate ~12.5 M candidates) and only popcount-cheap
    * all-pairs verification survives (the round-2 bitmap join). With
    * bigrams, random-pair similarity collapses toward 0, the banded
    * join prunes to the true near-dup clusters, and the same plan holds
    * at 100×. (Token-set Jaccard with a dense output is intrinsically
    * quadratic — the OUTPUT is Θ(n²); jaccardBitmapPairs remains the
    * library's kernel for that dense regime, spec-covered.)
    *
    * Graded slice capped at the replica-0 documents (doc_id < [[Replica0Cap]] =
    * the full sf0.1 corpus at every decade; no-op at driver sfs): the
    * oracle is DELIBERATELY the exhaustive all-pairs Jaccard self-join
    * (that exhaustiveness is what certifies banded recall 1.0), which
    * is quadratic in corpus size by construction — the cap keeps the
    * recall-1.0 certificate answer-checked at every decade at fixed
    * join density instead of skipping the fourth decade entirely (the
    * by-design-skip policy this replaces, round 14).
    */
  val qNgramJaccard: Q = (s, dir) => {
    val pairs = Dedup.minHashLshPairs(
      rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < Replica0Cap)), "doc_id", "text",
      shingleSize = 2, numHashes = 64, bands = 16, jaccardThreshold = 0.8)
    // graded value exact-integer rounded from the verifier's inter/union_
    // (the ratio6 midpoint class, r17); threshold already compared raw
    pairs
      .select(col("id_a"), col("id_b"), ratio6Col("inter", "union_").as("jaccard"))
  }

  val qNgramJaccardSql: String =
    raw"""WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
            FROM documents WHERE doc_id < $Replica0Cap),
          sh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                        WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                        ELSE list_transform(range(1, len(toks)),
                                            i -> toks[i] || ' ' || toks[i+1]) END) AS s
            FROM t),
          p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.s, b.s)) AS i,
                   len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          -- exact-integer 6-dp HALF_UP (RepetitionStats.ratio6 mirror);
          -- the threshold compares the RAW ratio, identical to the engine
          SELECT id_a, id_b,
                 ((2 * i * 1000000 + u) // (2 * u)) / 1000000.0 AS jaccard
          FROM p WHERE u > 0 AND i * 1.0 / u >= 0.8
          ORDER BY id_a, id_b"""

  /** Corpus-wide line-level dedup survival stats (C4/RefinedWeb
    * boilerplate-line removal; see Dedup.lineDedupStats). The oracle
    * replays the whole keep-first-by-(doc_id,index) contract in DuckDB,
    * so green certifies the deterministic distributed "first", not just
    * the counts' shape.
    */
  val qLineDedup: Q = (s, dir) =>
    Dedup.lineDedupStats(rebalanced(tbl(s, dir, "documents")), "doc_id", "text")

  val qLineDedupSql: String =
    raw"""WITH t AS (
            SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
          ex AS (
            SELECT doc_id, ls, unnest(range(0, len(ls))) AS i FROM t),
          lines AS (
            SELECT doc_id, CAST(i AS INT) AS idx, trim(ls[CAST(i AS INT) + 1]) AS ln FROM ex),
          ne AS (SELECT * FROM lines WHERE ln <> ''),
          kept AS (
            SELECT doc_id, idx FROM ne
            QUALIFY row_number() OVER (PARTITION BY ln ORDER BY doc_id, idx) = 1),
          totals AS (SELECT doc_id, count(*) AS n_lines FROM ne GROUP BY doc_id),
          kc AS (SELECT doc_id, count(*) AS n_kept FROM kept GROUP BY doc_id)
          SELECT t.doc_id, t.n_lines,
                 coalesce(k.n_kept, 0) AS n_kept,
                 ((2 * coalesce(k.n_kept, 0) * 1000000 + t.n_lines) // (2 * t.n_lines)) / 1000000.0 AS kept_ratio
          FROM totals t LEFT JOIN kc k USING (doc_id) ORDER BY doc_id"""

  /** MinHash+LSH near-dup pairs. The minhash signatures themselves are
    * engine-specific (murmur-based), but the OUTPUT is the exact-verified
    * pair set — every candidate is re-checked with true shingle-set
    * Jaccard — so the oracle is the exhaustive 3-gram Jaccard self-join.
    * A hash-mismatch here means LSH recall dropped below 1.0 on this
    * corpus (banding missed a true pair) — exactly the regression this
    * row should catch. DedupSpec asserts the same equality in-JVM.
    *
    * Graded slice capped at the replica-0 documents (doc_id < [[Replica0Cap]] =
    * the full sf0.1 corpus at every decade; no-op at driver sfs): the
    * oracle is DELIBERATELY the exhaustive all-pairs Jaccard self-join
    * (that exhaustiveness is what certifies banded recall 1.0), which
    * is quadratic in corpus size by construction — the cap keeps the
    * recall-1.0 certificate answer-checked at every decade at fixed
    * join density instead of skipping the fourth decade entirely (the
    * by-design-skip policy this replaces, round 14).
    */
  val qMinHashLsh: Q = (s, dir) =>
    Dedup
      .minHashLshPairs(rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < Replica0Cap)), "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 8, jaccardThreshold = 0.8)
      .select(col("id_a"), col("id_b"), ratio6Col("inter", "union_").as("jaccard"))

  val qMinHashLshSql: String =
    raw"""WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
            FROM documents WHERE doc_id < $Replica0Cap),
          sh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                        WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                        ELSE list_transform(range(1, len(toks) - 1),
                                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS s
            FROM t),
          p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.s, b.s)) AS i,
                   len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          -- exact-integer 6-dp HALF_UP (RepetitionStats.ratio6 mirror);
          -- the threshold compares the RAW ratio, identical to the engine
          SELECT id_a, id_b,
                 ((2 * i * 1000000 + u) // (2 * u)) / 1000000.0 AS jaccard
          FROM p WHERE u > 0 AND i * 1.0 / u >= 0.8
          ORDER BY id_a, id_b"""

  /** Near-dup CLUSTER assignment: connected components over the
    * exact-verified MinHash-LSH pair list (Dedup.nearDupClusters),
    * cluster id = min doc_id in the component. The oracle recomputes
    * the transitive closure from scratch in DuckDB — exhaustive
    * 3-gram-Jaccard pairs (the q_minhash_lsh universe), symmetric
    * edges, a recursive CTE for reachability, then min over the
    * reachable set — so a green row certifies BOTH that the pair list
    * still has recall 1.0 AND that the distributed label propagation
    * computed the same components as a from-first-principles closure.
    *
    * Graded slice capped at doc_id < [[Replica0CapSmall]] (the q_embed_neardup cap
    * size; a no-op at the sf0.01 driver gate): the oracle is
    * DELIBERATELY an exhaustive all-pairs Jaccard self-join PLUS a
    * recursive transitive closure — at the 5000-doc replica-0 slice
    * its sibling rows use, the DuckDB replay measured >60 min at sf100
    * (TIMEOUT, sweep100_r14g), so this row takes the smaller
    * fixed-density slice to keep its from-first-principles closure
    * answer-checked at every decade inside a sweep budget.
    */
  val qDedupClusters: Q = (s, dir) => {
    val pairs = Dedup.minHashLshPairs(
      rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < Replica0CapSmall)), "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 8, jaccardThreshold = 0.8)
    Dedup.nearDupClusters(pairs).select(col("id").as("doc_id"), col("cluster_id"))
  }

  val qDedupClustersSql: String =
    raw"""WITH RECURSIVE t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
            FROM documents WHERE doc_id < $Replica0CapSmall),
          sh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                        WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                        ELSE list_transform(range(1, len(toks) - 1),
                                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS s
            FROM t),
          pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) > 0
              AND len(list_intersect(a.s, b.s)) * 1.0 /
                  (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8),
          edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
          reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
          SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
          FROM reach GROUP BY src ORDER BY doc_id"""

  /** SimHash near-dup pairs, PORTABLE hash: the token hash is MD5-based
    * (see Dedup.tokenHash64) precisely so the 64-bit signatures — and
    * therefore the Hamming-distance pair set — are reproducible in the
    * DuckDB oracle, which recomputes every signature from scratch and
    * self-joins exhaustively. Green here certifies both the signature
    * math AND the banded candidate generation (bands = maxHamming + 1
    * pigeonhole recall is exact, so the banded set must equal the
    * exhaustive set).
    *
    * Graded slice capped at the replica-0 documents (doc_id < [[Replica0Cap]] =
    * the full sf0.1 corpus at every decade — the q_embed_neardup /
    * q_stream_neardup / q_scrub_spans cap pattern): the ORACLE is an
    * exhaustive n²/2 signature self-join by design (that is what makes
    * banded recall checkable), which at 5M docs is quadratic-infeasible
    * on any replay host — the round-13 sf100 sweep recorded q_simhash
    * TIMEOUT (> 1800 s) and q_simhash_fast DuckDB-OOM even in the
    * round-11 one-pass oracle form. The cap keeps the answer check at
    * every decade at fixed join density; the ENGINE side's full-corpus
    * decade cost is banded (linear) and ladder-measured (SCALE.md).
    */
  val qSimHash: Q = (s, dir) =>
    Dedup.simHashPairs(
      rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < Replica0Cap)),
      "doc_id", "text", maxHamming = 6,
      portableHash = true)

  /** SimHash near-dup pairs through the PRODUCTION hash (Spark's XXH64
    * kernel, the library default — VERDICT r3 #5). The pair set is NOT
    * hash-independent on this corpus — the shared-vocab documents put
    * many doc pairs near the Hamming cut, so swapping the token hash
    * legitimately moves boundary pairs across it (measured 195 vs 71
    * pairs at sf0.001) — so a hash-agnostic oracle is impossible; the
    * oracle instead replays Spark's XXH64 kernel itself, rebuilt in
    * pure DuckDB SQL ([[Xxh64OracleSql]] — VERDICT r10 #1), and then
    * self-joins the recomputed signatures exhaustively exactly like
    * q_simhash. Green here certifies the production hash end-to-end:
    * signature math, banded candidate generation, AND the XXH64 kernel
    * bit-for-bit. Also the bench A/B row: same plan as q_simhash minus
    * MD5, so the per-token hash cost is directly measurable.
    * Replica-0 graded slice for the same reason as q_simhash (the
    * exhaustive oracle join is quadratic by design).
    */
  val qSimHashFast: Q = (s, dir) =>
    Dedup.simHashPairs(
      rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < Replica0Cap)),
      "doc_id", "text", maxHamming = 6)

  val qSimHashFastSql: String =
    // `toks` must stay SINGLE-referenced: DuckDB materializes any CTE
    // referenced twice, and the full (doc_id, tok) occurrence stream is
    // ~2.5e8 rows at sf10 — materializing it exhausted a 100GB pool
    // (round-11 sf10 sweep). The hash chain gets its own re-derived
    // token CTE (`tokd`, distinct-only, ~3k rows after dedup) so the
    // occurrence stream is inlined and flows straight into the
    // signature aggregate; with this split the sf10 oracle completes
    // in ~280 s where the double-reference form OOM'd.
    raw"""WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS tok
            FROM documents WHERE doc_id < $Replica0Cap),
          tokd AS (
            SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS tok
            FROM documents WHERE doc_id < $Replica0Cap),""" +
      Xxh64OracleSql.hashCtes("tokd") +
      raw""",
          th AS (SELECT doc_id, h FROM toks JOIN xh USING (tok)),
          """ + simHashSigsAndPairsSql

  /** Shared SimHash-oracle tail over a CTE `th(doc_id, h UBIGINT)`:
    * one-pass signature aggregation + the exhaustive pair join. The
    * obvious per-bit formulation (CROSS JOIN range(64), GROUP BY
    * (doc_id, i)) multiplies the token-occurrence stream 64× before
    * aggregating — 1.6e10 intermediate rows at sf10, which pushed the
    * oracle's peak past a 93GB pool (round-11 sweep). 64 inline
    * conditional sums aggregate the same majorities in ONE pass over
    * th with doc_id-only groups: measured 547 s @ ~100GB peak →
    * 182 s under a 48GB cap on the same corpus, identical rows.
    * Bit weights are literal powers of two because DuckDB
    * overflow-checks `<<` even for in-range UBIGINT shifts (the
    * Xxh64OracleSql lesson).
    */
  private lazy val simHashSigsAndPairsSql: String = {
    val terms = (0 until 64).map { i =>
      s"(CASE WHEN 2 * sum(CASE WHEN ((h >> $i) & 1::UBIGINT) = 1::UBIGINT THEN 1 ELSE 0 END)" +
        s" > count(*) THEN ${BigInt(1) << i}::UBIGINT ELSE 0::UBIGINT END)"
    }.mkString(" | ")
    raw"""sigs AS (
            SELECT doc_id, CAST($terms AS UBIGINT) AS sig
            FROM th GROUP BY doc_id)
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
          FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sig, b.sig)) <= 6
          ORDER BY id_a, id_b"""
  }

  val qSimHashSql: String =
    raw"""WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS tok
            FROM documents WHERE doc_id < $Replica0Cap),
          th AS (
            SELECT doc_id, ('0x' || substring(md5(tok), 1, 16))::UBIGINT AS h FROM toks),
          """ + simHashSigsAndPairsSql

  /** Embedding-cosine near-dup pairs with sign-bit blocking; the block
    * key is reproduced exactly in the oracle so both sides prune
    * identically. `signBits = 4` is PINNED here — the oracle's fixed
    * SQL must replay the identical key at every scale — which makes
    * this row's bench cost quadratic on the ScaleUp corpora twice
    * over: 16 fixed buckets stop bounding candidates (12.5M → 1.25G
    * pairs at sf1 → sf10, 123 s measured), and the perturbed replica
    * families are mutual near-dup CLIQUES, so even the true output
    * grows quadratically in replica count (267,875 output pairs at
    * sf1 — corpus artifact, the q_prefix_jaccard justification).
    *
    * The graded slice is therefore capped at `vec_id < Replica0CapSmall` — the
    * full driver corpus at every driver sf (sf0.1 is exactly vec_id
    * 0..1999, so no driver-graded row changes), and exactly the
    * replica-0 originals on ScaleUp corpora, where key-offsetting
    * puts replicas at vec_id ≥ 10^7. The cap grades key parity and
    * exact-cosine verify at fixed density; the SCALE PATH is graded
    * by q_embed_neardup_adaptive below, whose width grows with the
    * corpus ([[graft.dedup.Dedup.adaptiveSignBits]]) and whose bench
    * cost stays linear at any sf (VERDICT r9 #3).
    */
  val qEmbedNearDup: Q = (s, dir) => {
    val pairs = Dedup.embeddingNearDupPairs(
      tbl(s, dir, "embeddings").filter(col("vec_id") < Replica0CapSmall),
      "vec_id", "embedding", 0.3, signBits = 4)
    pairs
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  val qEmbedNearDupSql: String =
    s"""WITH t AS (
         SELECT vec_id, embedding::DOUBLE[] AS v,
                (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
              + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
              + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
              + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bkt
         FROM embeddings WHERE vec_id < $Replica0CapSmall)
       SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
       FROM t a JOIN t b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
       WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3
       ORDER BY id_a, id_b"""

  /** Embedding-cosine near-dup with the operator's PRODUCTION default:
    * blocking width derived from the corpus size
    * ([[graft.dedup.Dedup.adaptiveSignBits]] — width ∝ log2(n), so
    * expected per-bucket population and therefore candidate pairs stay
    * LINEAR in n at any scale; the round-9 sf10 probe measured
    * pinned-4 at 123 s vs seconds adaptive). Unlike the pinned row
    * above this runs the FULL embeddings table at every sf — it is the
    * catalog's evidence that the default configuration survives
    * scale-up. The oracle replays the adaptive width formula itself
    * (count → clamp(4, 24, ceil(log2(n/4096)))), so both sides derive
    * the same key at every scale factor — a full recompute oracle, not
    * a rows-only check.
    *
    * The graded OUTPUT is a one-row certificate over the full pair set
    * — pair count, an integer checksum of the 4-decimal cosines
    * (sum of round(cosine·10⁴), exact integer arithmetic on both
    * engines), the distinct left-id count, and a modular id checksum —
    * rather than the raw pairs. The ScaleUp replica families are
    * mutual near-dup CLIQUES, so the raw pair set grows ~quadratically
    * in replica count (~608M rows at sf100): materializing it is what
    * heap-OOM'd the round-13 sf100 verify twice (sweep100_r13{b,c}
    * logs), and no replay host can sort/hash 608M result rows to
    * compare them anyway. The certificate keeps the row a FULL
    * recompute at every decade — both engines must derive the same
    * adaptive width, the same blocking, and the same 4-decimal cosine
    * on every pair to land the same sums — with O(1) output. Pair-
    * LEVEL value grading stays with q_embed_neardup above (pinned
    * slice, fixed density).
    */
  val qEmbedNearDupAdaptive: Q = (s, dir) => {
    val pairs = Dedup.embeddingNearDupPairs(
      tbl(s, dir, "embeddings"), "vec_id", "embedding", 0.3)
    pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(round(col("cosine") * 10000, 0).cast("long")).as("sum_cos4"),
      countDistinct(col("id_a")).as("n_distinct_a"),
      sum(pmod(col("id_a") + col("id_b"), lit(1000003L))).as("sum_ids_mod"))
  }

  val qEmbedNearDupAdaptiveSql: String =
    """WITH bits AS (
         SELECT least(24, greatest(4, CAST(ceil(log2(greatest(count(*) / 4096.0, 1.0))) AS INT))) AS b
         FROM embeddings),
       t AS (
         SELECT vec_id, embedding::DOUBLE[] AS v,
                list_sum(list_transform(range(0, (SELECT b FROM bits)),
                  i -> CASE WHEN embedding[CAST(i AS INT) + 1] >= 0
                            THEN CAST(1 AS BIGINT) << CAST(i AS INT) ELSE 0 END)) AS bkt
         FROM embeddings),
       p AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
         FROM t a JOIN t b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
         WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3)
       SELECT count(*) AS n_pairs,
              CAST(sum(CAST(round(cos * 10000) AS BIGINT)) AS BIGINT) AS sum_cos4,
              CAST(count(DISTINCT id_a) AS BIGINT) AS n_distinct_a,
              CAST(sum((id_a + id_b) % 1000003) AS BIGINT) AS sum_ids_mod
       FROM p"""

  /** Recall grading for banded sign-bit LSH
    * ([[graft.dedup.Dedup.embeddingNearDupPairsBanded]]) against
    * brute-force ground truth, on a planted near-dup corpus: every
    * sliced vector gets a partner with deterministic per-component
    * jitter (±6·0.008 lattice, hash-free so both engines replay it),
    * giving true pairs at cosine ≈ 0.97 whose component signs flip
    * ~8% of the time. A single 8-bit band (one band's width; the
    * adaptive width reaches 8 near 10^6 rows) then keeps a pair only
    * if NO flip lands in its window — recall ≈ 0.5 — while 8 bands of
    * 8 bits need just one clean window of eight: recall ≈ 0.99. The
    * row outputs both measured recalls; the oracle recomputes brute
    * force, both key families, and the division. DedupSpec pins the
    * ≥ 0.9 banded floor; this row grades the exact values.
    */
  val qEmbedNearDupBanded: Q = (s, dir) => {
    val slice = tbl(s, dir, "embeddings")
      .filter(col("vec_id") < Replica0CapSmall)
    val base = slice.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // jitter first, negate second: in a single projection the lambda's
    // vec_id would lateral-bind to the NEW (-vec_id - 1) alias
    val planted = slice
      .select(
        col("vec_id"),
        transform(
          col("embedding").cast("array<double>"),
          (x, i) => x + ((col("vec_id") * 31 + i * 17) % 13 - 6) * lit(0.008)
        ).as("embedding"))
      .select((-col("vec_id") - 1).as("vec_id"), col("embedding"))
    val u = base.unionByName(planted)
    // maxRowsHint: u is base + planted, each capped at Replica0CapSmall
    // rows, so 2·cap bounds it — the size gate picks the monolithic
    // loop (VERDICT r19 #3) without spending a count() job
    val nTrue = Dedup
      .bruteForceCosinePairs(u, "vec_id", "embedding", 0.95, maxRowsHint = 2 * Replica0CapSmall)
      .agg(count(lit(1)).as("n_true"))
    val single = Dedup.embeddingNearDupPairs(u, "vec_id", "embedding", 0.95, signBits = 8)
      .agg(count(lit(1)).as("single_found"))
    val banded = Dedup
      .embeddingNearDupPairsBanded(u, "vec_id", "embedding", 0.95, bands = 8, bitsPerBand = 8)
      .agg(count(lit(1)).as("banded_found"))
    nTrue.crossJoin(single).crossJoin(banded)
      // recall fractions are integer ratios — exact-integer 4-dp HALF_UP
      // (ratioCol; the r16 midpoint class at a different dp). n_true > 0
      // by construction: the planted near-dup twins guarantee true pairs.
      .select(
        col("n_true"), col("single_found"), col("banded_found"),
        ratioCol("single_found", "n_true", 10000L).as("recall_single"),
        ratioCol("banded_found", "n_true", 10000L).as("recall_banded"))
  }

  val qEmbedNearDupBandedSql: String =
    s"""WITH base AS (
         SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < $Replica0CapSmall),
       planted AS (
         SELECT vec_id AS src_id,
                list_transform(range(0, len(v)),
                  i -> v[CAST(i AS INT) + 1] + ((vec_id * 31 + i * 17) % 13 - 6) * 0.008) AS v
         FROM base),
       u AS (SELECT vec_id, v FROM base
             UNION ALL SELECT -src_id - 1 AS vec_id, v FROM planted),
       keys AS (
         SELECT vec_id,
                list_transform(range(0, 8), b ->
                  list_sum(list_transform(range(0, 8), i ->
                    CASE WHEN v[CAST(b * 8 + i AS INT) + 1] >= 0
                         THEN CAST(1 AS BIGINT) << CAST(i AS INT) ELSE CAST(0 AS BIGINT) END))) AS bks
         FROM u),
       brute AS (
         SELECT a.vec_id AS ia, b.vec_id AS ib
         FROM u a JOIN u b ON a.vec_id < b.vec_id
         WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95),
       j AS (
         SELECT ka.bks AS ba, kb.bks AS bb
         FROM brute JOIN keys ka ON ka.vec_id = brute.ia JOIN keys kb ON kb.vec_id = brute.ib),
       counts AS (
         SELECT count(*) AS n_true,
                CAST(sum(CASE WHEN ba[1] = bb[1] THEN 1 ELSE 0 END) AS BIGINT) AS single_found,
                CAST(sum(CASE WHEN len(list_filter(range(1, 9), b -> ba[CAST(b AS INT)] = bb[CAST(b AS INT)])) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS banded_found
         FROM j)
       -- recall = found/n_true, exact-integer 4-dp HALF_UP (the
       -- RepetitionStats.ratio6 mirror at scale 10^4)
       SELECT n_true, single_found, banded_found,
              ((2 * single_found * 10000 + n_true) // (2 * n_true)) / 10000.0 AS recall_single,
              ((2 * banded_found * 10000 + n_true) // (2 * n_true)) / 10000.0 AS recall_banded
       FROM counts"""

  // ---------------------------------------------------------------
  // Quality / stats (G-operators)
  // ---------------------------------------------------------------

  val qLangDist: Q = (s, dir) =>
    QualityMonitor
      .languageDistribution(tbl(s, dir, "documents"), "lang")

  val qLangDistSql: String =
    """WITH c AS (SELECT lang, count(*) AS "count" FROM documents GROUP BY lang)
       -- pct exact-integer 4-dp HALF_UP (count·100 at 4 dp = scale 10^6
       -- on the raw ratio; the RepetitionStats.ratio6 mirror)
       SELECT lang, "count",
              ((2 * "count" * 1000000 + t) // (2 * t)) / 10000.0 AS pct
       FROM c CROSS JOIN (SELECT sum("count") AS t FROM c)
       ORDER BY "count" DESC, lang"""

  val qTopUsers: Q = (s, dir) =>
    QualityMonitor.topSources(eventsRaw(s, dir), "user_id", 10)

  val qTopUsersSql: String =
    """SELECT user_id, count(*) AS "count" FROM events
       GROUP BY user_id ORDER BY count DESC, user_id LIMIT 10"""

  /** G3 size distribution over the token estimates (population std for
    * numpy ddof=0 parity).
    */
  val qQualityStats: Q = (s, dir) => {
    val d = tbl(s, dir, "documents")
      .select(
        length(col("text")).as("chars"),
        LanguageDetect.estimateTokens(col("text")).as("tokens")
      )
    QualityMonitor.sizeDistribution(d, "chars", "tokens")
  }

  val qQualityStatsSql: String =
    """WITH d AS (SELECT CAST(length(text) AS INT) AS chars,
         CAST(floor((length(text) - length(regexp_replace(text, '[가-힣]', '', 'g'))) / 1.5
              + length(regexp_replace(text, '[가-힣]', '', 'g')) / 4.0) AS INT) AS tokens
       FROM documents)
       SELECT count(*) AS total_chunks,
         CAST(min(chars) AS INT) AS min_chars, CAST(max(chars) AS INT) AS max_chars,
         -- integer-column averages: exact-integer 4-dp HALF_UP
         -- (RepetitionStats.ratio6 mirror); medians are dyadic-exact
         -- (k or k.5), stds irrational — both keep round()
         ((2 * sum(CAST(chars AS BIGINT)) * 10000 + count(*)) // (2 * count(*))) / 10000.0 AS avg_chars,
         round(median(chars), 4) AS median_chars,
         round(stddev_pop(chars), 4) AS std_chars,
         min(tokens) AS min_tokens, max(tokens) AS max_tokens,
         ((2 * sum(CAST(tokens AS BIGINT)) * 10000 + count(*)) // (2 * count(*))) / 10000.0 AS avg_tokens,
         round(median(tokens), 4) AS median_tokens
       FROM d"""

  /** G7/G8/G10 report row: in-range ratio, CV, recommendation. */
  val qQualityReport: Q = (s, dir) => {
    val d = tbl(s, dir, "documents")
      .select(LanguageDetect.estimateTokens(col("text")).as("tokens"))
    QualityMonitor.report(d, "tokens")
  }

  val qQualityReportSql: String =
    """WITH d AS (SELECT CAST(floor(length(text) / 4.0) AS INT) AS tokens FROM documents),
       agg AS (
         SELECT count(*) AS total_chunks,
                CAST(sum(CASE WHEN tokens BETWEEN 300 AND 500 THEN 1 ELSE 0 END) AS BIGINT) AS in_range,
                round(stddev_pop(tokens) / avg(tokens) * 100.0, 4) AS cv_pct,
                ((2 * sum(CAST(tokens AS BIGINT)) * 10000 + count(*)) // (2 * count(*))) / 10000.0 AS avg_tokens,
                round(stddev_pop(tokens), 4) AS std_tokens
         FROM d)
       -- in_range_pct exact-integer 4-dp HALF_UP (count·100 at 4 dp =
       -- scale 10^6 on the raw ratio; RepetitionStats.ratio6 mirror);
       -- the recommendation thresholds compare the ROUNDED values,
       -- mirroring QualityMonitor.report
       SELECT total_chunks,
              ((2 * in_range * 1000000 + total_chunks) // (2 * total_chunks)) / 10000.0 AS in_range_pct,
              cv_pct, avg_tokens, std_tokens,
              CASE WHEN ((2 * in_range * 1000000 + total_chunks) // (2 * total_chunks)) / 10000.0 < 70.0 THEN 'adjust_chunk_size'
                   WHEN cv_pct > 50.0 THEN 'high_variance'
                   ELSE 'ok' END AS recommendation
       FROM agg"""

  // ---------------------------------------------------------------
  // Text analysis (training-data ops)
  // ---------------------------------------------------------------

  /** Single-pass quality analysis (see TextAnalysis.withQualityAnalysis:
    * the two-expression formulation re-tokenized ~6×/row — 16 s at sf0.1
    * in the round-2 driver bench; the staged transform is one pass).
    */
  val qQualityScore: Q = (s, dir) =>
    TextAnalysis
      .withQualityAnalysis(
        rebalanced(tbl(s, dir, "documents")).select("doc_id", "text"),
        "text"
      )
      .select(
        col("doc_id"),
        col("n_chars"),
        col("n_tokens"),
        col("stopword_ratio"),
        col("punct_ratio"),
        col("alpha_ratio"),
        col("quality_score")
      )

  val qQualityScoreSql: String =
    """WITH f AS (
         SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0)) AS INT) AS n_tokens,
           len(list_filter(regexp_split_to_array(lower(text), '\s+'),
               t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by','be','this'))) AS n_stop,
           length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
           length(text) - length(regexp_replace(text, '[\p{L}]', '', 'g')) AS n_alpha
         FROM documents)
       SELECT doc_id, n_chars, n_tokens,
         CASE WHEN n_tokens = 0 THEN 0.0 ELSE floor(n_stop * 1.0 / n_tokens * 1e6 + 0.5) / 1e6 END AS stopword_ratio,
         CASE WHEN n_chars = 0 THEN 0.0 ELSE floor(n_punct * 1.0 / n_chars * 1e6 + 0.5) / 1e6 END AS punct_ratio,
         CASE WHEN n_chars = 0 THEN 0.0 ELSE floor(n_alpha * 1.0 / n_chars * 1e6 + 0.5) / 1e6 END AS alpha_ratio,
         floor((least(n_tokens / 100.0, 1.0)
              + least((CASE WHEN n_tokens = 0 THEN 0.0 ELSE n_stop * 1.0 / n_tokens END) * 5.0, 1.0)
              + (CASE WHEN n_chars = 0 THEN 0.0 ELSE n_alpha * 1.0 / n_chars END)
              + (CASE WHEN (CASE WHEN n_tokens = 0 THEN 0.0 ELSE (n_chars - n_tokens + 1) * 1.0 / n_tokens END) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
               ) / 4.0 * 1e4 + 0.5) / 1e4 AS quality_score
       FROM f ORDER BY doc_id"""

  /** Top-5 distinctive terms per document (raw-count-IDF TF-IDF; see
    * TextAnalysis.topTermsPerDoc for why not log-IDF). The oracle
    * recomputes tf, df, and the score from scratch; tf·N/df is an
    * integer ratio, so both engines round it at 6 dp in exact integer
    * arithmetic (the RepetitionStats.ratio6 class — a plain round()
    * pair diverges at .5·10⁻⁶ midpoints, r16's q_repetition lesson).
    */
  val qTfidfTopk: Q = (s, dir) =>
    TextAnalysis.topTermsPerDoc(rebalanced(tbl(s, dir, "documents")), "doc_id", "text", 5)

  val qTfidfTopkSql: String =
    raw"""WITH terms AS (
            SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'), t -> t <> '')) AS term
            FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
          dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          n AS (SELECT count(*) AS n FROM documents),
          scored AS (
            -- score = tf·N/df exact-integer 6-dp HALF_UP (the
            -- RepetitionStats.ratio6 mirror) — matches
            -- TextAnalysis.topTermsPerDoc; ranking ties resolve over
            -- the identical exact-rounded value on both engines
            SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
                   ((2 * tf.tf * n.n * 1000000 + dfc.df) // (2 * dfc.df)) / 1000000.0 AS score
            FROM tf JOIN dfc USING (term) CROSS JOIN n)
          SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, score FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
            FROM scored)
          WHERE rank <= 5 ORDER BY doc_id, rank"""

  /** Deterministic stratified corpus mixing (text.Sampling): per-lang
    * keep fractions with a default for unlisted strata, membership
    * decided by an md5-threshold on doc_id — reproducible across
    * engines/runs/cluster sizes, which is exactly what the oracle
    * certifies: DuckDB re-derives every row's bucket and the whole
    * mixture must match row-for-row (not just per-stratum counts).
    */
  val qStratifiedSample: Q = (s, dir) =>
    graft.text.Sampling
      .stratifiedHashSample(
        tbl(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "zh" -> 0.3, "de" -> 0.2), defaultFraction = 0.1)
      .select(col("doc_id"), col("lang"))

  val qStratifiedSampleSql: String =
    """SELECT doc_id, lang FROM documents
       WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT <
         CASE lang WHEN 'en' THEN 2147483648
                   WHEN 'zh' THEN 1288490189
                   WHEN 'de' THEN 858993459
                   ELSE 429496730 END
       ORDER BY doc_id"""

  val qFingerprint: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fingerprint"))

  val qFingerprintSql: String =
    """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
       FROM documents ORDER BY doc_id"""

  /** Benchmark decontamination over the corpus: every 50th document
    * stands in for an eval set; corpus docs containing ≥ half of a
    * "benchmark" item's distinct 8-gram shingles are flagged. Oracle:
    * an inverted-index gram join in DuckDB (gram → doc postings,
    * count shared grams per pair, divide by the bench side's gram
    * count) — the same shape the operator uses, so the oracle stays
    * linear-ish and survives the sf10 sweep where the earlier
    * pairwise list_intersect scan exceeded the 600 s budget.
    */
  val qDecontaminate: Q = (s, dir) => {
    val docs = rebalanced(tbl(s, dir, "documents"))
    val bench = docs.filter(col("doc_id") % 50 === 0)
    Dedup
      .containmentPairs(docs, bench, "doc_id", "text", n = 8, threshold = 0.5)
      .select(col("doc_id"), col("bench_id"), ratio6Col("inter", "bench_sz").as("containment"))
  }

  /** Exact 6-dp HALF_UP rounding of the integer ratio numer/denom as a
    * Column — the engine half of [[graft.text.RepetitionStats.ratio6]]
    * (all-bigint until one final int/1e6 division), mirrored verbatim
    * by `// ` expressions in the DuckDB oracles. Rounding the DOUBLE
    * ratio instead diverges at .5e-6 midpoints — the class the r16
    * sf10r sweep measured on q_repetition. Denominators here are > 0
    * by construction (group sizes).
    */
  private def ratio6Col(numer: String, denom: String): org.apache.spark.sql.Column =
    ratioCol(numer, denom, 1000000L)

  /** [[ratio6Col]] at an arbitrary decimal scale (10^dp) — r17 closed
    * the same midpoint class for the 4-dp integer-ratio rows (LSH
    * recall fractions) that r16 closed at 6 dp.
    */
  private def ratioCol(numer: String, denom: String, scale: Long): org.apache.spark.sql.Column =
    expr(s"(2 * $numer * ${scale}L + $denom) div (2 * $denom)").cast("double") / lit(scale.toDouble)

  val qDecontaminateSql: String =
    raw"""WITH tokens AS (
            SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
            FROM documents),
          sh AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
                        WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
                        ELSE list_transform(range(1, len(toks) - 6),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
                               toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]) END) AS s
            FROM tokens),
          cg AS (SELECT doc_id, unnest(s) AS g FROM sh),
          bg AS (SELECT doc_id AS bench_id, unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
          bsz AS (SELECT doc_id AS bench_id, len(s) AS bench_sz FROM sh WHERE doc_id % 50 = 0),
          inter AS (
            SELECT cg.doc_id, bg.bench_id, count(*) AS i
            FROM cg JOIN bg ON cg.g = bg.g AND cg.doc_id <> bg.bench_id
            GROUP BY 1, 2)
          SELECT i.doc_id, i.bench_id,
                 ((2 * i.i * 1000000 + b.bench_sz) // (2 * b.bench_sz)) / 1000000.0 AS containment
          FROM inter i JOIN bsz b USING (bench_id)
          WHERE i.i * 1.0 / b.bench_sz >= 0.5
          ORDER BY i.doc_id, bench_id"""

  /** Decontamination through the BLOOM-PREFILTERED path
    * (Dedup.bloomContainmentPairs): a bloom over the benchmark grams
    * prunes the corpus gram stream at scan stage, before any shuffle —
    * the shape that survives benchmark suites too large to broadcast
    * as a full index. Bloom filters have no false negatives and
    * survivors still pass the exact gram join, so the result is
    * IDENTICAL to q_decontaminate at any fpp — same DuckDB oracle, and
    * a green row certifies the whole prefilter+verify pipeline.
    */
  val qDecontaminateBloom: Q = (s, dir) => {
    val docs = rebalanced(tbl(s, dir, "documents"))
    val bench = docs.filter(col("doc_id") % 50 === 0)
    Dedup
      .bloomContainmentPairs(docs, bench, "doc_id", "text", n = 8, threshold = 0.5, fpp = 0.01)
      .select(col("doc_id"), col("bench_id"), ratio6Col("inter", "bench_sz").as("containment"))
  }

  val qDecontaminateBloomSql: String = qDecontaminateSql

  /** Gopher-style repetition features + keep decision per document.
    * Every fraction is an exact integer ratio rounded at 6 dp, so the
    * DuckDB oracle rebuilds all five measures from scratch (line
    * grouping + n-gram grouping per doc) and must agree bit-for-bit.
    */
  /** Graded on the replica-0 slice since r17: the oracle rebuilds
    * per-doc line and 2/3/5-gram COUNT MAPS from scratch, and that
    * aggregation state is non-spillable in DuckDB — on the realistic
    * sf100r fixture (5M docs of mostly-unique salted tokens, so no
    * shared-string dictionary) it exhausted the ~100 GB memory cap
    * outright ("Failed to allocate block", records/sweep_sf100r_r17.log),
    * and q_gopher_full (which embeds this SQL) exhausted the spill
    * budget the same way. No-op at the driver sfs (cap > max driver
    * doc_id — the gate compares the FULL corpus), and the row keeps
    * its FULL-corpus decade verdicts where the oracle fit: sf10r
    * realistic (500k docs, r16 — the sweep that caught the midpoint
    * bug) and sf100 maximal (5M docs, r14d). The engine side completes
    * the full corpus at every decade (it is a narrow per-doc map —
    * q_line_dedup PASSes full-corpus at sf100r over the same text).
    */
  val qRepetition: Q = (s, dir) =>
    rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < Replica0Cap))
      .select(col("doc_id"), graft.text.RepetitionStats.repetitionFeatures(col("text")).as("f"))
      .select(
        col("doc_id"),
        col("f.dup_line_frac").as("dup_line_frac"),
        col("f.dup_line_char_frac").as("dup_line_char_frac"),
        col("f.top2gram_char_frac").as("top2gram_char_frac"),
        col("f.top3gram_char_frac").as("top3gram_char_frac"),
        col("f.dup5gram_char_frac").as("dup5gram_char_frac"),
        graft.text.RepetitionStats.keepByRepetition(col("f")).as("keep")
      )

  val qRepetitionSql: String =
    raw"""WITH doc_lines AS (
            SELECT doc_id, list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS ls
            FROM documents),
          lgrp AS (
            SELECT doc_id, line, count(*) AS c FROM (SELECT doc_id, unnest(ls) AS line FROM doc_lines) GROUP BY 1, 2),
          lstats AS (
            SELECT doc_id, sum(c) AS n_lines, count(*) AS n_distinct,
                   sum(length(line) * c) AS total_line_chars,
                   sum(CASE WHEN c > 1 THEN length(line) * (c - 1) ELSE 0 END) AS dup_line_chars
            FROM lgrp GROUP BY 1),
          tokens AS (
            SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
            FROM documents),
          tstats AS (
            SELECT doc_id, CASE WHEN len(toks) = 0 THEN 0 ELSE length(array_to_string(toks, ' ')) END AS total_chars
            FROM tokens),
          g2c AS (
            SELECT doc_id, g, count(*) AS c FROM (
              SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS g
              FROM tokens) GROUP BY 1, 2),
          top2 AS (
            SELECT doc_id, c * length(g) AS chars FROM g2c
            QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) = 1),
          g3c AS (
            SELECT doc_id, g, count(*) AS c FROM (
              SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
              FROM tokens) GROUP BY 1, 2),
          top3 AS (
            SELECT doc_id, c * length(g) AS chars FROM g3c
            QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) = 1),
          g5c AS (
            SELECT doc_id, g, count(*) AS c FROM (
              SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS g
              FROM tokens) GROUP BY 1, 2),
          dup5 AS (
            SELECT doc_id, sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS chars FROM g5c GROUP BY 1),
          m AS (
            -- coalesce the LEFT-JOINed aggregates so the zero-guards
            -- fire for docs with no non-empty lines/tokens (NULL would
            -- otherwise fall through to NULL arithmetic where the Spark
            -- side returns 0.0). Carries exact INTEGER numer/denom
            -- pairs — the 6-dp rounding below must happen in integer
            -- arithmetic, mirroring RepetitionStats.ratio6: rounding a
            -- double ratio (round(x, 6) here vs BigDecimal HALF_UP on
            -- the Spark side) diverges when the true ratio sits exactly
            -- on a .5e-6 midpoint, which the r16 sf10r sweep measured
            -- on 16 salted docs at top3 = 0.0640625 exactly.
            SELECT d.doc_id,
              CAST(coalesce(l.n_lines, 0) - coalesce(l.n_distinct, 0) AS BIGINT) AS dln,
              CAST(coalesce(l.n_lines, 0) AS BIGINT) AS dld,
              CAST(coalesce(l.dup_line_chars, 0) AS BIGINT) AS dlcn,
              CAST(coalesce(l.total_line_chars, 0) AS BIGINT) AS dlcd,
              CAST(coalesce(t2.chars, 0) AS BIGINT) AS t2n,
              CAST(coalesce(t3.chars, 0) AS BIGINT) AS t3n,
              CAST(least(coalesce(d5.chars, 0), coalesce(t.total_chars, 0)) AS BIGINT) AS d5n,
              CAST(coalesce(t.total_chars, 0) AS BIGINT) AS td
            FROM documents d
            LEFT JOIN lstats l USING (doc_id)
            LEFT JOIN tstats t USING (doc_id)
            LEFT JOIN top2 t2 USING (doc_id)
            LEFT JOIN top3 t3 USING (doc_id)
            LEFT JOIN dup5 d5 USING (doc_id)),
          r6 AS (
            -- floor((2·n·10^6 + d) / (2·d)) / 10^6 = HALF_UP at 6 dp,
            -- all-bigint until one final int/int-literal division —
            -- bit-identical to the Spark UDF by construction
            SELECT doc_id,
              CASE WHEN dld = 0 THEN 0.0 ELSE ((2*dln*1000000 + dld) // (2*dld)) / 1000000.0 END AS dup_line_frac,
              CASE WHEN dlcd = 0 THEN 0.0 ELSE ((2*dlcn*1000000 + dlcd) // (2*dlcd)) / 1000000.0 END AS dup_line_char_frac,
              CASE WHEN td = 0 THEN 0.0 ELSE ((2*t2n*1000000 + td) // (2*td)) / 1000000.0 END AS top2gram_char_frac,
              CASE WHEN td = 0 THEN 0.0 ELSE ((2*t3n*1000000 + td) // (2*td)) / 1000000.0 END AS top3gram_char_frac,
              CASE WHEN td = 0 THEN 0.0 ELSE ((2*d5n*1000000 + td) // (2*td)) / 1000000.0 END AS dup5gram_char_frac
            FROM m)
          SELECT doc_id,
                 dup_line_frac, dup_line_char_frac,
                 top2gram_char_frac, top3gram_char_frac, dup5gram_char_frac,
                 (dup_line_frac <= 0.3 AND top2gram_char_frac <= 0.2 AND dup5gram_char_frac <= 0.15) AS keep
          FROM r6 ORDER BY doc_id"""

  /** The GRADED q_repetition oracle: [[qRepetitionSql]] on the
    * replica-0 slice (see the [[qRepetition]] scaladoc for why).
    * [[qRepetitionSql]] itself stays uncapped because
    * [[qGopherFullSql]] embeds it and reroutes its reads to the
    * boundary-unioned gdocs CTE — the gopher row's cap lives on the
    * documents leg INSIDE gdocs instead.
    */
  val qRepetitionGradedSql: String = rerouteDocReads(
    qRepetitionSql, s"FROM (SELECT * FROM documents WHERE doc_id < $Replica0Cap)")

  /** PII noise appended to every doc so the scrubber has real work in
    * both engines: email, international + domestic phone shapes, IPv4,
    * card-shaped digit run. Entities separated by words (not a single
    * space) — the lookaround-free guard classes consume one adjacent
    * char, so back-to-back entities are a documented non-goal.
    */
  private val PiiNoiseSuffix: String =
    " contact john.doe@example.com or +82 10-1234-5678 backup 010 1234 5678 ip 192.168.0.1 card 1234-5678-9012-3456 done"

  /** PII redaction over noisy corpus text — scrub BEFORE fingerprint so
    * redaction never splits identical docs (the operator-order contract
    * PiiScrub documents). Oracle replays the same lookaround-free
    * stages under RE2.
    */
  val qPiiScrub: Q = (s, dir) => {
    // partition-batched pattern-major execution (see PiiScrub.scrubBatched
    // — per-row pattern interleaving stops scaling across executor
    // threads); the fingerprint reads the materialized column
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    val base = rebalanced(tbl(s, dir, "documents"))
      .select(
        col("doc_id").cast("long").as("doc_id"),
        concat(col("text"), lit(PiiNoiseSuffix)).as("t"))
      .as[(Long, String)](enc)
    graft.text.PiiScrub
      .scrubBatched(base)
      .toDF("doc_id", "scrubbed")
      .withColumn("scrubbed_fingerprint", TextAnalysis.fingerprintMd5(col("scrubbed")))
  }

  val qPiiScrubSql: String = {
    val noisy = "(text || ' contact john.doe@example.com or +82 10-1234-5678 backup 010 1234 5678 ip 192.168.0.1 card 1234-5678-9012-3456 done')"
    val scrub = graft.text.PiiScrub.scrubSql(noisy)
    s"""SELECT doc_id, $scrub AS scrubbed,
        md5(trim(regexp_replace(lower($scrub), '\\s+', ' ', 'g'))) AS scrubbed_fingerprint
        FROM documents ORDER BY doc_id"""
  }

  /** Heuristic n-gram/script language ID, with the full CASE chain
    * (script ratios then Latin common-word argmax order) replicated in
    * the DuckDB oracle — every branch is encoded, not just the ones this
    * corpus exercises.
    */
  val qLangIdNgram: Q = (s, dir) =>
    rebalanced(tbl(s, dir, "documents"))
      .select(col("doc_id"), TextAnalysis.languageIdNgram(col("text")).as("lang_id"))

  val qLangIdNgramSql: String =
    raw"""WITH base AS (
            SELECT doc_id, lower(coalesce(text, '')) AS txt FROM documents),
          m AS (
            SELECT doc_id,
              greatest(length(txt), 1) * 1.0 AS total,
              (length(txt) - length(regexp_replace(txt, '[가-힣]', '', 'g'))) * 1.0 AS hangul,
              (length(txt) - length(regexp_replace(txt, '[\x{4E00}-\x{9FFF}]', '', 'g'))) * 1.0 AS cjk,
              (length(txt) - length(regexp_replace(txt, '[\x{3040}-\x{30FF}]', '', 'g'))) * 1.0 AS kana,
              (length(txt) - length(regexp_replace(txt, '[\x{0400}-\x{04FF}]', '', 'g'))) * 1.0 AS cyr,
              (length(txt) - length(regexp_replace(txt, '[ăâđêôơưàáảãạèéẻẽẹìíỉĩịòóỏõọùúủũụỳýỷỹỵ]', '', 'g'))) * 1.0 AS viet,
              list_filter(regexp_split_to_array(txt, '\s+'), t -> t <> '') AS toks
            FROM base),
          w AS (
            SELECT doc_id, total, hangul, cjk, kana, cyr, viet,
              greatest(len(toks), 1) * 1.0 AS ntok,
              len(list_filter(toks, t -> t IN ('the','and','of','to','is','in','that','it'))) * 1.0 AS en,
              len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))) * 1.0 AS de,
              len(list_filter(toks, t -> t IN ('le','la','les','et','est','une','que','des'))) * 1.0 AS fr,
              len(list_filter(toks, t -> t IN ('el','los','las','es','una','que','por','con'))) * 1.0 AS es
            FROM m)
          SELECT doc_id,
            CASE WHEN hangul / total > 0.1 THEN 'ko'
                 WHEN kana / total > 0.05 THEN 'ja'
                 WHEN cjk / total > 0.1 THEN 'zh'
                 WHEN cyr / total > 0.1 THEN 'ru'
                 WHEN viet / total > 0.02 THEN 'vi'
                 WHEN de / ntok > en / ntok AND de / ntok > fr / ntok AND de / ntok > es / ntok AND de / ntok > 0 THEN 'de'
                 WHEN fr / ntok > en / ntok AND fr / ntok > es / ntok AND fr / ntok > 0 THEN 'fr'
                 WHEN es / ntok > en / ntok AND es / ntok > 0 THEN 'es'
                 WHEN en / ntok > 0 THEN 'en'
                 ELSE 'und' END AS lang_id
          FROM w ORDER BY doc_id"""

  // ---------------------------------------------------------------
  // Vector search (Q-operators + ANN additions)
  // ---------------------------------------------------------------

  /** Q1 — exact cosine top-10 against the vec_id=0 query vector.
    * Rounded score is the sort key on both sides so ties break
    * identically.
    */
  val qAnnTopK: Q = (s, dir) => {
    val q = vecOf(s, dir, 0L)
    tbl(s, dir, "embeddings")
      .withColumn("score", round(cosineSimilarity(col("embedding"), typedLit(q.toSeq)), 4))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10)
      .select("vec_id", "label", "score")
  }

  val qAnnTopKSql: String =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT vec_id, label,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))), 4) AS score
           FROM embeddings, q)
       SELECT vec_id, label, score FROM scored ORDER BY score DESC, vec_id LIMIT 10"""

  /** Q1+Q2 — metadata predicate applied BEFORE top-k (pre-k filter
    * semantics, milvus_store.py:295).
    */
  val qAnnTopKFiltered: Q = (s, dir) => {
    val q = vecOf(s, dir, 0L)
    tbl(s, dir, "embeddings")
      .filter(col("label") === 3)
      .withColumn("score", round(cosineSimilarity(col("embedding"), typedLit(q.toSeq)), 4))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10)
      .select("vec_id", "label", "score")
  }

  val qAnnTopKFilteredSql: String =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT vec_id, label,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))), 4) AS score
           FROM embeddings, q WHERE label = 3)
       SELECT vec_id, label, score FROM scored ORDER BY score DESC, vec_id LIMIT 10"""

  /** Q7 — RAG prompt assembly, driver-graded (search_utils.py:101-136):
    * a deterministic top-5 retrieval (longest documents, doc_id
    * tie-break, 80-char snippets) through the REAL
    * [[graft.search.SearchFacade.ragPrompt]] — numbered 문서-i context
    * block joined with blank lines, system preamble, user query. The
    * oracle reassembles the exact prompt with string_agg over the same
    * top-5 CTE. The k-row collect inside ragPrompt is the operator's
    * correct altitude (k ≤ 10), not a driver-side loop over data.
    */
  val qRagPrompt: Q = (s, dir) => {
    import s.implicits._
    val top = tbl(s, dir, "documents")
      .select(substring(col("text"), 1, 80).as("text"), col("n_chars"), col("doc_id"))
      .orderBy(desc("n_chars"), col("doc_id"))
      .limit(5)
    graft.search.SearchFacade
      .ragPrompt(top, "분산 처리 엔진이란?")
      .zipWithIndex
      .map { case ((role, content), i) => (i + 1, role, content) }
      .toDF("idx", "role", "content")
  }

  val qRagPromptSql: String =
    """WITH top AS (
         SELECT substring(text, 1, 80) AS t,
                row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
         FROM documents QUALIFY rn <= 5),
       ctx AS (
         SELECT string_agg('문서 ' || rn || ': ' || t, chr(10) || chr(10) ORDER BY rn) AS c
         FROM top)
       SELECT CAST(1 AS INT) AS idx, 'system' AS role,
              '다음 문서들을 참고하여 질문에 답변해 주세요.' || chr(10) || chr(10) || c AS content
       FROM ctx
       UNION ALL
       SELECT CAST(2 AS INT), 'user', '분산 처리 엔진이란?'
       ORDER BY idx"""

  /** Q6 — the language-aware search façade, driver-graded
    * (search_utils.py:36-98): three queries (Korean / English /
    * Vietnamese) run through the REAL [[graft.search.SearchFacade
    * .search]] — C15 query-language detection picks the filter, the
    * filter applies PRE-k, the query embeds through the same
    * HashEmbedder as the collection, exact cosine top-5. The corpus is
    * given real language diversity first: doc_id%7==1 rows carry a
    * deterministic Korean text, %7==2 Vietnamese (C14 content detect
    * then routes them), and exact dedup keeps first so equal texts
    * can't produce score ties at the k boundary. The oracle replays the
    * text injection, the C14 CASE chain, the dedup QUALIFY, the MD5
    * trigram embeddings, the C15 constants per query, and the filtered
    * top-5 — a mis-detected query language would swap the filter and
    * break every row of that query's block.
    *
    * Graded slice capped at the replica-0 documents (doc_id < [[Replica0Cap]];
    * no-op at driver sfs) for the same reason as q_pipeline_e2e: the
    * oracle's per-document trigram-embedding state is non-spillable in
    * DuckDB and OOM'd the replay host at sf100 (r13 sweep, "failed to
    * allocate ... bad allocation"). Fixed-density full recompute at
    * every decade; the engine side's full-corpus batch search is
    * bench-measured.
    */
  val qSearchFacade: Q = (s, dir) => {
    import graft.search.SearchFacade
    val embedder = new HashEmbedder(dim = 64)
    val mod = pmod(col("doc_id"), lit(7))
    val langText = when(mod === 1,
        concat(lit("분산 데이터 처리 엔진 "), col("doc_id"), lit(" 번째 문서 내용 스파크 조인 집계")))
      .when(mod === 2,
        concat(lit("dữ liệu phân tán số "), col("doc_id"), lit(" truy vấn và xử lý nhanh")))
      .otherwise(col("text"))
    val base = rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < Replica0Cap))
      .select(col("doc_id"), langText.as("text"))
    // Everything the search needs from the text — language, embedding,
    // dedup key — derives in the SCAN stage; the dedup shuffle then
    // moves only (doc_id, language, 64-float vector, 16-byte key), and
    // the text column never enters an exchange. Embed-then-dedup is
    // output-identical to dedup-then-embed (equal texts embed equally),
    // and the round-11 sf100 probe measured the text-through-the-window
    // order at 37× for a 13.9× decade — pure shuffle spill of a column
    // the query drops right after.
    val enriched = Embedders
      .withEmbedding(
        base.withColumn("language", LanguageDetect.detectContentLanguage(col("text"))),
        "text", "embedding", embedder)
      .withColumn("__h", Dedup.contentHash(col("text")))
      .select("doc_id", "language", "embedding", "__h")
    val coll = Dedup.exactDedupByKey(enriched, "__h", Seq("doc_id")).drop("__h")
    val queries = Seq(
      ("ko", "분산 처리 엔진이란 무엇인가요"),
      ("en", "spark join order table"),
      ("vi", "dữ liệu phân tán và truy vấn"))
    // batch form: the embed subtree materializes ONCE; the naive
    // per-query loop re-derived the full collection 3× (92 s at sf10).
    // Bracketed so the corpus-width checkpoint blocks release at the
    // end of the query — the k-row union is checkpointed (tiny) so the
    // returned frame stays valid after the release.
    SearchFacade.withSearchBatch(coll, queries, embedder, k = 5, extraCols = Seq("doc_id")) {
      frames =>
        frames
          .zip(queries)
          .map { case ((tag, hits), (_, q)) =>
            hits.select(
              lit(tag).as("query_tag"),
              lit(SearchFacade.detectQueryLanguageScala(q)).as("query_lang"),
              col("doc_id"),
              col("language"),
              round(col("score"), 4).as("score"))
          }
          .reduce(_.unionByName(_))
          .localCheckpoint()
    }
  }

  val qSearchFacadeSql: String =
    raw"""WITH injected AS (
            SELECT doc_id, CASE
              WHEN doc_id % 7 = 1 THEN '분산 데이터 처리 엔진 ' || doc_id || ' 번째 문서 내용 스파크 조인 집계'
              WHEN doc_id % 7 = 2 THEN 'dữ liệu phân tán số ' || doc_id || ' truy vấn và xử lý nhanh'
              ELSE text END AS text
            FROM documents WHERE doc_id < $Replica0Cap),
          dd AS (
            SELECT doc_id, text FROM injected
            QUALIFY row_number() OVER (
              PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
              ORDER BY doc_id) = 1),
          lang AS (
            SELECT doc_id, CASE
              WHEN total = 0 THEN 'korean'
              WHEN kr / total > 0.10 THEN 'korean'
              WHEN vi / total > 0.02 THEN 'vietnamese'
              WHEN en / total > 0.30 THEN 'english'
              WHEN kr / total >= vi / total AND kr / total >= en / total THEN 'korean'
              WHEN vi / total >= en / total THEN 'vietnamese'
              ELSE 'english' END AS language
            FROM (SELECT doc_id,
                   CAST(length(text) AS DOUBLE) AS total,
                   CAST(length(text) - length(regexp_replace(text, '[가-힣]', '', 'g')) AS DOUBLE) AS kr,
                   CAST(length(text) - length(regexp_replace(text, '[ăâđêôơưĂÂĐÊÔƠƯàáảãạèéẻẽẹìíỉĩịòóỏõọùúủũụỳýỷỹỵ]', '', 'g')) AS DOUBLE) AS vi,
                   CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) AS en
                 FROM dd)),
          qs AS (
            SELECT * FROM (VALUES
              ('ko', '분산 처리 엔진이란 무엇인가요', 'korean', CAST(-1 AS BIGINT)),
              ('en', 'spark join order table', 'english', CAST(-2 AS BIGINT)),
              ('vi', 'dữ liệu phân tán và truy vấn', 'vietnamese', CAST(-3 AS BIGINT))
            ) AS t(tag, qtext, qlang, qid)),
          corpus_text AS (
            SELECT doc_id, chr(2) || lower(text) || chr(3) AS s FROM dd
            UNION ALL
            SELECT qid, chr(2) || lower(qtext) || chr(3) FROM qs),
          tri AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, length(s) - 1), i -> substring(s, CAST(i AS INT), 3))) AS g
            FROM corpus_text),
          sparse AS (
            SELECT doc_id,
                   CAST((('0x' || substring(md5(g), 1, 8))::UINTEGER) % 64 AS INT) AS idx,
                   CAST(sum(CASE WHEN ('0x' || substring(md5(g), 1, 8))::UINTEGER < 2147483648 THEN 1 ELSE -1 END) AS DOUBLE) AS cnt
            FROM tri GROUP BY 1, 2),
          comps AS (
            SELECT doc_id, idx,
                   CAST(cnt * (1.0 / sqrt(sum(cnt * cnt) OVER (PARTITION BY doc_id))) AS FLOAT) AS val
            FROM sparse),
          vecs AS (
            SELECT doc_id,
                   list_transform(range(0, 64), i ->
                     CASE WHEN list_position(idxs, CAST(i AS INT)) > 0
                          THEN vals[list_position(idxs, CAST(i AS INT))]
                          ELSE 0.0::FLOAT END)::DOUBLE[] AS v
            FROM (SELECT doc_id,
                         list(idx ORDER BY idx) AS idxs,
                         list(val ORDER BY idx) AS vals
                  FROM comps GROUP BY doc_id)),
          scored AS (
            SELECT q.tag, q.qlang, d.doc_id, l.language,
                   list_dot_product(c.v, qv.v)
                     / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(qv.v, qv.v))) AS raw
            FROM dd d
            JOIN vecs c ON c.doc_id = d.doc_id
            JOIN lang l ON l.doc_id = d.doc_id
            JOIN qs q ON l.language = q.qlang
            JOIN vecs qv ON qv.doc_id = q.qid),
          ranked AS (
            SELECT tag, qlang, doc_id, language, raw,
                   row_number() OVER (PARTITION BY tag ORDER BY raw DESC, doc_id) AS rn
            FROM scored)
          SELECT tag AS query_tag, qlang AS query_lang, doc_id, language,
                 round(raw, 4) AS score
          FROM ranked WHERE rn <= 5
          ORDER BY tag, score DESC, doc_id"""

  /** Q4 — multi-collection fan-out: per-label top-3, tag, merge,
    * global top-5 by similarity.
    */
  val qMultiCollection: Q = (s, dir) => {
    val q = vecOf(s, dir, 0L)
    val scored = tbl(s, dir, "embeddings")
      .withColumn("score", round(cosineSimilarity(col("embedding"), typedLit(q.toSeq)), 4))
    val w = Window.partitionBy(col("label")).orderBy(desc("score"), col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .orderBy(desc("score"), col("vec_id"))
      .limit(5)
      .select(col("vec_id"), col("label").as("collection"), col("score"))
  }

  val qMultiCollectionSql: String =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT vec_id, label,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))), 4) AS score
           FROM embeddings, q),
         ranked AS (
           SELECT vec_id, label, score,
                  row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id) AS rk
           FROM scored)
       SELECT vec_id, label AS collection, score FROM ranked WHERE rk <= 3
       ORDER BY score DESC, vec_id LIMIT 5"""

  /** kNN JOIN — top-3 corpus neighbors for each of the first 5 query
    * vectors (self excluded), broadcast query side.
    */
  val qKnnJoin: Q = (s, dir) => {
    val e = tbl(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = e
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", round(cosineSimilarity(col("embedding"), col("qv")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("score"), col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("score"), col("rank"))
      .orderBy("query_id", "rank")
  }

  val qKnnJoinSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(e.embedding::DOUBLE[], q.qv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
           FROM embeddings e, q WHERE e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, score,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
           FROM scored)
       SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 3
       ORDER BY query_id, rank"""

  /** IVF index cache: index BUILD is a one-time load-side operation in
    * the reference (milvus_store.py:110-136); searches reuse it. Cache
    * per scale-factor dir so repeated search queries measure SEARCH,
    * not KMeans retraining. The labeled corpus is persisted like a
    * written collection would be.
    */
  /** nlist/nprobe used by the driver's IVF queries. The synthetic
    * embeddings are near-isotropic (hash-generated), so true neighbors
    * scatter across clusters and recall scales roughly with
    * nprobe/nlist — unlike real embedding corpora, which cluster and
    * reach high recall at nprobe << nlist. nprobe is therefore tuned on
    * this corpus for exact-recall driver evidence while still pruning
    * (the oracle compares against the exact top-k, so any recall loss
    * turns the row red).
    */
  private[queries] val IvfQueryCfg = graft.model.IndexConfig(nlist = 16, nprobe = 12)

  /** Cache value: (labeled corpus, centroids, per-cluster covering
    * radii). The radii (nlist doubles) are what let the graded IVF
    * queries run the EXACT bounded search — green at every scale
    * factor by construction, not by nprobe tuning. The cache is
    * bench-process-scoped and tiny (one cached corpus + nlist·dim
    * floats per sf dir); there is deliberately no eviction.
    */
  private val ivfCache =
    scala.collection.concurrent.TrieMap.empty[String, (DataFrame, Array[Array[Float]], Array[Double])]

  private def ivfIndexFor(
      s: SparkSession, dir: String): (DataFrame, Array[Array[Float]], Array[Double]) =
    ivfCache.getOrElseUpdate(
      dir, {
        val e = tbl(s, dir, "embeddings")
        val (labeled, centroids) =
          IvfIndex.build(e, "embedding", IvfQueryCfg)
        val cached = labeled.cache()
        val radii = IvfIndex.clusterRadii(cached, centroids)(s)
        (cached, centroids, radii)
      }
    )

  /** IVF top-k through the EXACT bounded search (scout nprobe clusters,
    * then scan every cluster whose radius bound could still hold a
    * top-k row — IvfIndex.searchTopKExact). KMeans is engine-specific,
    * but the RESULT is engine-independent: exact top-10, at ANY scale
    * factor, by construction — the round-3 rank-10 recall boundary at
    * sf0.1 (nprobe=12 dropping ~1 neighbor) cannot recur. The oracle
    * recomputes the exact top-10 in DuckDB. The approximate
    * fixed-nprobe path stays available as IvfIndex.searchTopK, with
    * q_ivf_recall pinning its ≥0.9 recall independently. boundSlack
    * 2e-4 > the 1e-4 display-rounding grid, so round-into-tie rows are
    * always probed — and scoreRounding/tieBreakCol make the FINAL
    * selection rank on (round(score,4) DESC, vec_id) exactly like the
    * oracle, so the k-boundary is deterministic too (ADVICE r4).
    */
  val qIvfSearch: Q = (s, dir) => {
    val (labeled, centroids, radii) = ivfIndexFor(s, dir)
    val q = vecOf(s, dir, 0L)
    IvfIndex
      .searchTopKExact(labeled, centroids, radii, q, 10, scout = IvfQueryCfg.nprobe,
        scoreRounding = Some(4), tieBreakCol = Some("vec_id"))
      .select(col("vec_id"), col("label"), col("score"))
      .orderBy(desc("score"), col("vec_id"))
  }

  val qIvfSearchSql: String = qAnnTopKSql

  /** Recall@10 of the IVF search vs exact search, computed distributed
    * (intersect of the two id sets). The assertion (recall ≥ 0.9) is
    * made in Spark; the oracle pins the asserted value, so the row goes
    * red the moment ANN quality regresses.
    *
    * BOTH sides run over the cached labeled corpus the IVF queries
    * share: the exact side is the same scan minus the cluster filter
    * (round-2 bench re-read the parquet AND re-ran the IVF pipeline
    * from scratch — 6.3 s of redundant recompute for a 1-row answer).
    */
  val qIvfRecall: Q = (s, dir) => {
    val (labeled, centroids, _) = ivfIndexFor(s, dir)
    val q = vecOf(s, dir, 0L)
    def top10(df: DataFrame) = df
      .withColumn("score", round(cosineSimilarity(col("embedding"), typedLit(q.toSeq)), 4))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10)
      .select("vec_id")
    val exact = top10(labeled)
    val probes = IvfIndex.nearestClusters(q, centroids, IvfQueryCfg.nprobe)
    val ivf = top10(labeled.filter(col("cluster_id").isin(probes: _*)))
    ivf
      .intersect(exact)
      .agg(count(lit(1)).cast("int").as("overlap"))
      .select(
        lit(10).as("k"),
        (col("overlap") >= 9).as("recall_ok")
      )
  }

  val qIvfRecallSql: String =
    "SELECT CAST(10 AS INT) AS k, true AS recall_ok"

  /** IVF-accelerated kNN join through the EXACT bounded two-pass join
    * (IvfIndex.knnJoinExact): scout pass joins each query to its
    * nprobe best-bound clusters, guarantee pass adds only clusters the
    * radius bound can't rule out. Still broadcast-centroid + cluster
    * equi-joins — no cross product — but exact at ANY scale factor by
    * construction (the round-3 sf0.001 tiny-scale recall property
    * cannot recur). Oracle = the exact kNN join recomputed in DuckDB.
    * The fixed-nprobe approximate join stays available as
    * IvfIndex.knnJoin. boundSlack 2e-4 > the 1e-4 rounding grid used
    * for the graded ranking.
    */
  val qIvfKnnJoin: Q = (s, dir) => {
    implicit val sp: SparkSession = s
    val e = tbl(s, dir, "embeddings")
    val cfg = IvfQueryCfg
    val (labeled, centroids, radii) = ivfIndexFor(s, dir)
    IvfIndex
      .knnJoinExact(
        e.filter(col("vec_id") < 5), labeled, centroids, radii, "vec_id", "vec_id", 3,
        scoutProbe = cfg.nprobe, scoreRounding = Some(4), excludeSelf = true)
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------
  // Attribute / projection ops (Q3, C18, C19)
  // ---------------------------------------------------------------

  val qAttrQuery: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .filter(col("source") === "src7")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
      .limit(10)

  val qAttrQuerySql: String =
    """SELECT doc_id, lang, n_chars FROM documents WHERE source = 'src7'
       ORDER BY doc_id LIMIT 10"""

  /** One dynamic-field store per sf dir: documents written through
    * [[graft.store.VectorStore.writeCollectionDynamic]] with two ad-hoc
    * columns OUTSIDE the fixed chunk schema (`n_chars`, `review_batch`)
    * so they spill into the `extra` map on disk. Written once per JVM
    * per sf, like ivfCollectionPathFor — the store layout is load-side
    * work.
    */
  private val dynStorePathCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def dynStorePathFor(s: SparkSession, dir: String): String =
    dynStorePathCache.getOrElseUpdate(
      dir, {
        val d = tbl(s, dir, "documents").select(
          col("doc_id").cast("string").as("chunk_id"),
          col("text"),
          col("source"),
          col("lang").as("language"),
          // ad-hoc metadata not in Chunk.FixedFields → rides `extra`
          col("n_chars"),
          (col("doc_id") % 7).cast("string").as("review_batch"))
        val out = java.nio.file.Files.createTempDirectory("graft-dyn-coll").toString
        new graft.store.VectorStore(out).writeCollectionDynamic(d, "docs_dyn")
        out
      }
    )

  /** Dynamic-field overflow (reference `enable_dynamic_field=True`,
    * milvus_store.py:65) graded END TO END through the store: ad-hoc
    * columns are packed into `extra` by `writeCollectionDynamic`,
    * survive the parquet round-trip, and come back out through
    * [[graft.store.VectorStore.dynamicField]] — as a FILTER (the Milvus
    * expr-on-JSON-field query shape) and as typed projections. The
    * oracle replays the semantics from the raw table: green means the
    * pack → store → read → extract chain loses nothing, absent keys
    * read as NULL, and null-valued entries were dropped from the map
    * (absent key == absent field, the reference's JSON semantics).
    */
  val qAttrDynamic: Q = (s, dir) => {
    val store = new graft.store.VectorStore(dynStorePathFor(s, dir))
    store
      .readCollection(s, "docs_dyn")
      .filter(graft.store.VectorStore.dynamicField("review_batch") === "3")
      .select(
        col("chunk_id").cast("long").as("doc_id"),
        col("language"),
        graft.store.VectorStore.dynamicField("n_chars").cast("long").as("n_chars"),
        graft.store.VectorStore.dynamicField("review_batch").as("review_batch"),
        graft.store.VectorStore.dynamicField("never_written").as("missing_field"))
      .orderBy("doc_id")
  }

  val qAttrDynamicSql: String =
    """SELECT doc_id, lang AS language, n_chars,
              CAST(doc_id % 7 AS VARCHAR) AS review_batch,
              CAST(NULL AS VARCHAR) AS missing_field
       FROM documents WHERE doc_id % 7 = 3 ORDER BY doc_id"""

  val qTruncateProject: Q = (s, dir) => {
    val d = tbl(s, dir, "documents")
    d.select(
      col("doc_id") +:
        TextCleaner.truncateForStore(col("text"), col("source"), col("source"), col("lang")): _*
    )
  }

  val qTruncateProjectSql: String =
    s"""SELECT doc_id,
        substring(coalesce(text, ''), 1, ${FieldCaps.Text}) AS text,
        substring(coalesce(source, ''), 1, ${FieldCaps.Source}) AS source,
        substring(coalesce(source, ''), 1, ${FieldCaps.Filename}) AS filename,
        substring(coalesce(lang, 'unknown'), 1, ${FieldCaps.Language}) AS language
        FROM documents ORDER BY doc_id"""

  val qCollectionName: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .select(col("source"), TextCleaner.collectionName(col("source"), "docs_").as("collection"))
      .distinct()

  val qCollectionNameSql: String =
    """SELECT DISTINCT source, 'docs_' || regexp_replace(lower(source), '[- ]', '_', 'g') AS collection
       FROM documents ORDER BY source"""

  /** Multimodal plumbing over driver tables: document text cast to a
    * binary payload column, then the batched media metadata + feature
    * extraction stages — the full opaque-binary path exercised on real
    * testdata. Oracled: the featurizer hashes with MD5 (see
    * Multimodal.HashFeaturizer), so the DuckDB oracle reconstructs every
    * 32-dim feature vector from the payload bytes. The array itself is
    * emitted as scalars (the harness can't sort raw arrays): md5 over
    * the 1e4-scaled INTEGER components — integer encoding on both
    * engines, so no float-formatting divergence — plus their exact
    * integer sum.
    */
  val qMediaFeatures: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    // replica-0 slice since r17: the oracle unnests one hashed row per
    // 512 payload bytes and rebuilds each doc's 32-dim vector via list()
    // aggregation — non-spillable in DuckDB, exhausted the ~100 GB cap
    // at sf100r realistic (records/sweep_sf100r_r17.log). No-op at the
    // driver sfs; full-corpus media decode at scale stays graded by
    // q_image/audio/video_features (arithmetic oracles, PASS at sf100r
    // with 5M rows each).
    val docs = rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < Replica0Cap))
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val withMeta = Multimodal.withMediaMeta(docs, "payload", "text-as-binary")
    val featured = Multimodal.withMediaFeatures(withMeta, "payload", dim = 32)
    val enc = transform(col("features"), x => round(x.cast("double") * 10000).cast("int"))
    featured.select(
      col("doc_id"),
      col("media_meta.size_bytes").as("size_bytes"),
      md5(concat_ws(",", transform(enc, _.cast("string")))).as("features_md5"),
      aggregate(enc, lit(0L), (acc, x) => acc + x).as("features_isum")
    )
  }

  val qMediaFeaturesSql: String = rerouteDocReads(
    raw"""WITH b AS (
            SELECT doc_id, text, length(text) AS n,
                   greatest(1, length(text) // 512) AS step
            FROM documents),
          pos AS (
            SELECT doc_id, unnest(range(0, n, step)) AS i, text FROM b),
          hashed AS (
            SELECT doc_id,
                   ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' ||
                      CAST(ascii(substring(text, CAST(i + 1 AS INT), 1)) AS VARCHAR)), 1, 8))::UINTEGER AS u
            FROM pos),
          sparse AS (
            SELECT doc_id, CAST(u % 32 AS INT) AS idx,
                   CAST(sum(CASE WHEN u % 2 = 0 THEN 1 ELSE -1 END) AS DOUBLE) AS cnt
            FROM hashed GROUP BY 1, 2),
          comps AS (
            SELECT doc_id, idx,
                   CAST(round(CAST(CAST(cnt / sqrt(sum(cnt * cnt) OVER (PARTITION BY doc_id)) AS FLOAT) AS DOUBLE) * 10000) AS INT) AS enc
            FROM sparse),
          vecs AS (
            SELECT doc_id,
                   list_transform(range(0, 32), i ->
                     CASE WHEN list_position(idxs, CAST(i AS INT)) > 0
                          THEN encs[list_position(idxs, CAST(i AS INT))]
                          ELSE 0 END) AS enc
            FROM (SELECT doc_id, list(idx ORDER BY idx) AS idxs, list(enc ORDER BY idx) AS encs
                  FROM comps GROUP BY doc_id))
          SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS size_bytes,
                 md5(array_to_string(list_transform(v.enc, x -> CAST(x AS VARCHAR)), ',')) AS features_md5,
                 CAST(list_sum(v.enc) AS BIGINT) AS features_isum
          FROM documents d JOIN vecs v USING (doc_id)
          ORDER BY d.doc_id""",
    s"FROM (SELECT * FROM documents WHERE doc_id < $Replica0Cap)")

  /** REAL image decode (VERDICT r3 #4): render a deterministic gradient
    * PNG per document (ImageCodec.encodePng — genuine PNG containers),
    * decode it back through `javax.imageio` (ImageCodec.decodeStats),
    * and emit dimensions + per-channel means. Because each pixel is a
    * closed-form function of (x, y, seed), the oracle recomputes the
    * expected features ARITHMETICALLY — no image library in DuckDB —
    * so a green row proves the decode read real pixels out of a real
    * PNG, not plumbing. Channel mean = one IEEE division of an exact
    * integer sum, the catalog's usual bit-parity shape; the CPU-heavy
    * encode/decode stage is rebalanced across cores first (single
    * row-group parquet inputs never split locally).
    */
  val qImageFeatures: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val dims = rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("w", (lit(8) + pmod(col("doc_id"), lit(9))).cast("int"))
      .withColumn("h", (lit(8) + pmod(col("doc_id") * 3, lit(7))).cast("int"))
      .withColumn("seed", pmod(col("doc_id"), lit(1000)).cast("int"))
    val png = Multimodal.withEncodedPng(dims, "w", "h", "seed")
    // channel mean = integer sum / (w·h) — exact-integer 4-dp HALF_UP
    // (ratioCol; the r16 midpoint class: e.g. w·h = 160 puts odd sums
    // exactly on .5·10⁻⁵, where the engines' double paths round apart)
    Multimodal.withImageStats(png, "png")
      .select(
        col("doc_id"),
        col("img_width"),
        col("img_height"),
        ratioCol("sum_r", "(img_width * CAST(img_height AS BIGINT))", 10000L).as("mean_r"),
        ratioCol("sum_g", "(img_width * CAST(img_height AS BIGINT))", 10000L).as("mean_g"),
        ratioCol("sum_b", "(img_width * CAST(img_height AS BIGINT))", 10000L).as("mean_b")
      )
  }

  val qImageFeaturesSql: String =
    """WITH dims AS (
         SELECT doc_id,
                CAST(8 + doc_id % 9 AS INT) AS w,
                CAST(8 + (doc_id * 3) % 7 AS INT) AS h,
                CAST(doc_id % 1000 AS INT) AS seed
         FROM documents),
       px AS (SELECT doc_id, w, h, seed, unnest(range(0, w)) AS x FROM dims),
       pxy AS (SELECT doc_id, w, h, seed, x, unnest(range(0, h)) AS y FROM px),
       sums AS (
         SELECT doc_id, any_value(w) AS w, any_value(h) AS h,
                sum((x * 31 + y * 17 + seed) % 256) AS sr,
                sum((x * 7 + y * 13 + 2 * seed) % 256) AS sg,
                sum((x * 3 + y * 29 + 5 * seed) % 256) AS sb
         FROM pxy GROUP BY doc_id)
       -- channel means exact-integer 4-dp HALF_UP (ratioCol mirror)
       SELECT doc_id, w AS img_width, h AS img_height,
              ((2 * sr * 10000 + w * h) // (2 * w * h)) / 10000.0 AS mean_r,
              ((2 * sg * 10000 + w * h) // (2 * w * h)) / 10000.0 AS mean_g,
              ((2 * sb * 10000 + w * h) // (2 * w * h)) / 10000.0 AS mean_b
       FROM sums ORDER BY doc_id"""

  /** REAL audio decode end-to-end: generate genuine RIFF/WAVE PCM
    * containers (javax.sound.sampled) per document, decode them back,
    * and emit container-reported format plus amplitude stats. The
    * oracle recomputes every stat arithmetically from the
    * deterministic sample formula — green means the bytes really
    * round-tripped through a real WAV encoder/decoder and the decoded
    * samples match the closed form.
    */
  val qAudioFeatures: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val dims = rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("n", (lit(400) + pmod(col("doc_id"), lit(351))).cast("int"))
      .withColumn("rate", lit(8000).cast("int"))
      .withColumn("seed", pmod(col("doc_id"), lit(1000)).cast("int"))
    val wav = Multimodal.withEncodedWav(dims, "n", "rate", "seed")
    Multimodal.withAudioStats(wav, "wav")
      .select(
        col("doc_id"),
        col("sample_rate"),
        col("channels"),
        col("frames"),
        col("duration_ms"),
        // integer ratio sum_abs/n_samples — exact-integer 4-dp HALF_UP
        // (ratioCol; the r16 midpoint class)
        ratioCol("sum_abs", "n_samples", 10000L).as("mean_abs"),
        col("peak")
      )
  }

  val qAudioFeaturesSql: String =
    """WITH dims AS (
         SELECT doc_id,
                CAST(400 + doc_id % 351 AS INT) AS n,
                CAST(doc_id % 1000 AS INT) AS seed
         FROM documents),
       si AS (SELECT doc_id, n, seed, unnest(range(0, n)) AS i FROM dims),
       sums AS (
         SELECT doc_id, any_value(n) AS n,
                sum(abs((i * 37 + seed * 101) % 65536 - 32768)) AS sa,
                max(abs((i * 37 + seed * 101) % 65536 - 32768)) AS pk
         FROM si GROUP BY doc_id)
       SELECT doc_id,
              CAST(8000 AS INT) AS sample_rate,
              CAST(1 AS INT) AS channels,
              CAST(n AS BIGINT) AS frames,
              CAST(n AS BIGINT) * 1000 // 8000 AS duration_ms,
              ((2 * sa * 10000 + n) // (2 * n)) / 10000.0 AS mean_abs,
              CAST(pk AS INT) AS peak
       FROM sums ORDER BY doc_id"""

  /** REAL video decode end-to-end (the last codec to go real — VERDICT
    * r8 #1): generate a genuine MJPEG-in-AVI clip per document
    * (VideoCodec.encodeAviMjpeg — a RIFF container of real javax.imageio
    * JPEG frames), decode it back frame by frame, and emit container
    * format plus pixel stats. Frames are constant within each aligned
    * 8x8 block, which survives JPEG's DCT bit-exactly (flat blocks, DC
    * only; pinned exhaustively in VideoCodecSpec), so the oracle
    * recomputes every stat ARITHMETICALLY from the blockValue closed
    * form — green proves real JPEG frames came out of a real AVI
    * container with the right pixels in the right frames. Mean level =
    * one IEEE division of an exact integer sum; fps drawn from
    * {8,10,20,25} so the avih microseconds-per-frame field is exact.
    */
  val qVideoFeatures: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val dims = rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("wb", (lit(2) + pmod(col("doc_id"), lit(3))).cast("int"))
      .withColumn("hb", (lit(2) + pmod(col("doc_id") * 5, lit(3))).cast("int"))
      .withColumn("nf", (lit(3) + pmod(col("doc_id"), lit(6))).cast("int"))
      .withColumn("fps_in", // decode re-derives `fps` from the container
        element_at(array(lit(8), lit(10), lit(20), lit(25)),
          (pmod(col("doc_id"), lit(4)) + 1).cast("int")))
      .withColumn("seed", pmod(col("doc_id"), lit(1000)).cast("int"))
    val avi = Multimodal.withEncodedAvi(dims, "wb", "hb", "nf", "fps_in", "seed")
    Multimodal.withVideoStats(avi, "avi")
      .select(
        col("doc_id"),
        col("vid_width"),
        col("vid_height"),
        col("n_frames"),
        col("fps"),
        col("duration_ms"),
        // integer ratio pixel_sum/(frames·w·h) — exact-integer 4-dp
        // HALF_UP. The oracle's block-level pair (s_blocks/(nf·wb·hb))
        // is the same ratio scaled by 64 (8×8 constant blocks), and
        // exact rational rounding is representation-independent.
        ratioCol("pixel_sum",
          "(CAST(n_frames AS BIGINT) * vid_width * vid_height)", 10000L).as("mean_level"),
        col("peak_level")
      )
  }

  val qVideoFeaturesSql: String =
    """WITH dims AS (
         SELECT doc_id,
                CAST(2 + doc_id % 3 AS INT) AS wb,
                CAST(2 + (doc_id * 5) % 3 AS INT) AS hb,
                CAST(3 + doc_id % 6 AS INT) AS nf,
                CAST([8, 10, 20, 25][CAST(doc_id % 4 AS INT) + 1] AS INT) AS fps,
                CAST(doc_id % 1000 AS INT) AS seed
         FROM documents),
       fr AS (SELECT doc_id, wb, hb, nf, fps, seed, unnest(range(0, nf)) AS f FROM dims),
       frx AS (SELECT doc_id, wb, hb, nf, fps, seed, f, unnest(range(0, wb)) AS bx FROM fr),
       frxy AS (SELECT doc_id, wb, hb, nf, fps, seed, f, bx, unnest(range(0, hb)) AS by FROM frx),
       sums AS (
         SELECT doc_id, any_value(wb) AS wb, any_value(hb) AS hb,
                any_value(nf) AS nf, any_value(fps) AS fps,
                sum((bx * 53 + by * 101 + f * 29 + seed * 13) % 256) AS s,
                max((bx * 53 + by * 101 + f * 29 + seed * 13) % 256) AS pk
         FROM frxy GROUP BY doc_id)
       SELECT doc_id,
              CAST(wb * 8 AS INT) AS vid_width,
              CAST(hb * 8 AS INT) AS vid_height,
              CAST(nf AS INT) AS n_frames,
              CAST(fps AS INT) AS fps,
              CAST(nf AS BIGINT) * 1000 // fps AS duration_ms,
              ((2 * s * 10000 + nf * wb * hb) // (2 * nf * wb * hb)) / 10000.0 AS mean_level,
              CAST(pk AS INT) AS peak_level
       FROM sums ORDER BY doc_id"""

  /** REAL HTML extraction end-to-end (S1/S2/C13, html_loader.py:38-113
    * + text_cleaner.py:227-260): synthesize a deterministic HTML
    * document per row — title with a raw entity, boilerplate
    * (script/style/nav/header/footer + a comment), h1/h2 headings,
    * paragraphs carrying escaped angle brackets, lists, tables — and
    * run the REAL [[graft.sources.HtmlLoader]] extractor over it. The
    * oracle reconstructs every graded field string-algebraically from
    * doc_id, so green proves: boilerplate blocks dropped, tags
    * stripped BEFORE entities unescape (the `&lt;id&gt;` → literal
    * `<id>` survivor pins the order), title captured raw, headings
    * collected with level+text, and structure counts exact.
    *
    * text_norm grades the extracted text with runs of whitespace
    * collapsed — the raw form's exact space placement is an artifact
    * of tag→space replacement, not semantics; the visible token
    * sequence is what get_text parity means.
    */
  val qHtmlExtract: Q = (s, dir) => {
    import graft.sources.HtmlLoader
    val d = rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("np", (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
      .withColumn("nl", pmod(col("doc_id"), lit(3)).cast("int"))
      .withColumn("nt", pmod(col("doc_id"), lit(2)).cast("int"))
      .withColumn("nh", (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    val h2s = array_join(
      transform(sequence(lit(1), col("nh")),
        i => concat(lit("<h2>Part "), col("doc_id") * 7 + i, lit("</h2>"))), "")
    val ps = array_join(
      transform(sequence(lit(1), col("np")),
        j => concat(lit("<p>Alpha "), col("doc_id"), lit(" beta &lt;"), col("doc_id"),
          lit("&gt; gamma "), col("doc_id") * 31 + j, lit(".</p>"))), "")
    // sequence(1, 0) yields a DESCENDING [1,0], not empty — guard the
    // zero-count cases explicitly
    val ls = when(col("nl") >= 1, array_join(
      transform(sequence(lit(1), col("nl")),
        j => concat(lit("<ul><li>item "), col("doc_id") * 13 + j, lit("</li></ul>"))), ""))
      .otherwise(lit(""))
    val ts = when(col("nt") >= 1, array_join(
      transform(sequence(lit(1), col("nt")),
        j => concat(lit("<table><tr><td>cell "), col("doc_id") * 17 + j,
          lit("</td></tr></table>"))), ""))
      .otherwise(lit(""))
    val html = concat(
      lit("<html><head><title>Doc "), col("doc_id"), lit(" &amp; Co</title>"),
      lit("<style>p{color:red}</style><script>var x = 1;</script></head><body>"),
      lit("<!-- hidden --><header>HDR</header><nav><a href=\"#\">NAV</a></nav>"),
      lit("<h1>Main "), col("doc_id"), lit("</h1>"),
      h2s, ps, ls, ts,
      lit("<footer>FTR</footer></body></html>"))
    d.withColumn("p", HtmlLoader.extract(html))
      .select(
        col("doc_id"),
        col("p._2").as("title"),
        array_join(
          transform(col("p._3"), h => concat(h.getField("_1"), lit(":"), h.getField("_2"))),
          "|").as("headings_str"),
        col("p._4").as("list_count"),
        col("p._5").as("table_count"),
        col("p._6").as("paragraph_count"),
        trim(regexp_replace(col("p._1"), "\\s+", " ")).as("text_norm"))
  }

  val qHtmlExtractSql: String =
    """WITH d AS (
         SELECT doc_id,
                doc_id % 4 + 1 AS np, doc_id % 3 AS nl,
                doc_id % 2 AS nt, doc_id % 3 + 1 AS nh
         FROM documents),
       h2 AS (
         SELECT doc_id,
                string_agg('2:Part ' || (doc_id*7 + j), '|' ORDER BY j) AS hstr,
                string_agg('Part ' || (doc_id*7 + j), ' ' ORDER BY j) AS htxt
         FROM (SELECT doc_id, unnest(range(1, nh + 1)) AS j FROM d) GROUP BY doc_id),
       ps AS (
         SELECT doc_id,
                string_agg('Alpha ' || doc_id || ' beta <' || doc_id || '> gamma ' ||
                           (doc_id*31 + j) || '.', ' ' ORDER BY j) AS ptxt
         FROM (SELECT doc_id, unnest(range(1, np + 1)) AS j FROM d) GROUP BY doc_id),
       ls AS (
         SELECT doc_id, string_agg('item ' || (doc_id*13 + j), ' ' ORDER BY j) AS ltxt
         FROM (SELECT doc_id, unnest(range(1, nl + 1)) AS j FROM d) GROUP BY doc_id),
       ts AS (
         SELECT doc_id, string_agg('cell ' || (doc_id*17 + j), ' ' ORDER BY j) AS ttxt
         FROM (SELECT doc_id, unnest(range(1, nt + 1)) AS j FROM d) GROUP BY doc_id)
       SELECT d.doc_id,
              'Doc ' || d.doc_id || ' &amp; Co' AS title,
              '1:Main ' || d.doc_id || '|' || h2.hstr AS headings_str,
              CAST(d.nl AS INT) AS list_count,
              CAST(d.nt AS INT) AS table_count,
              CAST(d.np AS INT) AS paragraph_count,
              concat_ws(' ',
                'Doc ' || d.doc_id || ' & Co',
                'Main ' || d.doc_id,
                h2.htxt, ps.ptxt, ls.ltxt, ts.ttxt) AS text_norm
       FROM d
       JOIN h2 USING (doc_id) JOIN ps USING (doc_id)
       LEFT JOIN ls ON d.doc_id = ls.doc_id
       LEFT JOIN ts ON d.doc_id = ts.doc_id
       ORDER BY d.doc_id"""

  /** The REAL filesystem load path (S1+S3+S8): one deterministic HTML
    * file per document row is written to a local source tree (one
    * folder per doc_id%5, written ONCE per JVM from the executors),
    * then [[graft.sources.HtmlLoader.load]] runs its actual
    * binaryFile scan — recursive lookup, glob filter, path-derived
    * folder/filename/file_type, file_size from the scan's length
    * column, the cleaning battery, content language detect, and the
    * S8 min-chars filter (doc_id%29==0 files carry a near-empty body
    * and must be dropped; doc_id%41==0 files are CORRUPT control-byte
    * garbage the extractor must survive without throwing — O9). The
    * oracle rebuilds the exact bytes written, so file_size and the
    * cleaned text both replay closed-form, and it excludes the
    * corrupt ids: a thrown exception or a leaked garbage row both
    * break the match.
    */
  val qHtmlLoad: Q = (s, dir) => {
    val root = htmlSourceDirFor(s, dir)
    graft.sources.HtmlLoader.load(s, root)
      .select(
        regexp_extract(col("filename"), "doc_(\\d+)", 1).cast("bigint").as("doc_id"),
        col("filename"),
        col("folder_name"),
        col("file_type"),
        col("file_size"),
        col("title"),
        col("heading_count"),
        col("list_count"),
        col("table_count"),
        col("paragraph_count"),
        col("text"),
        col("char_count"),
        col("language"))
  }

  val qHtmlLoadSql: String =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 29 <> 0 AND doc_id % 41 <> 0),
       h AS (
         SELECT doc_id,
                '<html><head><title>Title ' || doc_id ||
                '</title></head><body><h1>Heading ' || doc_id ||
                '</h1><p>Paragraph body ' || doc_id || ' alpha ' || (doc_id*31) ||
                ' omega ' || (doc_id*17) || '</p></body></html>' AS html,
                'Title ' || doc_id || ' Heading ' || doc_id || chr(10) ||
                'Paragraph body ' || doc_id || ' alpha ' || (doc_id*31) ||
                ' omega ' || (doc_id*17) AS cleaned
         FROM d)
       SELECT doc_id,
              'doc_' || doc_id || '.html' AS filename,
              'folder' || (doc_id % 5) AS folder_name,
              'html' AS file_type,
              CAST(length(html) AS BIGINT) AS file_size,
              'Title ' || doc_id AS title,
              CAST(1 AS INT) AS heading_count,
              CAST(0 AS INT) AS list_count,
              CAST(0 AS INT) AS table_count,
              CAST(1 AS INT) AS paragraph_count,
              cleaned AS text,
              CAST(length(cleaned) AS INT) AS char_count,
              'english' AS language
       FROM h ORDER BY doc_id"""

  /** One HTML source tree per sf dir per JVM — LOCAL-MODE BENCH
    * SCAFFOLDING: files are generated from the executors in parallel
    * and then scanned back from the same root, which only co-locates
    * because local mode runs executors on this host. The operator
    * under test (HtmlLoader.load) takes any directory; on a real
    * cluster point `graft.html.src.root` (system property) at a shared
    * filesystem and the same code path works unchanged. A stale tree
    * from a previous JVM is deleted first. ConcurrentHashMap
    * .computeIfAbsent (not TrieMap.getOrElseUpdate, which may run a
    * racing generator twice) keeps the delete+write builder atomic per
    * dir: a second caller blocks instead of deleting the tree under a
    * first caller's in-flight scan.
    */
  private val htmlDirCache = new java.util.concurrent.ConcurrentHashMap[String, String]

  private def htmlSourceDirFor(s: SparkSession, dir: String): String =
    htmlDirCache.computeIfAbsent(
      dir, { _ =>
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val base = System.getProperty("graft.html.src.root", "/tmp")
        val root = s"$base/graft_html_src$tag"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        tbl(s, dir, "documents")
          .select(col("doc_id").cast("long"))
          .repartition(s.sparkContext.defaultParallelism)
          .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
            it.foreach { r =>
              val id = r.getLong(0)
              // doc_id%41==0 → CORRUPT file (O9): fixed control-byte
              // garbage, no markup. The extractor must not throw; the
              // battery cleans it to empty and S8 drops the row.
              // doc_id%29==0 → near-empty body: S8 must drop it too.
              val bytes: Array[Byte] =
                if (id % 41 == 0) Array.tabulate[Byte](64)(i => ((i % 8) + 1).toByte)
                else if (id % 29 == 0)
                  "<html><head><title></title></head><body><p>.</p></body></html>"
                    .getBytes("UTF-8")
                else
                  (s"<html><head><title>Title $id</title></head><body><h1>Heading $id" +
                    s"</h1><p>Paragraph body $id alpha ${id * 31} omega ${id * 17}" +
                    "</p></body></html>").getBytes("UTF-8")
              val p = java.nio.file.Paths.get(root, s"folder${id % 5}", s"doc_$id.html")
              java.nio.file.Files.createDirectories(p.getParent)
              java.nio.file.Files.write(p, bytes)
            }
          }
        root
      }
    )

  /** REAL HWPX extraction end-to-end (S7, hwp_loader.py:417-460):
    * build a genuine zip container per row (two section XMLs with
    * entities and a comment, a dc:title/dc:creator meta entry, plus
    * decoy entries the reader must skip), run the REAL
    * [[graft.sources.HwpLoader.extractHwpx]], and have the oracle
    * recompute the XML-stripped text closed-form. doc_id%31==0 rows
    * get a sectionless container and must be dropped (S8 null
    * contract); doc_id%41==0 rows get CORRUPT bytes (non-zip garbage /
    * a PK signature over garbage fields) the reader must survive
    * without throwing (O9). Green proves a real zip+XML round-trip: entry
    * filtering, section name ordering, tag strip, entity unescape,
    * tab/space collapse, and meta tag capture.
    */
  val qHwpxExtract: Q = (s, dir) => {
    import graft.sources.{HwpLoader, HwpPayloads}
    val gen = udf { (id: Long) =>
      val meta = s"""<?xml version="1.0"?><opf:metadata><dc:title>문서 $id</dc:title>""" +
        s"""<dc:creator>작성자 ${id % 7}</dc:creator></opf:metadata>"""
      // O9: corrupt containers the reader must survive without
      // throwing — even ids: fixed non-zip garbage (no entries), odd
      // ids: a PK local-header signature followed by garbage fields.
      // Both deterministically yield null text → filtered.
      if (id % 41 == 0) {
        if (id % 2 == 0) Array.tabulate[Byte](96)(i => ((i * 7) % 251).toByte)
        else Array[Byte](0x50, 0x4b, 0x03, 0x04) ++
          Array.tabulate[Byte](64)(i => ((i * 11) % 250).toByte)
      } else if (id % 31 == 0) HwpPayloads.buildHwpxZip(Seq.empty, meta)
      else {
        val s0 = s"""<?xml version="1.0" encoding="UTF-8"?><hs:sec><hp:p><hp:t>Alpha $id beta &amp; gamma ${id * 7}</hp:t></hp:p>""" +
          s"""<!-- note --><hp:p><hp:t>delta &lt;$id&gt;</hp:t></hp:p></hs:sec>"""
        val s1 = s"""<hs:sec><hp:p><hp:t>Omega ${id * 13}</hp:t></hp:p></hs:sec>"""
        HwpPayloads.buildHwpxZip(Seq(s0, s1), meta)
      }
    }
    // nondeterministic (r19): the isNotNull filter otherwise gets
    // inferred below the projection AND below the rebalance exchange —
    // every container was built+parsed twice, the first time in ONE
    // task (plan-verified; the hwp twin profiled an 812 ms single-task
    // filter stage ahead of the 32-task projection).
    val parse = udf { (bytes: Array[Byte]) =>
      val d = HwpLoader.extractHwpx(bytes)
      if (d.text == null) null else (d.text, d.title, d.author)
    }.asNondeterministic()
    rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("p", parse(gen(col("doc_id"))))
      .filter(col("p").isNotNull)
      .select(
        col("doc_id"),
        col("p._2").as("title"),
        col("p._3").as("author"),
        col("p._1").as("text"))
  }

  val qHwpxExtractSql: String =
    """SELECT doc_id,
              '문서 ' || doc_id AS title,
              '작성자 ' || (doc_id % 7) AS author,
              ' Alpha ' || doc_id || ' beta & gamma ' || (doc_id*7) ||
              ' delta <' || doc_id || '> ' || chr(10) ||
              ' Omega ' || (doc_id*13) || ' ' AS text
       FROM documents WHERE doc_id % 31 <> 0 AND doc_id % 41 <> 0 ORDER BY doc_id"""

  /** REAL HWP v5 (CFB/OLE2) extraction end-to-end (S4+S5,
    * hwp_loader.py:126-239 + 358-371): build a spec-conformant CFB
    * container per row — FAT, directory tree, miniFAT/mini-stream,
    * FileHeader compression flag, TWO raw-deflated (even doc_id) or
    * stored (odd doc_id) UTF-16LE BodyText sections, and an MS-OLEPS
    * summary stream — then run the REAL
    * [[graft.sources.HwpLoader.extractHwpDoc]]. The section text
    * carries U+2122 (outside the S5 whitelist → single space), so the
    * oracle's closed-form text also proves the codepoint whitelist.
    * doc_id%37==0 rows get a sectionless container → dropped (S8);
    * doc_id%41==0 rows get CORRUPT containers (truncated below the CFB
    * header / flipped magic) that must yield null, not throw (O9).
    */
  val qHwpExtract: Q = (s, dir) => {
    import graft.sources.{HwpLoader, HwpPayloads}
    val gen = udf { (id: Long) =>
      // O9: corrupt containers — even ids: a valid container truncated
      // below the 512-byte CFB header (read must fail, not garbage-
      // parse), odd ids: first magic byte flipped. Both → null text.
      if (id % 41 == 0) {
        val good = HwpPayloads.buildHwpCfb(
          Seq(s"x $id"), compressed = true, title = "t", author = "a")
        if (id % 2 == 0) good.take(137)
        else { val b = good.clone(); b(0) = 0x42; b }
      } else if (id % 37 == 0)
        HwpPayloads.buildHwpCfb(
          Seq.empty, compressed = true, title = s"제목 $id", author = s"필자 ${id % 5}")
      else
        HwpPayloads.buildHwpCfb(
          Seq(s"한글 본문 $id alpha ${id * 7}™끝", s"둘째 ${id * 3}"),
          compressed = id % 2 == 0,
          title = s"제목 $id",
          author = s"필자 ${id % 5}")
    }
    // nondeterministic (r19): see qHwpxExtract — stops the inferred
    // isNotNull filter from re-evaluating build+parse below the
    // rebalance exchange (812 ms single-task stage, plan-verified).
    val parse = udf { (bytes: Array[Byte]) =>
      val d = HwpLoader.extractHwpDoc(bytes)
      if (d._1 == null) null else (d._1, d._2, d._3)
    }.asNondeterministic()
    rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("p", parse(gen(col("doc_id"))))
      .filter(col("p").isNotNull)
      .select(
        col("doc_id"),
        col("p._2").as("title"),
        col("p._3").as("author"),
        col("p._1").as("text"))
  }

  val qHwpExtractSql: String =
    """SELECT doc_id,
              '제목 ' || doc_id AS title,
              '필자 ' || (doc_id % 5) AS author,
              '한글 본문 ' || doc_id || ' alpha ' || (doc_id*7) || ' 끝' || chr(10) ||
              '둘째 ' || (doc_id*3) AS text
       FROM documents WHERE doc_id % 37 <> 0 AND doc_id % 41 <> 0 ORDER BY doc_id"""

  /** Streaming backfill parity, driver-graded: the BATCH execution of
    * the cross-micro-batch keep-first contract
    * ([[graft.streaming.StreamingDedup.keepFirstAcrossBatches]], the
    * flatMapGroupsWithState operator the streaming ingest runs). The
    * streaming suites pin batch ≡ stream on MemoryStream; this row
    * grades the batch shape against DuckDB — events keyed into 997
    * simulated re-crawl groups, keep-first = lexicographic-min
    * chunk_id (zero-padded so string order is numeric order). Green
    * means a batch backfill and the live stream share dedup semantics.
    */
  val qStreamBackfill: Q = (s, dir) => {
    import s.implicits._
    val ev = eventsRaw(s, dir)
      .select(
        concat(lit("k"), lpad(pmod(col("event_id"), lit(997)).cast("string"), 6, "0"))
          .as("content_hash"),
        lpad(col("event_id").cast("string"), 10, "0").as("chunk_id"),
        concat(lit("payload "), col("event_id")).as("text"))
      .as[graft.streaming.DedupEvent]
    graft.streaming.StreamingDedup
      .keepFirstAcrossBatches(ev)
      .toDF()
      .select("content_hash", "chunk_id", "text")
  }

  val qStreamBackfillSql: String =
    """SELECT 'k' || lpad(CAST(event_id % 997 AS VARCHAR), 6, '0') AS content_hash,
              lpad(CAST(min(event_id) AS VARCHAR), 10, '0') AS chunk_id,
              'payload ' || min(event_id) AS text
       FROM events GROUP BY 1 ORDER BY 1"""

  /** [[graft.streaming.StreamingNearDup]] executed in BATCH-BACKFILL
    * mode against a DuckDB oracle — the near-dup counterpart of
    * q_stream_backfill (same contract: batch execution of the
    * flatMapGroupsWithState operator the live stream runs, so backfill
    * and stream share near-dup semantics; the MemoryStream suites pin
    * the cross-micro-batch behavior).
    *
    * The corpus is PLANTED so the expected hit set is pure arithmetic:
    * events keyed into n/10 groups (≈10 docs/group at every sf — group
    * population is sf-invariant, so the maxPerBucket=64 FIFO cap never
    * bites and the oracle holds at every decade), text = md5(group) —
    * identical within a group (signature-estimate Jaccard exactly 1.0,
    * every band collides), and cross-group 32-hex-char texts share
    * ~0.2 expected 3-shingles out of a 4096 space (est ≪ 0.8 even if a
    * band ever collided). Expected hits: every (later id, earlier id)
    * pair within a group at est 1.0 — which is exactly the oracle's
    * self-join. The per-batch cross-band dropDuplicates is the
    * documented caller-side contract (StreamingNearDup class doc).
    */
  val qStreamNearDup: Q = (s, dir) => {
    // graded slice capped at the replica-0 events (event_id < 100000 =
    // the full sf0.1 corpus at every decade — the q_embed_neardup cap
    // pattern): the FIXTURE is maximal-duplication by construction
    // (every text a 10-copy dup → 45 pairs/group × 8 bands pre-dedup),
    // so an uncapped row measures the fixture's pair volume, not the
    // operator — it was the catalog's slowest row and ENOSPC'd the
    // sf100 sweep. The operator's real scale path is probe-measured on
    // the documents corpus decades (records/probe_r15_streamneardup.log,
    // SCALE.md round-13).
    val ev = eventsRaw(s, dir).select("event_id").filter(col("event_id") < 100000L)
    val base = math.max(1L, ev.count() / 10L)
    // rebalanced BEFORE the signature UDF: the single-row-group local
    // events table otherwise funnels the MinHash signature compute AND
    // the 8-band × 32-long signature explode (the row's largest shuffle
    // write) through one task (r19 profile: 1.15 s single-task map
    // stage ahead of a 0.26 s 32-task stateful stage). The shuffle this
    // adds moves only the 8-byte event ids — the md5 text and the
    // signatures are built after the exchange.
    val docs = rebalanced(ev).select(
      col("event_id").as("doc_id"),
      md5(pmod(col("event_id"), lit(base)).cast("string")).as("text"))
    graft.streaming.StreamingNearDup
      .detect(docs, "doc_id", "text")
      .toDF()
      .dropDuplicates("id", "dup_of")
      // round(est_jaccard, 4) is midpoint-SAFE without the integer
      // idiom: est_jaccard = matches/numHashes is a dyadic rational
      // (k/2⁵ here), so the double is EXACT and so is its 10⁴ scaling
      // (k·312.5 ends in .5 exactly representable) — both engines see
      // the true midpoint and HALF_UP/half-away agree. The r16
      // divergence class needs a NON-representable true ratio, which
      // k/2^m can never be. (Rounding-audit bucket: dyadic-exact.)
      .select(col("id"), col("dup_of"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  val qStreamNearDupSql: String =
    """WITH e AS (SELECT event_id FROM events WHERE event_id < 100000),
       g AS (
         SELECT event_id,
                event_id % GREATEST(1, (SELECT count(*) // 10 FROM e)) AS grp
         FROM e)
       SELECT a.event_id AS id, b.event_id AS dup_of,
              CAST(1.0 AS DOUBLE) AS est_jaccard
       FROM g a JOIN g b ON a.grp = b.grp AND b.event_id < a.event_id
       ORDER BY id, dup_of"""

  // ---------------------------------------------------------------
  // End-to-end pipeline (flagship spine; rows-only)
  // ---------------------------------------------------------------

  /** The reference's full ETL spine on the documents corpus:
    * clean (C battery) → language (C14) → chunk (K1-K4) → dedup (K5) →
    * embed (E1, mapPartitions batches) → search top-5 for a text query
    * (Q1/Q6 shape). Everything stays distributed; the only collect is
    * the k-row result.
    *
    * Fully oracled: the DuckDB SQL replays the ENTIRE spine — the
    * cleaning battery is a no-op on this corpus (single-spaced ASCII;
    * the noisy-input q_clean_battery row proves the battery itself),
    * language via the C14 CASE chain, chunking via the shared recursive
    * CTE, K5 dedup via QUALIFY, and the embeddings are rebuilt
    * bit-for-bit from the MD5 trigram hash (see HashEmbedder) before
    * the cosine top-5. Green here means the whole pipeline, not just
    * its stages, matches across engines.
    *
    * Graded slice capped at the replica-0 documents (doc_id < [[Replica0Cap]] =
    * the full sf0.1 corpus at every decade; no-op at the driver sfs —
    * the q_scrub_spans / q_simhash cap pattern, round 14): the oracle
    * rebuilds per-chunk trigram embeddings as non-spillable DuckDB
    * list state — ~50 GB at sf10 and ~10x that at sf100, past any
    * replay host (r12/r13 sweeps: worker died without a result). The
    * cap gives the whole-spine answer check a green verdict at every
    * decade at fixed density; the ENGINE side's full-corpus spine
    * remains bench-measured (r11 sf100 noop run, SCALE.md).
    */
  val qPipelineE2E: Q = (s, dir) => {
    val docs = rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < Replica0Cap))
      .select(
        col("doc_id"),
        col("source"),
        TextCleaner.cleanText(col("text")).as("text"),
        LanguageDetect.detectContentLanguage(col("text")).as("language")
      )
    val chunks = Chunker.explodeChunks(docs, "text", "source")
    val deduped = Dedup.exactDedup(chunks, "text", Seq("doc_id", "chunk_index"))
    val embedder = new HashEmbedder(dim = 64)
    // rebalanced (r19): the dedup exchange is ~1.5 MB here, so AQE
    // coalesces its read to ONE post-shuffle partition — and the
    // trigram embedding + cosine scoring of every surviving chunk then
    // ran single-task (437 ms profiled). The numbered repartition pays
    // one tiny exchange for core-count parallelism on the CPU-dense
    // embed stage; at corpus scale the dedup output is large enough
    // that AQE sizing already yields parallel reads and the extra
    // exchange stays proportionally negligible.
    val embedded = Embedders.withEmbedding(rebalanced(deduped), "text", "embedding", embedder)
    val qv = embedder.embed("spark join order table")
    embedded
      .withColumn("score", round(cosineSimilarity(col("embedding"), typedLit(qv.toSeq)), 4))
      .orderBy(desc("score"), col("doc_id"), col("chunk_index"))
      .limit(5)
      .select("doc_id", "chunk_index", "chunk_id", "language", "score")
  }

  val qPipelineE2ESql: String = rerouteDocReads(
    (chunkCtes + raw""",
          lang AS (
            SELECT doc_id, CASE
              WHEN total = 0 THEN 'korean'
              WHEN kr / total > 0.10 THEN 'korean'
              WHEN vi / total > 0.02 THEN 'vietnamese'
              WHEN en / total > 0.30 THEN 'english'
              WHEN kr / total >= vi / total AND kr / total >= en / total THEN 'korean'
              WHEN vi / total >= en / total THEN 'vietnamese'
              ELSE 'english' END AS language
            FROM (SELECT doc_id,
                   CAST(length(text) AS DOUBLE) AS total,
                   CAST(length(text) - length(regexp_replace(text, '[가-힣]', '', 'g')) AS DOUBLE) AS kr,
                   CAST(length(text) - length(regexp_replace(text, '[ăâđêôơưĂÂĐÊÔƠƯàáảãạèéẻẽẹìíỉĩịòóỏõọùúủũụỳýỷỹỵ]', '', 'g')) AS DOUBLE) AS vi,
                   CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) AS en
                 FROM documents)),
          deduped AS (
            SELECT doc_id, chunk_index, chunk_id, text
            FROM enriched
            QUALIFY row_number() OVER (
              PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
              ORDER BY doc_id, chunk_index) = 1),
          corpus_text AS (
            SELECT doc_id, chunk_index, chr(2) || lower(text) || chr(3) AS s FROM deduped
            UNION ALL
            SELECT -1, -1, chr(2) || lower('spark join order table') || chr(3)),
          tri AS (
            SELECT doc_id, chunk_index,
                   unnest(list_transform(range(1, length(s) - 1), i -> substring(s, CAST(i AS INT), 3))) AS g
            FROM corpus_text),
          sparse AS (
            SELECT doc_id, chunk_index,
                   CAST((('0x' || substring(md5(g), 1, 8))::UINTEGER) % 64 AS INT) AS idx,
                   CAST(sum(CASE WHEN ('0x' || substring(md5(g), 1, 8))::UINTEGER < 2147483648 THEN 1 ELSE -1 END) AS DOUBLE) AS cnt
            FROM tri GROUP BY 1, 2, 3),
          comps AS (
            SELECT doc_id, chunk_index, idx,
                   CAST(cnt * (1.0 / sqrt(sum(cnt * cnt) OVER (PARTITION BY doc_id, chunk_index))) AS FLOAT) AS val
            FROM sparse),
          vecs AS (
            SELECT doc_id, chunk_index,
                   list_transform(range(0, 64), i ->
                     CASE WHEN list_position(idxs, CAST(i AS INT)) > 0
                          THEN vals[list_position(idxs, CAST(i AS INT))]
                          ELSE 0.0::FLOAT END)::DOUBLE[] AS v
            FROM (SELECT doc_id, chunk_index,
                         list(idx ORDER BY idx) AS idxs,
                         list(val ORDER BY idx) AS vals
                  FROM comps GROUP BY doc_id, chunk_index)),
          qv AS (SELECT v FROM vecs WHERE doc_id = -1),
          scored AS (
            SELECT d.doc_id, d.chunk_index, d.chunk_id, l.language,
                   round(list_dot_product(c.v, q.v)
                         / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.v, q.v))), 4) AS score
            FROM deduped d
            JOIN vecs c ON c.doc_id = d.doc_id AND c.chunk_index = d.chunk_index
            JOIN lang l ON l.doc_id = d.doc_id
            CROSS JOIN qv q)
          SELECT doc_id, chunk_index, chunk_id, language, score
          FROM scored ORDER BY score DESC, doc_id, chunk_index LIMIT 5"""),
    // replica-0 cap applied to every base-table read in this
    // composed oracle (chunk CTEs + language CTE) — see the row doc
    s"FROM (SELECT * FROM documents WHERE doc_id < $Replica0Cap)")

  // ---------------------------------------------------------------
  // Catalog
  // ---------------------------------------------------------------

  // ---------------------------------------------------------------
  // Keyword (BM25), hybrid RRF fusion, scalar-quantized ANN
  // ---------------------------------------------------------------

  /** Query terms for the BM25/hybrid rows: one rare discriminative
    * term (df≈25/500) + one common term (df≈500/500), so the idf
    * weighting — not just tf — decides the ranking.
    */
  private val Bm25Terms = Seq("dup", "vector")

  /** BM25 top-10 over `documents` — single scan + 1-row stats
    * broadcast + TakeOrdered; rational idf so the oracle replays the
    * score bit-for-bit (see KeywordSearch scaladoc).
    */
  val qBm25TopK: Q = (s, dir) =>
    // rebalanced (r19): the single-row-group local file ran the whole
    // per-doc tokenize+score in one task
    KeywordSearch.bm25TopK(rebalanced(tbl(s, dir, "documents")), Bm25Terms, 10, rationalIdf = true)

  /** The BM25 oracle CTE chain (toks/base/st/ks over `documents` for
    * the Bm25Terms query), shared VERBATIM by qBm25TopKSql and
    * qHybridRrfSql — one definition so an idf/tokenization tweak
    * cannot leave the hybrid row certifying a stale BM25.
    */
  private val bm25OracleCtes: String =
    raw"""toks AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(coalesce(text,'')), '\s+'), x -> x <> '') AS t FROM documents),
         base AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
                         CAST(len(list_filter(t, x -> x = 'dup')) AS DOUBLE) AS tf0,
                         CAST(len(list_filter(t, x -> x = 'vector')) AS DOUBLE) AS tf1
                  FROM toks),
         st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE) / count(*) AS avgdl,
                       CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
                       CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1
                FROM base),
         ks AS (SELECT doc_id, CAST(tf0 AS INT) AS tf_dup, CAST(tf1 AS INT) AS tf_vector,
                  (CASE WHEN tf0 > 0 THEN ((n - df0 + 0.5::DOUBLE) / (df0 + 0.5::DOUBLE)) * (tf0 * (1.2::DOUBLE + 1.0::DOUBLE)) / (tf0 + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE + 0.75::DOUBLE * dl / avgdl)) ELSE 0.0::DOUBLE END)
                + (CASE WHEN tf1 > 0 THEN ((n - df1 + 0.5::DOUBLE) / (df1 + 0.5::DOUBLE)) * (tf1 * (1.2::DOUBLE + 1.0::DOUBLE)) / (tf1 + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE + 0.75::DOUBLE * dl / avgdl)) ELSE 0.0::DOUBLE END) AS s
                FROM base CROSS JOIN st)"""

  val qBm25TopKSql: String =
    s"""WITH $bm25OracleCtes
       SELECT doc_id, tf_dup, tf_vector, round(s, 6) AS score
       FROM ks WHERE s > 0 ORDER BY round(s, 6) DESC, doc_id LIMIT 10"""

  /** BM25 top-10 through the PREBUILT inverted index
    * (KeywordSearch.buildIndex → bm25TopKIndexed): postings + doc
    * lengths + 1-row stats, with df and tf coming from the filtered
    * postings rows for exactly the query's terms instead of a corpus
    * scan — the layout that turns a 100 TB keyword query into
    * ~terms × avg-postings touched rows. Scores are pinned identical
    * to the scan path (same fixed-shape rational-idf double sum), so
    * this row shares q_bm25_topk's oracle VERBATIM: a green row
    * certifies the whole postings pipeline reproduces the scan
    * ranking bit-for-bit.
    */
  val qBm25Indexed: Q = (s, dir) => {
    // A rebalanced() feed was A/B'd here in r20 (the r19 q_bm25_topk
    // pattern, motivated by this row's 0.70 8v32 scaling ratio) and
    // REJECTED: buildIndex has four consumers of the docs relation
    // (postings, docLens join, stats, and the indexed top-k), so the
    // exchange map stage ran four times (broadcast-build jobs do not
    // share exchange results) and wall DOUBLED (0.58 → 1.1 s,
    // records/ r20 profile). The plain scan feed lets each consumer
    // read the 1-row-group file directly — cheaper than shuffling the
    // text four ways at this corpus shape.
    val idx = KeywordSearch.buildIndex(tbl(s, dir, "documents"))
    KeywordSearch.bm25TopKIndexed(idx, Bm25Terms, 10, rationalIdf = true)
  }

  val qBm25IndexedSql: String = qBm25TopKSql

  /** Hybrid retrieval: RRF fusion of dense top-20 (cosine vs the
    * vec_id=0 query) and BM25 top-20 over the same id space — the
    * hybrid mode modern vector stores serve next to dense-only search.
    * Output keeps both per-retriever ranks (null where a doc appears
    * in only one list).
    */
  val qHybridRrf: Q = (s, dir) => {
    val qv = vecOf(s, dir, 0L)
    val vecTop = tbl(s, dir, "embeddings")
      .withColumn("score", round(cosineSimilarity(col("embedding"), typedLit(qv.toSeq)), 4))
      .orderBy(desc("score"), col("vec_id"))
      .limit(20)
      .select(col("vec_id").as("doc_id"), col("score"))
    val vecRank = HybridSearch
      .withRank(vecTop, Seq(desc("score"), col("doc_id")))
      .select("doc_id", "rank")
    // rebalanced (r19): same single-task-scan fix as q_bm25_topk
    val kwTop = KeywordSearch.bm25TopK(rebalanced(tbl(s, dir, "documents")), Bm25Terms, 20, rationalIdf = true)
    val kwRank = HybridSearch
      .withRank(kwTop, Seq(desc("score"), col("doc_id")))
      .select("doc_id", "rank")
    HybridSearch.rrfFuse(Seq("vec" -> vecRank, "kw" -> kwRank), 10)
  }

  val qHybridRrfSql: String =
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         vs AS (SELECT vec_id AS doc_id,
                  round(list_dot_product(embedding::DOUBLE[], qv) / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))), 4) AS score
                FROM embeddings, q),
         vtop AS (SELECT doc_id, score FROM vs ORDER BY score DESC, doc_id LIMIT 20),
         vr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_vec FROM vtop),
         $bm25OracleCtes,
         ktop AS (SELECT doc_id, round(s, 6) AS score FROM ks WHERE s > 0 ORDER BY round(s, 6) DESC, doc_id LIMIT 20),
         kr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_kw FROM ktop)
       SELECT coalesce(vr.doc_id, kr.doc_id) AS doc_id, rank_vec, rank_kw,
              round(coalesce(1.0::DOUBLE / (60 + rank_vec), 0.0::DOUBLE) + coalesce(1.0::DOUBLE / (60 + rank_kw), 0.0::DOUBLE), 6) AS rrf
       FROM vr FULL OUTER JOIN kr ON vr.doc_id = kr.doc_id
       ORDER BY rrf DESC, doc_id LIMIT 10"""

  /** SQ8 scalar-quantized asymmetric top-10: fit per-dim [min,max],
    * encode the corpus to 8-bit codes, dequantize to midpoints and
    * score against the full-precision query. The oracle replays the
    * ENTIRE quantize→decode→score chain, so even the quantization
    * error must match bit-for-bit.
    */
  val qSq8TopK: Q = (s, dir) =>
    ScalarQuant
      .quantizedTopK(tbl(s, dir, "embeddings"), vecOf(s, dir, 0L), 10)
      .select("vec_id", "label", "score")

  val qSq8TopKSql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         flat AS (SELECT u.i AS i, min(v[u.i]) AS mn, max(v[u.i]) AS mx FROM e, unnest(range(1, len(v)+1)) AS u(i) GROUP BY 1),
         st AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM flat),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         dec AS (SELECT vec_id, label,
           list_transform(range(1, len(v)+1), i ->
             mns[i] + ((CASE WHEN mxs[i] = mns[i] THEN 0 ELSE LEAST(255, GREATEST(0, floor((v[i] - mns[i]) * 255 / (mxs[i] - mns[i])))) END) + 0.5) * (mxs[i] - mns[i]) / 255) AS dv
           FROM e CROSS JOIN st),
         scored AS (SELECT vec_id, label,
           round(list_dot_product(dv, qv) / (sqrt(list_dot_product(dv, dv)) * sqrt(list_dot_product(qv, qv))), 4) AS score
           FROM dec CROSS JOIN q)
       SELECT vec_id, label, score FROM scored ORDER BY score DESC, vec_id LIMIT 10"""

  /** Range search over the embeddings (Milvus `radius`/`range_filter`
    * mode): all rows with cosine score in [0.15, 0.35) — a pure
    * scan-stage filter, no top-k heap, no shuffle; the upper bound
    * also proves the query vector itself (score 1.0) is excluded.
    */
  val qRangeSearch: Q = (s, dir) =>
    VectorSearch
      .rangeSearch(tbl(s, dir, "embeddings"), vecOf(s, dir, 0L), 0.15, Some(0.35))
      .select("vec_id", "label", "score")

  val qRangeSearchSql: String =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT vec_id, label,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))), 4) AS score
           FROM embeddings, q)
       SELECT vec_id, label, score FROM scored
       WHERE score >= 0.15::DOUBLE AND score < 0.35::DOUBLE ORDER BY vec_id"""

  /** Grouping search (Milvus `group_by_field`): best hit per label for
    * the top-5 labels — per-group top-1 window that Spark rewrites to
    * WindowGroupLimit (map-side one-row-per-group pruning before the
    * shuffle).
    */
  val qGroupSearch: Q = (s, dir) =>
    VectorSearch
      .groupedTopK(tbl(s, dir, "embeddings"), vecOf(s, dir, 0L), "label", 5)
      .select("label", "vec_id", "score")

  val qGroupSearchSql: String =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         scored AS (
           SELECT vec_id, label,
             round(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))), 4) AS score
           FROM embeddings, q),
         best AS (
           SELECT label, vec_id, score,
                  row_number() OVER (PARTITION BY label ORDER BY score DESC, vec_id) AS rn
           FROM scored)
       SELECT label, vec_id, score FROM best WHERE rn = 1
       ORDER BY score DESC, label LIMIT 5"""

  /** MMR diversity re-rank of the exact top-20 (λ=0.7, k=5) — greedy
    * sequential selection replayed EXACTLY in DuckDB via a recursive
    * CTE (pairwise cosines rounded half-up to 4, objective written
    * λ·rel − (1−λ)·maxsim with `(1 - 0.7)` spelled identically on both
    * sides: the IEEE double `1 − 0.7` is not the literal `0.3`).
    */
  val qMmrRerank: Q = (s, dir) => {
    val qv = vecOf(s, dir, 0L)
    val cand = tbl(s, dir, "embeddings")
      .withColumn("rel", round(cosineSimilarity(col("embedding"), typedLit(qv.toSeq)), 4))
      .orderBy(desc("rel"), col("vec_id"))
      .limit(20)
      .select("vec_id", "rel", "embedding")
    Rerank.mmr(cand, 5)
  }

  val qMmrRerankSql: String =
    """WITH RECURSIVE
         q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         cand AS (
           SELECT vec_id,
             round(list_dot_product(embedding::DOUBLE[], qv) / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * sqrt(list_dot_product(qv, qv))), 4) AS rel
           FROM embeddings, q ORDER BY rel DESC, vec_id LIMIT 20),
         cv AS (SELECT c.vec_id, c.rel, e.embedding::DOUBLE[] AS v FROM cand c JOIN embeddings e USING (vec_id)),
         pairs AS (
           SELECT a.vec_id AS ia, b.vec_id AS ib,
             round(list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS s
           FROM cv a, cv b WHERE a.vec_id <> b.vec_id),
         sel AS (
           SELECT 1 AS step, [vec_id] AS chosen, vec_id AS picked, rel AS mmr
           FROM (SELECT vec_id, rel FROM cv ORDER BY rel DESC, vec_id LIMIT 1)
           UNION ALL
           SELECT step + 1, list_append(chosen, nxt.vec_id), nxt.vec_id, nxt.mmr
           FROM sel, LATERAL (
             SELECT vec_id, mmr FROM (
               SELECT c.vec_id,
                      0.7::DOUBLE * c.rel - (1 - 0.7::DOUBLE) * (SELECT max(p.s) FROM pairs p WHERE p.ia = c.vec_id AND list_contains(sel.chosen, p.ib)) AS mmr
               FROM cv c WHERE NOT list_contains(sel.chosen, c.vec_id))
             ORDER BY mmr DESC, vec_id LIMIT 1) nxt
           WHERE step < 5
         )
       SELECT CAST(step AS INT) AS rank, picked AS vec_id, round(mmr, 6) AS mmr_score
       FROM sel ORDER BY rank"""

  /** PQ artifacts per sf dir (encoded corpus + codebooks), built once —
    * same contract as ivfCache: index build is load-side work.
    */
  private val pqCache =
    scala.collection.concurrent.TrieMap.empty[String, (DataFrame, Array[Array[Array[Double]]])]

  private def pqIndexFor(s: SparkSession, dir: String): (DataFrame, Array[Array[Array[Double]]]) =
    pqCache.getOrElseUpdate(
      dir, {
        val e = tbl(s, dir, "embeddings")
        // m=16 · ksub=256 (16 B/vec = 16× compression): the probed
        // frontier that holds recall@10 = 10/10 at every shipped sf on
        // these isotropic synthetic embeddings — the hardest PQ case,
        // since iid dims leave no correlated structure for the
        // subspace codebooks to exploit (SCALE.md round-7 PQ sweep).
        val cbs = ProductQuant.fit(e, m = 16)
        (ProductQuant.encode(e, cbs).cache(), cbs)
      }
    )

  /** Recall@10 of PQ ADC-shortlist-then-exact-rerank vs exact search —
    * same evidence contract as q_ivf_recall: the assertion (≥9/10
    * overlap) is computed distributed in Spark; the oracle pins the
    * asserted value so the row goes red the moment ADC quality
    * regresses. KMeans codebooks are engine-specific, so the ranking
    * itself is not DuckDB-replayable — the RECALL is the
    * engine-independent claim.
    */
  val qPqRecall: Q = (s, dir) => {
    val (encoded, cbs) = pqIndexFor(s, dir)
    val q = vecOf(s, dir, 0L)
    // adaptiveShortlist, not a constant: the round-11 sf100 sweep
    // caught recall_ok=false at 2M vectors with the fixed 100 — the
    // shortlist must stay a constant fraction of the corpus
    // (ProductQuant.adaptiveShortlist's measured rationale).
    val sl = ProductQuant.adaptiveShortlist(encoded.count(), 10)
    val pq = ProductQuant.adcTopK(encoded, cbs, q, 10, shortlist = sl).select("vec_id")
    val exact = encoded
      .withColumn("score", round(cosineSimilarity(col("embedding"), typedLit(q.toSeq)), 4))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10)
      .select("vec_id")
    pq.intersect(exact)
      .agg(count(lit(1)).cast("int").as("overlap"))
      .select(lit(10).as("k"), (col("overlap") >= 9).as("recall_ok"))
  }

  val qPqRecallSql: String =
    "SELECT CAST(10 AS INT) AS k, true AS recall_ok"

  /** IVF×PQ artifacts per sf dir: the ivfIndexFor labeled corpus
    * carrying codes from the pqIndexFor codebooks — cluster_id and
    * pq_code on one table (the one-pass load-side layout
    * ProductQuant.ivfAdcTopK documents). The expensive artifact (the
    * m=16 KMeans codebook fit) is shared with q_pq_recall via
    * pqIndexFor; only the encode pass runs again, over the labeled
    * corpus.
    */
  private val ivfpqCache = scala.collection.concurrent.TrieMap
    .empty[String, (DataFrame, Array[Array[Array[Double]]], Array[Array[Float]])]

  private def ivfpqIndexFor(
      s: SparkSession, dir: String
  ): (DataFrame, Array[Array[Array[Double]]], Array[Array[Float]]) =
    ivfpqCache.getOrElseUpdate(
      dir, {
        val (labeled, centroids, _) = ivfIndexFor(s, dir)
        val (_, cbs) = pqIndexFor(s, dir)
        (ProductQuant.encode(labeled, cbs).cache(), cbs, centroids)
      }
    )

  /** Recall@10 of the COMPOSED IVF×PQ search (probe nprobe clusters →
    * ADC over probed rows only → shortlist sized to the probed
    * population → exact re-rank) vs exact full-corpus search — the
    * Milvus IVF_PQ index type. Same evidence contract as q_ivf_recall /
    * q_pq_recall, but pinning the COMPOSITION: probe misses and code
    * quantization stack multiplicatively, so neither flat row's green
    * implies this one. The scale claim this row anchors: ADC scan AND
    * rerank shortlist both shrink with nprobe/nlist, making the
    * composed path sub-linear in n where flat PQ stays O(n)
    * (measured against q_pq_recall in SCALE.md).
    */
  val qIvfPqRecall: Q = (s, dir) => {
    val (enc, cbs, cents) = ivfpqIndexFor(s, dir)
    val q = vecOf(s, dir, 0L)
    val composed = ProductQuant
      .ivfAdcTopK(enc, cbs, cents, q, 10, IvfQueryCfg.nprobe)
      .select("vec_id")
    val exact = enc
      .withColumn("score", round(cosineSimilarity(col("embedding"), typedLit(q.toSeq)), 4))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10)
      .select("vec_id")
    composed
      .intersect(exact)
      .agg(count(lit(1)).cast("int").as("overlap"))
      .select(lit(10).as("k"), (col("overlap") >= 9).as("recall_ok"))
  }

  val qIvfPqRecallSql: String =
    "SELECT CAST(10 AS INT) AS k, true AS recall_ok"

  // ---------------------------------------------------------------
  // Skew mitigation + optimizer rewrite, driver-graded (round 7):
  // the scale-critical helpers that previously only carried ScalaTest
  // evidence get oracle rows — salting must be semantically invisible,
  // and the Catalyst rule must rewrite AND preserve the explicit-path
  // result.
  // ---------------------------------------------------------------

  /** Salted-join parity: [[SkewTools.saltedJoin]] fans every orderkey
    * over `factor` reduce partitions (the manual fallback for hot keys
    * AQE's skew-join can't split, e.g. shuffle-hash against a
    * mid-sized dim). The oracle is the PLAIN join — salting must not
    * change a single row. Aggregates are integer-valued doubles
    * (l_quantity) + counts, so the sums are reduce-order-proof and the
    * parity claim is exact, not rounded.
    */
  val qSaltedJoin: Q = (s, dir) => {
    val l = tbl(s, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    val o = tbl(s, dir, "orders").select("o_orderkey", "o_orderpriority")
    // factor 4: dim replication is the technique's rent (cost = dim ×
    // factor); 4 spreads a hot key over 4 reducers and keeps the
    // graded query's replication bill at half of factor 8 for the
    // same parity evidence
    SkewTools
      .saltedJoin(l, o, Seq("o_orderkey"), factor = 4)
      .groupBy("o_orderpriority")
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  val qSaltedJoinSql: String =
    """SELECT o_orderpriority, sum(l_quantity) AS sum_qty, count(*) AS n_items
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority"""

  /** Salted two-phase HOLISTIC aggregation: exact distinct-count per
    * key via per-(key,salt) collect_set then a merge — the shape for
    * aggregates map-side partial aggregation cannot shrink on a hot
    * key. Oracle = plain count(DISTINCT): the two-phase split must be
    * semantically invisible.
    */
  val qSaltedAgg: Q = (s, dir) => {
    val l = tbl(s, dir, "lineitem")
    SkewTools
      .saltedAgg(
        l,
        Seq("l_returnflag"),
        factor = 8,
        partial = Seq(collect_set(col("l_suppkey")).as("s"), count(lit(1)).as("c")),
        merge = Seq(
          size(array_distinct(flatten(collect_list(col("s"))))).as("distinct_suppliers"),
          sum(col("c")).as("n_items"))
      )
      .orderBy("l_returnflag")
  }

  val qSaltedAggSql: String =
    """SELECT l_returnflag,
       CAST(count(DISTINCT l_suppkey) AS INT) AS distinct_suppliers,
       count(*) AS n_items
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Binned interval join, driver-graded: per-user 30-minute windows
    * (anchored at each user's first event) joined to the FULL event
    * stream by point-in-interval containment. The naive form is a
    * BroadcastNestedLoopJoin — O(points·intervals) comparisons;
    * [[graft.operators.RangeJoin.intervalJoin]] bins both sides
    * (10-minute bins, exact integer arithmetic in epoch micros) into
    * an ordinary hash-shuffled equi-join, verified against DuckDB's
    * exact BETWEEN join.
    */
  val qIntervalJoin: Q = (s, dir) => {
    val e = eventsMicros(s, dir).withColumn("t_us", col("ts"))
    val w = e
      .filter(col("user_id") < 20)
      .groupBy(col("user_id").as("w_user"))
      .agg(min(col("t_us")).as("w_start"))
      .withColumn("w_end", col("w_start") + lit(1800000000L))
    graft.operators.RangeJoin
      .intervalJoin(e.select("t_us", "event_id"), "t_us", w, "w_start", "w_end", 600000000L)
      .groupBy("w_user")
      .agg(count(lit(1)).as("n_events"), countDistinct(col("event_id")).as("n_distinct"))
      .orderBy("w_user")
  }

  val qIntervalJoinSql: String =
    """WITH e AS (SELECT epoch_us(ts) AS t_us, event_id, user_id FROM events),
         w AS (SELECT user_id AS w_user, min(t_us) AS w_start,
                      min(t_us) + 1800000000 AS w_end
               FROM e WHERE user_id < 20 GROUP BY user_id)
       SELECT w_user, count(*) AS n_events, count(DISTINCT event_id) AS n_distinct
       FROM e JOIN w ON e.t_us >= w.w_start AND e.t_us <= w.w_end
       GROUP BY w_user ORDER BY w_user"""

  /** Typed-Aggregator UDAF surface, driver-graded: exact element-wise
    * vector mean per label — the distributed centroid-update step of
    * IVF training as ONE aggregate with map-side partial combine (no
    * explode, no per-dimension shuffle). The oracle re-derives sampled
    * dimensions from the raw arrays; round(9) absorbs partial-sum
    * reordering (values ~0.1, reorder error ~1e-12).
    */
  val qVectorMean: Q = (s, dir) => {
    val e = tbl(s, dir, "embeddings")
    e.groupBy(col("label"))
      .agg(
        graft.functions.VectorAggregates.vectorMean(col("embedding")).as("m"),
        count(lit(1)).as("n"))
      .select(
        col("label"),
        round(element_at(col("m"), 1), 9).as("mean_d1"),
        round(element_at(col("m"), 33), 9).as("mean_d33"),
        col("n"))
      .orderBy("label")
  }

  val qVectorMeanSql: String =
    """SELECT label,
       round(avg(CAST(embedding[1] AS DOUBLE)), 9) AS mean_d1,
       round(avg(CAST(embedding[33] AS DOUBLE)), 9) AS mean_d33,
       count(*) AS n
       FROM embeddings GROUP BY label ORDER BY label"""

  /** Approximate distinct count, driver-graded with a bounded-error
    * contract: at 100 TB an EXACT count(DISTINCT key) shuffles every
    * distinct key; HLL++ (`approx_count_distinct`) is a constant-size
    * mergeable sketch that combines map-side. The sketch value is
    * engine-specific, so the engine-independent claims are the exact
    * count (DuckDB-replayed) and the pinned relative-error bound —
    * the row goes red if sketch accuracy regresses past 5% (rsd is
    * set to 2%, so 5% is >2 sigma of slack).
    */
  val qApproxDistinct: Q = (s, dir) => {
    val l = tbl(s, dir, "lineitem")
    // Two single-purpose passes, NOT one agg carrying both: mixing a
    // distinct aggregate with a non-distinct one makes Catalyst plan
    // via Expand — every input row replicated per aggregate group
    // before the partial agg — and the doubled stream through the
    // distinct machinery went super-linear at the third decade
    // (BASELINE.md round 11: combined 5.5 s at sf1 → 43.0 s at sf10,
    // 16× for 10× rows; split 1.8 → 3.0 s, linear, identical values).
    // Each pass is a pruned one-column scan; at 100 TB two cheap
    // scans beat one Expand-doubled shuffle. The null filter keeps
    // the split formulation value-identical to count(DISTINCT …):
    // distinct().count() would count NULL as one extra value, while
    // both count(DISTINCT) and approx_count_distinct ignore NULLs
    // (latent on TPC-H's non-null l_partkey; real on nullable keys).
    val exact = l.select("l_partkey").na.drop().distinct().count()
    val approx = l
      .agg(approx_count_distinct(col("l_partkey"), rsd = 0.02))
      .head().getLong(0)
    val ok = math.abs(approx - exact).toDouble / exact <= 0.05
    import s.implicits._
    Seq((exact, ok)).toDF("exact_distinct", "approx_within_5pct")
  }

  val qApproxDistinctSql: String =
    """SELECT count(DISTINCT l_partkey) AS exact_distinct,
       true AS approx_within_5pct
       FROM lineitem"""

  /** Bucket width for [[percentileBrackets]]'s two-level cumulative
    * sum: buckets = value-range / width, so the serial bucket-offset
    * combine is bounded by the DOMAIN (TPC-H cents span ~10.5M → ~1.3k
    * buckets at 8192), not the distinct-key count — the quantity that
    * actually grows with corpus size.
    */
  private[graft] val PctBucketWidth = 8192L

  /** Exact-percentile bracket keys via a PARTITIONED two-level
    * cumulative histogram (r20; guide §2.4, VERDICT r19 #5 — the r19
    * form's `Window.orderBy(cents)` was unpartitioned: every distinct
    * key through ONE task, the WindowExec single-partition warning).
    *
    * Input: a `cents LONG` column (nulls ignored — `percentile()`
    * semantics, ADVICE r19). Output: ONE row
    * `[k0 … k_{2m−1}, n_rows]` where k_{2i}/k_{2i+1} are the
    * floor/ceil bracket keys of pcts(i) (value at 0-based rank r =
    * first key with cumulative count ≥ r+1, rank thresholds derived
    * IN-QUERY from n_rows so no separate count job is needed) and
    * n_rows = non-null row count (all-null/empty input → null columns;
    * callers guard). Levels:
    *   1. per-key histogram (map-side combinable, parallel);
    *   2. keys bucketed by `cents div width` (truncating division —
    *      monotone in cents, which is all contiguity needs);
    *      within-bucket prefix sums via Window.partitionBy(b)
    *      (parallel; numbered repartition exempts the tiny local
    *      exchange from AQE's coalesce-to-one);
    *   3. exclusive per-bucket offsets via a triangular broadcast
    *      nested-loop join over the ~1.3k bucket totals (parallel, no
    *      unpartitioned window, no collect);
    *   4. cum = local prefix + bucket offset; bracket lookup as a
    *      plain min(when(...)) aggregate.
    */
  /** The cents histogram feeding [[percentileBracketsFromHist]]: per-key
    * counts plus the bucket key, ending in a NUMBERED repartition(b)
    * (the r19 exempt-from-AQE pattern — the histogram exchange is
    * small at bench scale, so AQE would otherwise coalesce the window
    * reads to ONE partition, recreating the serial pass this exists to
    * remove). Truncating `div` is monotone non-decreasing for W > 0,
    * which is all the bucketing needs (bucket 0 spans (−W, W) —
    * harmless). Callers that consume the brackets eagerly should
    * persist this histogram first: the bracket plan reads it from
    * several subtrees (join sides, broadcast builds), and broadcast
    * builds run as independent jobs that do NOT share exchange results
    * — an unpersisted histogram re-runs the scan once per subtree
    * (profiled at 5× the query's CPU in the first r20 draft).
    */
  private[graft] def centsHistogram(centsDf: DataFrame): DataFrame = {
    val par = centsDf.sparkSession.sparkContext.defaultParallelism
    centsDf.filter(col("cents").isNotNull)
      .groupBy("cents").agg(count(lit(1)).as("cnt"))
      .withColumn("b", expr(s"cents div $PctBucketWidth"))
      .repartition(par, col("b"))
  }

  private[graft] def percentileBracketsFromHist(hist: DataFrame, pcts: Seq[Double]): DataFrame = {
    val wloc = Window.partitionBy("b").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // loc = within-bucket prefix; btot = whole-bucket total (same
    // partitioning, whole-partition frame — no second exchange or sort)
    val rows = hist
      .withColumn("loc", sum(col("cnt")).over(wloc))
      .withColumn("btot", sum(col("cnt")).over(Window.partitionBy("b")))
    // ONE row per bucket (loc == cnt exactly on each bucket's first
    // row: later rows carry loc ≥ cnt + 1). The bucket-level prefix is
    // a window over ≤ domain/width ≈ 1.3k rows at ANY corpus size —
    // bounded by the VALUE DOMAIN, not the data — partitioned by a
    // constant-valued key so the bounded single partition is explicit
    // and deliberate. pmod(b, 1) ≡ 0, but unlike lit(0) the optimizer
    // cannot fold it out of the partitionSpec (folding would leave the
    // spec empty and re-trigger the WindowExec single-partition
    // warning this bounded combine does not deserve).
    val wg = Window.partitionBy(pmod(col("b"), lit(1L))).orderBy("b")
    val offsets = rows.filter(col("loc") === col("cnt"))
      .select(col("b"), col("btot"))
      .withColumn("gcum",
        sum(col("btot")).over(wg.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // N = the whole-set total, attached to every bucket row by the
      // same tiny window — no separate aggregate subtree, no count job
      .withColumn("n_rows", sum(col("btot")).over(wg.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("b"), (col("gcum") - col("btot")).as("off"), col("n_rows"))
    val cum = rows
      .join(offsets, Seq("b"))
      .withColumn("cum", col("loc") + col("off"))
    val bracketCols = pcts.zipWithIndex.flatMap { case (p, i) =>
      // pos = p·(N−1), computed in-query from the SAME aggregation —
      // bit-identical to the driver-side p * (n−1) double product
      val posc = lit(p) * (col("n_rows") - lit(1L)).cast("double")
      Seq(
        min(when(col("cum") >= floor(posc) + lit(1L), col("cents"))).as(s"k${2 * i}"),
        min(when(col("cum") >= ceil(posc) + lit(1L), col("cents"))).as(s"k${2 * i + 1}"))
    } :+ max(col("n_rows")).as("n_rows")
    cum.agg(bracketCols.head, bracketCols.tail: _*)
  }

  /** [[centsHistogram]] + [[percentileBracketsFromHist]] in one plan —
    * the spec-facing convenience (tiny inputs, no persist needed).
    */
  private[graft] def percentileBrackets(centsDf: DataFrame, pcts: Seq[Double]): DataFrame =
    percentileBracketsFromHist(centsHistogram(centsDf), pcts)

  /** The EXACT interpolation of catalyst `PercentileBase.getPercentile`
    * (decompiled from spark-catalyst 4.1.2), shared with
    * ApproxQuantileParitySpec so the spec drives the production code.
    */
  private[graft] def percentileInterp(qpos: Double, lowerKey: Long, higherKey: Long): Double = {
    val lower = math.floor(qpos).toLong
    val higher = math.ceil(qpos).toLong
    if (higher == lower || higherKey == lowerKey) lowerKey.toDouble
    else (higher - qpos) * lowerKey.toDouble + (qpos - lower) * higherKey.toDouble
  }

  /** Approximate quantiles, same contract: exact percentiles need a
    * full sort (or a per-group collect); the Greenwald-Khanna sketch
    * behind `approxQuantile` is one-pass, mergeable, and ε-bounded.
    * The exact interpolated percentiles replay in DuckDB
    * (quantile_cont uses the same (n-1)·p interpolation as Spark's
    * percentile); the sketch is graded by its pinned error bound
    * against them.
    */
  val qApproxQuantile: Q = (s, dir) => {
    val l = tbl(s, dir, "lineitem")
    // l_extendedprice carries exactly two decimals by TPC-H
    // construction, so the cents column is an exact rescaling and
    // percentile(l_extendedprice) == percentile(cents)/100 up to one
    // double ulp of the linear interpolation — noise four orders of
    // magnitude inside the 1% sketch gate below, so the sketch is
    // graded against the same exact pass the p50/p95 outputs use.
    //
    // r19 replaced the `percentile()` aggregate (final merge = ONE
    // reduce task sorting ~583k distinct keys, profiled 1.2 s) with a
    // histogram + cumulative-sum + bracket-lookup replay; r20
    // restructures the replay's two remaining serial pieces
    // (VERDICT r19 #5): the unpartitioned cumulative window is now the
    // PARTITIONED two-level cumulative sum of [[percentileBrackets]]
    // (no task ever sees every distinct key, no WindowExec
    // single-partition warning), and the separate l.count() job is
    // gone — N rides the same aggregation, with the rank thresholds
    // derived in-query from sum(cnt) (bit-identical double math;
    // pinned by ApproxQuantileParitySpec, which drives the SHARED
    // helper on adversarial count/tie/null shapes).
    // The GK sketch rides a crossJoin of the two 1-row aggregates so
    // everything is ONE action. rebalanced: the 3-row-group local file
    // otherwise caps every partial-agg at 3 tasks.
    //
    // round-robin rebalance, deliberately NOT a cents-keyed repartition
    // (r19b A/B): keying would let the histogram's groupBy reuse the
    // partitioning, but column pruning then specializes the two
    // branches' projections (cents-only vs price+cents), the exchanges
    // stop being identical subtrees, and BOTH branches re-scan the
    // file — measured as two instance-scale exchanges (3.3 + 8.1 MB)
    // instead of this one shared 4.8 MB exchange.
    // BOTH intermediates are PINNED across the plan's several readers
    // and released before returning — within-one-execution reuse, the
    // DecontamOps r19 pattern, NOT cross-run caching. price: the
    // histogram-build job and the GK sketch's broadcast-build job run
    // as independent jobs that do not share exchange results, so an
    // unpinned rebalance executed twice (~0.5 s wall each at sf0.1);
    // hist: the bracket plan's join sides / broadcast builds re-derive
    // their subtrees independently (see centsHistogram's doc).
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val price = rebalanced(l.select(col("l_extendedprice")))
      .withColumn("cents", round(col("l_extendedprice") * lit(100)).cast("long"))
      .persist(lvl)
    val pcts = Seq(0.5, 0.95)
    val hist = centsHistogram(price.select("cents")).persist(lvl)
    val brackets = percentileBracketsFromHist(hist, pcts)
    val approxAgg = price.agg(
      expr("approx_percentile(l_extendedprice, array(0.5D, 0.95D), 10000)").as("ap"))
    val row =
      try brackets.crossJoin(approxAgg).head()
      finally { hist.unpersist(); price.unpersist(); () }
    import s.implicits._
    // empty/all-null input guard (ADVICE r19): percentile() yields NULL
    // there; this row keeps its schema and signals with NaN instead of
    // the former NPE. Unreachable on TPC-H lineitem (non-empty,
    // l_extendedprice NOT NULL), so the graded output is unchanged.
    if (row.isNullAt(4)) {
      Seq((Double.NaN, Double.NaN, false)).toDF("p50", "p95", "approx_within_1pct")
    } else {
      val n = row.getLong(4)
      val pos = pcts.map(p => p * (n - 1))
      val exCents = Seq(
        percentileInterp(pos(0), row.getLong(0), row.getLong(1)),
        percentileInterp(pos(1), row.getLong(2), row.getLong(3)))
      val approx = row.getSeq[Double](5)
      val ok = approx.zip(exCents).forall { case (a, ec) =>
        val e = ec / 100.0
        math.abs(a - e) / e <= 0.01
      }
      // The graded percentiles interpolate over exact integer CENTS and
      // round to an INTEGER — rounding identical doubles to an integer
      // is rule-independent (no decimal-scale multiply is involved, and
      // HALF_UP ≡ half-away on exact .5), unlike round(dollars, 2):
      // an even row count puts p50 exactly on a half-cent, a
      // non-representable decimal where BigDecimal-HALF_UP and a SQL
      // replay's scaled round() can land apart (the r16 midpoint class).
      // The final /100 of an integer is exact in both engines.
      Seq((math.round(exCents(0)) / 100.0, math.round(exCents(1)) / 100.0, ok))
        .toDF("p50", "p95", "approx_within_1pct")
    }
  }

  val qApproxQuantileSql: String =
    """SELECT round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5)) / 100 AS p50,
       round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.95)) / 100 AS p95,
       true AS approx_within_1pct
       FROM lineitem"""

  /** Prefix-filtered set-similarity join, driver-graded: the
    * open-vocabulary exact-Jaccard scale path (rarest-token prefix
    * index — hot tokens never drive the candidate join) must produce
    * EXACTLY the exhaustive pairwise word-token Jaccard the oracle
    * computes: green == recall 1.0 for the prefix filter, same
    * contract as q_ngram_jaccard for the bigram inverted index.
    *
    * The graded slice is capped at 500 docs: this synthetic corpus is
    * near-dup SATURATED (30k qualifying pairs in 500 docs), so the
    * exact pair OUTPUT — for any algorithm — grows quadratically with
    * corpus size, as does the exhaustive oracle that certifies it.
    * The cap grades algorithmic parity at fixed density; the
    * operator's scale property (rarest-token prefix keeps hot tokens
    * out of the candidate join) is what DedupSpec asserts, and on a
    * real open-vocabulary corpus the output is sparse.
    */
  val qPrefixJaccard: Q = (s, dir) => {
    val d = tbl(s, dir, "documents").filter(col("doc_id") < Replica0CapTiny)
    // No trailing orderBy (r19): the driver sorts rows before hashing
    // (same contract every full-output row relies on), and the range
    // partitioner's bounds-sampling pass was EXECUTING the verify-join
    // subtree a second time — the r19 profile showed two back-to-back
    // ~1 s single-task verify stages for one query. Output row set is
    // unchanged; the oracle's ORDER BY only canonicalizes its side.
    Dedup
      .prefixJaccardPairs(d, "doc_id", "text", threshold = 0.8)
      .select(col("id_a"), col("id_b"), ratio6Col("inter", "union_").as("jaccard"))
  }

  val qPrefixJaccardSql: String =
    raw"""WITH t AS (
            SELECT doc_id,
                   list_distinct(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                             x -> x <> '')) AS s
            FROM documents WHERE doc_id < $Replica0CapTiny),
          p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.s, b.s)) AS i,
                   len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u
            FROM t a JOIN t b ON a.doc_id < b.doc_id)
          -- exact-integer 6-dp HALF_UP (RepetitionStats.ratio6 mirror);
          -- the threshold compares the RAW ratio, identical to the engine
          SELECT id_a, id_b,
                 ((2 * i * 1000000 + u) // (2 * u)) / 1000000.0 AS jaccard
          FROM p WHERE u > 0 AND i * 1.0 / u >= 0.8
          ORDER BY id_a, id_b"""

  /** The SQL function surface, driver-graded: after
    * [[graft.functions.GraftFunctions.registerAll]] the engine's native
    * codegen'd expressions are callable from `spark.sql(...)` text —
    * the deployment path is `spark.sql.extensions=GraftExtensions`,
    * this exercises the same builders imperatively. dot_product folds
    * the array left-to-right in a double accumulator exactly like
    * DuckDB's list_dot_product, so the scores replay bit-for-bit.
    */
  val qSqlSurface: Q = (s, dir) => {
    // Scope the session-state mutation like qIvfRewrite does: register,
    // plan the statement, then restore the registry and drop the view so
    // later catalog queries run against an unaltered session — but only
    // drop names this call ADDED (withRegistered): on an
    // extensions-deployed session the surface pre-exists and must
    // survive. The returned DataFrame's analyzed plan already holds the
    // resolved expressions and the view's child plan, so execution
    // after cleanup is unaffected.
    graft.functions.GraftFunctions.withRegistered(s) {
      try {
        tbl(s, dir, "embeddings").createOrReplaceTempView("graft_embeddings_sql")
        val out =
          s.sql("""SELECT vec_id, round(dot_product(embedding, embedding), 4) AS sq_norm
                   FROM graft_embeddings_sql
                   ORDER BY sq_norm DESC, vec_id
                   LIMIT 20""")
        out.queryExecution.analyzed // force resolution before the registry reverts
        out
      } finally s.catalog.dropTempView("graft_embeddings_sql")
    }
  }

  val qSqlSurfaceSql: String =
    """SELECT vec_id,
       round(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]), 4) AS sq_norm
       FROM embeddings
       ORDER BY sq_norm DESC, vec_id
       LIMIT 20"""

  /** Bucketed catalog tables per sf dir — the co-located-join layout
    * written once per JVM (load-side work, like the IVF index):
    * lineitem and orders bucketed (and sorted) on the join key with
    * the SAME bucket count, so the repeated join carries no shuffle on
    * either side.
    */
  private val bucketedCache = scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  private def bucketedTablesFor(s: SparkSession, dir: String): (String, String) =
    bucketedCache.getOrElseUpdate(
      dir, {
        val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val (lt, ot) = (s"bt_lineitem$tag", s"bt_orders$tag")
        // A fresh JVM's in-memory catalog doesn't know tables a
        // PREVIOUS run left in the on-disk warehouse, so Overwrite
        // cannot replace them and CREATE fails with
        // LOCATION_ALREADY_EXISTS — drop both the catalog entry and
        // the stale location before (re)writing.
        val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
        Seq(lt, ot).foreach { t =>
          s.sql(s"DROP TABLE IF EXISTS $t")
          // managed-table directories are lowercased by the catalog
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(wh, t.toLowerCase(java.util.Locale.ROOT)))
        }
        val store = new graft.store.VectorStore(wh)
        store.writeBucketedTable(
          tbl(s, dir, "lineitem").select("l_orderkey", "l_quantity"), lt, "l_orderkey", 8)
        store.writeBucketedTable(
          tbl(s, dir, "orders").select("o_orderkey", "o_orderstatus"), ot, "o_orderkey", 8)
        (lt, ot)
      }
    )

  /** Bucketed co-located join, driver-graded: the merge-hinted join of
    * the two 8-bucket tables must plan with ZERO hash-partitioning
    * exchanges AND read through the bucket layout ("Bucketed: true") —
    * both checked on the executed plan and emitted as a graded column —
    * while the rows match the plain-join oracle. The merge hint forces
    * the sort-merge path the bucket layout exists for (small testdata
    * sides would otherwise broadcast, sidestepping bucketing; at the
    * 100 TB scale this layout targets, neither side broadcasts).
    * Integer-valued sums keep parity exact.
    */
  val qBucketedJoin: Q = (s, dir) => {
    val (lt, ot) = bucketedTablesFor(s, dir)
    val joined = s.table(lt).hint("merge")
      .join(s.table(ot).hint("merge"), col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    val colocated = !plan.contains("Exchange hashpartitioning") && plan.contains("Bucketed: true")
    joined
      .groupBy("o_orderstatus")
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items"))
      .withColumn("colocated_no_shuffle", lit(colocated))
      .orderBy("o_orderstatus")
  }

  val qBucketedJoinSql: String =
    """SELECT o_orderstatus, sum(l_quantity) AS sum_qty, count(*) AS n_items,
       true AS colocated_no_shuffle
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderstatus
       ORDER BY o_orderstatus"""

  /** Indexed-collection path per sf dir for the optimizer-rewrite
    * evidence: the labeled IVF corpus laid down exactly as
    * [[graft.store.VectorStore.writeIndexed]] does — cluster_id as a
    * PARTITION column — so the IN filter the rule injects becomes
    * partition pruning at the scan (FileSourceStrategy splits it into
    * partitionFilters; non-probed clusters are never read). Written
    * once per JVM per sf, like ivfCache: index layout is load-side
    * work.
    */
  private val ivfPathCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def ivfCollectionPathFor(s: SparkSession, dir: String): String =
    ivfPathCache.getOrElseUpdate(
      dir, {
        val (labeled, _, _) = ivfIndexFor(s, dir)
        val out = java.nio.file.Files.createTempDirectory("graft-ivf-coll").toString
        labeled
          .repartition(col("cluster_id"))
          .write.mode("overwrite").partitionBy("cluster_id").parquet(out)
        out
      }
    )

  /** O5 driver evidence — the [[graft.plans.IvfTopKPrune]] Catalyst
    * rewrite exercised END TO END: a naive `score-orderBy-limit` over a
    * registered collection must (a) get the `cluster_id IN (probes)`
    * filter injected into its OPTIMIZED plan (checked by pattern, not
    * string), and (b) return exactly the rows+scores of the explicit
    * IVF probe path with the same nprobe — the rewrite is
    * approximate-by-contract vs exhaustive search (Milvus nprobe
    * semantics) but must be IDENTICAL to the explicit API it sugars.
    * Both plans share the deterministic (score DESC, vec_id) ranking,
    * so the parity claim is row-exact. The rule and registration are
    * scoped to this query (enable/register → compare → disable/
    * unregister in a finally) and key on the temp collection path, so
    * no other catalog query can be rewritten.
    */
  val qIvfRewrite: Q = (s, dir) => {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, In}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val (_, centroids, _) = ivfIndexFor(s, dir)
    val path = ivfCollectionPathFor(s, dir)
    val q = vecOf(s, dir, 0L)
    val nprobe = IvfQueryCfg.nprobe
    IvfCatalog.register(path, centroids, nprobe)
    IvfPruning.enable(s)
    try {
      val corpus = s.read.parquet(path)
      def top10(df: DataFrame): DataFrame =
        df.withColumn("score", cosineSimilarity(col("embedding"), typedLit(q.toSeq)))
          .orderBy(desc("score"), col("vec_id"))
          .limit(10)
      val naive = top10(corpus)
      val ruleFired = naive.queryExecution.optimizedPlan.exists {
        case LFilter(In(a: AttributeReference, _), _) => a.name == "cluster_id"
        case _ => false
      }
      val probes = IvfIndex.nearestClusters(q, centroids, nprobe)
      val explicit = top10(corpus.filter(col("cluster_id").isin(probes: _*)))
      def rows(df: DataFrame): Seq[(Long, Double)] =
        df.select(col("vec_id"), col("score")).collect().toSeq
          .map(r => (r.getLong(0), r.getDouble(1)))
      val matches = rows(naive) == rows(explicit)
      val pruned = nprobe < centroids.length
      import s.implicits._
      Seq((ruleFired, matches, pruned))
        .toDF("rule_fired", "matches_explicit", "pruned")
    } finally {
      IvfPruning.disable(s)
      IvfCatalog.unregister(path)
    }
  }

  val qIvfRewriteSql: String =
    "SELECT true AS rule_fired, true AS matches_explicit, true AS pruned"

  /** Load-side preparation for a scale-factor dir: build + cache the
    * IVF index and the PQ codebooks/codes (the reference builds its
    * index at insert time, milvus_store.py:110-136 — searches never
    * pay it). Benchmarks call this before timing so whichever
    * index-backed query happens to run first doesn't absorb the
    * one-time KMeans builds.
    */
  def prepare(s: SparkSession, dir: String): Unit = {
    val (labeled, _, _) = ivfIndexFor(s, dir)
    labeled.count() // force the KMeans fit + radii pass + populate the cache
    val (encoded, _) = pqIndexFor(s, dir)
    encoded.count() // force the PQ fits + encode pass
    val (ivfpq, _, _) = ivfpqIndexFor(s, dir)
    ivfpq.count() // force the composed-layout encode pass
    ()
  }

  /** Catalog rows that read the PREPARED in-memory index artifacts
    * (ivfCache / pqCache / ivfpqCache). Bench re-ensures residency
    * right before timing these: the round-11 sf100 record showed
    * q_pq_recall at 8.4 s in-batch vs 0.44–0.59 s isolated because the
    * bench batch's own working set had LRU-evicted the encoded corpus
    * between prepare and the query — a harness artifact, not a plan
    * property, and it belongs outside the timed window.
    */
  val indexBackedQueries: Set[String] = Set(
    "q_ivf_search", "q_ivf_recall", "q_ivf_knn_join", "q_ivf_rewrite",
    "q_pq_recall", "q_ivfpq_recall")

  /** Re-materialize any evicted blocks of the prepared index caches
    * (a count over a partially-evicted cached DataFrame recomputes
    * exactly the missing partitions). Returns whether the THREE index
    * caches were already fully resident — judged by their own storage
    * RDD ids, not session-wide, so an unrelated partially-cached RDD
    * (a spec or query-side cache) can't raise a spurious eviction
    * warning (ADVICE r12).
    */
  def ensureIndexCaches(s: SparkSession, dir: String): Boolean = {
    val (labeled, _, _) = ivfIndexFor(s, dir)
    val (encoded, _) = pqIndexFor(s, dir)
    val (ivfpq, _, _) = ivfpqIndexFor(s, dir)
    val ids = (Seq(labeled, encoded, ivfpq)
      .flatMap(org.apache.spark.sql.GraftBridge.cachedRddIds)).toSet
    val fullyResident = s.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id))
      .forall(i => i.numCachedPartitions >= i.numPartitions)
    prepare(s, dir)
    fullyResident
  }

  /** Fixed pivot vectors for the semantic-dedup/k-means rows: the
    * embeddings of vec_id 0..7, in id order — deterministic on both
    * engines, collected once per call (8 × 64 floats).
    */
  private def pivotVecs(s: SparkSession, dir: String): Seq[Array[Float]] =
    tbl(s, dir, "embeddings")
      .filter(col("vec_id") < 8)
      .orderBy("vec_id")
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0).toArray)
      .toSeq

  /** SemDeDup ([[graft.dedup.SemanticDedup]]): cluster the embedding
    * space, drop within-cluster rows dominated by a ≥0.3-similar
    * smaller id, return the survivors. Graded with FIXED pivots
    * (vec_id 0..7) so the DuckDB oracle replays assignment, pairing,
    * and the keep rule exactly; the production path trains pivots with
    * k-means and scales k with the corpus (semanticDedupAuto,
    * spec-pinned — MLlib fit is not engine-portable). The graded
    * slice is capped at vec_id < Replica0CapSmall for the same reason as
    * q_embed_neardup: 8 fixed clusters stop bounding pair volume on
    * the ScaleUp corpora; the cap grades the machinery at fixed
    * density while the auto variant owns the scale path.
    */
  val qSemanticDedup: Q = (s, dir) => {
    // zero-norm guard (ADVICE r12): the engine sends a zero vector to
    // the LAST pivot while the oracle's NULL-cosine ordering would rank
    // it first — no corpus ships one, but the row must not depend on it
    val e = tbl(s, dir, "embeddings")
      .filter(col("vec_id") < Replica0CapSmall)
      .filter(graft.functions.VectorFunctions.dotProduct(col("embedding"), col("embedding")) > 0)
    SemanticDedup
      .semanticDedup(e.select("vec_id", "embedding"), "vec_id", "embedding",
        pivotVecs(s, dir), tau = 0.3)
      .select(col("vec_id"), col("cluster"))
  }

  val qSemanticDedupSql: String =
    s"""WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE vec_id < $Replica0CapSmall AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       p AS (SELECT vec_id AS pid, v AS pv FROM t WHERE vec_id < 8),
       a AS (SELECT t.vec_id, t.v, p.pid,
             list_dot_product(t.v, p.pv) / (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(p.pv, p.pv))) AS cos
             FROM t CROSS JOIN p),
       asg AS (SELECT vec_id, v, pid AS cluster FROM a
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, pid) = 1),
       removed AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
                   ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                   AND list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3)
       SELECT vec_id, CAST(cluster AS INT) AS cluster FROM asg
       WHERE vec_id NOT IN (SELECT vec_id FROM removed) ORDER BY vec_id"""

  /** One EXACT Lloyd step ([[graft.dedup.SemanticDedup.lloydStep]]):
    * nearest-pivot assignment (shuffle-free projection, pivots as
    * codegen literals) + one map-side-combinable aggregate producing
    * the updated centroids, populations, and cluster tightness. This
    * upgrades the k-means story from rows-only (MLlib fit inside IVF
    * build) to a full DuckDB-replayed oracle: the oracle recomputes
    * the same step from the raw arrays; round(9) absorbs partial-sum
    * reordering exactly as q_vector_mean does. Runs the FULL
    * embeddings table at every sf — assignment is linear, the
    * aggregate is k rows.
    */
  val qKmeansStep: Q = (s, dir) =>
    SemanticDedup
      .lloydStep(
        // zero-norm guard — same engine/oracle divergence as
        // q_semantic_dedup (ADVICE r12)
        tbl(s, dir, "embeddings").filter(
          graft.functions.VectorFunctions.dotProduct(col("embedding"), col("embedding")) > 0),
        "embedding", pivotVecs(s, dir))
      .select(
        col("cluster"), col("n"),
        round(element_at(col("__m"), 1), 9).as("mean_d1"),
        round(element_at(col("__m"), 33), 9).as("mean_d33"),
        round(col("__mc"), 9).as("mean_cos"))

  val qKmeansStepSql: String =
    """WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       p AS (SELECT vec_id AS pid, v AS pv FROM t WHERE vec_id < 8),
       a AS (SELECT t.vec_id, t.v, p.pid,
             list_dot_product(t.v, p.pv) / (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(p.pv, p.pv))) AS cos
             FROM t CROSS JOIN p),
       asg AS (SELECT vec_id, v, pid AS cluster, cos FROM a
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, pid) = 1)
       SELECT CAST(cluster AS INT) AS cluster, count(*) AS n,
              round(avg(v[1]), 9) AS mean_d1, round(avg(v[33]), 9) AS mean_d33,
              round(avg(cos), 9) AS mean_cos
       FROM asg GROUP BY 1 ORDER BY 1"""

  /** Greedy in-order sequence packing
    * ([[graft.text.SequencePacking.packGreedy]]): whitespace-token
    * costs, budget 256, packed per source in doc_id order. The oracle
    * replays the sequential fold as a recursive CTE. Graded slice
    * capped at doc_id < [[Replica0CapSmall]] — covers every driver corpus in full and
    * bounds the oracle's recursion depth (one level per doc per
    * source) on the big sweeps; scale comes from per-group
    * parallelism, which the cap does not touch.
    */
  val qPackSequences: Q = (s, dir) => {
    val d = tbl(s, dir, "documents").filter(col("doc_id") < Replica0CapSmall)
    val withCost = d.withColumn(
      "toks",
      size(filter(split(trim(col("text")), "\\s+"), x => x =!= lit(""))).cast("long"))
    graft.text.SequencePacking.packGreedy(withCost, "source", "doc_id", "toks", budget = 256L)
  }

  val qPackSequencesSql: String =
    raw"""WITH RECURSIVE t AS (
            SELECT source, doc_id,
                   len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS toks
            FROM documents WHERE doc_id < $Replica0CapSmall),
          r AS (SELECT source, doc_id, toks,
                       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM t),
          rec AS (
            SELECT source, doc_id, toks, rn, 0 AS block_id, 0 AS block_pos, toks AS acc
            FROM r WHERE rn = 1
            UNION ALL
            SELECT r.source, r.doc_id, r.toks, r.rn,
                   CASE WHEN rec.acc + r.toks > 256 THEN rec.block_id + 1 ELSE rec.block_id END,
                   CASE WHEN rec.acc + r.toks > 256 THEN 0 ELSE rec.block_pos + 1 END,
                   CASE WHEN rec.acc + r.toks > 256 THEN r.toks ELSE rec.acc + r.toks END
            FROM rec JOIN r ON r.source = rec.source AND r.rn = rec.rn + 1)
          SELECT source, doc_id, toks, block_id, block_pos FROM rec
          ORDER BY source, doc_id"""

  /** Training-mixture resampling
    * ([[graft.text.Sampling.weightedResample]]): per-language epoch
    * weights (en 0.5× / zh 2× / es 2.25× / de 0× / default 1×) applied
    * as deterministic md5-fraction replication — floor(w) copies plus
    * one more for the frac(w) hash-slice. Scan-stage row generation,
    * no shuffle; the oracle replays bucket, weight CASE, and
    * unnest(range(n)) exactly.
    */
  val qDomainMix: Q = (s, dir) =>
    graft.text.Sampling
      .weightedResample(
        tbl(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "zh" -> 2.0, "es" -> 2.25, "de" -> 0.0), defaultWeight = 1.0)
      .select(col("doc_id"), col("lang"), col("rep"))

  val qDomainMixSql: String =
    """WITH w AS (SELECT doc_id, lang,
         CASE lang WHEN 'en' THEN 0 WHEN 'zh' THEN 2 WHEN 'es' THEN 2 WHEN 'de' THEN 0 ELSE 1 END
         + CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT <
             CASE lang WHEN 'en' THEN 2147483648 WHEN 'zh' THEN 0 WHEN 'es' THEN 1073741824 WHEN 'de' THEN 0 ELSE 0 END
           THEN 1 ELSE 0 END AS n
         FROM documents)
       SELECT doc_id, lang, CAST(r AS INT) AS rep
       FROM (SELECT doc_id, lang, unnest(range(0, n)) AS r FROM w WHERE n > 0)
       ORDER BY doc_id, rep"""

  /** Unigram-LM cross-entropy quality signal
    * ([[graft.text.TextAnalysis.unigramCrossEntropy]]): corpus-trained
    * P(w), per-doc mean −log2 P — the CCNet-family perplexity filter's
    * model-free floor. hotMin = 50 exercises BOTH routes of the
    * frequency-partitioned join (broadcast head for hot types, shuffle
    * join for the tail) on the driver corpus; the oracle recomputes
    * counts, logs, and the mean from scratch — it is route-blind, so a
    * green row also certifies the hybrid split is semantically
    * invisible.
    */
  val qUnigramLogprob: Q = (s, dir) =>
    graft.text.TextAnalysis
      .unigramCrossEntropy(rebalanced(tbl(s, dir, "documents")), "doc_id", "text", hotMin = 50L)

  val qUnigramLogprobSql: String =
    raw"""WITH toks AS (
            SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS tok
            FROM documents),
          counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
          tot AS (SELECT sum(c) AS t FROM counts)
          SELECT doc_id, count(*) AS n_tokens,
                 round(avg(-ln(c * 1.0 / t) / ln(2)), 6) AS bits_per_token
          FROM toks JOIN counts USING (tok) CROSS JOIN tot
          GROUP BY doc_id ORDER BY doc_id"""

  /** Bigram-LM cross-entropy
    * ([[graft.text.TextAnalysis.bigramCrossEntropy]]): Jelinek-Mercer
    * interpolated P(w|v) = 0.75·c(v,w)/c(v·) + 0.25·c(w)/N trained on
    * the corpus itself, per-doc mean −log2 bits — the rung above the
    * unigram filter on the CCNet perplexity ladder. hotMin = 50
    * exercises BOTH routes of the frequency-partitioned bigram join on
    * the driver corpus; the route-blind oracle rebuilds bigram, prefix,
    * and unigram counts from scratch.
    */
  val qBigramLogprob: Q = (s, dir) =>
    graft.text.TextAnalysis
      .bigramCrossEntropy(rebalanced(tbl(s, dir, "documents")), "doc_id", "text", hotMin = 50L)

  val qBigramLogprobSql: String =
    raw"""WITH arrs AS (
            SELECT doc_id, list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'), x -> x <> '') AS a
            FROM documents),
          toks AS (SELECT doc_id, unnest(a) AS w FROM arrs),
          cu AS (SELECT w, count(*) AS cu FROM toks GROUP BY w),
          tot AS (SELECT count(*) AS t FROM toks),
          bg AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(a)), i -> a[i])) AS v,
                   unnest(list_transform(range(1, len(a)), i -> a[i + 1])) AS w
            FROM arrs WHERE len(a) >= 2),
          cb AS (SELECT v, w, count(*) AS cb FROM bg GROUP BY v, w),
          cp AS (SELECT v, sum(cb) AS cp FROM cb GROUP BY v),
          scored AS (
            SELECT bg.doc_id,
                   0.75 * cb.cb / cp.cp + 0.25 * cu.cu / tot.t AS p
            FROM bg
            JOIN cb USING (v, w)
            JOIN cp USING (v)
            JOIN cu ON bg.w = cu.w
            CROSS JOIN tot)
          SELECT doc_id, count(*) AS n_bigrams,
                 round(avg(-ln(p) / ln(2)), 6) AS bits_per_token
          FROM scored GROUP BY doc_id ORDER BY doc_id"""

  /** Exact dedup over a BINARY multimodal column: md5 of real encoded
    * PNG payloads as the duplicate key, keep-first via the
    * hot-key-safe [[graft.dedup.Dedup.exactDedupAggJoin]] (a popular
    * meme image is the multimodal hot key by construction). Payload
    * dimensions are planted so doc_id % 25 fully determines the pixel
    * content — 25 duplicate classes — and the oracle reduces to
    * arithmetic on doc_id: a green row certifies the real PNG encoder
    * is bit-deterministic (equal pixels ⇒ equal bytes ⇒ equal md5)
    * AND the binary keep-first picks exactly the arithmetic winners.
    */
  val qMediaDedup: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val dims = rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("w", (lit(8) + pmod(col("doc_id"), lit(5))).cast("int"))
      .withColumn("h", (lit(8) + pmod(col("doc_id"), lit(5))).cast("int"))
      .withColumn("seed", pmod(col("doc_id"), lit(25)).cast("int"))
    val png = Multimodal.withEncodedPng(dims, "w", "h", "seed")
      .withColumn("k", md5(col("png")))
    val kept = Dedup.exactDedupAggJoin(png, "k", Seq("doc_id"))
      .select(col("doc_id").as("keep_id"), col("k"))
    val copies = png.groupBy("k").agg(count(lit(1)).as("n_copies"))
    kept.join(copies, "k").select("keep_id", "n_copies")
  }

  val qMediaDedupSql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
       FROM documents GROUP BY doc_id % 25 ORDER BY keep_id"""

  /** Hard-negative mining
    * ([[graft.search.VectorSearch.hardNegatives]]): per query, the
    * top-3 most-similar DIFFERENT-label vectors — the DPR training-set
    * construction step. Scores rounded at 4 dp and fully replayed in
    * DuckDB (same contract as q_knn_join, plus the label-exclusion
    * predicate).
    */
  val qHardNegatives: Q = (s, dir) => {
    val e = tbl(s, dir, "embeddings")
    VectorSearch
      .hardNegatives(
        e.filter(col("vec_id") < 10), e, "vec_id", "vec_id", "label", "label", k = 3)
      .select(
        col("query_id"), col("neighbor_id"),
        round(col("score"), 4).as("score"), col("rank"))
  }

  val qHardNegativesSql: String =
    """WITH q AS (SELECT vec_id AS query_id, label AS qlab, embedding::DOUBLE[] AS qv
                  FROM embeddings WHERE vec_id < 10),
         scored AS (
           SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(e.embedding::DOUBLE[], q.qv)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * sqrt(list_dot_product(q.qv, q.qv))) AS s
           FROM embeddings e, q WHERE e.label <> q.qlab AND e.vec_id <> q.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, round(s, 4) AS score,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS INT) AS rank
           FROM scored)
       SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 3
       ORDER BY query_id, rank"""

  /** G9 sample-review, driver-graded at last: the reference's seeded
    * `random.sample` review set (quality_monitor.py:143-158) in the
    * engine's reproducible form —
    * [[graft.quality.QualityMonitor.sampleReviewByHash]] (top-n by md5
    * of the id; `rand(seed)` is partition-layout-dependent and was
    * spec-only for that reason). TakeOrderedAndProject plan, review
    * stats attached.
    */
  val qSampleReview: Q = (s, dir) =>
    graft.quality.QualityMonitor
      .sampleReviewByHash(tbl(s, dir, "documents"), "doc_id", 10)
      .select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        length(col("text")).as("text_len"))

  val qSampleReviewSql: String =
    """SELECT doc_id, lang, source, n_chars, CAST(length(text) AS INT) AS text_len
       FROM documents ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 10"""

  /** REAL image transform end-to-end
    * ([[graft.multimodal.Multimodal.withResizedPng]]): encode genuine
    * PNGs, nearest-neighbor half-scale them (decode → sample
    * out(x,y) = in(2x,2y) → re-encode), then decode the RESIZED
    * payloads for stats. The oracle recomputes the resized means from
    * the pixel formula at (2x, 2y) — green certifies two full trips
    * through the real codec plus the transform arithmetic.
    */
  val qImageResize: Q = (s, dir) => {
    import graft.multimodal.Multimodal
    val dims = rebalanced(tbl(s, dir, "documents").select(col("doc_id")))
      .withColumn("w", (lit(8) + pmod(col("doc_id"), lit(9))).cast("int"))
      .withColumn("h", (lit(8) + pmod(col("doc_id") * 3, lit(7))).cast("int"))
      .withColumn("seed", pmod(col("doc_id"), lit(1000)).cast("int"))
    val png = Multimodal.withEncodedPng(dims, "w", "h", "seed")
    val small = Multimodal.withResizedPng(png, "png")
    // exact-integer 4-dp HALF_UP over the integer channel sums — see
    // qImageFeatures
    Multimodal.withImageStats(small.drop("png"), "png_small")
      .select(
        col("doc_id"),
        col("img_width"), col("img_height"),
        ratioCol("sum_r", "(img_width * CAST(img_height AS BIGINT))", 10000L).as("mean_r"),
        ratioCol("sum_g", "(img_width * CAST(img_height AS BIGINT))", 10000L).as("mean_g"),
        ratioCol("sum_b", "(img_width * CAST(img_height AS BIGINT))", 10000L).as("mean_b"))
  }

  val qImageResizeSql: String =
    """WITH dims AS (
         SELECT doc_id,
                CAST((8 + doc_id % 9) // 2 AS INT) AS w2,
                CAST((8 + (doc_id * 3) % 7) // 2 AS INT) AS h2,
                CAST(doc_id % 1000 AS INT) AS seed
         FROM documents),
       px AS (SELECT doc_id, w2, h2, seed, unnest(range(0, w2)) AS x FROM dims),
       pxy AS (SELECT doc_id, w2, h2, seed, x, unnest(range(0, h2)) AS y FROM px),
       sums AS (
         SELECT doc_id, any_value(w2) AS w2, any_value(h2) AS h2,
                sum((2 * x * 31 + 2 * y * 17 + seed) % 256) AS sr,
                sum((2 * x * 7 + 2 * y * 13 + 2 * seed) % 256) AS sg,
                sum((2 * x * 3 + 2 * y * 29 + 5 * seed) % 256) AS sb
         FROM pxy GROUP BY doc_id)
       SELECT doc_id, w2 AS img_width, h2 AS img_height,
              ((2 * sr * 10000 + w2 * h2) // (2 * w2 * h2)) / 10000.0 AS mean_r,
              ((2 * sg * 10000 + w2 * h2) // (2 * w2 * h2)) / 10000.0 AS mean_g,
              ((2 * sb * 10000 + w2 * h2) // (2 * w2 * h2)) / 10000.0 AS mean_b
       FROM sums ORDER BY doc_id"""

  /** Duplicate-span scrubbing
    * ([[graft.dedup.Dedup.scrubDuplicateSpans]]): every token covered
    * by a corpus-duplicated 8-gram is removed from EVERY occurrence —
    * the token-granular ExactSubstr recipe (Lee et al. 2022) as
    * aggregates and semi-joins. The oracle rebuilds the scrubbed
    * token stream from scratch (gram counting, span cover, ordered
    * string_agg) and must match string-for-string.
    *
    * Graded slice capped at the replica-0 documents (doc_id < [[Replica0Cap]] =
    * the full sf0.1 corpus at every decade; ScaleUp key-offsetting
    * puts replicas at doc_id ≥ 10^7 — the q_embed_neardup /
    * q_stream_neardup cap pattern): the ScaleUp fixture is maximal-
    * duplication by construction (~every gram duplicated within each
    * replica family), so an uncapped row materializes ~the whole gram
    * stream as "duplicated-ish" — it ENOSPC'd the sf100 sweep twice
    * (r13a, r13c) while measuring the FIXTURE's duplication density,
    * not the operator. The cap grades gram counting, span merge and
    * rebuild string-for-string at fixed density; the operator's
    * full-corpus decade cost is ladder-measured (SCALE.md).
    */
  val qScrubSpans: Q = (s, dir) =>
    // docCountHint: the capped slice holds at most Replica0Cap docs at
    // any decade, so the prefilter decision needs no eager count and
    // the row stays fully lazy (ADVICE r14)
    Dedup.scrubDuplicateSpans(
      rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < Replica0Cap)),
      "doc_id", "text", n = 8, docCountHint = Some(Replica0Cap))

  val qScrubSpansSql: String =
    raw"""WITH arrs AS (
            SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS a
            FROM documents WHERE doc_id < $Replica0Cap),
          grams AS (
            SELECT doc_id, CAST(i AS INT) AS start, array_to_string(a[i:i+7], ' ') AS g
            FROM arrs, unnest(range(1, len(a) - 6)) AS t(i)),
          dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
          covered AS (
            SELECT DISTINCT doc_id, start + CAST(o AS INT) AS pos
            FROM grams JOIN dup USING (g), unnest(range(0, 8)) AS u(o)),
          toks AS (
            SELECT doc_id, tok, CAST(pos AS INT) AS pos FROM (
              SELECT doc_id, unnest(a) AS tok, generate_subscripts(a, 1) AS pos FROM arrs)),
          kept AS (
            SELECT t.doc_id, t.tok, t.pos
            FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos
            WHERE c.doc_id IS NULL),
          reb AS (
            SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS ct, count(*) AS nk
            FROM kept GROUP BY doc_id)
          SELECT a.doc_id, coalesce(r.ct, '') AS clean_text,
                 len(a.a) - coalesce(r.nk, 0) AS n_removed
          FROM arrs a LEFT JOIN reb r USING (doc_id) ORDER BY a.doc_id"""

  /** Gopher-style structural line/word filters with the keep verdict
    * ([[graft.quality.GopherRules]]) — one codegen expression tree per
    * row, no shuffle; the oracle replays the same integer counts and
    * IEEE divisions (the SQL lives in GopherRules.sql beside the Scala
    * so the two cannot drift).
    */
  val qGopherRules: Q = (s, dir) =>
    graft.quality.GopherRules
      .withGopherRules(rebalanced(tbl(s, dir, "documents")), "text")
      .select("doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
        "bullet_frac", "ellipsis_frac", "alpha_word_frac", "dup_line_frac", "keep")

  val qGopherRulesSql: String = graft.quality.GopherRules.sql

  /** Embedding-space decontamination ([[graft.dedup.SemanticDecon]]):
    * benchmark set = the 64 lowest vec_id ≡ 0 (mod 97) vectors (a small
    * eval suite by construction at every sf), corpus = everything else;
    * flag corpus vectors within cosine 0.3 of any benchmark vector with
    * the argmax benchmark id. The bench collect is k-row driver
    * altitude (≤ 64 rows); the scan itself is join- and shuffle-free
    * (plan-asserted in SemanticDeconSpec). The oracle replays the full
    * argmax: rank bench by (cosine DESC, bench_id) per corpus vector.
    */
  val qSemanticDecontam: Q = (s, dir) => {
    val emb = tbl(s, dir, "embeddings")
    val bench = emb.filter(col("vec_id") % 97 === 0)
      .orderBy("vec_id").limit(64)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    graft.dedup.SemanticDecon
      .flag(rebalanced(emb.filter(col("vec_id") % 97 =!= 0)),
        "vec_id", "embedding", bench, tau = 0.3)
      .withColumn("cosine", round(col("cosine"), 4))
  }

  val qSemanticDecontamSql: String =
    """WITH bench AS (
         SELECT vec_id AS bench_id, embedding::DOUBLE[] AS bv
         FROM embeddings WHERE vec_id % 97 = 0 ORDER BY vec_id LIMIT 64),
       corpus AS (
         SELECT vec_id, embedding::DOUBLE[] AS cv
         FROM embeddings WHERE vec_id % 97 != 0),
       scored AS (
         SELECT c.vec_id, b.bench_id,
                list_dot_product(cv, bv)
                  / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(bv, bv))) AS cos
         FROM corpus c CROSS JOIN bench b),
       best AS (
         SELECT vec_id, bench_id, cos,
                row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, bench_id) AS rk
         FROM scored)
       SELECT vec_id, bench_id, round(cos, 4) AS cosine
       FROM best WHERE rk = 1 AND cos >= 0.3"""

  /** Per-domain volume cap ([[graft.text.Sampling.capPerStratum]]):
    * at most 20 documents per source, kept by deterministic hash
    * priority — output is 20 sources × ≤20 rows at EVERY sf, so the
    * graded row pins the priority order itself, not just the counts.
    */
  val qDomainCap: Q = (s, dir) =>
    graft.text.Sampling
      .capPerStratum(tbl(s, dir, "documents"), "source", "doc_id", 20)
      .select("doc_id", "source", "rank_in_stratum")

  val qDomainCapSql: String =
    """WITH r AS (
         SELECT doc_id, source,
                row_number() OVER (PARTITION BY source
                  ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT, doc_id) AS rk
         FROM documents)
       SELECT doc_id, source, CAST(rk AS INT) AS rank_in_stratum FROM r WHERE rk <= 20"""

  /** Deterministic global training order
    * ([[graft.text.Sampling.trainOrder]]): every document gets a
    * (shard, pos) — shard by id-hash modulo the shard count, a dense
    * position within the shard by (hash, id). This is the
    * reproducible-dataloader primitive: the "epoch shuffle" is a pure
    * function of the ids, so any worker (or any engine — the oracle
    * replays it) can re-derive exactly which document is row k of
    * shard s with no shuffle manifest. The graded row pins 8 shards
    * so the oracle is a fixed replay; real callers get
    * `trainOrderAuto`, whose AdaptiveKnobs.trainShards count grows
    * with the corpus (ceil(n / 2^20)) — a fixed count is a sort
    * funnel at scale.
    */
  val qTrainOrder: Q = (s, dir) =>
    graft.text.Sampling
      .trainOrder(tbl(s, dir, "documents"), "doc_id", 8)
      .select("doc_id", "shard", "pos")

  val qTrainOrderSql: String =
    """WITH h AS (
         SELECT doc_id,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS b
         FROM documents)
       SELECT doc_id, CAST(b % 8 AS INT) AS shard,
              CAST(row_number() OVER (PARTITION BY b % 8 ORDER BY b, doc_id) AS INT) AS pos
       FROM h"""

  /** Boundary-fixture documents for the composed Gopher filter
    * (VERDICT r13 #7): each pair sits exactly AT and just above one
    * repetition threshold — top-3-gram 99/550 = 0.18 vs 99/544,
    * top-2-gram 70/350 = 0.20 vs 70/345, dup-5-gram 48/320 = 0.15 vs
    * 48/318, dup-line-char 28/140 = 0.20 vs 28/139 — plus the
    * stop-word rule at exactly 1 vs 2 distinct hits on otherwise
    * identical docs. Every doc passes every OTHER rule, so each flip
    * is single-rule-attributable in the graded columns. Constructed
    * and validated by tools/gen_gopher_boundary.py (a faithful replica
    * of both rule families; re-run it when editing these strings).
    * Negative doc_ids cannot collide with any corpus at any sf.
    */
  private val gopherBoundaryDocs: Seq[(Long, String)] = Seq(
    (-1L, "the and foo bar baz w000a foo bar baz x001a foo bar baz y002a foo bar baz z003a foo bar baz q004a foo bar baz v005a foo bar baz w006a foo bar baz x007a foo bar baz y008a q100ab v101ab w102ab x103ab y104ab z105ab q106ab v107ab w108ab x109ab y110ab z111ab q112ab v113ab w114ab x115ab y116ab z117ab q118ab v119ab w120ab x121ab y122ab z123ab q124ab v125ab w126ab x127ab y128ab z129ab q130ab v131ab w132ab x133ab y134ab z135ab q136ab v137ab w138ab x139ab y140ab z141ab q142ab v143ab w144ab x145ab y146ab z147ab q148ab v149ab w150ab x151abcdefghij y152abcd"),
    (-2L, "the and foo bar baz w000a foo bar baz x001a foo bar baz y002a foo bar baz z003a foo bar baz q004a foo bar baz v005a foo bar baz w006a foo bar baz x007a foo bar baz y008a q100ab v101ab w102ab x103ab y104ab z105ab q106ab v107ab w108ab x109ab y110ab z111ab q112ab v113ab w114ab x115ab y116ab z117ab q118ab v119ab w120ab x121ab y122ab z123ab q124ab v125ab w126ab x127ab y128ab z129ab q130ab v131ab w132ab x133ab y134ab z135ab q136ab v137ab w138ab x139ab y140ab z141ab q142ab v143ab w144ab x145ab y146ab z147ab q148ab v149ab w150abcdefghij x151abcde"),
    (-3L, "the and foo bar y020a foo bar z021a foo bar q022a foo bar v023a foo bar w024a foo bar x025a foo bar y026a foo bar z027a foo bar q028a foo bar v029a y200ab z201ab q202ab v203ab w204ab x205ab y206ab z207ab q208ab v209ab w210ab x211ab y212ab z213ab q214ab v215ab w216ab x217ab y218ab z219ab q220ab v221ab w222ab x223ab y224ab z225abcdefghij q226abcdefgh"),
    (-4L, "the and foo bar y020a foo bar z021a foo bar q022a foo bar v023a foo bar w024a foo bar x025a foo bar y026a foo bar z027a foo bar q028a foo bar v029a y200ab z201ab q202ab v203ab w204ab x205ab y206ab z207ab q208ab v209ab w210ab x211ab y212ab z213ab q214ab v215ab w216ab x217ab y218ab z219ab q220ab v221ab w222ab x223ab y224abcdefghij z225abcdefghij"),
    (-5L, "the and aaaa bbbb cccc dddd eeee q040a aaaa bbbb cccc dddd eeee w300ab x301ab y302ab z303ab q304ab v305ab w306ab x307ab y308ab z309ab q310ab v311ab w312ab x313ab y314ab z315ab q316ab v317ab w318ab x319ab y320ab z321ab q322ab v323ab w324ab x325ab y326ab z327ab q328ab v329ab w330ab x331ab y332ab z333abcdefghij q334abcdef"),
    (-6L, "the and aaaa bbbb cccc dddd eeee q040a aaaa bbbb cccc dddd eeee w300ab x301ab y302ab z303ab q304ab v305ab w306ab x307ab y308ab z309ab q310ab v311ab w312ab x313ab y314ab z315ab q316ab v317ab w318ab x319ab y320ab z321ab q322ab v323ab w324ab x325ab y326ab z327ab q328ab v329ab w330ab x331ab y332ab z333abcdefghij q334abcd"),
    (-7L, "copyrightfooterallrightskept\nthe aa bb cc and\nmno pqr stu vwx yzz klm nop qrs tuv\ncopyrightfooterallrightskept\nwxy zab cde fgh ijk lmn opq rstuv"),
    (-8L, "copyrightfooterallrightskept\nthe aa bb cc and\nmno pqr stu vwx yzz klm nop qrs tuv\ncopyrightfooterallrightskept\nwxy zab cde fgh ijk lmn opq rstu"),
    (-9L, "the q400ab v401ab w402ab x403ab y404ab z405ab q406ab v407ab w408ab x409ab y410ab z411ab q412ab v413ab w414ab x415ab y416ab z417ab q418ab v419ab w420ab"),
    (-10L, "the q400ab v401ab w402ab x403ab y404ab z405ab q406ab v407ab w408ab x409ab y410ab z411ab q412ab v413ab w414ab x415ab y416ab z417ab q418ab v419ab w420ab and"))

  /** The COMPLETE Gopher quality filter
    * ([[graft.quality.GopherRules.withGopherKeep]]): the structural
    * battery, the FULL five-threshold repetition verdict (top-3-gram
    * ≤0.18 and dup-line-char ≤0.20 included), and the stop-word rule
    * (≥2 distinct of the 8 published words) composed into one keep.
    * The oracle replays all three families from scratch — the
    * structural and repetition replays are the same SQL the
    * q_gopher_rules / q_repetition rows grade, joined with a
    * list_intersect stop-word count — so a green row certifies the
    * COMPOSITION, not just the parts. The corpus is unioned with
    * [[gopherBoundaryDocs]], replayed as literal VALUES in the oracle,
    * so the diff certifies the threshold BOUNDARIES (≤ keeps exactly
    * at each published value), not just the bulk — the graded corpus
    * alone only exercises the rules far from their edges.
    */
  val qGopherFull: Q = (s, dir) => {
    import s.implicits._
    // replica-0 slice since r17 (same decision + evidence as
    // [[qRepetition]], whose SQL this oracle embeds: the repetition
    // replay's count-map state exhausted DuckDB's memory AND spill
    // budgets at sf100r realistic). The boundary fixture (negative
    // doc_ids) rides the union unconditionally, so every threshold
    // stays graded exactly AT its published value at every decade.
    val base = rebalanced(tbl(s, dir, "documents").filter(col("doc_id") < Replica0Cap))
      .select(col("doc_id"), col("text"))
    val fixture = gopherBoundaryDocs.toDF("doc_id", "text")
    graft.quality.GopherRules
      .withGopherKeep(base.unionByName(fixture), "text")
      .select(
        col("doc_id"), col("n_words"), col("keep_structural"),
        col("keep_repetition"), col("stopword_hits"), col("keep"))
  }

  val qGopherFullSql: String = {
    import graft.text.RepetitionStats._
    val repKeep =
      s"""(r.dup_line_frac <= $MaxDupLineFrac AND r.dup_line_char_frac <= $MaxDupLineCharFrac
            AND r.top2gram_char_frac <= $MaxTop2Frac AND r.top3gram_char_frac <= $MaxTop3Frac
            AND r.dup5gram_char_frac <= $MaxDup5Frac)"""
    val stopList = graft.quality.GopherRules.StopWords.map(w => s"'$w'").mkString(", ")
    // the boundary fixture as literal VALUES; newlines via chr(10) so
    // the SQL string stays single-line for the JSON dump
    val values = gopherBoundaryDocs
      .map { case (id, t) => s"($id, '${t.replace("\n", "' || chr(10) || '")}')" }
      .mkString(",\n              ")
    // every component subquery reads FROM documents; route them all
    // through the unioned CTE instead (gdocs shadows nothing — the
    // name is unique to this row)
    val body =
      s"""SELECT s.doc_id, s.n_words,
          s.keep AS keep_structural,
          $repKeep AS keep_repetition,
          CAST(w.hits AS INT) AS stopword_hits,
          (s.keep AND $repKeep
             AND w.hits >= ${graft.quality.GopherRules.MinStopwordHits}) AS keep
        FROM (${graft.quality.GopherRules.sql}) s
        JOIN ($qRepetitionSql) r USING (doc_id)
        JOIN (SELECT doc_id,
                len(list_intersect(
                  list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'), x -> x <> ''),
                  [$stopList])) AS hits
              FROM documents) w USING (doc_id)
        ORDER BY s.doc_id"""
    s"""WITH gdocs AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id < $Replica0Cap
          UNION ALL
          SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM (VALUES
              $values) t(doc_id, text))
        ${rerouteDocReads(body, "FROM gdocs")}"""
  }

  /** The streaming ingest family's windowed aggregation
    * ([[graft.streaming.StreamingIngest.hourlyEventCounts]]) executed
    * over a static frame — batch and stream share this exact plan
    * (the q_stream_backfill pattern), and StreamingIngestSpec pins
    * stream ≡ batch through a MemoryStream with watermark-driven
    * append finalization. The oracle is the DuckDB time-bucket
    * replay: tumbling 1 h `window()` starts are epoch-aligned, i.e.
    * date_trunc('hour'). Scale shape: one map-side-combinable
    * aggregate keyed by (window, event_type) — the streaming state
    * store holds only open windows (watermark-bounded), the batch
    * form is a plain hash aggregate.
    */
  val qStreamIngest: Q = (s, dir) => {
    val e = eventsMicros(s, dir).withColumn("ts", timestamp_micros(col("ts")))
    graft.streaming.StreamingIngest.hourlyEventCounts(e)
      .select(
        unix_timestamp(col("window_start")).as("window_start_epoch"),
        col("event_type"),
        col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))
  }

  val qStreamIngestSql: String =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_epoch,
       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  val queries: Map[String, Q] = Map(
    "q1_agg" -> q1Agg,
    "q3_join_topk" -> q3JoinTopK,
    "q_region_join" -> qRegionJoin,
    "q_window_topn" -> qWindowTopN,
    "q_events_hourly" -> qEventsHourly,
    "q_asof_join" -> qAsofJoin,
    "q_histogram" -> qHistogram,
    "q_rollup" -> qRollup,
    "q_set_ops" -> qSetOps,
    "q_sessionize" -> qSessionize,
    "q_clean_battery" -> qCleanBattery,
    "q_clean_hwp" -> qCleanHwp,
    "q_lang_content" -> qLangContent,
    "q_lang_query" -> qLangQuery,
    "q_tokens" -> qTokens,
    "q_chunk_fixed" -> qChunkFixed,
    "q_chunk_meta" -> qChunkMeta,
    "q_chunk_recursive" -> qChunkRecursive,
    "q_chunk_semantic" -> qChunkSemantic,
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_hotkey" -> qDedupHotkey,
    "q_line_dedup" -> qLineDedup,
    "q_ngram_jaccard" -> qNgramJaccard,
    "q_minhash_lsh" -> qMinHashLsh,
    "q_dedup_clusters" -> qDedupClusters,
    "q_simhash" -> qSimHash,
    "q_simhash_fast" -> qSimHashFast,
    "q_embed_neardup" -> qEmbedNearDup,
    "q_embed_neardup_adaptive" -> qEmbedNearDupAdaptive,
    "q_embed_neardup_banded" -> qEmbedNearDupBanded,
    "q_lang_dist" -> qLangDist,
    "q_top_users" -> qTopUsers,
    "q_quality_stats" -> qQualityStats,
    "q_quality_report" -> qQualityReport,
    "q_quality_score" -> qQualityScore,
    "q_fingerprint" -> qFingerprint,
    "q_tfidf_topk" -> qTfidfTopk,
    "q_langid_ngram" -> qLangIdNgram,
    "q_pii_scrub" -> qPiiScrub,
    "q_repetition" -> qRepetition,
    "q_decontaminate" -> qDecontaminate,
    "q_decontaminate_bloom" -> qDecontaminateBloom,
    "q_stratified_sample" -> qStratifiedSample,
    "q_ann_topk" -> qAnnTopK,
    "q_ann_topk_filtered" -> qAnnTopKFiltered,
    "q_bm25_topk" -> qBm25TopK,
    "q_bm25_indexed" -> qBm25Indexed,
    "q_hybrid_rrf" -> qHybridRrf,
    "q_sq8_topk" -> qSq8TopK,
    "q_range_search" -> qRangeSearch,
    "q_group_search" -> qGroupSearch,
    "q_pq_recall" -> qPqRecall,
    "q_ivfpq_recall" -> qIvfPqRecall,
    "q_mmr_rerank" -> qMmrRerank,
    "q_multi_collection" -> qMultiCollection,
    "q_knn_join" -> qKnnJoin,
    "q_ivf_search" -> qIvfSearch,
    "q_ivf_recall" -> qIvfRecall,
    "q_ivf_knn_join" -> qIvfKnnJoin,
    "q_attr_query" -> qAttrQuery,
    "q_salted_join" -> qSaltedJoin,
    "q_salted_agg" -> qSaltedAgg,
    "q_ivf_rewrite" -> qIvfRewrite,
    "q_bucketed_join" -> qBucketedJoin,
    "q_prefix_jaccard" -> qPrefixJaccard,
    "q_sql_surface" -> qSqlSurface,
    "q_approx_distinct" -> qApproxDistinct,
    "q_approx_quantile" -> qApproxQuantile,
    "q_interval_join" -> qIntervalJoin,
    "q_vector_mean" -> qVectorMean,
    "q_attr_dynamic" -> qAttrDynamic,
    "q_truncate_project" -> qTruncateProject,
    "q_collection_name" -> qCollectionName,
    "q_media_features" -> qMediaFeatures,
    "q_image_features" -> qImageFeatures,
    "q_audio_features" -> qAudioFeatures,
    "q_video_features" -> qVideoFeatures,
    "q_html_extract" -> qHtmlExtract,
    "q_html_load" -> qHtmlLoad,
    "q_hwpx_extract" -> qHwpxExtract,
    "q_hwp_extract" -> qHwpExtract,
    "q_rag_prompt" -> qRagPrompt,
    "q_search_facade" -> qSearchFacade,
    "q_stream_backfill" -> qStreamBackfill,
    "q_stream_ingest" -> qStreamIngest,
    "q_stream_neardup" -> qStreamNearDup,
    "q_pipeline_e2e" -> qPipelineE2E,
    "q_semantic_dedup" -> qSemanticDedup,
    "q_kmeans_step" -> qKmeansStep,
    "q_pack_sequences" -> qPackSequences,
    "q_domain_mix" -> qDomainMix,
    "q_unigram_logprob" -> qUnigramLogprob,
    "q_bigram_logprob" -> qBigramLogprob,
    "q_media_dedup" -> qMediaDedup,
    "q_hard_negatives" -> qHardNegatives,
    "q_sample_review" -> qSampleReview,
    "q_image_resize" -> qImageResize,
    "q_scrub_spans" -> qScrubSpans,
    "q_gopher_rules" -> qGopherRules,
    "q_gopher_full" -> qGopherFull,
    "q_semantic_decontam" -> qSemanticDecontam,
    "q_domain_cap" -> qDomainCap,
    "q_train_order" -> qTrainOrder
  )

  val oracleSql: Map[String, String] = Map(
    "q1_agg" -> q1AggSql,
    "q3_join_topk" -> q3JoinTopKSql,
    "q_region_join" -> qRegionJoinSql,
    "q_window_topn" -> qWindowTopNSql,
    "q_events_hourly" -> qEventsHourlySql,
    "q_asof_join" -> qAsofJoinSql,
    "q_histogram" -> qHistogramSql,
    "q_rollup" -> qRollupSql,
    "q_set_ops" -> qSetOpsSql,
    "q_sessionize" -> qSessionizeSql,
    "q_clean_battery" -> qCleanBatterySql,
    "q_clean_hwp" -> qCleanHwpSql,
    "q_lang_content" -> qLangContentSql,
    "q_lang_query" -> qLangQuerySql,
    "q_tokens" -> qTokensSql,
    "q_chunk_fixed" -> qChunkFixedSql,
    "q_chunk_meta" -> qChunkMetaSql,
    "q_chunk_recursive" -> qChunkRecursiveSql,
    "q_chunk_semantic" -> qChunkSemanticSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_dedup_hotkey" -> qDedupExactSql,
    "q_line_dedup" -> qLineDedupSql,
    "q_ngram_jaccard" -> qNgramJaccardSql,
    "q_minhash_lsh" -> qMinHashLshSql,
    "q_dedup_clusters" -> qDedupClustersSql,
    "q_simhash" -> qSimHashSql,
    "q_simhash_fast" -> qSimHashFastSql,
    "q_langid_ngram" -> qLangIdNgramSql,
    "q_pii_scrub" -> qPiiScrubSql,
    "q_repetition" -> qRepetitionGradedSql,
    "q_decontaminate" -> qDecontaminateSql,
    "q_decontaminate_bloom" -> qDecontaminateBloomSql,
    "q_stratified_sample" -> qStratifiedSampleSql,
    "q_embed_neardup" -> qEmbedNearDupSql,
    "q_embed_neardup_adaptive" -> qEmbedNearDupAdaptiveSql,
    "q_embed_neardup_banded" -> qEmbedNearDupBandedSql,
    "q_lang_dist" -> qLangDistSql,
    "q_top_users" -> qTopUsersSql,
    "q_quality_stats" -> qQualityStatsSql,
    "q_quality_report" -> qQualityReportSql,
    "q_quality_score" -> qQualityScoreSql,
    "q_fingerprint" -> qFingerprintSql,
    "q_tfidf_topk" -> qTfidfTopkSql,
    "q_ann_topk" -> qAnnTopKSql,
    "q_ann_topk_filtered" -> qAnnTopKFilteredSql,
    "q_bm25_topk" -> qBm25TopKSql,
    "q_bm25_indexed" -> qBm25IndexedSql,
    "q_hybrid_rrf" -> qHybridRrfSql,
    "q_sq8_topk" -> qSq8TopKSql,
    "q_range_search" -> qRangeSearchSql,
    "q_group_search" -> qGroupSearchSql,
    "q_pq_recall" -> qPqRecallSql,
    "q_ivfpq_recall" -> qIvfPqRecallSql,
    "q_mmr_rerank" -> qMmrRerankSql,
    "q_multi_collection" -> qMultiCollectionSql,
    "q_knn_join" -> qKnnJoinSql,
    "q_ivf_search" -> qIvfSearchSql,
    "q_ivf_recall" -> qIvfRecallSql,
    "q_ivf_knn_join" -> qKnnJoinSql,
    "q_attr_query" -> qAttrQuerySql,
    "q_salted_join" -> qSaltedJoinSql,
    "q_salted_agg" -> qSaltedAggSql,
    "q_ivf_rewrite" -> qIvfRewriteSql,
    "q_bucketed_join" -> qBucketedJoinSql,
    "q_prefix_jaccard" -> qPrefixJaccardSql,
    "q_sql_surface" -> qSqlSurfaceSql,
    "q_approx_distinct" -> qApproxDistinctSql,
    "q_approx_quantile" -> qApproxQuantileSql,
    "q_interval_join" -> qIntervalJoinSql,
    "q_vector_mean" -> qVectorMeanSql,
    "q_attr_dynamic" -> qAttrDynamicSql,
    "q_truncate_project" -> qTruncateProjectSql,
    "q_collection_name" -> qCollectionNameSql,
    "q_media_features" -> qMediaFeaturesSql,
    "q_image_features" -> qImageFeaturesSql,
    "q_audio_features" -> qAudioFeaturesSql,
    "q_video_features" -> qVideoFeaturesSql,
    "q_html_extract" -> qHtmlExtractSql,
    "q_html_load" -> qHtmlLoadSql,
    "q_hwpx_extract" -> qHwpxExtractSql,
    "q_hwp_extract" -> qHwpExtractSql,
    "q_rag_prompt" -> qRagPromptSql,
    "q_search_facade" -> qSearchFacadeSql,
    "q_stream_backfill" -> qStreamBackfillSql,
    "q_stream_ingest" -> qStreamIngestSql,
    "q_stream_neardup" -> qStreamNearDupSql,
    "q_pipeline_e2e" -> qPipelineE2ESql,
    "q_semantic_dedup" -> qSemanticDedupSql,
    "q_kmeans_step" -> qKmeansStepSql,
    "q_pack_sequences" -> qPackSequencesSql,
    "q_domain_mix" -> qDomainMixSql,
    "q_unigram_logprob" -> qUnigramLogprobSql,
    "q_bigram_logprob" -> qBigramLogprobSql,
    "q_media_dedup" -> qMediaDedupSql,
    "q_hard_negatives" -> qHardNegativesSql,
    "q_sample_review" -> qSampleReviewSql,
    "q_image_resize" -> qImageResizeSql,
    "q_scrub_spans" -> qScrubSpansSql,
    "q_gopher_rules" -> qGopherRulesSql,
    "q_gopher_full" -> qGopherFullSql,
    "q_semantic_decontam" -> qSemanticDecontamSql,
    "q_domain_cap" -> qDomainCapSql,
    "q_train_order" -> qTrainOrderSql
  )
}
