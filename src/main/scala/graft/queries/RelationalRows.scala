package graft.queries

import graft.operators.SkewTools
import graft.quality.QualityMonitor
import graft.queries.CatalogSupport._
import graft.text.RepetitionStats.ratioCol
import graft.queries.QueryCatalog.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational rows: TPC-H joins, aggregates and windows, the event-stream
  * time operators (tumbling windows, sessionization, as-of and interval
  * joins), skew mitigation, approximate aggregates, bucketed joins and the
  * SQL function surface — the plan shapes Spark gets from Catalyst.
  */
object RelationalRows extends CatalogFamily {

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
  row(CatalogRow("q1_agg", q1Agg, q1AggSql))

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
  row(CatalogRow("q3_join_topk", q3JoinTopK, q3JoinTopKSql))

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
  row(CatalogRow("q_region_join", qRegionJoin, qRegionJoinSql))

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
  row(CatalogRow("q_window_topn", qWindowTopN, qWindowTopNSql))

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
  row(CatalogRow("q_events_hourly", qEventsHourly, qEventsHourlySql))

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
  row(CatalogRow("q_rollup", qRollup, qRollupSql))

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
  row(CatalogRow("q_set_ops", qSetOps, qSetOpsSql))

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
  row(CatalogRow("q_sessionize", qSessionize, qSessionizeSql))

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
  row(CatalogRow("q_asof_join", qAsofJoin, qAsofJoinSql))

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
  row(CatalogRow("q_histogram", qHistogram, qHistogramSql))

  val qTopUsers: Q = (s, dir) =>
    QualityMonitor.topSources(eventsRaw(s, dir), "user_id", 10)

  val qTopUsersSql: String =
    """SELECT user_id, count(*) AS "count" FROM events
       GROUP BY user_id ORDER BY count DESC, user_id LIMIT 10"""
  row(CatalogRow("q_top_users", qTopUsers, qTopUsersSql))

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
  row(CatalogRow("q_salted_join", qSaltedJoin, qSaltedJoinSql))

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
  row(CatalogRow("q_salted_agg", qSaltedAgg, qSaltedAggSql))

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
  row(CatalogRow("q_interval_join", qIntervalJoin, qIntervalJoinSql))

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
  row(CatalogRow("q_vector_mean", qVectorMean, qVectorMeanSql))

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
  row(CatalogRow("q_approx_distinct", qApproxDistinct, qApproxDistinctSql))

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
  row(CatalogRow("q_approx_quantile", qApproxQuantile, qApproxQuantileSql))

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
  row(CatalogRow("q_sql_surface", qSqlSurface, qSqlSurfaceSql))

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
  row(CatalogRow("q_bucketed_join", qBucketedJoin, qBucketedJoinSql))
}
