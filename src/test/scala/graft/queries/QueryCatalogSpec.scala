package graft.queries

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.catalyst.expressions.{Attribute, LessThan, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec

class QueryCatalogSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan

  /** Plan nodes `pf` matches, as the plan text shows them: subquery
    * plans included, and a cached relation's plan under its in-memory
    * scan (another suite may have cached a table this row reads).
    */
  private def nodes[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    collectWithSubqueries(p)(pf) ++
      collectWithSubqueries(p) { case m: InMemoryTableScanExec => m.relation.cachedPlan }.flatMap(nodes(_)(pf))

  private def cap(name: String): Long =
    QueryCatalog.rows.find(_.name == name).flatMap(_.cap)
      .getOrElse(fail(s"$name is not a capped row"))

  test("every oracle key names a real query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every query carries an oracle (rows-only grading needs an explicit exemption)") {
    // The SparkEntry contract allows omitting oracleSql for
    // non-SQL-expressible ops, but the driver then records only a
    // weaker rows>0 check. A row can only lose its oracle through
    // CatalogRow.rowsOnly, which takes the reason; today every row is
    // DuckDB-oracled, and SparkEntry's oracle map matches the rows.
    val rowsOnly = QueryCatalog.rows.collect { case r if r.oracle.isLeft => r.name }
    assert(rowsOnly.isEmpty, s"rows graded rows-only: ${rowsOnly.mkString(", ")}")
    assert(SparkEntry.oracleSql == QueryCatalog.rows.map(r => r.name -> r.oracle.toOption.get).toMap)
    assert(CatalogRow.rowsOnly("q_x", "not SQL-expressible")((s, d) => s.emptyDataFrame).oracle ==
      Left("not SQL-expressible"))
    intercept[IllegalArgumentException](CatalogRow.rowsOnly("q_x", " ")((s, d) => s.emptyDataFrame))
  }

  test("catalog names are unique and stable-format") {
    val names = QueryCatalog.rows.map(_.name)
    names.foreach(k => assert(k.matches("[a-z0-9_]+"), s"query name $k not snake_case"))
    assert(names.size == 103 && names.distinct.size == 103, s"${names.size} rows, ${names.distinct.size} names")
    assert(SparkEntry.queries.size == 103 && SparkEntry.oracleSql.size == 103)
    // a duplicated name fails the registry instead of shadowing a row
    val e = intercept[IllegalArgumentException](
      QueryCatalog.registry(QueryCatalog.rows :+ QueryCatalog.rows.head))
    assert(e.getMessage.contains(QueryCatalog.rows.head.name))
  }

  test("select returns the named rows in order and fails on an unknown name") {
    assert(QueryCatalog.select(Nil).map(_.name) == QueryCatalog.rows.map(_.name))
    assert(QueryCatalog.select(Seq("q_rollup", " q1_agg", "", "q_rollup")).map(_.name) == Seq("q_rollup", "q1_agg"))
    val e = intercept[IllegalArgumentException](QueryCatalog.select(Seq("q1_agg", "q1_agg_typo")))
    assert(e.getMessage.endsWith(": q1_agg_typo"), e.getMessage)
  }

  test("flagship entry returns rows on sf0.001 (driver smoke contract)") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
  }

  test("set-ops output is non-empty and op-order-sensitive (ADVICE r4)") {
    // A 0-row pass certifies nothing (VERDICT r3), and a hardcoded
    // activity threshold silently regresses to emptiness once per-user
    // counts outgrow it (ADVICE r4). Pin both properties: rows exist,
    // and swapping INTERSECT/EXCEPT provably changes the answer.
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q_set_ops")(spark, sf())
      .collect().map(_.getLong(0)).toSet
    assert(out.nonEmpty, "q_set_ops returned 0 rows — threshold no longer splits users")
    // flag is a no-op for the current micros testdata but keeps this
    // bare read alive if the driver ever regenerates events as
    // TIMESTAMP(NANOS) again (the spec only touches non-time columns)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val per = spark.read.parquet(s"${sf()}/events.parquet")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val thr = per.groupBy(col("event_type"))
      .agg((sum(col("n")) * lit(1.0) / count(lit(1))).as("t"))
    val active = per.join(broadcast(thr), Seq("event_type")).filter(col("n") > col("t"))
    def users(t: String) = active.filter(col("event_type") === t).select(col("user_id"))
    val swapped = users("click").except(users("purchase")).intersect(users("error"))
      .collect().map(_.getLong(0)).toSet
    assert(out != swapped, "swapping INTERSECT and EXCEPT did not change the result")
  }

  test("near-dup / decontamination plans stay free of all-pairs joins (scale shape)") {
    // the 100 TB contract for the pair-generating queries: candidates
    // come from keyed equi-joins (band bucket / gram / cluster), never
    // a cartesian or same-block nested-loop product over data rows
    for (name <- Seq("q_ngram_jaccard", "q_minhash_lsh", "q_decontaminate", "q_simhash")) {
      val p = plan(name)
      assert(nodes(p) { case c: CartesianProductExec => c }.isEmpty,
        s"$name plans a cartesian product:\n$p")
      assert(nodes(p) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"$name plans a nested-loop join:\n$p")
    }
    // q_ivf_knn_join: the query×centroid crossJoin(broadcast) IS a
    // nested-loop by design — O(queries · nlist), nlist is tiny — but a
    // cartesian over DATA rows must still never appear
    val ivf = plan("q_ivf_knn_join")
    assert(nodes(ivf) { case c: CartesianProductExec => c }.isEmpty,
      s"q_ivf_knn_join plans a cartesian product:\n$ivf")
  }

  test("retrieval-family plan shapes (round-7 scale contracts)") {
    def scans(p: SparkPlan) = nodes(p) { case f: FileSourceScanExec => f }.size

    // BM25: corpus stats ride ONE 1-row aggregate (broadcast back),
    // top-k is a heap, and since r20 the per-doc counter table is
    // locally checkpointed so the stats and scoring consumers SHARE
    // one scan+tokenize: the final plan must read the checkpoint RDD
    // from both sides and never re-scan the corpus (a parquet scan
    // reappearing here means the checkpoint was dropped and the
    // corpus is tokenized once per consumer again).
    val bm25 = plan("q_bm25_topk")
    assert(nodes(bm25) { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"bm25 lost its top-k heap:\n$bm25")
    assert(scans(bm25) == 0, s"bm25 should read the checkpointed per-doc counters, not re-scan the corpus:\n$bm25")
    val rddScans = nodes(bm25) { case r: RDDScanExec => r }.size
    assert(rddScans == 2, s"bm25 should read the per-doc checkpoint exactly twice (stats + scoring):\n$bm25")

    // range search: scan + scalar filter, nothing else — no shuffle,
    // no sort, no heap.
    val range = plan("q_range_search")
    assert(nodes(range) { case e: Exchange => e }.isEmpty, s"range search gained a shuffle:\n$range")
    val ordering = nodes(range) {
      case o @ (_: TakeOrderedAndProjectExec | _: SortExec | _: SortMergeJoinExec | _: SortAggregateExec) => o
    }
    assert(ordering.isEmpty, s"range search gained an ordering step:\n$range")

    // grouping search: the rank-1 filter must be rewritten to
    // WindowGroupLimit (map-side one-row-per-group pruning before the
    // group-key shuffle) — the property that makes it skew-safe.
    val grouped = plan("q_group_search")
    assert(nodes(grouped) { case w: WindowGroupLimitExec => w }.nonEmpty,
      s"grouping search lost WindowGroupLimit pruning:\n$grouped")

    // SQ8 one-shot search: fit must be instantiated ONCE — the
    // fit+encode+searchTopK composition planned THREE scans (two full
    // stats trees) before quantizedTopK fused them; fence the fix.
    val sq8 = plan("q_sq8_topk")
    assert(scans(sq8) == 2, s"sq8 should scan embeddings exactly twice (fit + scoring):\n$sq8")

    // hybrid RRF: fusion joins k-row rankings — no cartesian over data
    // rows anywhere in the plan.
    val rrf = plan("q_hybrid_rrf")
    assert(nodes(rrf) { case c: CartesianProductExec => c }.isEmpty,
      s"hybrid fusion plans a cartesian product:\n$rrf")
  }

  test("salted join/agg are semantically invisible (round-7 skew evidence)") {
    import org.apache.spark.sql.functions._
    val dir = sf()
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      .join(spark.read.parquet(s"$dir/orders.parquet").select("o_orderkey", "o_orderpriority"), "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
      .collect().toSeq
    val salted = SparkEntry.queries("q_salted_join")(spark, dir).collect().toSeq
    assert(salted == plain)

    val distinctPlain = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(countDistinct("l_suppkey").cast("int").as("distinct_suppliers"), count(lit(1)).as("n_items"))
      .orderBy("l_returnflag")
      .collect().toSeq
    val distinctSalted = SparkEntry.queries("q_salted_agg")(spark, dir).collect().toSeq
    assert(distinctSalted == distinctPlain)
  }

  test("q_bucketed_join: co-located plan certified and rows match the plain join") {
    import org.apache.spark.sql.functions._
    val dir = sf()
    val rows = SparkEntry.queries("q_bucketed_join")(spark, dir).collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(3)), "bucketed join planned a shuffle or ignored buckets")
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))
      .orderBy("o_orderstatus")
      .collect().toSeq
    assert(rows.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))) ==
      plain.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))))
  }

  test("q_ivf_rewrite: rule fires, matches the explicit probe path, and prunes") {
    val row = SparkEntry.queries("q_ivf_rewrite")(spark, sf()).collect().head
    assert(row.getBoolean(0), "IvfTopKPrune did not fire on the registered collection")
    assert(row.getBoolean(1), "rewritten result diverged from the explicit IVF path")
    assert(row.getBoolean(2), "nprobe did not prune (nprobe >= nlist)")
  }

  test("replica-0-capped rows push the doc_id cap into the parquet scan (r14)") {
    // the cap exists so the sf100 graded slice stays fixed-density; if
    // it ever stops reaching the scan (e.g. slipped above a
    // repartition), every decade pays a full-corpus read again
    // q_dedup_clusters and q_search_facade are capped too but end in
    // checkpoints (star-contraction rounds / the batch-search bracket),
    // so their FINAL plans are Scan ExistingRDD — the cap's pushdown
    // there is the same filter-before-rebalance pattern, certified by
    // their oracles' row counts instead
    for (name <- Seq("q_scrub_spans", "q_simhash", "q_simhash_fast",
      "q_ngram_jaccard", "q_minhash_lsh", "q_pipeline_e2e",
      "q_chunk_recursive", "q_chunk_semantic",
      "q_repetition", "q_gopher_full", "q_media_features")) {
      val p = plan(name)
      val pushed = nodes(p) { case f: FileSourceScanExec => f }.flatMap(_.dataFilters).exists {
        case LessThan(a: Attribute, Literal(v, _)) => a.name == "doc_id" && v == cap(name)
        case _ => false
      }
      assert(pushed,
        s"$name must push the replica-0 cap to the scan (PushedFilters):\n$p")
    }
  }

  test("replica-0 cap invariants: below the ScaleUp stride, above the driver-sf keys (r15)") {
    import org.apache.spark.sql.functions.max
    // cap < stride: the filter must select exactly the replica-0 family
    // at every ScaleUp decade (replicas live at key >= replica * stride)
    val capped = QueryCatalog.rows.filter(_.cap.isDefined)
    assert(capped.map(_.name).toSet == QueryCatalog.cappedQueries && capped.size == 19)
    capped.foreach(r => assert(r.cap.get < graft.tools.ScaleUp.DefaultKeyStride, r.name))
    // cap > max driver-sf key: the no-op-at-gate property — the driver
    // compares the FULL corpus at the sfs it grades, the big sweeps a
    // fixed-density slice. sf0.1 is the largest driver corpus (5000
    // docs / 2000 vecs / 100000 events); sf0.01 is the correctness gate.
    val sf01 = "/root/testdata/sf0.1"
    def maxKey(df: org.apache.spark.sql.DataFrame, key: String): Long =
      df.agg(max(key)).head().getLong(0)
    val maxDoc = maxKey(spark.read.parquet(s"$sf01/documents.parquet"), "doc_id")
    Seq("q_scrub_spans", "q_pipeline_e2e", "q_chunk_recursive", "q_gopher_full", "q_media_features")
      .foreach(n => assert(cap(n) > maxDoc, n))
    val maxVec = maxKey(spark.read.parquet(s"$sf01/embeddings.parquet"), "vec_id")
    Seq("q_embed_neardup", "q_embed_neardup_banded", "q_semantic_dedup").foreach(n => assert(cap(n) > maxVec, n))
    assert(cap("q_stream_neardup") > maxKey(CatalogSupport.eventsRaw(spark, sf01), "event_id"))
    // the cap values are private to CatalogRow, so a row slices on one
    // only by declaring it; a bare literal would slip past that — no
    // file in the catalog carries one ("< 500" also covers "< 5000")
    val dir = new java.io.File("src/main/scala/graft/queries")
    assert(dir.isDirectory, s"must run from the repo root (cwd=${new java.io.File(".").getCanonicalPath})")
    for (f <- dir.listFiles.toSeq if f.getName.endsWith(".scala")) {
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8)
      assert(!src.contains("< 500") && !src.contains("< 2000") && !src.contains("< 100000"),
        s"bare replica-0 cap literal in ${f.getName} — declare the row with CatalogRow.capped")
    }
  }
}
