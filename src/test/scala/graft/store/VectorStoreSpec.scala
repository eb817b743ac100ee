package graft.store

import graft.SparkTestBase
import graft.model.IndexConfig
import graft.search.IvfIndex
import org.apache.spark.sql.functions._
import java.nio.file.Files

class VectorStoreSpec extends SparkTestBase {

  test("partitioned write routes folders to collections; read prunes partitions (G1/O3)") {
    import spark.implicits._
    val store = new VectorStore(Files.createTempDirectory("graft-store").toString)
    val df = Seq(
      ("a", "Folder One", "text a"),
      ("b", "Folder One", "text b"),
      ("c", "other-folder", "text c")
    ).toDF("id", "folder", "text")
    store.writePartitioned(df, "folder", "docs_")

    val all = store.readAll(spark)
    assert(all.count() == 3)
    val stats = store.stats(spark).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats == Map("docs_folder_one" -> 2L, "docs_other_folder" -> 1L))

    // partition pruning visible in the plan
    val one = all.filter(col("collection") === "docs_folder_one")
    val plan = one.queryExecution.executedPlan.toString
    assert(one.count() == 2)
    assert(!plan.contains("Exchange"), "collection filter must not shuffle")
  }

  test("composite collection+language layout: language filter prunes directories (O1)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store-lang").toString
    val store = new VectorStore(root)
    val df = Seq(
      ("a", "guides", "korean", "한글 본문"),
      ("b", "guides", "english", "english body"),
      ("c", "guides", "korean", "추가 본문"),
      ("d", "notices", "english", "other text")
    ).toDF("id", "folder", "language", "text")
    store.writePartitioned(df, "folder", "docs_", extraPartitionCols = Seq("language"))

    // nested directory layout on disk
    assert(new java.io.File(s"$root/collection=docs_guides/language=korean").isDirectory)

    val pruned = store
      .readAll(spark)
      .filter(col("collection") === "docs_guides" && col("language") === "korean")
    assert(pruned.count() == 2)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(
      scan.contains("PartitionFilters") && scan.contains("language"),
      s"expected language partition pruning:\n$scan"
    )
  }

  test("writePartitioned hands back the store as a plain read sees it, from its one write job") {
    import spark.implicits._
    val store = new VectorStore(Files.createTempDirectory("graft-store-back").toString)
    val df = Seq(("a", "guides", "korean", 3), ("b", "notices", "english", 4))
      .toDF("id", "folder", "language", "tokens")
    // `language` sits between data columns: the partition columns still come last
    val (written, jobs) = graft.JobCount.jobsOf(spark)(
      store.writePartitioned(df, "folder", "docs_", extraPartitionCols = Seq("language")))
    assert(jobs == 1, s"$jobs jobs: the read-back inferred the schema")
    val plain = store.readAll(spark)
    assert(written.schema == plain.schema)
    assert(written.columns.toSeq == Seq("id", "folder", "tokens", "collection", "language"))
    assert(written.collect().map(_.toString).sorted.toSeq == plain.collect().map(_.toString).sorted.toSeq)
  }

  test("IVF labeled store: cluster filter prunes partitions; stored search == in-memory search") {
    val store = new VectorStore(Files.createTempDirectory("graft-ivf").toString)
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val cfg = IndexConfig(nlist = 8, nprobe = 3)
    val (labeled, centroids) = IvfIndex.build(e, "embedding", cfg)
    store.writeIndexed(labeled, "vectors")

    val stored = store.readCollection(spark, "vectors")
    val q = e.filter(col("vec_id") === 5).head().getSeq[Float](1).toArray

    val fromStore = IvfIndex.searchTopK(stored, centroids, q, 5, cfg)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val fromMem = IvfIndex.searchTopK(labeled, centroids, q, 5, cfg)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(fromStore == fromMem)

    // the cluster_id isin filter reaches the scan as a partition filter
    val probes = IvfIndex.nearestClusters(q, centroids, cfg.nprobe)
    val pruned = stored.filter(col("cluster_id").isin(probes: _*))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cluster_id"), s"expected partition pruning:\n$scan")
  }

  test("drop collection / drop all (S11)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-drop").toString
    val store = new VectorStore(root)
    store.writeCollection(Seq((1, "x")).toDF("id", "t"), "c1")
    assert(spark.read.parquet(s"$root/c1").count() == 1)
    store.dropCollection("c1")
    assert(!new java.io.File(s"$root/c1").exists())
  }

  test("bucketed tables join without shuffle or sort (co-located layout)") {
    import spark.implicits._
    val store = new VectorStore(java.nio.file.Files.createTempDirectory("graft-bt").toString)
    val chunks = (1 to 1000).map(i => (s"chunk$i", s"text $i")).toDF("chunk_id", "text")
    val meta = (1 to 1000).map(i => (s"chunk$i", i % 7)).toDF("chunk_id", "quality")
    store.writeBucketedTable(chunks, "bt_chunks", "chunk_id", 8)
    store.writeBucketedTable(meta, "bt_meta", "chunk_id", 8)
    // force the merge-join path (tiny test tables would otherwise be
    // broadcast, which sidesteps bucketing entirely)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bt_chunks").join(spark.table("bt_meta"), "chunk_id")
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan must use buckets:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bt_chunks")
      spark.sql("DROP TABLE IF EXISTS bt_meta")
    }
  }

  test("dynamic-field overflow: unknown metadata keys round-trip through the store (S10 + enable_dynamic_field)") {
    import spark.implicits._
    val store = new VectorStore(Files.createTempDirectory("graft-dyn").toString)
    // fixed schema subset + three ad-hoc columns the schema never declared
    val df = Seq(
      ("c1", "hello world", "src1", Some("alice"), Some(3), "2026-01-01"),
      ("c2", "more text", "src1", None, Some(7), "2026-01-02")
    ).toDF("chunk_id", "text", "source", "author", "page", "ingested_at")

    store.writeCollectionDynamic(df, "docs", fixedCols = Seq("chunk_id", "text", "source"))
    val back = store.readCollection(spark, "docs")

    // fixed columns intact, ad-hoc columns folded into one map column
    assert(back.columns.sorted.toSeq == Seq("chunk_id", "extra", "source", "text"))
    val rows = back
      .select(
        col("chunk_id"),
        VectorStore.dynamicField("author"),
        VectorStore.dynamicField("page"),
        VectorStore.dynamicField("ingested_at"),
        VectorStore.dynamicField("never_set")
      )
      .collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
      .toMap
    assert(rows("c1") == (("alice", "3", "2026-01-01", null)))
    // null ad-hoc value = absent key (reference JSON-field semantics)
    assert(rows("c2") == ((null, "7", "2026-01-02", null)))

    // packing is a no-op when nothing overflows (still adds the empty map)
    val packed = VectorStore.packDynamicFields(
      Seq(("c3", "t")).toDF("chunk_id", "text"), Seq("chunk_id", "text"))
    assert(packed.columns.toSeq == Seq("chunk_id", "text", "extra"))
    assert(packed.select(size(col("extra"))).head().getInt(0) == 0)
  }

  test("typed Chunk rows carry the extra map through a store round-trip") {
    import spark.implicits._
    val store = new VectorStore(Files.createTempDirectory("graft-dyn2").toString)
    val ds = Seq(
      graft.model.Chunk("id1", "text", Array(1f, 0f), "s", "f", "en", 0, 1, 4, 1, "c",
        extra = Map("k" -> "v"))
    ).toDS()
    store.writeCollection(ds.toDF(), "typed")
    val back = store.readCollection(spark, "typed").as[graft.model.Chunk].head()
    assert(back.extra == Map("k" -> "v"))
  }
}
