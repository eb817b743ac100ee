package graft.search

import graft.SparkTestBase
import graft.model.IndexConfig
import org.apache.spark.sql.functions._

class VectorSearchSpec extends SparkTestBase {

  private def embeddings = spark.read.parquet(s"${sf()}/embeddings.parquet")

  test("topK returns k rows ordered by descending cosine; plan is TakeOrdered") {
    val q = embeddings.filter(col("vec_id") === 0).head().getSeq[Float](1).toArray
    val out = VectorSearch.topK(embeddings, q, 10)
    val rows = out.collect()
    assert(rows.length == 10)
    val scores = rows.map(_.getAs[Double]("score"))
    assert(scores.toSeq == scores.sortBy(-_).toSeq)
    assert(scores.head > 0.999) // self-match first
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }

  test("pre-k predicate filters before the limit (Q2 semantics)") {
    val q = embeddings.filter(col("vec_id") === 0).head().getSeq[Float](1).toArray
    val out = VectorSearch.topK(embeddings, q, 5, predicate = Some(col("label") === 2)).collect()
    assert(out.length == 5)
    assert(out.forall(_.getAs[Int]("label") == 2))
  }

  test("multi-collection fan-out returns global top-k with collection tag (Q4)") {
    val q = embeddings.filter(col("vec_id") === 0).head().getSeq[Float](1).toArray
    val colls = Seq(
      "even" -> embeddings.filter(col("vec_id") % 2 === 0),
      "odd" -> embeddings.filter(col("vec_id") % 2 === 1)
    )
    val out = VectorSearch.multiCollectionTopK(colls, q, 5).collect()
    assert(out.length == 5)
    assert(out.map(_.getAs[String]("collection")).toSet.subsetOf(Set("even", "odd")))
    val global = VectorSearch.topK(embeddings, q, 5).collect().map(_.getAs[Long]("vec_id")).toSet
    assert(out.map(_.getAs[Long]("vec_id")).toSet == global)
  }

  test("knnJoin matches brute-force per-query top-k") {
    val queries = embeddings.filter(col("vec_id") < 3)
    val out = VectorSearch.knnJoin(queries, embeddings, "vec_id", "vec_id", 4).collect()
    assert(out.length == 12)
    // each query's rank-1 neighbor is itself (cosine 1.0)
    out.filter(_.getAs[Int]("rank") == 1).foreach { r =>
      assert(r.getAs[Long]("query_id") == r.getAs[Long]("neighbor_id"))
    }
  }

  test("IVF search: recall@10 >= 0.7 vs exact (nprobe=4/nlist=16)") {
    val cfg = IndexConfig(nlist = 16, nprobe = 4)
    val (labeled, centroids) = IvfIndex.build(embeddings, "embedding", cfg)
    val q = embeddings.filter(col("vec_id") === 7).head().getSeq[Float](1).toArray
    val exact = VectorSearch.topK(embeddings, q, 10).collect().map(_.getAs[Long]("vec_id")).toSet
    val ivf = IvfIndex.searchTopK(labeled.cache(), centroids, q, 10, cfg)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall=$recall exact=$exact ivf=$ivf")
  }

  test("IVF exact search: radius bound recovers neighbors the approximate path misses (scout=1)") {
    implicit val s = spark
    val cfg = IndexConfig(nlist = 16, nprobe = 1)
    val (labeled0, centroids) = IvfIndex.build(embeddings, "embedding", cfg)
    val labeled = labeled0.cache()
    val radii = IvfIndex.clusterRadii(labeled, centroids)
    val exact = VectorSearch.topK(embeddings, qv(7), 10).collect().map(_.getAs[Long]("vec_id")).toSet
    // With near-isotropic synthetic embeddings and a single probed
    // cluster, the fixed-nprobe path cannot reach recall 1.0 — that is
    // precisely the regime the bound has to survive.
    val approx = IvfIndex.searchTopK(labeled, centroids, qv(7), 10, cfg)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(approx != exact, "fixture not adversarial: nprobe=1 already exact")
    val bounded = IvfIndex.searchTopKExact(labeled, centroids, radii, qv(7), 10, scout = 1)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(bounded == exact, s"bounded=$bounded exact=$exact")
    labeled.unpersist()
  }

  test("IVF exact search with scoreRounding ranks on (rounded score, vec_id) like the oracle") {
    implicit val s = spark
    val cfg = IndexConfig(nlist = 16, nprobe = 1)
    val (labeled0, centroids) = IvfIndex.build(embeddings, "embedding", cfg)
    val labeled = labeled0.cache()
    val radii = IvfIndex.clusterRadii(labeled, centroids)
    // Oracle-shaped brute force: round FIRST, then rank with vec_id
    // tiebreak — the ordering the DuckDB oracle uses (ADVICE r4).
    val q = qv(7)
    val brute = embeddings
      .withColumn("score", round(graft.functions.VectorFunctions.cosineSimilarity(
        col("embedding"), typedLit(q.toSeq)), 4))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
    val bounded = IvfIndex
      .searchTopKExact(labeled, centroids, radii, q, 10, scout = 1,
        rounded = true, tieBreak = Seq("vec_id"))
      .orderBy(desc("score"), col("vec_id"))
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
    assert(bounded.toSeq == brute.toSeq)
    // guard rails: rounding without a tiebreak, or slack inside the
    // rounding grid, are caller bugs — fail fast.
    intercept[IllegalArgumentException] {
      IvfIndex.searchTopKExact(labeled, centroids, radii, q, 10, rounded = true)
    }
    intercept[IllegalArgumentException] {
      IvfIndex.searchTopKExact(labeled, centroids, radii, q, 10,
        rounded = true, tieBreak = Seq("vec_id"), boundSlack = 1e-5)
    }
    labeled.unpersist()
  }

  test("IVF exact knn join matches brute-force join under scout=1") {
    implicit val s = spark
    val cfg = IndexConfig(nlist = 16, nprobe = 1)
    val (labeled0, centroids) = IvfIndex.build(embeddings, "embedding", cfg)
    val labeled = labeled0.cache()
    val radii = IvfIndex.clusterRadii(labeled, centroids)
    val queries = embeddings.filter(col("vec_id") < 8)
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"))).toMap
    // the defaults, and the arguments q_knn_join / q_ivf_knn_join grade
    // (self excluded, ranked on the rounded score)
    Seq(false -> false, true -> true).foreach { case (excludeSelf, rounded) =>
      val brute = key(VectorSearch.knnJoin(queries, embeddings, "vec_id", "vec_id", 5,
        excludeSelf = excludeSelf, rounded = rounded).collect())
      val exact = key(
        IvfIndex.knnJoinExact(queries, labeled, centroids, radii, "vec_id", "vec_id", 5, scoutProbe = 1,
          rounded = rounded, excludeSelf = excludeSelf).collect())
      assert(exact == brute, s"excludeSelf=$excludeSelf rounded=$rounded")
      assert(brute.size == 8 * 5)
    }
    labeled.unpersist()
  }

  private def qv(id: Long): Array[Float] =
    embeddings.filter(col("vec_id") === id).head().getSeq[Float](1).toArray

  test("attribute query (Q3): filter + project + limit") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val out = VectorSearch.attributeQuery(docs, col("source") === "src1", Seq("doc_id", "lang"), 5)
    assert(out.columns.toSeq == Seq("doc_id", "lang"))
    assert(out.count() <= 5)
  }

  test("range search returns exactly the rows inside [min, max) and excludes self at 1.0") {
    val q = qv(0L)
    val out = VectorSearch
      .rangeSearch(embeddings, q, 0.15, Some(0.35))
      .select("vec_id", "score")
      .collect()
    assert(out.nonEmpty)
    assert(out.forall { r => val s = r.getDouble(1); s >= 0.15 && s < 0.35 })
    assert(!out.exists(_.getLong(0) == 0L)) // the query vector itself scores 1.0
    // parity with a filtered exact scoring pass
    val expect = embeddings
      .withColumn("score", round(graft.functions.VectorFunctions.cosineSimilarity(col("embedding"), typedLit(q.toSeq)), 4))
      .filter(col("score") >= 0.15 && col("score") < 0.35)
      .count()
    assert(out.length.toLong == expect)
  }

  test("grouping search returns one best hit per group, top groups by best score") {
    val q = qv(0L)
    val out = VectorSearch
      .groupedTopK(embeddings, q, "label", 5)
      .select("label", "vec_id", "score")
      .collect()
    assert(out.length == 5)
    assert(out.map(_.getInt(0)).distinct.length == 5) // distinct groups
    // each row really is its group's best (score desc, vec_id tie)
    val all = embeddings
      .withColumn("score", round(graft.functions.VectorFunctions.cosineSimilarity(col("embedding"), typedLit(q.toSeq)), 4))
      .select("label", "vec_id", "score")
      .collect()
      .groupBy(_.getInt(0))
    out.foreach { r =>
      val best = all(r.getInt(0)).maxBy(x => (x.getDouble(2), -x.getLong(1)))
      assert(r.getLong(1) == best.getLong(1), s"label ${r.getInt(0)}")
    }
    // groups ordered by their best score descending
    val scores = out.map(_.getDouble(2)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("hardNegatives excludes same-label and self, ranks by cosine") {
    import spark.implicits._
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val out = VectorSearch.hardNegatives(
      e.filter(col("vec_id") < 4), e, "vec_id", "vec_id", "label", "label", k = 3)
    val labels = e.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id"); val n = r.getAs[Long]("neighbor_id")
      assert(n != q, "self must be excluded")
      assert(labels(n) != labels(q), s"same-label neighbor leaked: $r")
    }
    // parity with brute force for one query
    val q0 = e.filter(col("vec_id") === 0).head()
    val q0vec = q0.getSeq[Float](1); val q0lab = q0.getInt(2)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      def dot(x: Seq[Float], y: Seq[Float]) = x.zip(y).map { case (p, v) => p.toDouble * v.toDouble }.sum
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val expect = e.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
      .filter { case (id, _, lab) => id != 0L && lab != q0lab }
      .map { case (id, v, _) => (id, cos(q0vec, v)) }
      .sortBy { case (id, s2) => (-s2, id) }.take(3).map(_._1).toSeq
    val got = rows.filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
    assert(got == expect, s"$got vs $expect")
  }

  test("hierarchical IVF build (nlist > threshold): dense ids, full labeling, exact search intact") {
    implicit val s = spark
    val nlist = IvfIndex.HierarchicalNlistThreshold + 44 // forces the hierarchical path
    val (labeled0, centroids) = IvfIndex.build(embeddings, "embedding", IndexConfig(nlist = nlist))
    val labeled = labeled0.cache()
    try {
      // nlist is a TARGET: small cells contribute fewer sub-pivots than
      // k2, so k lands near nlist, not exactly on it
      assert(centroids.length >= nlist / 2 && centroids.length <= 2 * nlist,
        s"k should land near the nlist target: ${centroids.length} vs $nlist")
      // every row labeled, ids dense into the centroid array
      assert(labeled.count() == embeddings.count())
      val ids = labeled.select("cluster_id").distinct().collect().map(_.getInt(0))
      assert(ids.forall(i => i >= 0 && i < centroids.length),
        s"cluster_id out of centroid range: ${ids.filterNot(i => i >= 0 && i < centroids.length).mkString(",")}")
      // the radius bound is partition-agnostic: exact search on the
      // hierarchical index returns the brute-force top-10 exactly
      val radii = IvfIndex.clusterRadii(labeled, centroids)
      val q = embeddings.filter(col("vec_id") === 7).head().getSeq[Float](1).toArray
      val exact = VectorSearch.topK(embeddings, q, 10).collect().map(_.getAs[Long]("vec_id")).toSet
      val got = IvfIndex.searchTopKExact(labeled, centroids, radii, q, 10, scout = 4)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      assert(got == exact, s"bounded search must stay exact: $got vs $exact")
    } finally labeled.unpersist()
  }

  test("a query-vector literal reaches a plan only in VectorSearch.score") {
    // query vectors are named q/qv/qvec/queryVec throughout src/main;
    // the second form catches a literal fed straight into a cosine
    val sites = graft.MainSources.sitesOf(
      raw"typedLit\((?:q|qv|qvec|queryVec)\b|cosineSimilarity\([^\n]*typedLit\(".r)
    assert(sites == Seq("src/main/scala/graft/search/VectorSearch.scala"), sites.mkString("\n"))
  }

  test("the score-ranked window is written in the search code only in VectorSearch.bestKPerKey") {
    val sites = graft.MainSources.sitesOf(raw"Window\.partitionBy\([^\n]*?\)\s*\.orderBy\(desc\(".r)
      .filter(p => p.contains("/graft/search/") || p.endsWith("/SearchRows.scala"))
    assert(sites == Seq("src/main/scala/graft/search/VectorSearch.scala"), sites.mkString("\n"))
  }
}
