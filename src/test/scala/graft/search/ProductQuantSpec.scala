package graft.search

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** PQ codebook shape, encode determinism, ADC table math, and
  * shortlist-rerank recall on real testdata embeddings.
  */
class ProductQuantSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val emb = spark.read.parquet(sf() + "/embeddings.parquet").cache()

  // the cache is this suite's own: later suites' plans over
  // embeddings.parquet must scan the file, not this InMemoryRelation
  override def afterAll(): Unit =
    try emb.unpersist(blocking = true) finally super.afterAll()

  test("fit yields m codebooks of ksub centroids with dim/m dims each") {
    val cbs = ProductQuant.fit(emb, m = 8, ksub = 16)
    assert(cbs.length == 8)
    assert(cbs.forall(_.length == 16))
    assert(cbs.forall(_.forall(_.length == 8))) // 64 / 8
  }

  test("fit rejects a subspace count that does not divide the dimension") {
    intercept[IllegalArgumentException] {
      ProductQuant.fit(emb, m = 7)
    }
  }

  test("encode assigns every subspace the truly nearest codebook entry") {
    val cbs = ProductQuant.fit(emb, m = 8, ksub = 16)
    val rows = ProductQuant
      .encode(emb, cbs)
      .filter(col("vec_id") < 20)
      .select("embedding", "pq_code")
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](0).map(_.toDouble).toArray
      val norm = math.sqrt(v.map(x => x * x).sum)
      val nv = if (norm == 0) v else v.map(_ / norm)
      val code = r.getSeq[Int](1)
      for (j <- 0 until 8) {
        val dists = cbs(j).map { c =>
          (0 until 8).map(t => math.pow(nv(j * 8 + t) - c(t), 2)).sum
        }
        assert(dists(code(j)) <= dists.min + 1e-12, s"subspace $j not nearest")
      }
    }
  }

  test("codes are exactly reproducible across two encode runs (fixed seeds)") {
    val cbs = ProductQuant.fit(emb, m = 8, ksub = 16)
    val a = ProductQuant.encode(emb, cbs).select("vec_id", "pq_code").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = ProductQuant.encode(emb, ProductQuant.fit(emb, m = 8, ksub = 16))
      .select("vec_id", "pq_code").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a == b)
  }

  test("ADC shortlist + exact rerank recalls ≥9/10 of exact top-10 (graded config)") {
    val cbs = ProductQuant.fit(emb, m = 16)
    val enc = ProductQuant.encode(emb, cbs)
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val exact = graft.search.VectorSearch
      .topK(emb, q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val pq = ProductQuant
      .adcTopK(enc, cbs, q, 10, shortlist = 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((pq intersect exact).size >= 9, s"$pq vs $exact")
  }

  test("PQ composes with IVF cluster pruning (IVFPQ shape)") {
    import graft.model.IndexConfig
    val cfg = IndexConfig(nlist = 16, nprobe = 8)
    val (labeled0, centroids) = IvfIndex.build(emb, "embedding", cfg)
    val labeled = labeled0.cache()
    try {
      val cbs = ProductQuant.fit(labeled, m = 16)
      val enc = ProductQuant.encode(labeled, cbs)
      val q = emb.filter(col("vec_id") === 7).select("embedding").head().getSeq[Float](0).toArray
      val probes = IvfIndex.nearestClusters(q, centroids, cfg.nprobe)
      val pruned = enc.filter(col("cluster_id").isin(probes: _*))
      // quality claim decoupled from IVF probe recall: within the probed
      // clusters, ADC shortlist + rerank recovers the exact subset top-10
      val adc = ProductQuant
        .adcTopK(pruned, cbs, q, 10, shortlist = 100)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val exactSub = VectorSearch
        .topK(labeled.filter(col("cluster_id").isin(probes: _*)), q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert((adc intersect exactSub).size >= 9, s"$adc vs $exactSub")
      // and the codes path only touched probed clusters
      val clusters = ProductQuant
        .adcTopK(pruned, cbs, q, 10, shortlist = 100)
        .select("cluster_id").collect().map(_.getInt(0)).toSet
      assert(clusters.subsetOf(probes.toSet))
    } finally { labeled.unpersist(); () }
  }

  test("rerank scores carry the exact-search rounding/tie contract") {
    val cbs = ProductQuant.fit(emb, m = 8, ksub = 16)
    val enc = ProductQuant.encode(emb, cbs)
    val q = emb.filter(col("vec_id") === 3).select("embedding").head().getSeq[Float](0).toArray
    val out = ProductQuant.adcTopK(enc, cbs, q, 5, shortlist = 100).collect()
    assert(out.length == 5)
    val scores = out.map(r => r.getDouble(r.fieldIndex("score")))
    assert(scores.toSeq == scores.sortBy(-_).toSeq)
    // scores are on the 1e-4 grid (rounded), as the exact path emits
    assert(scores.forall(s => math.abs(s * 1e4 - math.rint(s * 1e4)) < 1e-9))
  }

  test("ivfAdcTopK composes probe+ADC+rerank and stays inside the probed clusters") {
    import graft.model.IndexConfig
    val cfg = IndexConfig(nlist = 16, nprobe = 12)
    val (labeled0, centroids) = IvfIndex.build(emb, "embedding", cfg)
    val labeled = labeled0.cache()
    try {
      val cbs = ProductQuant.fit(labeled, m = 16)
      val enc = ProductQuant.encode(labeled, cbs).cache()
      val q = emb.filter(col("vec_id") === 7).select("embedding").head().getSeq[Float](0).toArray
      val out = ProductQuant.ivfAdcTopK(enc, cbs, centroids, q, 10, cfg.nprobe)
      val ids = out.select("vec_id").collect().map(_.getLong(0)).toSeq
      val probes = IvfIndex.nearestClusters(q, centroids, cfg.nprobe).toSet
      // exact parity with the hand-composed path: prune → ADC with the
      // shortlist sized to the PROBED population → rerank. (Full-corpus
      // recall ≥9/10 is the driver row q_ivfpq_recall's claim at
      // sf0.01; this tiny isotropic corpus sits below the scale where
      // a 12/16 probe holds it.)
      val probedDf = enc.filter(col("cluster_id").isin(probes.toSeq: _*))
      val manual = ProductQuant
        .adcTopK(probedDf, cbs, q, 10,
          shortlist = ProductQuant.adaptiveShortlist(probedDf.count(), 10))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(ids == manual)
      // within the probed clusters the composed path recovers the
      // exact probed-subset top-10 (same claim the IVFPQ-shape test
      // makes, through the new API)
      val exactSub = VectorSearch
        .topK(probedDf.drop("pq_code"), q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert((ids.toSet intersect exactSub).size >= 9, s"$ids vs $exactSub")
      // the scan never left the probe set
      val clusters = out.select("cluster_id").collect().map(_.getInt(0)).toSet
      assert(clusters.subsetOf(probes))
      // a caller-supplied probedCount (per-partition stats at 100 TB)
      // skips the count job and returns the identical ranking
      val probed = probedDf.count()
      val viaStats = ProductQuant
        .ivfAdcTopK(enc, cbs, centroids, q, 10, cfg.nprobe, probedCount = probed)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(viaStats == ids)
      enc.unpersist()
    } finally { labeled.unpersist(); () }
  }

  test("adaptiveShortlist keeps the probed fraction with the small-corpus floor") {
    // floor: small corpora keep the probed shortlist=100 (and never
    // under 5k for large k)
    assert(ProductQuant.adaptiveShortlist(2000, 10) == 100)
    assert(ProductQuant.adaptiveShortlist(0, 10) == 100)
    assert(ProductQuant.adaptiveShortlist(2000, 40) == 200)
    // the two measured anchors (BASELINE.md round-11 sf100 oracle
    // sweep): 200k → 100 (10/10),
    // 2M → 1000 (10/10 where the fixed 100 collapsed to 0–3/10)
    assert(ProductQuant.adaptiveShortlist(200000, 10) == 100)
    assert(ProductQuant.adaptiveShortlist(2000000, 10) == 1000)
    // constant fraction beyond the anchors
    assert(ProductQuant.adaptiveShortlist(20000000, 10) == 10000)
  }
}
