package graft.search

import graft.functions.VectorFunctions._
import graft.model.IndexConfig
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) vector index (reference S13/O5:
  * milvus_store.py:110-136, IVF_FLAT nlist=128 / nprobe=16). Spark-first
  * design: the "index" is (a) a small centroid table (driver/broadcast
  * scale: nlist × dim) and (b) a `cluster_id` column on the corpus,
  * written with `partitionBy("cluster_id")` so a search that probes
  * `nprobe` clusters reads only those partitions — ANN pruning becomes
  * partition pruning. HNSW is serving-infra shaped and intentionally
  * out of scope (SURVEY.md O5); exact search is the fallback. The index
  * only chooses which clusters to read: every ranking over them is
  * [[VectorSearch]]'s (`topK`, `bestKPerKey`).
  */
object IvfIndex {

  /** Train centroids with MLlib KMeans and label every row.
    * Returns (labeled corpus with `cluster_id`, centroid array).
    *
    * Training FITS on a bounded random sample (default 256·nlist rows,
    * the order Milvus/FAISS use for IVF training — Milvus trains on a
    * segment sample, not the collection) and TRANSFORMS the full
    * corpus. nlist centroids need thousands of points, not the corpus:
    * fitting on everything means ~maxIter full-corpus passes, the
    * expensive way to train 16–128 centroids at 100 TB. Corpora at or
    * below the sample target (every correctness-gate scale) fit on the
    * full data — behavior there is unchanged.
    */
  /** Above this nlist, training routes through
    * [[HierarchicalKMeans]]: flat Lloyd is n·k distance work per
    * iteration, and the SemDeDup ladder measured the two-level n·√k
    * train at 22.7 s where flat took 77.9 s (200k vectors, k=781 —
    * SCALE.md round-12). At the reference default nlist=128 flat MLlib
    * stays byte-identical to every previous round (the recall rows pin
    * it); the hierarchical path owns the large-nlist regime a 100 TB
    * corpus needs (k ∝ n keeps per-cluster population flat).
    */
  val HierarchicalNlistThreshold = 256

  /** Train centroids and label every row — flat MLlib KMeans at or
    * below [[HierarchicalNlistThreshold]], [[HierarchicalKMeans]]
    * above it. Returns (labeled corpus with `cluster_id`, centroid
    * array); `cluster_id` always indexes the returned array. The
    * hierarchical path may return slightly more than nlist centroids
    * (k1·k2 rounding) — nlist is a target, as in FAISS practice, and
    * the search-side bound (see [[clusterRadii]]) is exact for ANY
    * partition of the rows, so both paths give exact search.
    */
  def build(
      corpus: DataFrame,
      vecCol: String = "embedding",
      cfg: IndexConfig = IndexConfig.default,
      seed: Long = 42L,
      fitSampleTarget: Int = 0 // ≤0 → 256 * cfg.nlist
  ): (DataFrame, Array[Array[Float]]) =
    if (cfg.nlist > HierarchicalNlistThreshold)
      buildHierarchical(corpus, vecCol, cfg.nlist, seed, fitSampleTarget)
    else {
      val withVec = corpus.withColumn("__v", array_to_vector(col(vecCol).cast("array<double>")))
      val target = if (fitSampleTarget > 0) fitSampleTarget else 256 * cfg.nlist
      val n = corpus.count() // column-pruned count, one cheap job at index-build time
      val fitSet =
        if (n > target) withVec.sample(withReplacement = false, target.toDouble / n, seed)
        else withVec
      val km = new KMeans()
        .setK(cfg.nlist)
        .setSeed(seed)
        .setFeaturesCol("__v")
        .setPredictionCol("cluster_id")
        .setMaxIter(10)
      val model = km.fit(fitSet)
      val labeled = model.transform(withVec).drop("__v")
      val centroids = model.clusterCenters.map(_.toArray.map(_.toFloat))
      (labeled, centroids)
    }

  /** Large-nlist training: two-level hierarchical k-means (n·√k per
    * iteration instead of n·k) + a map-only dense relabel. Assignment
    * is cosine (the vector family's metric); the IVF bound needs only
    * that radii are measured from ACTUAL membership, so exactness is
    * unaffected. The sparse cell·stride+sub ids densify
    * ARITHMETICALLY: dense = cellOffset(cell) + sub, with the per-cell
    * offsets (a √k-entry prefix-sum array — 2000 ints at k = 4M)
    * shipped as a tiny literal indexed in O(1). The round-13 form used
    * a k-entry Catalyst map literal, which both grows the plan with
    * nlist and linear-scans k entries per row (Catalyst map literals
    * have no hash lookup) — reintroducing at the relabel step the
    * per-task cost the broadcast-pivot route removes (ADVICE r13).
    */
  private def buildHierarchical(
      corpus: DataFrame,
      vecCol: String,
      nlist: Int,
      seed: Long,
      fitSampleTarget: Int
  ): (DataFrame, Array[Array[Float]]) = {
    // HierarchicalKMeans requires array<float> (the repo's vector type);
    // a double-typed column casts down — float precision is what the
    // whole expression family computes in anyway
    val floatCorpus = corpus.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => corpus
      case _ => corpus.withColumn(vecCol, col(vecCol).cast("array<float>"))
    }
    val model = HierarchicalKMeans.train(
      floatCorpus, vecCol, nlist, seed = seed, sampleTarget = fitSampleTarget)
    val centroids = model.flatten.toArray // (cell, sub) iteration order
    // dense(cell, sub) = Σ |subs(c)| for c < cell, + sub — the same
    // mapping the (cell, sub)-ordered flatten above gives the centroids
    val offsets = model.subs.map(_.size).scanLeft(0)(_ + _).init
    val offArr = array(offsets.map(lit(_)): _*)
    val labeled = HierarchicalKMeans.assign(floatCorpus, vecCol, model, "__raw")
      .withColumn("cluster_id",
        element_at(offArr, (col("__raw") / model.stride).cast("int") + 1) +
          col("__raw") % model.stride)
      .drop("__raw")
    (labeled, centroids)
  }

  /** The nprobe nearest centroid ids for a query vector (driver-side —
    * centroids are tiny).
    */
  def nearestClusters(queryVec: Array[Float], centroids: Array[Array[Float]], nprobe: Int): Seq[Int] = {
    val qn = math.sqrt(dotD(queryVec, queryVec))
    centroids.zipWithIndex
      .map { case (c, i) =>
        val d = math.sqrt(dotD(c, c)) * qn
        (if (d == 0) -1.0 else dotD(c, queryVec) / d, i)
      }
      .sortBy(-_._1)
      .take(nprobe)
      .map(_._2)
  }

  /** Per-cluster covering radius: max over the cluster's rows of
    * ‖x̂ − c_j‖, where x̂ is the L2-normalized row vector and c_j the
    * KMeans centroid (used purely as an anchor point — the triangle
    * inequality holds for any anchor, so centroids trained on raw
    * vectors are fine). One aggregate pass at index-build time, nlist
    * doubles of driver state.
    *
    * This is what makes IVF search EXACT here (the classic
    * branch-and-bound kNN bound): for normalized vectors,
    * cos(q, x) = 1 − ‖q̂ − x̂‖²/2, and for any x in cluster j
    * ‖q̂ − x̂‖ ≥ ‖q̂ − c_j‖ − r_j, so
    * cos(q, x) ≤ 1 − max(0, ‖q̂ − c_j‖ − r_j)²/2 =: ub_j.
    * A cluster whose ub_j is below the kth-best score found so far
    * provably contains no top-k row and is never scanned. Zero-norm
    * rows score null under [[VectorFunctions.cosineSimilarity]] and
    * sort after every real score, so they never displace a bounded row.
    */
  def clusterRadii(
      labeledCorpus: DataFrame,
      centroids: Array[Array[Float]],
      vecCol: String = "embedding"
  )(implicit spark: SparkSession): Array[Double] = {
    import spark.implicits._
    val centDf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.map(_.toDouble).toSeq) }
      .toSeq
      .toDF("cluster_id", "__centroid")
    val measured = labeledCorpus
      .select(col("cluster_id"), col(vecCol).as("__v"))
      .join(broadcast(centDf), Seq("cluster_id"))
      .groupBy("cluster_id")
      .agg(max(sqrt(l2DistanceSq(normalize(col("__v")), col("__centroid")))).as("r"))
      .collect()
      .map(r => r.getInt(0) -> r.getDouble(1))
      .toMap
    centroids.indices.map(j => measured.getOrElse(j, 0.0)).toArray
  }

  private def dotD(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Driver-side ub_j for a single query (see [[clusterRadii]]). A
    * zero-norm query has no defined cosine — every bound degrades to
    * 1.0 (probe everything), which keeps the path correct.
    */
  private[search] def upperBounds(
      queryVec: Array[Float],
      centroids: Array[Array[Float]],
      radii: Array[Double]
  ): Array[Double] = {
    val qn = math.sqrt(dotD(queryVec, queryVec))
    if (qn == 0.0) return Array.fill(centroids.length)(1.0)
    centroids.zipWithIndex.map { case (c, j) =>
      val dotQhatC = dotD(queryVec, c) / qn // dot(q̂, c_j)
      val distSq = math.max(0.0, 1.0 - 2.0 * dotQhatC + dotD(c, c))
      val gap = math.max(0.0, math.sqrt(distSq) - radii(j))
      1.0 - gap * gap / 2.0
    }
  }

  /** EXACT top-k through the IVF layout, at any scale factor, by
    * construction: scout the `scout` most-promising clusters (by ub_j)
    * for a provisional kth-best score, then scan exactly the clusters
    * whose upper bound says they could still hold a top-k row. Probing
    * stays partition pruning (`isin` on cluster_id); the guarantee
    * costs one extra tiny top-k job over the scout clusters.
    *
    * `boundSlack` widens the cut to absorb downstream score rounding:
    * a caller that ranks on the rounded score must pass slack >
    * 10^-[[VectorSearch.ScoreDigits]] so a row just below the raw kth
    * score that ROUNDS into a tie (id-tiebreak) is still probed.
    * Clusters are data-dependently pruned: tight real-embedding
    * clusters prune hard; the synthetic near-isotropic corpus prunes
    * little — but never incorrectly.
    *
    * FINAL SELECTION (ADVICE r4): probing the right clusters is only
    * half of exactness — truncating at k by RAW score would still
    * resolve raw-score ties nondeterministically and drop rows that
    * round into a 4-dp tie an id-tiebroken oracle would keep. The final
    * selection is [[VectorSearch.topK]] over the probed clusters, so
    * with `rounded` it ranks on (rounded score DESC, `tieBreak` ASC),
    * mirroring [[knnJoinExact]]. Without rounding, the raw ranking
    * still tiebreaks on `tieBreak` when given one.
    */
  def searchTopKExact(
      labeledCorpus: DataFrame,
      centroids: Array[Array[Float]],
      radii: Array[Double],
      queryVec: Array[Float],
      k: Int,
      vecCol: String = "embedding",
      predicate: Option[Column] = None,
      scout: Int = IndexConfig.default.nprobe,
      boundSlack: Double = 2e-4,
      rounded: Boolean = false,
      tieBreak: Seq[String] = Nil
  ): DataFrame = {
    if (rounded) {
      require(tieBreak.nonEmpty, "a rounded ranking needs a tieBreak for determinism")
      require(boundSlack > math.pow(10.0, -VectorSearch.ScoreDigits),
        s"boundSlack $boundSlack must exceed the 10^-${VectorSearch.ScoreDigits} rounding grid")
    }
    val ub = upperBounds(queryVec, centroids, radii)
    val scoutSet = ub.zipWithIndex.sortBy(-_._1).take(scout).map(_._2)
    val scoutScores = VectorSearch
      .topK(labeledCorpus.filter(col("cluster_id").isin(scoutSet: _*)), queryVec, k, vecCol, predicate)
      .select(col("score"))
      .collect()
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    val sk = if (scoutScores.length == k) scoutScores.min else -2.0 // < any cosine
    val finalSet = (scoutSet ++ ub.indices.filter(j => ub(j) >= sk - boundSlack)).distinct
    VectorSearch.topK(labeledCorpus.filter(col("cluster_id").isin(finalSet: _*)), queryVec, k, vecCol,
      predicate, rounded, tieBreak)
  }

  /** Q1 with IVF pruning: filter to the nprobe nearest clusters (an
    * `isin` filter that prunes partitions when the corpus is stored
    * partitioned by cluster_id), then exact top-k on the survivors.
    */
  def searchTopK(
      labeledCorpus: DataFrame,
      centroids: Array[Array[Float]],
      queryVec: Array[Float],
      k: Int,
      cfg: IndexConfig = IndexConfig.default,
      vecCol: String = "embedding",
      predicate: Option[Column] = None
  ): DataFrame = {
    val probes = nearestClusters(queryVec, centroids, cfg.nprobe)
    val pruned = labeledCorpus.filter(col("cluster_id").isin(probes: _*))
    VectorSearch.topK(pruned, queryVec, k, vecCol, predicate)
  }

  /** EXACT kNN join through the IVF layout (the join-shaped analog of
    * [[searchTopKExact]]). Two keyed passes, both broadcast-centroid +
    * cluster equi-joins — the cross product never forms:
    *
    * pass A (scout): each query joins its `scoutProbe` highest-ub_j
    * clusters; the per-query kth-best RAW score s_k(q) comes from a
    * window over those candidates. pass B (guarantee): each query
    * additionally joins every cluster with ub_j ≥ s_k(q) − slack that
    * pass A did not probe (usually none on clustered corpora). The
    * final per-query top-k ranks the union of both candidate sets —
    * on the rounded score when `rounded`, which is why the slack must
    * exceed 10^-[[VectorSearch.ScoreDigits]] (a just-below-s_k row can
    * round into an id-tiebroken tie). `excludeSelf` drops the corpus row
    * whose id equals the query id before ranking (it would take a rank
    * slot). Output (query_id, neighbor_id, score, rank), as
    * [[VectorSearch.knnJoin]] gives; every ranking here is
    * [[VectorSearch.bestKPerKey]].
    *
    * The pass-A candidate set feeds both the s_k window and the final
    * union, so its equi-join is recomputed once (same documented trade
    * as lineDedupStats — re-scanning pruned partitions beats
    * persisting a corpus-sized intermediate at 100 TB).
    */
  def knnJoinExact(
      queries: DataFrame,
      labeledCorpus: DataFrame,
      centroids: Array[Array[Float]],
      radii: Array[Double],
      queryIdCol: String,
      corpusIdCol: String,
      k: Int,
      scoutProbe: Int = IndexConfig.default.nprobe,
      queryVecCol: String = "embedding",
      corpusVecCol: String = "embedding",
      rounded: Boolean = false,
      excludeSelf: Boolean = false,
      boundSlack: Double = 2e-4
  )(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val centDf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq, dotD(c, c)) }
      .toSeq
      .toDF("cluster_id", "centroid", "__cnorm2")
      .withColumn("__radius", element_at(typedLit(radii.toSeq), col("cluster_id") + 1))

    val q = queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("__qvec"))
    // ub_j per (query, cluster): cos(q,c_j)·‖c_j‖ = dot(q̂,c_j), then the
    // radius bound from [[clusterRadii]]. Null cosine (zero query) → no
    // pruning for that query (ub = 1).
    val qc = q
      .crossJoin(broadcast(centDf))
      .withColumn(
        "__ub", {
          val dotQhatC = cosineSimilarity(col("__qvec"), col("centroid")) * sqrt(col("__cnorm2"))
          val distSq = greatest(lit(0.0), lit(1.0) - lit(2.0) * dotQhatC + col("__cnorm2"))
          val gap = greatest(lit(0.0), sqrt(distSq) - col("__radius"))
          coalesce(lit(1.0) - gap * gap / 2.0, lit(1.0))
        }
      )
      .select(col("query_id"), col("__qvec"), col("cluster_id"), col("__ub"))

    val probed = VectorSearch
      .bestKPerKey(qc, "query_id", scoutProbe, Seq("cluster_id"), by = "__ub")
      .select("query_id", "__qvec", "cluster_id")

    val c = labeledCorpus.select(
      col("cluster_id"),
      col(corpusIdCol).as("neighbor_id"),
      col(corpusVecCol).as("__cvec")
    )
    def candidates(assign: DataFrame): DataFrame = {
      val joined = c.join(assign, Seq("cluster_id"))
      val nonSelf =
        if (excludeSelf) joined.filter(col("neighbor_id") =!= col("query_id")) else joined
      nonSelf
        .withColumn("score", cosineSimilarity(col("__cvec"), col("__qvec")))
        .select("query_id", "neighbor_id", "score")
    }

    val candA = candidates(probed)
    // Per-query kth-best raw score from the scout pass; a query with
    // fewer than k real-scored candidates gets −2 (below any cosine) so
    // every cluster passes the bound and the query degrades to exact.
    val kth = VectorSearch
      .bestKPerKey(candA, "query_id", k, Seq("neighbor_id"))
      .filter(col("score").isNotNull)
      .groupBy("query_id")
      .agg(min(col("score")).as("__skmin"), count(lit(1)).as("__skcnt"))
      .select(
        col("query_id"),
        when(col("__skcnt") === k, col("__skmin")).otherwise(lit(-2.0)).as("__sk")
      )

    val expand = qc
      .join(kth, Seq("query_id"), "left")
      .filter(col("__ub") >= coalesce(col("__sk"), lit(-2.0)) - boundSlack)
      .select("query_id", "__qvec", "cluster_id")
      .join(probed.select("query_id", "cluster_id"), Seq("query_id", "cluster_id"), "left_anti")

    val all = candA.unionByName(candidates(expand))
    val graded = all.withColumn("score", VectorSearch.graded(col("score"), rounded))
    VectorSearch
      .bestKPerKey(graded, "query_id", k, Seq("neighbor_id"))
      .select("query_id", "neighbor_id", "score", "rank")
  }
}
