package graft.dedup

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic (embedding-space) deduplication in the SemDeDup shape
  * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
  * through semantic deduplication"): cluster the embedding space,
  * then remove within-cluster points whose cosine similarity to a
  * kept point exceeds a threshold. Unlike
  * [[Dedup.embeddingNearDupPairs]] (which LISTS near-dup pairs), this
  * operator makes the KEEP/REMOVE decision — the form a training-data
  * pipeline actually applies before tokenization.
  *
  * Reference scope note: the reference pipeline
  * (gudwls215/vectordb-etl) deduplicates exactly only (chunk_id md5,
  * main.py stage dedup); semantic dedup is a training-data-pipeline
  * extension grounded in the public SemDeDup recipe.
  *
  * Two variants:
  *
  *  - [[semanticDedup]] — FIXED pivot vectors supplied by the caller.
  *    Assignment is a single shuffle-free projection (pivots ride
  *    into codegen as array literals, the same broadcast-centroid
  *    idiom as [[graft.search.IvfIndex]] transform), so the only
  *    shuffle in the whole operator is the within-cluster self-join.
  *    Deterministic and engine-portable — the driver's DuckDB oracle
  *    replays assignment, pairing, and the keep rule exactly.
  *  - [[semanticDedupAuto]] — pivots TRAINED with distributed k-means
  *    ([[graft.search.IvfIndex.build]], sample-fit + full transform).
  *    The production path: k scales with corpus size so the expected
  *    cluster population — and therefore the per-cluster pair volume —
  *    stays bounded as the corpus grows (SemDeDup uses 50k clusters
  *    at LAION scale for the same reason; same law as
  *    [[Dedup.adaptiveSignBits]]).
  *
  * Keep rule: within a cluster, a point is REMOVED iff some point
  * with a smaller id is ≥ `tau`-similar to it ("dominance" rule).
  * This is one-pass and join-expressible; it removes a superset of
  * the greedy-chain rule (where a remover must itself survive) —
  * the conservative direction for dedup, and deterministic under any
  * execution order. Requires non-zero vectors (cosine is null on a
  * zero vector, and null comparisons drop the pair — a zero vector is
  * never removed and never removes).
  *
  * 100 TB shape: assignment is map-only over the scan; the pair join
  * shuffles on cluster id — bounded buckets via k ∝ n (auto variant);
  * the id-ordered dominance check avoids any window/funnel. The
  * assignment projection is evaluated once per join branch (cheap:
  * k dots/row) rather than checkpointing the corpus — the same
  * recompute-vs-persist call as [[Dedup.exactDedupAggJoin]].
  */
object SemanticDedup {

  /** Label every row with its nearest pivot (cosine) via the
    * [[graft.functions.NearestPivotCosine]] codegen expression — one
    * generated loop per row over the bound k × dim pivot matrix
    * (argmax ties → the earliest pivot, matching the oracle's ORDER BY
    * cos DESC, pid ASC). `pivots` must be in cluster-id order
    * (cluster i = pivots(i)). Shuffle-free. An expression-tree
    * formulation (k cosines under `greatest` + a `when` chain, or
    * array_max/array_position) was measured ~8× slower per row: the
    * former duplicates every cosine subtree into a method too large to
    * JIT at test scale, the latter is CodegenFallback.
    */
  def assignClusters(
      df: DataFrame, vecCol: String, pivots: Seq[Array[Float]],
      clusterCol: String = "cluster"): DataFrame = {
    require(pivots.nonEmpty, "pivots must be non-empty")
    df.withColumn(clusterCol,
      graft.functions.VectorExpressions.nearestPivotCosine(col(vecCol), pivots))
  }

  /** Within-cluster dominance filter: drop a row of `keep` iff a
    * smaller-id row shares a bucket with it in `asg` and is ≥
    * tau-similar. `asg` may carry MULTIPLE bucket rows per id
    * (multi-probe) — a pair found in any shared bucket removes once.
    */
  private def dropDominatedOn(
      keep: DataFrame, asg: DataFrame, idCol: String, vecCol: String, tau: Double): DataFrame = {
    val a = asg.select(col(idCol).as("__ida"), col(vecCol).as("__va"), col("cluster").as("__ca"))
    val b = asg.select(col(idCol).as("__idb"), col(vecCol).as("__vb"), col("cluster").as("__cb"))
    val removed = a
      .join(b, col("__ca") === col("__cb") && col("__ida") < col("__idb") &&
        VectorFunctions.cosineSimilarity(col("__va"), col("__vb")) >= tau)
      .select(col("__idb").as(idCol))
      .distinct()
    keep.join(removed, Seq(idCol), "left_anti")
  }

  private def dropDominated(
      asg: DataFrame, idCol: String, vecCol: String, tau: Double): DataFrame =
    dropDominatedOn(asg, asg, idCol, vecCol, tau)

  /** SemDeDup with caller-supplied pivots: returns the SURVIVORS
    * (all input columns + `cluster`). A row is dropped iff a
    * smaller-id row in the same cluster has cosine ≥ tau to it.
    */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String,
      pivots: Seq[Array[Float]], tau: Double): DataFrame =
    dropDominated(assignClusters(df, vecCol, pivots), idCol, vecCol, tau)

  /** SemDeDup with k-means-trained pivots (production path; k should
    * grow with the corpus so cluster population stays bounded).
    *
    * Above `hierarchicalAbove` clusters the trainer switches to
    * two-level k-means ([[graft.search.HierarchicalKMeans]]): flat
    * Lloyd is n·k work per iteration — n²/TARGET once k ∝ n — while
    * the two-level form is n·√k for both training and assignment.
    * SCALE.md round 12 records the flat path at 78 s for 200k vectors
    * (fit-dominated, 22.8× across a 10× decade) vs seconds
    * hierarchical; same dominance-filter semantics either way.
    */
  def semanticDedupAuto(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, tau: Double, seed: Long = 42L,
      hierarchicalAbove: Int = 256, probes: Int = 2): DataFrame = {
    if (k > hierarchicalAbove) {
      val model = graft.search.HierarchicalKMeans.train(df, vecCol, k, seed = seed)
      val primary = graft.search.HierarchicalKMeans.assign(df, vecCol, model)
      val probed = graft.search.HierarchicalKMeans
        .assignMulti(df, vecCol, model, math.min(probes, model.cells.size))
      dropDominatedOn(primary, probed, idCol, vecCol, tau)
    } else {
      val cfg = graft.model.IndexConfig.default.copy(nlist = k)
      val (l, _) = graft.search.IvfIndex.build(df, vecCol, cfg, seed)
      dropDominated(l.withColumnRenamed("cluster_id", "cluster"), idCol, vecCol, tau)
    }
  }

  /** ONE exact Lloyd step from the supplied pivots: assign every row
    * to its nearest pivot, then per cluster return the population, the
    * element-wise mean vector (the UPDATED centroid), and the mean
    * cosine to the OLD pivot (cluster tightness). This is the
    * distributed inner loop of k-means training as a single
    * map-side-combinable aggregate — the step
    * [[graft.search.IvfIndex.build]] runs `maxIter` times via MLlib —
    * exposed separately so the driver's oracle can replay one full
    * step bit-for-bit (MLlib's multi-step fit is seeded-random and
    * not engine-portable).
    */
  def lloydStep(
      df: DataFrame, vecCol: String, pivots: Seq[Array[Float]]): DataFrame = {
    val asg = assignClusters(df, vecCol, pivots)
    val cosToOwn = {
      // cosine to the row's own pivot: element_at over the pivot matrix
      val pivMat = array(pivots.map(p => typedLit(p.toSeq)): _*)
      VectorFunctions.cosineSimilarity(col(vecCol), element_at(pivMat, col("cluster") + 1))
    }
    asg
      .withColumn("__cos", cosToOwn)
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n"),
        graft.functions.VectorAggregates.vectorMean(col(vecCol)).as("__m"),
        avg(col("__cos")).as("__mc"))
  }
}
