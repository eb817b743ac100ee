package graft.search

import graft.functions.{VectorAggregates, VectorExpressions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-level (hierarchical) k-means for LARGE centroid counts — the
  * faiss IMI / two-level-IVF training recipe, and the scale fix for
  * the k ∝ n clustering the SemDeDup path needs: flat Lloyd costs
  * n·k distance evaluations per iteration, which is n²/TARGET once k
  * grows with the corpus (SCALE.md round-12 measured the flat MLlib
  * fit going 3.4 s → 78 s across the sf1→sf10 decade, fit-dominated).
  * Training √k coarse cells first and then √k sub-centroids WITHIN
  * each cell costs n·√k per level — and assignment at use time is
  * also n·2√k instead of n·k.
  *
  * Level 1 trains with MLlib on a bounded sample
  * ([[IvfIndex.build]]); level 2 is a grouped Lloyd loop run on a
  * bounded sample: per-row assignment via the codegen'd
  * [[graft.functions.GroupedNearestPivotCosine]] (each cell owns its
  * own sub-pivot matrix, selected per row), update via ONE
  * map-side-combinable aggregate over (cell, sub). The driver only
  * ever holds the k × dim centroid matrix — the same broadcast-scale
  * object flat training produces.
  */
object HierarchicalKMeans {

  /** Above this sub-pivot stack size (total floats × 4 bytes), grouped
    * assignment routes through the broadcast-variable expression
    * instead of a plan literal: with k ∝ n the stack grows without
    * bound (1 GB at k = 4 M, dim 64) and a literal ships in every task
    * closure. Identical output either route (spec-pinned).
    */
  val MaxLiteralBytes: Long = 1L << 20

  // one broadcast per (SparkContext, matrix stack) — keyed weakly on
  // the stack so a model assigned repeatedly in one session ships its
  // stack once. The owning context is validated on every hit: a
  // Broadcast created under a stopped session is dead (executors of a
  // NEW context cannot fetch its blocks), and destroyed broadcasts are
  // invalid — either condition evicts the entry and re-broadcasts
  // under the caller's context (ADVICE r13).
  private val bcCache = new java.util.WeakHashMap[
    Seq[Seq[Array[Float]]],
    (org.apache.spark.SparkContext,
      org.apache.spark.broadcast.Broadcast[(Array[Array[Array[Float]]], Array[Array[Double]])])]()

  /** Grouped nearest-sub-pivot column with the literal/broadcast route
    * chosen by stack size — the single entry every assignment site
    * (train's Lloyd loop, assign, assignMulti) goes through.
    */
  private def groupedAssignCol(
      df: DataFrame,
      vec: org.apache.spark.sql.Column,
      cell: org.apache.spark.sql.Column,
      mats: Seq[Seq[Array[Float]]]): org.apache.spark.sql.Column = {
    val bytes = mats.iterator.flatten.map(_.length.toLong * 4L).sum
    if (bytes <= MaxLiteralBytes)
      VectorExpressions.groupedNearestPivotCosine(vec, cell, mats)
    else {
      val sc = df.sparkSession.sparkContext
      val bc = bcCache.synchronized {
        val got = bcCache.get(mats)
        if (got != null && (got._1 eq sc) && !got._1.isStopped) got._2
        else {
          val b = VectorExpressions.broadcastGroupedPivots(df.sparkSession, mats)
          bcCache.put(mats, (sc, b))
          b
        }
      }
      VectorExpressions.bcastGroupedNearestPivotCosine(vec, cell, bc)
    }
  }

  /** Trained model: level-1 cell centroids + per-cell sub-centroid
    * matrices. `clusterId = cell * stride + sub` (stride = max
    * sub-count, so ids are stable even when small cells hold fewer
    * sub-pivots).
    */
  final case class Model(
      cells: Seq[Array[Float]],
      subs: Seq[Seq[Array[Float]]]) {
    val stride: Int = subs.map(_.size).max
    def k: Int = subs.map(_.size).sum
    def flatten: Seq[Array[Float]] = subs.flatten
  }

  /** Train ~k centroids hierarchically. `sampleTarget` bounds the
    * level-2 training set (≤ 0 → 256·k, the same per-centroid budget
    * [[IvfIndex.build]] uses).
    */
  def train(
      df: DataFrame,
      vecCol: String,
      k: Int,
      iters: Int = 4,
      seed: Long = 42L,
      sampleTarget: Int = 0
  ): Model = {
    require(k >= 2, s"k must be >= 2, got $k")
    // the init/refine collects read getSeq[Float] — a double-typed
    // vector column would die with a ClassCastException deep inside
    // collect, so reject it here with an actionable message (ADVICE r12)
    df.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) =>
      case t =>
        throw new IllegalArgumentException(
          s"train needs $vecCol: array<float>, got $t — cast first: col(\"$vecCol\").cast(\"array<float>\")")
    }
    val k1 = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    val k2 = math.max(1, math.ceil(k.toDouble / k1).toInt)
    val target = if (sampleTarget > 0) sampleTarget else 256 * k
    val n = df.count()
    val sample =
      if (n > target) df.sample(withReplacement = false, target.toDouble / n, seed)
      else df
    // level 1: coarse cells (MLlib, its own bounded sample inside)
    val cfg = graft.model.IndexConfig.default.copy(nlist = k1)
    val (_, cells) = IvfIndex.build(sample, vecCol, cfg, seed)
    val celled = sample
      .select(col(vecCol).as("__v"))
      .withColumn("__cell", VectorExpressions.nearestPivotCosine(col("__v"), cells.toSeq))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // deterministic init: first k2 rows per cell by vector hash
      val w = Window.partitionBy("__cell").orderBy(xxhash64(col("__v")))
      val initRows = celled
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k2)
        .select("__cell", "__rn", "__v")
        .collect()
      var mats: IndexedSeq[Seq[Array[Float]]] = (0 until k1).map { c =>
        initRows.filter(_.getInt(0) == c).sortBy(_.getInt(1))
          .map(_.getSeq[Float](2).toArray).toSeq
      }
      // a cell MLlib produced but the sample never hits keeps its own
      // centroid as a single sub-pivot, so every cell id stays valid
      mats = mats.zipWithIndex.map { case (m, c) => if (m.isEmpty) Seq(cells(c)) else m }
      // grouped Lloyd: assign sub within own cell, re-average
      for (_ <- 1 to iters) {
        val assigned = celled.withColumn(
          "__sub",
          groupedAssignCol(celled, col("__v"), col("__cell"), mats))
        val updated = assigned
          .groupBy("__cell", "__sub")
          .agg(VectorAggregates.vectorMean(col("__v")).as("__m"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).map(_.toFloat).toArray)
          .toMap
        mats = mats.zipWithIndex.map { case (m, c) =>
          m.zipWithIndex.map { case (p, s) => updated.getOrElse((c, s), p) }
        }
      }
      Model(cells.toSeq, mats)
    } finally celled.unpersist()
  }

  /** Label every row with its hierarchical cluster id
    * (cell · stride + sub) — two codegen'd projections, n·(k1+k2)
    * distance evaluations total, no shuffle.
    */
  def assign(df: DataFrame, vecCol: String, model: Model, clusterCol: String = "cluster"): DataFrame =
    df
      .withColumn("__cell", VectorExpressions.nearestPivotCosine(col(vecCol), model.cells))
      .withColumn(clusterCol,
        col("__cell") * model.stride +
          groupedAssignCol(df, col(vecCol), col("__cell"), model.subs))
      .drop("__cell")

  /** MULTI-PROBE labeling: each row is exploded over its top-`probes`
    * level-1 cells (sub-pivot resolved within each probed cell), so
    * bucket-joined consumers meet in every shared bucket — the OR
    * pattern that recovers cluster-boundary pairs a single hard
    * assignment splits (the standard IVF nprobe idea applied to the
    * dedup join). Output has up to `probes` rows per input row; still
    * shuffle-free.
    */
  def assignMulti(
      df: DataFrame, vecCol: String, model: Model, probes: Int,
      clusterCol: String = "cluster"): DataFrame = {
    require(probes >= 1 && probes <= model.cells.size,
      s"probes must be in [1, ${model.cells.size}], got $probes")
    df
      .withColumn("__cell",
        explode(VectorExpressions.topPivotsCosine(col(vecCol), model.cells, probes)))
      .withColumn(clusterCol,
        col("__cell") * model.stride +
          groupedAssignCol(df, col(vecCol), col("__cell"), model.subs))
      .drop("__cell")
  }
}
