package graft.search

import graft.functions.VectorFunctions._
import graft.functions.VectorKernel
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (PQ) with asymmetric-distance (ADC) search —
  * the third member of the compression family next to [[IvfIndex]]
  * (pruning) and [[ScalarQuant]] (4× SQ8): dimensions are split into
  * `m` subspaces, each subspace gets its own tiny KMeans codebook
  * (`ksub` entries), and a vector is stored as `m` small codes — 64
  * float dims (256 B) become 8 codes (8 B at ksub=256, 4 B packed at
  * ksub=16). The reference's store exposes IVF_FLAT only
  * (milvus_store.py:110-136); PQ is its standard memory-bound upgrade
  * (FAISS IVFPQ / Milvus IVF_PQ) and the shape that lets 100 TB of
  * raw vectors live as ~3–12 TB of codes in page cache.
  *
  * Everything is trained/encoded on L2-NORMALIZED vectors, so the ADC
  * inner product Σ_j q̂_j·cb[j][code_j] approximates cos(q, x) directly
  * (the embeddings.py:36 COSINE≡dot identity the rest of the search
  * stack already relies on).
  *
  * 100 TB shape: `fit` runs m small KMeans fits on ONE bounded sample
  * (the 256·ksub FAISS/Milvus training convention — index-build time,
  * never query time); `encode` is one scan with a fused per-row UDF
  * (m·ksub·dsub ≈ 1k flops/row — a HOF formulation would be 100×
  * slower, see the round-1 simhash measurement); search precomputes
  * the m×ksub ADC table on the driver (tiny), broadcasts it, scores
  * codes in the scan stage, takes a TakeOrdered shortlist, and
  * exact-rescores only those rows. Codes are approximate → the
  * shortlist re-rank is what makes the top-k trustworthy; recall is
  * pinned by q_pq_recall and ProductQuantSpec.
  */
object ProductQuant {

  /** ADC shortlist sized to the corpus: a constant 1/2000 fraction of
    * n, floored at max(100, 5k). The quantization error of the codes
    * is scale-free, but the number of DISTRACTORS whose ADC score
    * beats a true neighbor's grows linearly with n — so a fixed
    * shortlist's recall collapses as the corpus grows past the size it
    * was tuned on. Measured (BASELINE.md round-11 sf100 oracle sweep;
    * m=16 ksub=256, 5 query
    * vectors): at 200k vectors shortlist=100 holds recall@10 = 10/10;
    * at 2M the same 100 collapses to 0–3/10 while n/2000 = 1000
    * restores 10/10 on every probe. Same adaptive-knob pattern as
    * Dedup.adaptiveSignBits / adaptiveSimHashBlocks: the default a
    * user doesn't tune must be the one that survives scale-up.
    */
  def adaptiveShortlist(n: Long, k: Int = 10): Int =
    graft.tune.AdaptiveKnobs.shortlist(k)(n)

  /** Per-subspace codebooks: codebooks(j)(c) is the ksub-entry
    * codebook's c-th centroid for subspace j (dsub doubles each).
    * Trained on a bounded sample of L2-normalized vectors; seeds are
    * fixed per subspace for reproducible builds.
    */
  def fit(
      corpus: DataFrame,
      vecCol: String = "embedding",
      m: Int = 8,
      ksub: Int = 256, // FAISS nbits=8 convention; smaller ksub trades recall for code width
      seed: Long = 42L,
      fitSampleTarget: Int = 0 // ≤0 → 256 * ksub
  ): Array[Array[Array[Double]]] = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val target = if (fitSampleTarget > 0) fitSampleTarget else 256 * ksub
    val n = corpus.count()
    val base = corpus.select(normalize(col(vecCol)).as("__nv"))
    val fitSet =
      (if (n > target) base.sample(withReplacement = false, target.toDouble / n, seed)
       else base).cache()
    try {
      (0 until m).map { j =>
        val sub = fitSet.select(
          array_to_vector(slice(col("__nv"), j * dsub + 1, dsub)).as("__v")
        )
        new KMeans()
          .setK(ksub)
          .setSeed(seed + j)
          .setFeaturesCol("__v")
          .setPredictionCol("__c")
          .setMaxIter(10)
          .fit(sub)
          .clusterCenters
          .map(_.toArray)
      }.toArray
    } finally { fitSet.unpersist(); () }
  }

  /** Nearest-codebook-entry codes per subspace (array&lt;int&gt;, m
    * entries; a production store packs them to log2(ksub) bits). One
    * fused per-row pass over the normalized vector.
    */
  def encode(
      corpus: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      vecCol: String = "embedding",
      codeCol: String = "pq_code"
  ): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val bc = corpus.sparkSession.sparkContext.broadcast(codebooks)
    val enc = udf { (v: Seq[Double]) =>
      val cb = bc.value
      Array.tabulate(m) { j =>
        val cbj = cb(j)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cbj.length) {
          var d = 0.0
          var t = 0
          while (t < dsub) {
            val diff = v(j * dsub + t) - cbj(c)(t)
            d += diff * diff
            t += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    }
    corpus.withColumn(codeCol, enc(normalize(col(vecCol))))
  }

  /** ADC top-k with exact re-rank: score codes against the broadcast
    * m×ksub query table, shortlist the best `shortlist` rows
    * (default 5k), then exact-cosine rescore those rows to the final
    * k by [[VectorSearch.bestK]] on the rounded score with `idCol` ties
    * (the exact-search ranking contract). The raw vector column is only
    * touched for shortlist rows — the production "codes in memory,
    * floats fetched for re-rank" pattern.
    */
  def adcTopK(
      encoded: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      queryVec: Array[Float],
      k: Int,
      shortlist: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      codeCol: String = "pq_code"
  ): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val s = if (shortlist > 0) shortlist else 5 * k
    val qd = queryVec.map(_.toDouble)
    val qNorm = VectorKernel.norm(queryVec)
    val qn = if (qNorm == 0) qd else qd.map(_ / qNorm)
    // ADC table: table(j)(c) = q̂_subj · codebook entry (driver-side, m·ksub doubles)
    val table = Array.tabulate(m) { j =>
      codebooks(j).map { cent =>
        var dot = 0.0
        var t = 0
        while (t < dsub) { dot += qn(j * dsub + t) * cent(t); t += 1 }
        dot
      }
    }
    val bc = encoded.sparkSession.sparkContext.broadcast(table)
    val adc = udf { (code: Seq[Int]) =>
      val tb = bc.value
      var sum = 0.0
      var j = 0
      while (j < tb.length) { sum += tb(j)(code(j)); j += 1 }
      sum
    }
    val shortlisted = encoded
      .withColumn("__adc", adc(col(codeCol)))
      .orderBy(desc("__adc"), col(idCol))
      .limit(s)
    VectorSearch
      .bestK(VectorSearch.score(shortlisted, queryVec, rounded = true, vecCol), k, Seq(idCol))
      .drop("__adc")
  }

  /** IVF×PQ composed top-k — the Milvus IVF_PQ index type
    * (config.py:22-27 exposes the index_type family; milvus_store.py:110-136
    * builds IVF_FLAT, IVF_PQ is its memory-bound sibling): probe the
    * `nprobe` nearest IVF clusters, ADC-score ONLY the probed rows, and
    * size the exact-rerank shortlist to the PROBED population, not the
    * corpus. Both factors that made the flat paths expensive shrink
    * together: the ADC scan touches n·nprobe/nlist rows (partition
    * pruning when the corpus is stored `partitionBy("cluster_id")`,
    * VectorStore.writeIndexed), and the shortlist the exact re-rank
    * must fetch raw vectors for is adaptiveShortlist(probed) instead of
    * adaptiveShortlist(n) — sub-linear in n end to end while the flat
    * ADC path stays O(n).
    *
    * `encodedLabeled` carries BOTH index artifacts on one table
    * (`cluster_id` from [[IvfIndex.build]], `codeCol` from [[encode]]) —
    * the one-pass "write cluster and code together at load time" layout
    * a 100 TB store would use; search composes two broadcast-scale
    * driver artifacts (centroids, codebooks) with one pruned scan.
    *
    * Recall contract: composed recall ≈ IVF recall × PQ recall — the
    * probe set can miss what flat-PQ would keep and vice versa, so
    * q_ivfpq_recall pins the composition (≥9/10 vs exact full-corpus
    * search) independently of q_ivf_recall / q_pq_recall.
    *
    * `probedCount` ≥ 0 skips the sizing count job when the caller
    * already knows the probed population (e.g. per-cluster stats from
    * index build — at 100 TB the store keeps row counts per partition;
    * the count here reads only pruned partitions either way).
    */
  def ivfAdcTopK(
      encodedLabeled: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      centroids: Array[Array[Float]],
      queryVec: Array[Float],
      k: Int,
      nprobe: Int,
      probedCount: Long = -1L,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      codeCol: String = "pq_code",
      clusterCol: String = "cluster_id"
  ): DataFrame = {
    val probes = IvfIndex.nearestClusters(queryVec, centroids, nprobe)
    val pruned = encodedLabeled.filter(col(clusterCol).isin(probes: _*))
    val probed =
      if (probedCount >= 0L) probedCount
      // column-pruned count over pruned partitions only — one cheap job
      else pruned.select(col(idCol)).count()
    adcTopK(
      pruned, codebooks, queryVec, k,
      shortlist = adaptiveShortlist(probed, k),
      idCol = idCol, vecCol = vecCol, codeCol = codeCol)
  }
}
