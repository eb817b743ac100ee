package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization for embedding columns — the FAISS/Milvus
  * `IVF_SQ8`-style compression path (reference exposes IVF_FLAT only,
  * milvus_store.py:110-136; SQ8 is its standard memory-bound upgrade):
  * each dimension is affinely mapped to an 8-bit code using global
  * per-dimension [min, max], shrinking a float32 corpus 4× so 100 TB
  * of raw vectors become 25 TB of codes that fit a much smaller
  * cluster's page cache. Search is ASYMMETRIC: codes are dequantized
  * to bucket midpoints and scored against the full-precision query —
  * the query side loses no precision, the corpus side loses at most
  * half a quantization step per dimension.
  *
  * 100 TB shape: `fit` is one posexplode + 64-key aggregate (map-side
  * combined — the shuffle carries 64·partitions rows); the stats row
  * is broadcast; encode/decode/score are scan-stage Column
  * expressions; top-k is `TakeOrderedAndProject`. Composes with
  * [[IvfIndex]]: quantize within each cluster's partition to probe
  * clusters without touching raw floats.
  *
  * Determinism (what the DuckDB oracle replays): min/max are
  * order-independent aggregates; code = clamp(⌊(x − mn)·255/(mx − mn)⌋)
  * and midpoint decode mn + (code + ½)(mx − mn)/255 are fixed-shape
  * double expressions — identical bits cross-engine, so even the
  * quantization ERROR is reproducible.
  */
object ScalarQuant {

  /** Per-dimension global [min, max] as a single-row DataFrame
    * (`mns`, `mxs`: array&lt;double&gt; ordered by dimension) — kept
    * distributed so callers broadcast it instead of collecting.
    */
  def fit(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    df.select(posexplode(col(vecCol).cast("array<double>")).as(Seq("__pos", "__x")))
      .groupBy(col("__pos"))
      .agg(min(col("__x")).as("__mn"), max(col("__x")).as("__mx"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("__pos"), col("__mn")))),
          s => s.getField("__mn")
        ).as("mns"),
        transform(
          array_sort(collect_list(struct(col("__pos"), col("__mx")))),
          s => s.getField("__mx")
        ).as("mxs")
      )

  /** 8-bit code for one vector column given broadcast `mns`/`mxs`
    * columns. Constant dimensions (mx == mn) encode to 0. Runs as the
    * codegen'd [[graft.functions.Sq8Encode]] Expression — the HOF
    * formulation (kept below for spec cross-checks) is interpreted
    * per element, the cost the sf100 probe surfaced; the bits are
    * identical by construction, so the DuckDB replay oracle
    * (q_sq8_topk) is unaffected.
    */
  def encodeExpr(vec: Column, mns: Column, mxs: Column): Column =
    graft.functions.VectorExpressions.sq8Encode(vec, mns, mxs)

  /** Reference HOF formulation of [[encodeExpr]] (spec-only). */
  def encodeExprHof(vec: Column, mns: Column, mxs: Column): Column =
    transform(
      vec.cast("array<double>"),
      (x, i) => {
        val mn = element_at(mns, i + 1)
        val mx = element_at(mxs, i + 1)
        when(mx === mn, lit(0))
          .otherwise(
            least(lit(255), greatest(lit(0), floor((x - mn) * lit(255) / (mx - mn))))
          )
          .cast("int")
      }
    )

  /** Midpoint dequantization: code c → mn + (c + ½)(mx − mn)/255 —
    * codegen'd [[graft.functions.Sq8Decode]], same bits as the HOF
    * form below.
    */
  def decodeExpr(code: Column, mns: Column, mxs: Column): Column =
    graft.functions.VectorExpressions.sq8Decode(code, mns, mxs)

  /** Reference HOF formulation of [[decodeExpr]] (spec-only). */
  def decodeExprHof(code: Column, mns: Column, mxs: Column): Column =
    transform(
      code,
      (c, i) => {
        val mn = element_at(mns, i + 1)
        val mx = element_at(mxs, i + 1)
        mn + (c + lit(0.5)) * (mx - mn) / lit(255)
      }
    )

  /** Encode a corpus: input columns + `codeCol` (array&lt;int&gt;; a
    * production store would pack to 1 byte/dim in a BinaryType column —
    * same codes, denser pages).
    */
  def encode(
      df: DataFrame,
      stats: DataFrame,
      vecCol: String = "embedding",
      codeCol: String = "code"
  ): DataFrame =
    df.crossJoin(broadcast(stats))
      .withColumn(codeCol, encodeExpr(col(vecCol), col("mns"), col("mxs")))
      .drop("mns", "mxs")

  /** Fit + encode + asymmetric top-k in ONE plan with a single stats
    * broadcast — the shape for ad-hoc quantized search over a raw
    * corpus. Composing `encode` and `searchTopK` separately would
    * instantiate the fit aggregate twice (two corpus scans + two
    * shuffle trees; AQE exchange reuse is not guaranteed); here the
    * quantize→decode→score chain rides one crossJoin of the 1-row
    * stats. A production store instead persists codes + stats once
    * (`encode`) and serves queries with `searchTopK`, where the stats
    * side is a tiny table, not a corpus scan.
    */
  def quantizedTopK(
      corpus: DataFrame,
      queryVec: Array[Float],
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val decoded = corpus
      .crossJoin(broadcast(fit(corpus, vecCol)))
      .withColumn("__code", encodeExpr(col(vecCol), col("mns"), col("mxs")))
      .withColumn("__dv", decodeExpr(col("__code"), col("mns"), col("mxs")))
    rankDecoded(decoded, queryVec, k, idCol)
  }

  /** Asymmetric top-k: dequantized codes vs the full-precision query
    * vector, cosine, descending, ties by `idCol`.
    */
  def searchTopK(
      encoded: DataFrame,
      stats: DataFrame,
      queryVec: Array[Float],
      k: Int,
      idCol: String = "vec_id",
      codeCol: String = "code"
  ): DataFrame = {
    val decoded = encoded
      .crossJoin(broadcast(stats))
      .withColumn("__dv", decodeExpr(col(codeCol), col("mns"), col("mxs")))
    rankDecoded(decoded, queryVec, k, idCol)
  }

  /** The rounded score of the decoded vectors `__dv` against the query;
    * the working columns (`__code` when present, `__dv`, the stats)
    * dropped; the k best kept, ties by `idCol`.
    */
  private def rankDecoded(decoded: DataFrame, queryVec: Array[Float], k: Int, idCol: String): DataFrame =
    VectorSearch.bestK(
      VectorSearch.score(decoded, queryVec, rounded = true, vecCol = "__dv").drop("__code", "__dv", "mns", "mxs"),
      k, Seq(idCol))
}
