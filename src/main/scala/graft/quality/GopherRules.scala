package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.Tokens.{countMatching, roundHalfUp, words}

/** Gopher-style structural document filters (Rae et al. 2021, "Scaling
  * Language Models: … Gopher", §A1.1; the same battery C4/CCNet-family
  * pipelines run before training) — the LINE- and WORD-shape rules the
  * engine's existing quality battery (stopword/punct/alpha ratios,
  * n-gram repetition) does not cover:
  *
  *  - word count window, exact mean word length window
  *  - symbol-to-word ratio ('#' and '...' density)
  *  - bullet-started and ellipsis-terminated line fractions
  *  - fraction of words containing an alphabetic character
  *  - duplicate-line fraction
  *
  * Everything is a single-pass expression tree over built-ins — no
  * UDFs, no shuffle: the filter is embarrassingly row-parallel at any
  * corpus size (the array higher-order functions are interpreted, like
  * the rest of the quality battery — acceptable because the cost is
  * one pass over each token/line array, not a per-element re-eval; see
  * TextAnalysis.withQualityAnalysis for the staged-projection sharing
  * this reuses). Ratios are
  * plain IEEE divisions of integer counts, so the keep verdict is
  * bit-identical across engines (the DuckDB oracle replays the same
  * counts); displayed ratios are rounded half-up to 6 dp only at the
  * output boundary, like the rest of the quality battery.
  *
  * Thresholds are the published Gopher values except the word-count
  * floor (50 → 20: the synthetic bench documents are 20-80 words, a
  * 50-floor would grade a constant-false column) — each is a named
  * constant, overridable per call.
  */
object GopherRules {

  val MinWords = 20
  val MaxWords = 100000
  val MinMeanWordLen = 3.0
  val MaxMeanWordLen = 10.0
  val MaxSymbolWordRatio = 0.1
  val MaxBulletFrac = 0.9
  val MaxEllipsisFrac = 0.3
  val MinAlphaWordFrac = 0.80
  val MaxDupLineFrac = 0.3

  /** Appends the metric columns and the `keep` verdict to `df`.
    * Output columns: n_words, mean_word_len, symbol_word_ratio,
    * bullet_frac, ellipsis_frac, alpha_word_frac, dup_line_frac, keep.
    */
  def withGopherRules(df: DataFrame, textCol: String): DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    // staged projections (the SPARK-36718 pattern used across the
    // quality battery): materialize the token/line arrays and integer
    // counts once, derive every ratio from the counters
    val staged = df
      // case-preserving words, unlike Tokens.words (see its scaladoc)
      .withColumn("__words", filter(split(txt, "\\s+"), w => length(w) > 0))
      .withColumn("__lines", split(txt, "\n"))
    val counted = staged
      .withColumn("__n_words", size(col("__words")))
      .withColumn("__word_chars",
        aggregate(col("__words"), lit(0L), (acc, w) => acc + length(w)))
      .withColumn("__n_alpha_words",
        size(filter(col("__words"), w => w.rlike("[A-Za-z]"))))
      .withColumn("__n_hash", countMatching(txt, "#"))
      .withColumn("__n_ellipsis", (countMatching(txt, "\\.\\.\\.") / 3).cast("long"))
      .withColumn("__n_lines", size(col("__lines")))
      .withColumn("__n_bullet",
        size(filter(col("__lines"), l =>
          ltrim(l).startsWith("-") || ltrim(l).startsWith("*") || ltrim(l).startsWith("•"))))
      .withColumn("__n_ellipsis_lines",
        size(filter(col("__lines"), l =>
          rtrim(l).endsWith("...") || rtrim(l).endsWith("…"))))
      .withColumn("__n_dup_lines", size(col("__lines")) - size(array_distinct(col("__lines"))))
    val nW = col("__n_words").cast("double")
    val nL = col("__n_lines").cast("double")
    val meanWl = when(col("__n_words") === 0, 0.0).otherwise(col("__word_chars") / nW)
    val symRatio = when(col("__n_words") === 0, 0.0)
      .otherwise((col("__n_hash") + col("__n_ellipsis")) / nW)
    val bulletFrac = when(col("__n_lines") === 0, 0.0).otherwise(col("__n_bullet") / nL)
    val ellipsisFrac = when(col("__n_lines") === 0, 0.0).otherwise(col("__n_ellipsis_lines") / nL)
    val alphaFrac = when(col("__n_words") === 0, 0.0).otherwise(col("__n_alpha_words") / nW)
    val dupLineFrac = when(col("__n_lines") === 0, 0.0).otherwise(col("__n_dup_lines") / nL)
    counted
      .withColumn("n_words", col("__n_words"))
      .withColumn("mean_word_len", roundHalfUp(meanWl, 6))
      .withColumn("symbol_word_ratio", roundHalfUp(symRatio, 6))
      .withColumn("bullet_frac", roundHalfUp(bulletFrac, 6))
      .withColumn("ellipsis_frac", roundHalfUp(ellipsisFrac, 6))
      .withColumn("alpha_word_frac", roundHalfUp(alphaFrac, 6))
      .withColumn("dup_line_frac", roundHalfUp(dupLineFrac, 6))
      .withColumn("keep",
        col("__n_words").between(MinWords, MaxWords) &&
          meanWl.between(MinMeanWordLen, MaxMeanWordLen) &&
          symRatio < MaxSymbolWordRatio &&
          bulletFrac < MaxBulletFrac &&
          ellipsisFrac < MaxEllipsisFrac &&
          alphaFrac > MinAlphaWordFrac &&
          dupLineFrac < MaxDupLineFrac)
      .drop(counted.columns.filter(_.startsWith("__")): _*)
  }

  /** The eight Gopher stop words (Rae et al. §A1.1): a kept document
    * must contain at least [[MinStopwordHits]] DISTINCT ones. Counting
    * distinct presence (not total occurrences) follows the published
    * open implementations of the rule; tokens are lowercased whitespace
    * splits, so "The" counts but "the," does not — deterministic and
    * replayed identically by the oracle.
    */
  val StopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val MinStopwordHits = 2

  /** Count of distinct [[StopWords]] present among the lowercase
    * whitespace tokens of `textCol` — `array_intersect` dedupes on both
    * engines, so the count is capped at 8 by construction.
    */
  def stopwordHits(textCol: Column): Column =
    size(array_intersect(words(textCol), array(StopWords.map(lit): _*)))

  /** The COMPLETE Gopher quality filter — one `keep` verdict composing
    * the three published §A1.1 rule families this engine computes in
    * separate modules:
    *
    *  - structural ([[withGopherRules]]: word/line shape ratios),
    *  - repetition ([[graft.text.RepetitionStats.keepByRepetitionFull]]:
    *    dup-line ≤0.30, dup-line-char ≤0.20, top-2-gram ≤0.20,
    *    top-3-gram ≤0.18, dup-5-gram ≤0.15 over the fused-pass feature
    *    struct),
    *  - the stop-word rule (≥2 distinct of the 8 published words).
    *
    * Output appends: the structural metric columns, `keep_structural`,
    * `keep_repetition`, `stopword_hits`, and the composed `keep`.
    * Scale shape: everything is row-local (expression tree + one fused
    * per-doc pass) — no shuffle, embarrassingly parallel at any corpus
    * size, so the composed filter costs exactly the sum of its halves.
    */
  def withGopherKeep(df: DataFrame, textCol: String): DataFrame = {
    import graft.text.RepetitionStats
    withGopherRules(df, textCol)
      .withColumnRenamed("keep", "keep_structural")
      .withColumn("__rep", RepetitionStats.repetitionFeatures(col(textCol)))
      .withColumn("keep_repetition", RepetitionStats.keepByRepetitionFull(col("__rep")))
      .withColumn("stopword_hits", stopwordHits(col(textCol)))
      .withColumn(
        "keep",
        col("keep_structural") && col("keep_repetition") &&
          col("stopword_hits") >= MinStopwordHits)
      .drop("__rep")
  }

  /** The same battery as DuckDB SQL over `documents` — kept beside the
    * Scala so the two cannot drift silently (the PiiScrub pattern).
    */
  def sql: String =
    s"""WITH c AS (
          SELECT doc_id,
            list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'), w -> len(w) > 0) AS words,
            string_split(coalesce(text, ''), chr(10)) AS lines,
            length(coalesce(text, '')) - length(replace(coalesce(text, ''), '#', '')) AS n_hash,
            (length(coalesce(text, '')) - length(replace(coalesce(text, ''), '...', ''))) // 3 AS n_ellipsis
          FROM documents),
        f AS (
          SELECT doc_id,
            CAST(len(words) AS INT) AS n_words,
            len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha_words,
            list_sum(list_transform(words, w -> len(w))) AS word_chars,
            n_hash, n_ellipsis,
            len(lines) AS n_lines,
            len(list_filter(lines, l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%')) AS n_bullet,
            len(list_filter(lines, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…')) AS n_ell_lines,
            len(lines) - len(list_distinct(lines)) AS n_dup_lines
          FROM c)
        SELECT doc_id, n_words,
          floor((CASE WHEN n_words = 0 THEN 0.0 ELSE coalesce(word_chars, 0) * 1.0 / n_words END) * 1e6 + 0.5) / 1e6 AS mean_word_len,
          floor((CASE WHEN n_words = 0 THEN 0.0 ELSE (n_hash + n_ellipsis) * 1.0 / n_words END) * 1e6 + 0.5) / 1e6 AS symbol_word_ratio,
          floor((CASE WHEN n_lines = 0 THEN 0.0 ELSE n_bullet * 1.0 / n_lines END) * 1e6 + 0.5) / 1e6 AS bullet_frac,
          floor((CASE WHEN n_lines = 0 THEN 0.0 ELSE n_ell_lines * 1.0 / n_lines END) * 1e6 + 0.5) / 1e6 AS ellipsis_frac,
          floor((CASE WHEN n_words = 0 THEN 0.0 ELSE n_alpha_words * 1.0 / n_words END) * 1e6 + 0.5) / 1e6 AS alpha_word_frac,
          floor((CASE WHEN n_lines = 0 THEN 0.0 ELSE n_dup_lines * 1.0 / n_lines END) * 1e6 + 0.5) / 1e6 AS dup_line_frac,
          (n_words BETWEEN $MinWords AND $MaxWords)
            AND (CASE WHEN n_words = 0 THEN 0.0 ELSE coalesce(word_chars, 0) * 1.0 / n_words END) BETWEEN $MinMeanWordLen AND $MaxMeanWordLen
            AND (CASE WHEN n_words = 0 THEN 0.0 ELSE (n_hash + n_ellipsis) * 1.0 / n_words END) < $MaxSymbolWordRatio
            AND (CASE WHEN n_lines = 0 THEN 0.0 ELSE n_bullet * 1.0 / n_lines END) < $MaxBulletFrac
            AND (CASE WHEN n_lines = 0 THEN 0.0 ELSE n_ell_lines * 1.0 / n_lines END) < $MaxEllipsisFrac
            AND (CASE WHEN n_words = 0 THEN 0.0 ELSE n_alpha_words * 1.0 / n_words END) > $MinAlphaWordFrac
            AND (CASE WHEN n_lines = 0 THEN 0.0 ELSE n_dup_lines * 1.0 / n_lines END) < $MaxDupLineFrac
          AS keep
        FROM f ORDER BY doc_id"""
}
