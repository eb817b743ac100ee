package graft.quality

import graft.model.QualityGates
import graft.text.RepetitionStats.ratioCol
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quality/distribution aggregations (reference quality_monitor.py,
  * SURVEY.md §2.5 G3-G11). All single-pass groupBy/agg plans with
  * map-side partial aggregation; stddev is POPULATION std for numpy
  * ddof=0 parity (SURVEY.md §7.5 item 7).
  */
object QualityMonitor {

  /** G3 — chunk-size distribution (quality_monitor.py:25-47).
    *
    * The averages of the two INTEGER columns are integer ratios, so
    * they round HALF_UP at 4 dp in exact integer arithmetic (the
    * RepetitionStats.ratio6 midpoint class — round(avg(ints), 4) can
    * land exactly on .5·10⁻⁵ where a SQL replay's round() disagrees).
    * The medians stay round(): an int-column median is k or k.5
    * (dyadic-exact — its 10⁴ scaling is exactly representable, so both
    * engines see the true value and agree); the stds stay round():
    * irrational operands never SIT on a decimal midpoint.
    *
    * INPUT INVARIANT (ADVICE r17): `charsCol`/`tokensCol` must be
    * NON-NULL. The exact-integer averages divide by count(*), which —
    * unlike avg() — counts NULL rows in the denominator (and sum()
    * over an all-NULL column yields a NULL numerator). Both columns
    * are derived from length(text) everywhere this is called, so the
    * invariant holds by construction; a nullable caller must
    * na.drop() first or the mean silently drifts from the reference's.
    */
  def sizeDistribution(df: DataFrame, charsCol: String, tokensCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("total_chunks"),
      min(col(charsCol)).as("min_chars"),
      max(col(charsCol)).as("max_chars"),
      sum(col(charsCol).cast("long")).as("__sum_chars"),
      round(expr(s"percentile($charsCol, 0.5)"), 4).as("median_chars"),
      round(stddev_pop(col(charsCol)), 4).as("std_chars"),
      min(col(tokensCol)).as("min_tokens"),
      max(col(tokensCol)).as("max_tokens"),
      sum(col(tokensCol).cast("long")).as("__sum_tokens"),
      round(expr(s"percentile($tokensCol, 0.5)"), 4).as("median_tokens")
    ).withColumn("avg_chars", ratioCol("__sum_chars", "total_chunks", 10000L))
      .withColumn("avg_tokens", ratioCol("__sum_tokens", "total_chunks", 10000L))
      .select(
        col("total_chunks"),
        col("min_chars"), col("max_chars"), col("avg_chars"),
        col("median_chars"), col("std_chars"),
        col("min_tokens"), col("max_tokens"), col("avg_tokens"),
        col("median_tokens"))

  /** G4 — fixed-width histogram of a numeric column (30 bins by
    * default, quality_monitor.py:49-77). min/max resolved in the same
    * job via window-free double aggregation: first pass agg is fine at
    * any scale (2 jobs total).
    */
  def histogram(df: DataFrame, valueCol: String, bins: Int = 30): DataFrame = {
    val Row2 = df.agg(min(col(valueCol)).cast("double"), max(col(valueCol)).cast("double")).head()
    val (lo, hi) = (Row2.getDouble(0), Row2.getDouble(1))
    val width = if (hi > lo) (hi - lo) / bins else 1.0
    df.withColumn(
      "bin",
      least(floor((col(valueCol).cast("double") - lit(lo)) / lit(width)), lit(bins - 1)).cast("int")
    ).groupBy("bin")
      .count()
      .orderBy("bin")
  }

  /** G5 — language distribution, most-common-first (quality_monitor.py:86-90). */
  def languageDistribution(df: DataFrame, langCol: String): DataFrame = {
    // group counts first, then join the (tiny) per-language counts to
    // their one-row grand total for percentages — a broadcast
    // nested-loop join of #languages × 1 rows, instead of an
    // unpartitioned window (which plans a single-partition WindowExec
    // and logs a scary everything-to-one-task warning even though the
    // input here is already aggregated)
    val counts = df.groupBy(col(langCol)).count()
    val total = counts.agg(sum(col("count")).as("__total"))
    counts
      .crossJoin(broadcast(total))
      // pct = count·100/__total rounded HALF_UP at 4 dp ENTIRELY in
      // integer arithmetic (RepetitionStats.ratioCol, the ratio6 class):
      // rounding the double ratio diverges from a SQL replay at .5·10⁻⁵
      // midpoints, which integer count ratios CAN hit exactly (r16
      // caught the 6-dp twin on q_repetition). __total > 0 whenever a
      // row exists.
      .withColumn("pct", ratioCol("`count` * 100", "__total", 10000L))
      .drop("__total")
      .orderBy(desc("count"), col(langCol))
  }

  /** G6 — top-N source files by chunk count (quality_monitor.py:93-98).
    * Deterministic tiebreak on the name.
    */
  def topSources(df: DataFrame, fileCol: String, n: Int = 10): DataFrame =
    df.groupBy(col(fileCol)).count().orderBy(desc("count"), col(fileCol)).limit(n)

  /** G7 — fraction of chunks whose token count is in the target range
    * (quality_monitor.py:176-180).
    */
  def inRangeRatio(tokensCol: Column, lo: Int = QualityGates.TokenRangeLo, hi: Int = QualityGates.TokenRangeHi): Column =
    avg(when(tokensCol.between(lo, hi), 1.0).otherwise(0.0))

  /** G8 — coefficient of variation, population std (quality_monitor.py:183-184). */
  def coefficientOfVariation(c: Column): Column =
    stddev_pop(c) / avg(c) * 100.0

  /** G10 — quality report row with threshold recommendations
    * (quality_monitor.py:160-215): warn when in-range < 70% or CV > 50%.
    */
  def report(df: DataFrame, tokensCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("total_chunks"),
      // integer numerator for the exact-rounded percentage below (the
      // double-rounding midpoint class — see languageDistribution)
      sum(when(col(tokensCol).between(QualityGates.TokenRangeLo, QualityGates.TokenRangeHi), 1L)
        .otherwise(0L)).as("__in_range"),
      sum(col(tokensCol).cast("long")).as("__sum_tokens"),
      round(coefficientOfVariation(col(tokensCol)), 4).as("cv_pct"),
      round(stddev_pop(col(tokensCol)), 4).as("std_tokens")
    ) // integer-column average and percentage: exact-integer 4-dp HALF_UP
      .withColumn("avg_tokens", ratioCol("__sum_tokens", "total_chunks", 10000L))
      .withColumn("in_range_pct", ratioCol("__in_range * 100", "total_chunks", 10000L))
      .drop("__in_range")
      .select(col("total_chunks"), col("in_range_pct"), col("cv_pct"),
        col("avg_tokens"), col("std_tokens"))
      .withColumn(
      "recommendation",
      when(col("in_range_pct") < QualityGates.MinInRangeRatio * 100, lit("adjust_chunk_size"))
        .when(col("cv_pct") > QualityGates.MaxCoefficientOfVariation, lit("high_variance"))
        .otherwise(lit("ok"))
    )

  /** G10's serialization half — the reference dumps the validation
    * report as JSON (main.py:209-211; the DAG pushes the same dict to
    * XCom). `to_json(struct(*))` keeps the serialization in the plan
    * (codegen'd, no driver-side formatting), one JSON document per
    * report row.
    */
  def reportJson(df: DataFrame, tokensCol: String): DataFrame =
    report(df, tokensCol)
      .select(
        // json.dump always emits every key (null metrics on an empty
        // corpus included) — consumers key on field presence
        to_json(struct(col("*")), Map("ignoreNullFields" -> "false"))
          .as("report_json"))

  /** G9 — seeded random sample of n rows for review (quality_monitor.py:143-158). */
  def sampleReview(df: DataFrame, n: Int, seed: Long = 42L): DataFrame =
    df.orderBy(rand(seed)).limit(n)

  /** G9, reproducible form: top-n by md5 of the id — the engine's
    * deterministic analog of the reference's seeded `random.sample`.
    * `rand(seed)` is seed-deterministic only for a FIXED partition
    * layout (each task reseeds from the partition index), so the
    * sampled set silently changes with cluster size or AQE coalescing;
    * the md5 order is a pure function of the data, identical on any
    * engine — which is what lets the driver's DuckDB oracle replay the
    * sample exactly, and what lets a reviewer re-pull the same sample
    * months later. Plan shape: TakeOrderedAndProject (per-partition
    * heaps of n, driver merge) — no global sort.
    */
  def sampleReviewByHash(df: DataFrame, idCol: String, n: Int): DataFrame =
    df.orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(n)
}
