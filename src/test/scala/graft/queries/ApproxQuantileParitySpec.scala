package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the r19 q_approx_quantile restructure: the histogram +
  * cumulative-window + bracket-lookup replay of the exact percentile
  * must be BIT-IDENTICAL to catalyst's `percentile()` aggregate — the
  * replay exists only for parallelism (the aggregate's final merge is
  * one reduce task over every distinct key), never for a different
  * answer. The interpolation formula is the one decompiled from
  * PercentileBase.getPercentile (spark-catalyst 4.1.2):
  *
  *   pos    = p · (N − 1)
  *   lower  = floor(pos); higher = ceil(pos)
  *   lowerKey  = first key whose cumulative count ≥ lower + 1
  *   higherKey = first key whose cumulative count ≥ higher + 1
  *   result = lowerKey                      when higher == lower
  *          = lowerKey                      when higherKey == lowerKey
  *          = (higher−pos)·lowerKey + (pos−lower)·higherKey
  *
  * Shapes chosen adversarially: odd/even N (integral vs fractional
  * pos), heavy ties (bracket keys equal), N = 1, N = 2, and the real
  * sf0.001 lineitem cents column.
  */
class ApproxQuantileParitySpec extends SparkTestBase {

  private val pcts = Seq(0.5, 0.95)

  /** The replay, through the PRODUCTION helper the query uses (r20:
    * RelationalRows.percentileBrackets's two-level cumulative sum +
    * percentileInterp — the spec no longer re-implements the plan, so
    * a drift in the shared code fails here directly).
    */
  private def replay(df: org.apache.spark.sql.DataFrame): Seq[Double] = {
    val row = RelationalRows.percentileBrackets(df, pcts).head()
    val n = row.getLong(2 * pcts.length)
    val pos = pcts.map(p => p * (n - 1))
    Seq(
      RelationalRows.percentileInterp(pos(0), row.getLong(0), row.getLong(1)),
      RelationalRows.percentileInterp(pos(1), row.getLong(2), row.getLong(3)))
  }

  private def aggregateForm(df: org.apache.spark.sql.DataFrame): Seq[Double] =
    df.agg(expr("percentile(cents, array(0.5D, 0.95D))"))
      .head().getSeq[Double](0)

  private def assertBitEqualDf(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
    val a = aggregateForm(df)
    val b = replay(df)
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(java.lang.Double.doubleToRawLongBits(x) ==
        java.lang.Double.doubleToRawLongBits(y),
        s"$label pct=${pcts(i)}: percentile()=$x replay=$y")
    }
  }

  private def assertBitEqual(values: Seq[Long], label: String): Unit = {
    import spark.implicits._
    assertBitEqualDf(values.toDF("cents"), label)
  }

  test("singleton and pair inputs (pos edge cases)") {
    assertBitEqual(Seq(7L), "n=1")
    assertBitEqual(Seq(7L, 9L), "n=2")
    assertBitEqual(Seq(-3L, -3L), "n=2 tied")
  }

  test("odd and even N, distinct values (fractional vs integral pos)") {
    assertBitEqual((1L to 101L), "n=101")
    assertBitEqual((1L to 100L), "n=100")
    // non-uniform gaps so interpolation actually mixes two keys
    assertBitEqual(Seq(1L, 2L, 10L, 100L, 1000L, 10000L), "gaps")
  }

  test("heavy ties (bracket keys collapse)") {
    assertBitEqual(Seq.fill(50)(5L) ++ Seq.fill(50)(6L), "two-value 50/50")
    assertBitEqual(Seq.fill(94)(5L) ++ Seq.fill(6)(6L), "p95 straddles the tie edge")
    assertBitEqual(Seq.fill(100)(5L), "all tied")
  }

  test("two-level bucket boundaries (multiples of the bucket width, negatives)") {
    // keys planted ON and AROUND n·PctBucketWidth, plus negatives that
    // share truncating-division bucket 0 with small positives — the
    // shapes where a mis-bucketed cumulative sum would misrank
    val w = RelationalRows.PctBucketWidth
    assertBitEqual(
      Seq(-w - 1, -w, -w + 1, -1L, 0L, 1L, w - 1, w, w + 1, 2 * w, 3 * w - 1, 3 * w)
        .flatMap(v => Seq.fill(3)(v)),
      "bucket boundaries")
    assertBitEqual((0L until 5L).flatMap(b => Seq(b * w, b * w + w / 2)), "sparse buckets")
  }

  test("null cents are ignored, exactly as percentile() ignores them (ADVICE r19)") {
    import spark.implicits._
    val df = Seq[Option[Long]](Some(1L), None, Some(5L), Some(9L), None, Some(9L), Some(20L))
      .toDF("cents")
    assertBitEqualDf(df, "with nulls")
  }

  test("empty and all-null inputs yield a null bracket row (no NPE)") {
    import spark.implicits._
    Seq(Seq.empty[Option[Long]], Seq[Option[Long]](None, None)).foreach { vs =>
      val row = RelationalRows.percentileBrackets(vs.toDF("cents"), pcts).head()
      assert((0 to 2 * pcts.length).forall(row.isNullAt),
        s"expected all-null bracket row for input $vs, got $row")
    }
  }

  test("deterministic pseudo-random multiset") {
    // xorshift values with duplicates (mod squeezes the range)
    var x = 0x9E3779B97F4A7C15L
    val vs = (1 to 5000).map { _ =>
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      math.floorMod(x, 700L)
    }
    assertBitEqual(vs, "xorshift multiset")
  }

  test("real corpus: sf0.001 lineitem cents") {
    val cents = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .select(round(col("l_extendedprice") * lit(100)).cast("long").as("cents"))
      .collect().map(_.getLong(0)).toSeq
    assertBitEqual(cents, "sf0.001 lineitem")
  }
}
