package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SkewToolsSpec extends SparkTestBase {

  test("salted join matches plain join results on skewed data") {
    import spark.implicits._
    // hot key: 10k rows on key 1, few on others
    val large = ((1 to 10000).map(i => (1L, s"row$i")) ++ Seq((2L, "x"), (3L, "y")))
      .toDF("k", "payload")
    val dim = Seq((1L, "hot"), (2L, "warm"), (3L, "cool"), (4L, "unused")).toDF("k", "label")

    val plain = large.join(dim, Seq("k")).groupBy("label").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SkewTools.saltedJoin(large, dim, Seq("k"), factor = 8).groupBy("label").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(salted("hot") == 10000L)
  }

  test("salted join fails on a Long key outside the packed-key bound") {
    import spark.implicits._
    // 2^62 · 4 wraps to 0 in a long, the packed key of k = 0
    val large = Seq((1L << 62, "big"), (0L, "zero")).toDF("k", "payload")
    val dim = Seq((1L << 62, "big"), (0L, "zero")).toDF("k", "label")
    val e = intercept[Exception](SkewTools.saltedJoin(large, dim, Seq("k"), factor = 4).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msgs.contains(s"key column k outside the packed-key bound |key| < ${Long.MaxValue / 4}"), msgs)
  }

  test("salted collect_list aggregation preserves the multiset per key") {
    import spark.implicits._
    val df = ((1 to 500).map(i => ("hot", i)) ++ Seq(("cold", 1))).toDF("k", "v")
    val out = SkewTools.saltedAgg(
      df,
      Seq("k"),
      factor = 4,
      partial = Seq(collect_list(col("v")).as("vs")),
      merge = Seq(flatten(collect_list(col("vs"))).as("vs"))
    )
    val got = out.collect().map(r => r.getString(0) -> r.getSeq[Int](1).sorted).toMap
    assert(got("hot") == (1 to 500).toSeq)
    assert(got("cold") == Seq(1))
  }
}
