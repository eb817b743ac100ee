package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Whole-catalog interpreted-vs-codegen differential for the custom
  * Catalyst expressions (r18): every expression ships BOTH a
  * `nullSafeEval` (interpreted) and a `doGenCode` body, and only the
  * codegen path runs under the default configuration — the
  * interpreted twin executes on codegen fallback (compilation
  * failure, 64KB method limits on wide plans) and inside the
  * optimizer's constant folding, where a divergence would grade WRONG
  * silently. BloomExpressionsSpec pinned this for the bloom probe;
  * this spec pins the whole vector family plus RegexChain by running
  * the SAME frame through both engine modes
  * (`spark.sql.codegen.factoryMode=NO_CODEGEN` +
  * `spark.sql.codegen.wholeStage=false`) and comparing BIT patterns
  * (doubleToLongBits/floatToIntBits), not values — so a −0.0/0.0 or
  * canonical-NaN difference also fails.
  *
  * The frame includes the adversarial corners: a zero vector (the
  * normalize guard), negative components, subnormals, and a NaN
  * component (argmax comparison semantics around NaN are exactly
  * where an eval `>` vs codegen `>` asymmetry would hide).
  */
class EvalCodegenDifferentialSpec extends SparkTestBase {

  private def bits(v: Any): String = v match {
    case null => "null"
    case d: java.lang.Double => java.lang.Double.doubleToLongBits(d).toString
    case f: java.lang.Float => java.lang.Float.floatToIntBits(f).toString
    case s: scala.collection.Seq[_] => s.map(bits).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(bits).mkString("(", ",", ")")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case x => String.valueOf(x)
  }

  private val pivots: Seq[Array[Float]] = Seq(
    Array(1f, 0f, 0f, 0f, 0f, 0f),
    Array(0.5f, 0.5f, -0.5f, 0.5f, 0f, 0f),
    Array(-1f, 2f, -3f, 4f, -5f, 6f),
    Array(0.1f, 0.2f, 0.3f, 0.4f, 0.5f, 0.6f))
  private val matrices: Seq[Seq[Array[Float]]] =
    Seq(pivots.take(2), pivots.drop(2))

  private def frame: DataFrame = {
    import spark.implicits._
    Seq(
      (Array(1f, 2f, 3f, 4f, 5f, 6f), Array(6f, 5f, 4f, 3f, 2f, 1f), 0),
      (Array(-1f, -2f, 3f, -4f, 5f, -6f), Array(1f, 1f, 1f, 1f, 1f, 1f), 1),
      (Array(0f, 0f, 0f, 0f, 0f, 0f), Array(1f, 2f, 3f, 4f, 5f, 6f), 0), // zero vector
      (Array(1e-40f, -1e-40f, 1e38f, -1e38f, 0.5f, -0.5f),
        Array(2f, 2f, 2f, 2f, 2f, 2f), 1), // subnormals + near-overflow
      (Array(Float.NaN, 1f, 2f, 3f, 4f, 5f), Array(1f, 0f, 0f, 0f, 0f, 0f), 0)
    ).toDF("a", "b", "cell")
  }

  private def projected(df: DataFrame): DataFrame = {
    val mns = array((0 until 6).map(_ => lit(-6.0)): _*)
    val mxs = array((0 until 6).map(_ => lit(6.0)): _*)
    val bc = VectorExpressions.broadcastPivots(spark, pivots)
    val gbc = VectorExpressions.broadcastGroupedPivots(spark, matrices)
    df.select(
      VectorFunctions.dotProduct(col("a"), col("b")).as("dot"),
      VectorFunctions.l2DistanceSq(col("a"), col("b")).as("l2sq"),
      VectorFunctions.normalize(col("a")).as("norm"),
      VectorFunctions.cosineSimilarity(col("a"), col("b")).as("cos"),
      VectorExpressions.nearestPivotCosine(col("a"), pivots).as("np"),
      VectorExpressions.topPivotsCosine(col("a"), pivots, 3).as("top3"),
      VectorExpressions.groupedNearestPivotCosine(col("a"), col("cell"), matrices).as("gnp"),
      VectorExpressions.bcastNearestPivotCosine(col("a"), bc).as("bnp"),
      VectorExpressions.bcastPivotCosine(col("a"), col("cell"), bc).as("bpc"),
      VectorExpressions.bcastGroupedNearestPivotCosine(col("a"), col("cell"), gbc).as("bgnp"),
      VectorExpressions.sq8Encode(col("a"), mns, mxs).as("sq8"),
      VectorExpressions.sq8Decode(
        VectorExpressions.sq8Encode(col("a"), mns, mxs), mns, mxs).as("sq8rt"),
      RegexChain(col("a").cast("string"), graft.clean.TextCleaner.BatteryStages).as("chain")
    )
  }

  private def render(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => bits(r))

  /** `body` evaluated with codegen off (interpreted expressions only). */
  private def interpreted[T](body: => T): T = {
    val priorFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val priorWhole = spark.conf.getOption("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try body
    finally {
      priorFactory.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
      priorWhole.fold(spark.conf.unset("spark.sql.codegen.wholeStage"))(
        spark.conf.set("spark.sql.codegen.wholeStage", _))
    }
  }

  private def divergence(left: Seq[String], right: Seq[String]): String =
    left.zip(right).zipWithIndex
      .collect { case ((l, r), n) if l != r => s"  row $n:\n    $l\n    $r" }
      .mkString("\n")

  test("interpreted eval is bit-identical to codegen across the expression catalog") {
    val codegen = render(projected(frame))
    assert(codegen.nonEmpty && codegen.exists(_.contains("(")), "collect broke")
    val interp = interpreted(render(projected(frame)))
    assert(interp == codegen, "eval/codegen divergence (interpreted, then codegen):\n" +
      divergence(interp, codegen))
  }

  test("one-pass cosine is bit-identical to the three-sum form in both engine modes") {
    import spark.implicits._
    val q = Seq(0.25f, -1f, 3f, 0.5f, 2f, -0.75f)
    val df = Seq[(Array[Float], Array[Float], Array[Double], Array[Double])](
      (Array(1f, 2f, 3f, 4f, 5f, 6f), Array(6f, 5f, 4f, 3f, 2f, 1f),
        Array(0.1, -0.2, 0.3, 1e-300, 7.0, 0.5), Array(3.0, 1.0, -2.0, 4.0, 0.0, 9.0)),
      // mismatched lengths: dot over the common prefix, norms over each full side
      (Array(1f, -2f, 3f, 4f, 5f, 6f, 7f), Array(0.5f, 0.5f, 0.5f),
        Array(2.0, 3.0), Array(1.5, -2.5, 3.5, 4.5, 5.5)),
      // zero vectors: null
      (Array(0f, 0f, 0f, 0f, 0f, 0f), Array(1f, 2f, 3f, 4f, 5f, 6f),
        Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0)),
      // null inputs: null
      (null, Array(1f, 2f, 3f, 4f, 5f, 6f), Array(1.0, 2.0, 3.0), null),
      (Array(1e-40f, -1e-40f, 1e38f, -1e38f, 0.5f, Float.NaN), Array(2f, 2f, 2f, 2f, 2f, 2f),
        Array(1e-320, 1e300, -1e300), Array(1e-320, 3.0, 4.0))
    ).toDF("f1", "f2", "d1", "d2")
    val pairs = Seq("f1" -> "f2", "f1" -> "d1", "d2" -> "f2", "d1" -> "d2", "f2" -> "f2")
    def cosines(f: (Column, Column) => Column) =
      render(df.select(pairs.map { case (a, b) => f(col(a), col(b)) } :+
        f(col("f1"), typedLit(q)) :+ f(typedLit(q), col("d1")): _*))
    val fused = cosines(VectorFunctions.cosineSimilarity)
    val threeSum = cosines(VectorFunctions.cosineSimilarityHof)
    assert(fused == threeSum, "codegen (fused, then three-sum):\n" + divergence(fused, threeSum))
    assert(fused(2).startsWith("(null,") && fused(3).startsWith("(null,"),
      s"a zero vector and a null input must score null: $fused")
    val (fusedI, threeSumI) = interpreted((cosines(VectorFunctions.cosineSimilarity),
      cosines(VectorFunctions.cosineSimilarityHof)))
    assert(fusedI == threeSumI, "interpreted (fused, then three-sum):\n" + divergence(fusedI, threeSumI))
    assert(fusedI == fused, "fused (interpreted, then codegen):\n" + divergence(fusedI, fused))
  }
}
