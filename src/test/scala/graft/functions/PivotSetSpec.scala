package graft.functions

import graft.{CodegenCount, SparkTestBase}
import org.apache.spark.sql.functions._

class PivotSetSpec extends SparkTestBase {

  private def embeddings =
    spark.read.parquet(s"${sf()}/embeddings.parquet").filter(col("vec_id") < 120)

  private def vectorsOf(lo: Int, hi: Int): Seq[Array[Float]] =
    embeddings.filter(col("vec_id") >= lo && col("vec_id") < hi).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray).toSeq

  test("cosine-at is bit-identical to the cosine against the looked-up pivot, on both forms") {
    val pivots = vectorsOf(0, 5)
    val mat = array(pivots.map(p => typedLit(p.toSeq)): _*)
    val e = embeddings.withColumn("idx", (col("vec_id") % 5).cast("int"))
    val rows = e.select(
      VectorFunctions.cosineSimilarity(col("embedding"), element_at(mat, col("idx") + 1)),
      VectorExpressions.pivotCosine(col("embedding"), col("idx"),
        PivotSet.of(spark, Seq(pivots), maxLiteralBytes = Long.MaxValue)),
      VectorExpressions.pivotCosine(col("embedding"), col("idx"),
        PivotSet.of(spark, Seq(pivots), maxLiteralBytes = 0L))).collect()
    assert(rows.length == 120)
    rows.foreach { r =>
      val want = java.lang.Double.doubleToLongBits(r.getDouble(0))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) == want, r.toString)
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) == want, r.toString)
    }
    val outside = e.limit(1).select(VectorExpressions.pivotCosine(
      col("embedding"), lit(5), PivotSet.of(spark, Seq(pivots)))).head()
    assert(outside.isNullAt(0), "an index outside the set scores null")
  }

  test("each pivot expression compiles once per plan shape, whatever the values or the form") {
    val e = embeddings.withColumn("cell", (col("vec_id") % 3).cast("int"))
    def run(flat: PivotSet, grouped: PivotSet): Unit =
      assert(e.select(
        VectorExpressions.nearestPivotCosine(col("embedding"), flat),
        VectorExpressions.topPivotsCosine(col("embedding"), flat, 2),
        VectorExpressions.nearestPivotCosine(col("embedding"), grouped, col("cell")),
        VectorExpressions.pivotCosine(col("embedding"), col("cell"), flat)).collect().length == 120)
    def sets(lo: Int, maxLiteralBytes: Long): (PivotSet, PivotSet) = {
      val v = vectorsOf(lo, lo + 6)
      (PivotSet.of(spark, Seq(v.take(4)), maxLiteralBytes),
        PivotSet.of(spark, Seq(v.take(2), v.slice(2, 4), v.drop(4)), maxLiteralBytes))
    }
    val (flatA, groupedA) = sets(0, Long.MaxValue)
    val (_, first) = CodegenCount.compilesOf(run(flatA, groupedA))
    assert(first > 0, "the projection must be compiled, not interpreted")
    val (flatB, groupedB) = sets(10, Long.MaxValue)
    assert(flatB != flatA && groupedB != groupedA)
    val (_, otherValues) = CodegenCount.compilesOf(run(flatB, groupedB))
    assert(otherValues == 0, s"a second pivot set of the same shape compiled $otherValues classes")
    val (flatBc, groupedBc) = sets(0, 0L)
    assert(flatBc.isInstanceOf[PivotSet.Broadcasted] && groupedBc.isInstanceOf[PivotSet.Broadcasted])
    val (_, otherForm) = CodegenCount.compilesOf(run(flatBc, groupedBc))
    assert(otherForm == 0, s"the broadcast form compiled $otherForm classes")
  }

  test("a stack above the threshold is broadcast once; inline sets are equal by value") {
    val big = Seq(Seq.tabulate(300)(i => Array.fill(1024)(i.toFloat)))
    assert(big.flatten.map(_.length * 4L).sum > PivotSet.MaxLiteralBytes)
    (PivotSet.of(spark, big), PivotSet.of(spark, big)) match {
      case (PivotSet.Broadcasted(a), PivotSet.Broadcasted(b)) =>
        assert(a.id == b.id, s"two calls on one stack made broadcasts ${a.id} and ${b.id}")
      case other => fail(s"a stack above the threshold must be broadcast: $other")
    }
    val small = Seq(Seq(Array(1f, 2f), Array(3f, 4f)))
    val copy = small.map(_.map(_.clone()))
    val (a, b) = (PivotSet.of(spark, small), PivotSet.of(spark, copy))
    assert(a.isInstanceOf[PivotSet.Inline] && a == b && a.hashCode == b.hashCode)
    assert(a != PivotSet.of(spark, Seq(Seq(Array(1f, 2f), Array(3f, 5f)))))
  }
}
