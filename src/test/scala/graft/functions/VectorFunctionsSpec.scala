package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class VectorFunctionsSpec extends SparkTestBase {

  test("codegen dot product matches HOF formulation bit-for-bit on real vectors") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(200)
    val q = e.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val both = e.select(
      VectorFunctions.dotProduct(col("embedding"), typedLit(q)).as("fast"),
      VectorFunctions.dotProductHof(col("embedding"), typedLit(q)).as("hof")
    )
    val rows = both.collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1), s"fast=${r.getDouble(0)} hof=${r.getDouble(1)}"))
  }

  test("one-pass cosine matches the three-sum formulation bit-for-bit on real vectors") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(200)
    val q = e.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val other = e.select(col("embedding").as("other")).limit(1)
    val rows = e.crossJoin(other).select(
      VectorFunctions.cosineSimilarity(col("embedding"), typedLit(q)).as("lit"),
      VectorFunctions.cosineSimilarityHof(col("embedding"), typedLit(q)).as("litRef"),
      VectorFunctions.cosineSimilarity(col("embedding"), col("other")).as("cols"),
      VectorFunctions.cosineSimilarityHof(col("embedding"), col("other")).as("colsRef")
    ).collect()
    assert(rows.nonEmpty)
    def bits(d: Any) = if (d == null) null else java.lang.Double.doubleToLongBits(d.asInstanceOf[Double])
    rows.foreach { r =>
      assert(bits(r.get(0)) == bits(r.get(1)), s"literal query: ${r.get(0)} vs ${r.get(1)}")
      assert(bits(r.get(2)) == bits(r.get(3)), s"column pair: ${r.get(2)} vs ${r.get(3)}")
    }
  }

  test("dot product known values, null propagation, cosine bounds") {
    import spark.implicits._
    val df = Seq(
      (Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)),
      (Seq(1f, 0f), Seq(0f, 1f))
    ).toDF("a", "b")
    val got = df.select(VectorFunctions.dotProduct(col("a"), col("b")).as("d")).as[Double].collect()
    assert(got.toSeq == Seq(32.0, 0.0))

    val withNull = df.select(
      VectorFunctions.dotProduct(lit(null).cast("array<float>"), col("b")).as("d")
    )
    assert(withNull.collect().forall(_.isNullAt(0)))

    val cos = df.select(VectorFunctions.cosineSimilarity(col("a"), col("a")).as("c")).as[Double].collect()
    cos.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("normalize produces unit vectors; zero vector unchanged") {
    import spark.implicits._
    val df = Seq(Seq(3f, 4f), Seq(0f, 0f)).toDF("a")
    val out = df.select(VectorFunctions.l2Norm(VectorFunctions.normalize(col("a"))).as("n")).as[Double].collect()
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(out(1) == 0.0)
  }

  test("codegen normalize matches the HOF formulation bit-for-bit (incl. zero vector, double input)") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(200)
    val rows = e.select(
      VectorFunctions.normalize(col("embedding")).as("fast"),
      VectorFunctions.normalizeHof(col("embedding")).as("hof")
    ).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Double](0) == r.getSeq[Double](1))
    }

    import spark.implicits._
    val edge = Seq(Seq(0.0, 0.0, 0.0), Seq(-1.5, 2.5, 1e-300), Seq(3.0, -4.0, 12.0))
      .toDF("a")
    val er = edge.select(
      VectorFunctions.normalize(col("a")).as("fast"),
      VectorFunctions.normalizeHof(col("a")).as("hof")
    ).collect()
    er.foreach(r => assert(r.getSeq[Double](0) == r.getSeq[Double](1)))
  }

  test("codegen l2DistanceSq matches the HOF formulation bit-for-bit") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(200)
    val q = e.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val rows = e.select(
      VectorFunctions.l2DistanceSq(col("embedding"), typedLit(q)).as("fast"),
      VectorFunctions.l2DistanceSqHof(col("embedding"), typedLit(q)).as("hof")
    ).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))

    // null input propagates
    val withNull = e.limit(1).select(
      VectorFunctions.l2DistanceSq(lit(null).cast("array<float>"), col("embedding")).as("d"))
    assert(withNull.collect().forall(_.isNullAt(0)))
  }

  test("NearestPivotCosine matches the expression-tree argmax bit-for-bit (ties to lowest)") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(300)
    val pivots = e.filter(col("vec_id") < 6).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray).toSeq
    // reference: greatest + first-match when chain over per-pivot cosines
    val cosCols = pivots.map(p =>
      VectorFunctions.cosineSimilarity(col("embedding"), typedLit(p.toSeq)))
    val g = greatest(cosCols: _*)
    val ref = cosCols.zipWithIndex.init.foldRight(lit(pivots.size - 1)) {
      case ((c, i), rest) => when(c === g, lit(i)).otherwise(rest)
    }
    val both = e.select(
      VectorExpressions.nearestPivotCosine(col("embedding"), pivots).as("fast"),
      ref.as("ref"))
    both.collect().foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    // exact-duplicate pivot forces a tie: must pick the lower index
    import spark.implicits._
    val dupPivots = Seq(pivots.head, pivots(1), pivots.head)
    val tied = Seq(Tuple1(pivots.head.toSeq)).toDF("embedding")
      .select(VectorExpressions.nearestPivotCosine(col("embedding"), dupPivots).as("c"))
      .head().getInt(0)
    assert(tied == 0, s"tie must resolve to the lowest pivot index, got $tied")
    // zero vector: deterministic last cluster
    val z = Seq(Tuple1(Seq(0f, 0f))).toDF("embedding")
      .select(VectorExpressions.nearestPivotCosine(col("embedding"),
        Seq(Array(1f, 0f), Array(0f, 1f))).as("c"))
      .head().getInt(0)
    assert(z == 1)
  }

  test("TopPivotsCosine: rank order matches brute force; head equals NearestPivotCosine") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(200)
    val pivots = e.filter(col("vec_id") < 6).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray).toSeq
    val rows = e.select(
      col("vec_id"), col("embedding"),
      VectorExpressions.topPivotsCosine(col("embedding"), pivots, 3).as("top3"),
      VectorExpressions.nearestPivotCosine(col("embedding"), pivots).as("best")).collect()
    def cos(a: Seq[Float], b: Array[Float]): Double = {
      def dot(x: Seq[Float], y: Seq[Float]) = x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      dot(a, b.toSeq) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b.toSeq, b.toSeq)))
    }
    rows.foreach { r =>
      val v = r.getSeq[Float](1)
      val got = r.getSeq[Int](2)
      val expect = pivots.zipWithIndex
        .map { case (p, i) => (i, cos(v, p)) }
        .sortBy { case (i, c) => (-c, i) }.take(3).map(_._1)
      assert(got == expect, s"vec ${r.getLong(0)}: $got vs $expect")
      assert(got.head == r.getInt(3), "head of top-n must equal the single argmax")
    }
  }

  test("GroupedNearestPivotCosine equals per-cell NearestPivotCosine") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(150)
    val mats = (0 until 3).map { c =>
      e.filter(col("vec_id") >= c * 4 && col("vec_id") < c * 4 + 3).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray).toSeq
    }
    val withCell = e.withColumn("cell", (col("vec_id") % 3).cast("int"))
    val got = withCell.select(
      col("vec_id"), col("cell"),
      VectorExpressions.groupedNearestPivotCosine(col("embedding"), col("cell"), mats).as("sub"),
      col("embedding")).collect()
    got.foreach { r =>
      val cell = r.getInt(1)
      val single = spark.createDataFrame(java.util.List.of(r), r.schema)
      // per-cell reference: run NearestPivotCosine with just that cell's matrix
      val ref = single.select(
        VectorExpressions.nearestPivotCosine(col("embedding"), mats(cell)).as("s"))
        .head().getInt(0)
      assert(r.getInt(2) == ref, s"vec ${r.getLong(0)} cell $cell")
    }
  }

  test("BroadcastGroupedNearestPivotCosine is bit-identical to the literal grouped expression") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(150)
    val mats = (0 until 3).map { c =>
      e.filter(col("vec_id") >= c * 4 && col("vec_id") < c * 4 + 3).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray).toSeq
    }
    val withCell = e.withColumn("cell", (col("vec_id") % 3).cast("int"))
      // cell ids outside [0, #cells) must clamp identically on both routes
      .withColumn("cell", when(col("vec_id") === 0, lit(99)).otherwise(col("cell")))
    val bc = VectorExpressions.broadcastGroupedPivots(spark, mats)
    val rows = withCell.select(
      col("vec_id"),
      VectorExpressions.groupedNearestPivotCosine(col("embedding"), col("cell"), mats).as("lit"),
      VectorExpressions.bcastGroupedNearestPivotCosine(col("embedding"), col("cell"), bc).as("bc"))
      .collect()
    rows.foreach(r => assert(r.getInt(1) == r.getInt(2), s"vec ${r.getLong(0)}"))
  }
}
