package graft.dedup

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SemanticDeconSpec extends SparkTestBase {

  private def df(rows: Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("flags exactly the vectors within tau of a benchmark vector, with the right match") {
    val bench = Seq(
      10L -> Array(1f, 0f, 0f),
      20L -> Array(0f, 1f, 0f))
    val corpus = df(Seq(
      1L -> Array(0.9f, 0.1f, 0f),   // close to bench 10
      2L -> Array(0.1f, 0.9f, 0f),   // close to bench 20
      3L -> Array(0f, 0f, 1f),       // orthogonal to both
      4L -> Array(0f, 0f, 0f)        // zero vector: cosine undefined, never flagged
    ))
    val out = SemanticDecon.flag(corpus, "vec_id", "embedding", bench, tau = 0.9)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 10L), (2L, 20L)))
  }

  test("argmax ties resolve to the lowest benchmark id (id-sorted contract)") {
    val v = Array(1f, 1f, 0f)
    val bench = Seq(5L -> v, 7L -> v) // identical benchmark vectors
    val out = SemanticDecon.flag(df(Seq(1L -> v)), "vec_id", "embedding", bench, 0.99)
      .collect()
    assert(out.length == 1 && out.head.getLong(1) == 5L)
    intercept[IllegalArgumentException] {
      SemanticDecon.flag(df(Seq(1L -> v)), "vec_id", "embedding", bench.reverse, 0.99)
    }
  }

  test("cosine column equals the direct similarity to the matched benchmark") {
    val bench = Seq(10L -> Array(0.6f, 0.8f, 0f))
    val corpus = df(Seq(1L -> Array(0.8f, 0.6f, 0f)))
    val got = SemanticDecon.flag(corpus, "vec_id", "embedding", bench, 0.5)
      .select("cosine").head().getDouble(0)
    // float literals are not exact in double — compare at float precision
    val want = (0.6 * 0.8 + 0.8 * 0.6) / (1.0 * 1.0) // unit vectors by construction
    assert(math.abs(got - want) < 1e-6)
  }

  test("broadcast route is bit-identical to the literal route on real embeddings") {
    val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val bench = emb.filter(col("vec_id") % 97 === 0)
      .orderBy("vec_id").limit(8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val corpus = emb.filter(col("vec_id") % 97 =!= 0)
    def rows(maxLit: Long) =
      SemanticDecon.flag(corpus, "vec_id", "embedding", bench, 0.2, maxLiteralBytes = maxLit)
        .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val literal = rows(Long.MaxValue)
    val shared = rows(0L) // force the broadcast route
    assert(literal.nonEmpty, "degenerate fixture: nothing flagged")
    assert(shared == literal) // includes the cosine DOUBLES, bit-for-bit
    // the broadcast route must stay join/shuffle-free too
    val plan = SemanticDecon.flag(corpus, "vec_id", "embedding", bench, 0.2, 0L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), s"plan:\n$plan")
  }

  test("zero vectors and argmax ties behave identically on the broadcast route") {
    val v = Array(1f, 1f, 0f)
    val bench = Seq(5L -> v, 7L -> v)
    val corpus = df(Seq(1L -> v, 2L -> Array(0f, 0f, 0f)))
    val out = SemanticDecon.flag(corpus, "vec_id", "embedding", bench, 0.5, maxLiteralBytes = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 5L))) // tie → lowest id; zero vector never flagged
  }

  private def serSize(o: AnyRef): Int = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(o)
    oos.close()
    bos.size
  }

  private def pivotsOf(k: Int): Seq[Array[Float]] =
    (0 until k).map(i => Array.tabulate(64)(j => (i * 64 + j).toFloat))

  test("plan size stays flat in |bench| on the broadcast route, grows on the literal route") {
    import org.apache.spark.sql.GraftBridge
    import graft.functions.PivotSet
    import graft.functions.VectorExpressions._
    def sizeOf(k: Int, maxLiteralBytes: Long): Int = serSize(GraftBridge.expression(
      nearestPivotCosine(col("v"), PivotSet.of(spark, Seq(pivotsOf(k)), maxLiteralBytes))))
    val smallLit = sizeOf(8, Long.MaxValue)
    val bigLit = sizeOf(512, Long.MaxValue)
    assert(bigLit > smallLit + 512 * 64, // literal grows with the matrix (4B/float)
      s"literal route should grow: $smallLit → $bigLit")
    val smallBc = sizeOf(8, 0L)
    val bigBc = sizeOf(512, 0L)
    assert(math.abs(bigBc - smallBc) < 256,
      s"broadcast route must stay flat: $smallBc → $bigBc")
    assert(bigBc < bigLit / 10, s"broadcast ($bigBc) must be far below literal ($bigLit)")
  }

  test("the inline route's projection carries the benchmark matrix once") {
    val corpus = spark.read.parquet(s"${sf()}/embeddings.parquet") // 64-dim
    // every expression of the optimized plan, in one stream: an object
    // both the argmax and the cosine reference is written once
    def planBytes(k: Int): Int = {
      val bench = pivotsOf(k).zipWithIndex.map { case (p, i) => (i.toLong, p) }
      val flagged = SemanticDecon.flag(corpus, "vec_id", "embedding", bench, 0.5, Long.MaxValue)
      serSize(flagged.queryExecution.optimizedPlan.flatMap(_.expressions).toList)
    }
    val floats = (512 - 8) * 64
    val growth = planBytes(512) - planBytes(8)
    info(f"+$growth B for $floats more floats (${growth.toDouble / floats}%.2f B/float)")
    assert(growth >= 4 * floats, s"the matrix must be in the plan: +$growth B for $floats floats")
    assert(growth < 5 * floats, // a second copy would add another ≥ 4 B/float
      s"+$growth B for $floats more floats: the matrix ships more than once")
  }

  test("real embeddings: no join or shuffle in the plan, flags are deterministic") {
    val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val bench = emb.filter(col("vec_id") % 97 === 0)
      .orderBy("vec_id").limit(8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val corpus = emb.filter(col("vec_id") % 97 =!= 0)
    val flagged = SemanticDecon.flag(corpus, "vec_id", "embedding", bench, 0.2)
    val plan = flagged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decon must be shuffle-free:\n$plan")
    assert(!plan.contains("Join"), s"decon must be join-free:\n$plan")
    val a = flagged.orderBy("vec_id").collect().map(_.toSeq).toSeq
    val b = flagged.orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}
