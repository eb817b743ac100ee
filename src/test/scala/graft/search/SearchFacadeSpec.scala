package graft.search

import graft.SparkTestBase
import graft.embed.HashEmbedder
import org.apache.spark.sql.functions._

class SearchFacadeSpec extends SparkTestBase {

  private val embedder = new HashEmbedder(dim = 64)

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "스파크는 분산 데이터 처리 엔진입니다 조인과 집계를 지원합니다", "korean"),
      (2L, "spark is a distributed engine for joins and aggregation", "english"),
      (3L, "another english document about query optimization and windows", "english"),
      (4L, "한국어 문서 하나 더 검색 품질 테스트용", "korean")
    ).toDF("id", "text", "language")
      .withColumn("embedding", graft.embed.Embedders.embedUdf(embedder)(col("text")))
  }

  test("Q6: query language auto-detect drives the metadata filter") {
    val ko = SearchFacade.search(corpus, "스파크 조인 지원", embedder, k = 2)
    assert(ko.collect().forall(_.getAs[String]("language") == "korean"))
    val en = SearchFacade.search(corpus, "spark joins", embedder, k = 2)
    assert(en.collect().forall(_.getAs[String]("language") == "english"))
  }

  test("Q6: explicit filter overrides detection; no-filter regression returns rows") {
    val explicit = SearchFacade.search(corpus, "spark joins", embedder, k = 2, filterLanguage = Some("korean"))
    assert(explicit.collect().forall(_.getAs[String]("language") == "korean"))
    // reference test_no_filter.py regression: filter off must return rows
    val noFilter = SearchFacade.search(corpus, "spark joins", embedder, k = 4, autoDetectLanguage = false)
    assert(noFilter.count() == 4)
  }

  test("C15 driver-side variant matches Column variant thresholds") {
    assert(SearchFacade.detectQueryLanguageScala("") == "english")
    assert(SearchFacade.detectQueryLanguageScala("한국어 질의입니다") == "korean")
    assert(SearchFacade.detectQueryLanguageScala("hello world") == "english")
    assert(SearchFacade.detectQueryLanguageScala("Xin chào, tôi là người Việt") == "vietnamese")
  }

  test("a session of 200 fresh queries compiles once: no query value reaches the generated code") {
    val dir = java.nio.file.Files.createTempDirectory("graft-search").resolve("store").toString
    corpus.write.parquet(dir)
    val store = spark.read.parquet(dir)
    val english = Seq("spark", "joins", "engine", "window", "query", "plan", "shuffle")
    val korean = Seq("스파크", "조인", "검색", "문서", "품질", "분산")
    val queries = (0 until 200).map { i =>
      val ws = if (i % 2 == 0) english else korean
      (i.toString +: (0 to i % 4).map(j => ws((i + 3 * j) % ws.size))).mkString(" ")
    }
    // the hash embedder's unit vectors share few distinct norms; scaling
    // by the leading query number gives every query its own norm, the
    // value the three-sum cosine folded into the Java source
    val scaled = new graft.embed.Embedder {
      val dim: Int = embedder.dim
      def embed(q: String): Array[Float] =
        embedder.embed(q).map(_ * (1f + q.takeWhile(_.isDigit).toInt / 256f))
    }
    def norm(q: String): Double =
      math.sqrt(scaled.embed(q).foldLeft(0.0)((s, x) => s + x.toDouble * x))
    assert(queries.map(norm).distinct.size == 200)
    def run(q: String): Unit =
      assert(SearchFacade.search(store, q, scaled, k = 2).collect().nonEmpty, q)
    run(queries.head)
    val (_, compiles) = graft.CodegenCount.compilesOf(queries.tail.foreach(run))
    assert(compiles == 0, s"199 queries after the first compiled $compiles classes")
  }

  test("Q7: RAG prompt numbers the top-k context docs") {
    val top = SearchFacade.search(corpus, "spark joins", embedder, k = 2)
    val messages = SearchFacade.ragPrompt(top, "what is spark?")
    assert(messages.length == 2)
    val (role, sys) = messages.head
    assert(role == "system")
    assert(sys.contains("문서 1:"))
    assert(sys.contains("문서 2:"))
    assert(messages(1) == ("user" -> "what is spark?"))
  }

  test("withSearchBatch matches per-query search and releases its checkpoint") {
    val queries = Seq(("ko", "스파크 조인 지원"), ("en", "spark joins"))
    val input = corpus
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val batch = SearchFacade.withSearchBatch(input, queries, embedder, k = 2, extraCols = Seq("id")) {
      _.map { case (tag, hits) =>
        // the batch side must run over materialized blocks, not re-derive
        // the upstream plan: its plan carries a checkpointed scan
        val plan = hits.queryExecution.optimizedPlan.toString
        assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"),
          s"batch search did not materialize the collection:\n$plan")
        tag -> hits.select("id", "language", "score").collect().toSeq
      }
    }
    assert(spark.sparkContext.getPersistentRDDs.size == persistedBefore,
      "withSearchBatch left its checkpointed blocks persisted")
    assert(batch.map(_._1) == queries.map(_._1))
    for (((tag, hits), (_, q)) <- batch.zip(queries)) {
      val naive = SearchFacade.search(input, q, embedder, k = 2)
        .select("id", "language", "score").collect().toSeq
      assert(hits == naive, s"batch result for $tag diverged from per-query search")
    }
  }

  test("Q8: QA battery emits (query, rank, score) rows") {
    implicit val s = spark
    val out = SearchFacade.qaBattery(corpus, Seq("spark joins", "스파크"), embedder, k = 2)
    assert(out.count() == 4)
    assert(out.select("rank").distinct().collect().map(_.getInt(0)).toSet == Set(1, 2))
  }
}
