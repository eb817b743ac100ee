package spinebench

import graft.embed.Embedders
import graft.model.SearchConfig
import graft.search.SearchFacade
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `search`: set-up builds one store with the spine (`Cli all` over a
  * generated HTML tree). One op is a session: open the store with
  * `spark.read.parquet(store)`, then run [[SessionQueries]] consecutive
  * fresh queries through `SearchFacade.search(...).collect()` against
  * it, which is `Cli search` without printing. The stream is fixed by
  * the seed: warm-up queries first, then timed queries, no query twice.
  *
  * Why sessions: a query whose vector norm has no generated class in the
  * codegen cache pays for new classes (the norm is folded into the
  * generated code as a literal), so single-query latency has two modes,
  * and with most queries compiling its median lands on either from run
  * to run; a session's latency averages the two.
  */
final class SearchWorkload(spark: SparkSession, seed: Long, work: Path, tracer: Option[Tracer]) extends Workload {
  val CorpusFiles = 120
  /** Untimed warm-up queries after the last set-up round. */
  val WarmupQueries = 48
  val SessionQueries = 8
  /** Timed queries over which per-query codegen counts are reported. */
  val CodegenPrefix = 24
  val K: Int = SearchConfig().defaultK
  private val spine = new Spine(spark)
  private val tree = Corpus.tree(seed, "html", CorpusFiles)
  private val stream = Corpus.queries(seed, 5000)
  private var store: String = _
  private var index: Checks.ExactIndex = _

  /** Codegen compiles of each timed query, in stream order. */
  private val compiles = Seq.newBuilder[Double]
  private val compileMs = Seq.newBuilder[Double]

  def itemsPerOp: Int = SessionQueries
  /** One store build: the timed ops need the query path warm, which the
    * warm-up queries do, not the build path.
    */
  def setupRounds: Int = 1
  def minOps: Int = 3

  def setupRound(round: Int): Unit = {
    // one tree path for every round, as in the etl workload
    Spine.deleteTree(work.resolve("tree"))
    tree.write(work.resolve("tree"))
    val input = work.resolve("tree").toString
    val w = work.resolve(s"store$round").toString
    tracer match {
      case Some(tr) =>
        spine.traced(tr, "html", input, w)
        spine.cleanAndLang(tr, "html", input)
      case _ => spine.cliAll("html", input, w)
    }
    store = s"$w/store"
    index = Checks.exactIndex(spark.read.parquet(store))
  }

  override def warmUp(): Unit = {
    val opened = spark.read.parquet(store)
    stream.take(WarmupQueries).foreach(q => SearchFacade.search(opened, q.text, Embedders.default, K).collect())
  }

  private def query(store: DataFrame, q: String, tr: Option[Tracer]): Seq[Row] = {
    def search() = SearchFacade.search(store, q, Embedders.default, K)
    tr match {
      case None => search().collect().toSeq
      case Some(t) =>
        t.span("query") {
          t.count("search.query_chars", q.length.toDouble)
          val lang = t.span("search.lang") { SearchFacade.detectQueryLanguageScala(q) }
          t.count("search.korean", if (lang == "korean") 1 else 0)
          t.span("embed.query") { Embedders.default.embed(q) }
          val df = t.span("search.plan") { val d = search(); d.queryExecution.executedPlan; d }
          val rows = t.span("search.exec") { df.collect().toSeq }
          t.count("search.results", rows.size.toDouble)
          rows
        }
    }
  }

  def op(i: Int, tr: Option[Tracer]): () => Either[String, Unit] = {
    val qs = stream.slice(WarmupQueries + i * SessionQueries, WarmupQueries + (i + 1) * SessionQueries)
    def session() = {
      val opened = spark.read.parquet(store)
      qs.map { q =>
        val (c0, ns0) = (Jvm.codegenCompiles, Jvm.codegenNs)
        val hits = query(opened, q.text, tr)
        compiles += (Jvm.codegenCompiles - c0).toDouble
        compileMs += (Jvm.codegenNs - ns0) / 1e6
        q -> hits
      }
    }
    val results = tr.fold(session())(_.span("op")(session()))
    () => results.iterator.map { case (q, hits) =>
      Checks.search(hits, Embedders.default.embed(q.text), q.language, SearchFacade.detectQueryLanguageScala(q.text),
        K, index).left.map(e => s"query '${q.text}': $e")
    }.find(_.isLeft).getOrElse(Right(()))
  }

  override def perLayer(tr: Tracer, tracedOps: Int): Seq[(String, Double)] =
    Layers.spine(tr, 1, tree.files.size, tree.bytes) ++ Layers.search(tr) ++ Seq(
      // over a fixed prefix of the stream, so a seed repeats it exactly
      "search.codegen_compiles_per_query" -> mean(compiles.result().take(CodegenPrefix)),
      "search.codegen_ms_per_query" -> mean(compileMs.result().take(CodegenPrefix)))

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
