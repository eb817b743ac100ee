package spinebench

import graft.Cli
import graft.chunk.Chunker
import graft.clean.TextCleaner
import graft.dedup.Dedup
import graft.embed.Embedders
import graft.lang.LanguageDetect
import graft.model.ChunkerConfig
import graft.quality.QualityMonitor
import graft.sources.{HtmlLoader, HwpLoader}
import graft.store.VectorStore
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The spine over a generated source tree: loader → clean → language →
  * chunk → dedup → embed → store → quality, composed as `Cli all` does
  * it (extract / transform / load / validate with parquet between
  * stages).
  */
final class Spine(spark: SparkSession) {

  /** `Cli all` for one source kind, its printed report discarded. */
  def cliAll(kind: String, input: String, work: String): Unit =
    Console.withOut(Spine.discard) {
      Cli.run(spark, Cli.Args("all", input = input, work = work, source = kind))
    }

  private def loader(kind: String, input: String): DataFrame = kind match {
    case "html" => HtmlLoader.load(spark, input)
    case "hwpx" => HwpLoader.loadHwpx(spark, input)
  }

  /** The same composition with a span around the call into each layer.
    * Layers that Spark would fuse are materialized to parquet between
    * spans, so each span holds its own layer's work; the extra writes
    * are part of the tracing overhead.
    */
  def traced(tr: Tracer, kind: String, input: String, work: String): Unit = {
    val docs = s"$work/documents"
    val raw = s"$work/chunks_raw"
    val chunks = s"$work/chunks"
    val embedded = s"$work/embedded"
    val store = s"$work/store"
    tr.span("sources") { loader(kind, input).write.mode("overwrite").parquet(docs) }
    tr.span("chunk") {
      Chunker.explodeChunks(spark.read.parquet(docs), "text", "source", ChunkerConfig.default)
        .write.mode("overwrite").parquet(raw)
    }
    tr.span("dedup") {
      Dedup.exactDedup(spark.read.parquet(raw), "text", Seq("source", "chunk_index"))
        .write.mode("overwrite").parquet(chunks)
    }
    tr.span("embed") {
      Embedders.withEmbedding(spark.read.parquet(chunks), "text", "embedding", Embedders.default)
        .write.mode("overwrite").parquet(embedded)
    }
    tr.span("store") {
      val e = spark.read.parquet(embedded)
      val folderCol = if (e.columns.contains("folder_name")) "folder_name" else "language"
      new VectorStore(store).writePartitioned(e, folderCol, "docs_")
    }
    val (files, bytes) = Spine.parquetFiles(store)
    tr.span("quality") { QualityMonitor.report(spark.read.parquet(store), "chunk_size_tokens").collect() }
    tr.last("store").foreach { s =>
      s.add("store.files_written", files.toDouble)
      s.add("store.bytes_written", bytes.toDouble)
    }
  }

  /** Times the cleaner and the language detector alone on the loader's
    * own input: the extracted raw text is materialized untimed first.
    * Adds `clean` and `lang` spans and the cleaner's char counts.
    */
  def cleanAndLang(tr: Tracer, kind: String, input: String): Unit = {
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", if (kind == "html") "*.{html,jsp}" else "*.hwpx")
      .option("recursiveFileLookup", "true").load(input)
    val rawText = kind match {
      case "html" => HtmlLoader.extract(col("content").cast("string")).getField("_1")
      case "hwpx" => Spine.hwpxText(col("content"))
    }
    val raw = files.select(rawText.as("raw_text")).filter(col("raw_text").isNotNull).localCheckpoint()
    val clean: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (kind == "html") TextCleaner.cleanText else TextCleaner.cleanHwpText
    // each job runs once untimed first, so the timed run is as warm as
    // the loader's own
    def charCounts() = {
      val r = raw.agg(sum(length(col("raw_text"))), sum(length(clean(col("raw_text"))))).head()
      (r.getLong(0), r.getLong(1))
    }
    charCounts()
    val (charsIn, charsOut) = tr.span("clean")(charCounts())
    tr.last("clean").foreach { s => s.add("clean.chars_in", charsIn.toDouble); s.add("clean.chars_out", charsOut.toDouble) }
    val cleaned = raw.select(clean(col("raw_text")).as("text")).localCheckpoint()
    def detect() = cleaned.agg(max(LanguageDetect.detectContentLanguage(col("text")))).head()
    detect()
    tr.span("lang")(detect())
    raw.unpersist(); cleaned.unpersist()
  }
}

object Spine {
  val discard = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())

  private val hwpxText = udf((b: Array[Byte]) => HwpLoader.extractHwpx(b).text)

  /** (files, bytes) of the parquet data files under `dir`. */
  def parquetFiles(dir: String): (Int, Long) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val fs = s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
      (fs.size, fs.map(Files.size(_)).sum)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}

/** `etl`: one op is `Cli all` over the generated tree, once with
  * `--source html` and once with `--source hwpx`, each into a fresh
  * work directory.
  */
final class EtlWorkload(spark: SparkSession, seed: Long, work: Path) extends Workload {
  val HtmlFiles = 80
  val HwpxFiles = 40
  private val spine = new Spine(spark)
  private val trees = Seq("html" -> HtmlFiles, "hwpx" -> HwpxFiles)
    .map { case (k, n) => k -> Corpus.tree(seed, k, n) }.toMap
  private val digests = scala.collection.mutable.Map.empty[String, Long]

  def itemsPerOp: Int = HtmlFiles + HwpxFiles
  /** A cold pass, then two warm ones over the same code path as the ops:
    * with one warm pass the first op still ran 10–20 % slower than
    * the rest, and with two or three ops per run that moved the median.
    */
  def setupRounds: Int = 3
  def minOps: Int = 3

  // Every round writes the tree to the same path: the loader folds the
  // input directory into its generated code, so a new path per round
  // would add classes to the codegen cache that the timed ops never use.
  private val root = work.resolve("tree")

  def setupRound(round: Int): Unit = {
    Spine.deleteTree(root)
    trees.foreach { case (k, t) => t.write(root.resolve(k)) }
    Seq("html", "hwpx").foreach(k => spine.cliAll(k, input(k), work.resolve(s"warm$round").resolve(k).toString))
    Spine.deleteTree(work.resolve(s"warm$round"))
  }

  private def input(kind: String) = root.resolve(kind).toString

  def op(i: Int, tracer: Option[Tracer]): () => Either[String, Unit] = {
    val out = work.resolve(f"op$i%05d")
    tracer match {
      case None => Seq("html", "hwpx").foreach(k => spine.cliAll(k, input(k), out.resolve(k).toString))
      case Some(tr) =>
        tr.span("op") {
          Seq("html", "hwpx").foreach { k =>
            spine.traced(tr, k, input(k), out.resolve(k).toString)
          }
        }
    }
    () => {
      val res = Seq("html", "hwpx").iterator.map { k =>
        val w = out.resolve(k).toString
        val s = Checks.summarize(spark.read.parquet(s"$w/store"))
        val chunkRows = spark.read.parquet(s"$w/chunks").count()
        Checks.etl(s, chunkRows, trees(k), input(k), digests.get(k)).map { d => digests.getOrElseUpdate(k, d); () }
          .left.map(e => s"$k: $e")
      }.find(_.isLeft).getOrElse(Right(()))
      Spine.deleteTree(out)
      res
    }
  }

  /** Untimed side measurements after the timed ops: the cleaner and the
    * language detector alone on the same trees.
    */
  override def sideMeasurements(tr: Tracer): Unit =
    Seq("html", "hwpx").foreach(k => spine.cleanAndLang(tr, k, input(k)))

  override def perLayer(tr: Tracer, tracedOps: Int): Seq[(String, Double)] =
    Layers.spine(tr, tracedOps, trees.valuesIterator.map(_.files.size).sum, trees.valuesIterator.map(_.bytes).sum) ++
      // this workload runs no query: the search layers read 0
      Layers.search(tr) ++ Seq("search.codegen_compiles_per_query" -> 0.0, "search.codegen_ms_per_query" -> 0.0)
}
