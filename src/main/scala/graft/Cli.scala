package graft

import graft.clean.TextCleaner
import graft.embed.Embedders
import graft.quality.QualityMonitor
import graft.search.SearchFacade
import graft.sources.DocumentSource
import graft.store.VectorStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage runner — the reference CLI's surface (main.py:466-559:
  * extract / transform / load / validate / search / reset / all) on
  * Spark, with parquet checkpoints where the reference pickles
  * (S9). A reference user's `python main.py --stage all` becomes
  * `runMain graft.Cli all --input <docs dir> --work <dir>`.
  *
  * The stages run the spine's definitions ([[Pipeline]]): extract loads
  * the `--source` kind through [[DocumentSource]], and load writes one
  * collection per folder for every kind. Each stage has one body that
  * takes its input frame and returns its checkpoint read back with the
  * schema it was written with. `all` hands each checkpoint straight to
  * the next body, so no stage infers a parquet schema; a standalone
  * `transform`, `load` or `validate` reads its input from the work dir,
  * infers that one schema, and refuses a checkpoint that lacks a column
  * its body reads (one written by an older build), naming the stage to
  * rerun.
  *
  * Usage:
  *   graft.Cli <stage> [--input DIR] [--work DIR] [--query TEXT]
  *             [--collection NAME] [--k N] [--source html|hwp|hwpx]
  */
object Cli {

  final case class Args(
      stage: String,
      input: String = "",
      work: String = "/tmp/graft-work",
      query: String = "",
      collection: String = "",
      k: Int = 3,
      source: String = "html"
  )

  private val Stages: Seq[String] = Seq("extract", "transform", "load", "validate", "search", "reset", "all")

  /** Rejects a bad command line before any session starts. */
  private[graft] def parse(argv: Array[String]): Args = {
    require(argv.nonEmpty, s"stage required: ${Stages.mkString("|")}")
    if (!Stages.contains(argv.head))
      throw new IllegalArgumentException(s"unknown stage ${argv.head}: expected ${Stages.mkString("|")}")
    var a = Args(stage = argv.head)
    var i = 1
    while (i < argv.length) {
      val flag = argv(i)
      def value: String =
        if (i + 1 < argv.length) argv(i + 1)
        else throw new IllegalArgumentException(s"flag $flag needs a value")
      a = flag match {
        case "--input" => a.copy(input = value)
        case "--work" => a.copy(work = value)
        case "--query" => a.copy(query = value)
        case "--collection" => a.copy(collection = value)
        case "--k" =>
          val v = value
          a.copy(k = v.toIntOption.filter(_ >= 1).getOrElse(
            throw new IllegalArgumentException(s"flag --k needs an integer >= 1, got '$v'")))
        case "--source" =>
          val v = value
          if (!DocumentSource.kinds.contains(v))
            throw new IllegalArgumentException(
              s"flag --source needs one of ${DocumentSource.kinds.keys.mkString("|")}, got '$v'")
          a.copy(source = v)
        case other => throw new IllegalArgumentException(s"unknown flag $other")
      }
      i += 2
    }
    a
  }

  private def documentsPath(a: Args) = s"${a.work}/documents"
  private def chunksPath(a: Args) = s"${a.work}/chunks"
  private def storePath(a: Args) = s"${a.work}/store"

  /** Writes `df` to `path` and reads it back with the schema it was
    * written with: the read lists the files and runs no schema-inference
    * job.
    */
  private def checkpoint(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** The document columns `load` reads; `transform` carries them from
    * documents into chunks, so it asks its input for them too.
    */
  private val LoadReads = Seq("text", "source", "filename", "language", "folder_name")

  /** A standalone stage's input: the checkpoint at `path`, written by
    * stage `writer`, which must hold every column in `reads`.
    */
  private def input(spark: SparkSession, stage: String, path: String, writer: String, reads: String*): DataFrame = {
    val df = spark.read.parquet(path)
    val missing = reads.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"$stage: checkpoint $path lacks column(s) ${missing.mkString(", ")}; rerun $writer to rewrite it")
    df
  }

  def extract(spark: SparkSession, a: Args): DataFrame =
    checkpoint(DocumentSource.load(spark, a.input, DocumentSource.kinds(a.source)), documentsPath(a))

  def transform(spark: SparkSession, a: Args): DataFrame =
    transformFrom(input(spark, "transform", documentsPath(a), "extract", LoadReads: _*), a)

  private def transformFrom(docs: DataFrame, a: Args): DataFrame =
    checkpoint(Pipeline.chunks(docs), chunksPath(a))

  def load(spark: SparkSession, a: Args): DataFrame =
    loadFrom(input(spark, "load", chunksPath(a), "transform", LoadReads: _*), a)

  private def loadFrom(chunks: DataFrame, a: Args): DataFrame =
    new VectorStore(storePath(a))
      .writePartitioned(TextCleaner.capForStore(Pipeline.embedded(chunks)), "folder_name", Pipeline.CollectionPrefix)

  def validate(spark: SparkSession, a: Args): DataFrame =
    validateFrom(input(spark, "validate", storePath(a), "load", "chunk_size_tokens"))

  private def validateFrom(store: DataFrame): DataFrame = {
    val report = QualityMonitor.report(store, "chunk_size_tokens")
    report.show(truncate = false)
    report
  }

  def search(spark: SparkSession, a: Args): DataFrame = {
    val all = spark.read.parquet(storePath(a))
    val scoped =
      if (a.collection.nonEmpty) all.filter(col("collection") === a.collection) else all
    val results = SearchFacade.search(scoped, a.query, Embedders.default, a.k)
    results.show(truncate = false)
    results
  }

  def reset(a: Args): Unit = {
    new VectorStore(storePath(a)).dropAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(documentsPath(a)))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(chunksPath(a)))
  }

  def run(spark: SparkSession, a: Args): Unit = a.stage match {
    case "extract" => extract(spark, a)
    case "transform" => transform(spark, a)
    case "load" => load(spark, a)
    case "validate" => validate(spark, a)
    case "search" => search(spark, a)
    case "reset" => reset(a)
    case "all" => validateFrom(loadFrom(transformFrom(extract(spark, a), a), a))
    case other => throw new IllegalArgumentException(s"unknown stage $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = Sessions.start(s"graft-${a.stage}")
    try run(spark, a)
    finally spark.stop()
  }
}
