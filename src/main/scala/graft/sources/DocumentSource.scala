package graft.sources

import graft.Pipeline
import graft.clean.TextCleaner
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** The one file → document source (reference html_loader.py and
  * hwp_loader.py, SURVEY.md §2.1 S1-S8). The built-in `binaryFile`
  * source provides the recursive scan, path, size and mtime columns (S3)
  * with splittable parallel reads; a [[DocumentSource.Kind]] supplies
  * only its glob, its bytes → struct parse and its cleaner.
  *
  * Every kind emits the same leading columns (FIXTURES.md §1) —
  * `source, filename, folder_name, file_type, file_size, modified_time`
  * — then its own parsed fields, then `text, char_count, language` from
  * the spine's clean → language → S8 step ([[graft.Pipeline.documents]]).
  * Per-file error isolation (O9): a parse that throws or finds no text
  * yields null and drops the file, never the job.
  */
object DocumentSource {

  /** One source kind. `parse` is a [[parser]] whose struct's first field
    * is the raw text; `fields` selects the kind's own columns from it.
    */
  final case class Kind(
      glob: String,
      parse: UserDefinedFunction,
      clean: Column => Column,
      fields: Column => Seq[Column]
  )

  /** The parse of a kind as a UDF over the file bytes: null when it
    * throws or its text (first field) is null (O9).
    *
    * Nondeterministic (r19): the O9 isNotNull filter otherwise copies
    * the whole parse into a pushed-down predicate, so every kept file
    * paid the parse twice (plan-verified, ~2x the q_html_load scan-stage
    * CPU; the CFB parse likewise).
    *
    * CONTRACT for consumers (ADVICE r19): the marking is a deliberate
    * library-wide trade — it pins evaluation count and placement, but
    * also stops the optimizer pushing OTHER filters past this UDF and
    * disables common-subexpression/constant folding through it. Do not
    * rely on predicate pushdown through parsed columns; if a future
    * caller needs pushdown more than single evaluation, expose a
    * deterministic variant rather than unmarking this one.
    */
  private def parser[T <: Product: TypeTag](parse: Array[Byte] => T): UserDefinedFunction =
    udf { (bytes: Array[Byte]) =>
      try {
        val p = if (bytes == null) null.asInstanceOf[T] else parse(bytes)
        if (p == null || p.productElement(0) == null) null.asInstanceOf[T] else p
      } catch { case _: Throwable => null.asInstanceOf[T] }
    }.asNondeterministic()

  val Html: Kind = Kind(
    "*.{html,jsp}",
    parser(bytes => HtmlLoader.parse(new String(bytes, "UTF-8"))),
    TextCleaner.cleanText,
    p => Seq(
      p("_2").as("title"),
      p("_3").as("headings"),
      p("_4").as("list_count"),
      p("_5").as("table_count"),
      p("_6").as("paragraph_count"),
      size(p("_3")).as("heading_count"))
  )

  val Hwp: Kind = Kind(
    "*.hwp",
    parser(HwpLoader.extractHwpDoc),
    TextCleaner.cleanHwpText,
    p => Seq(p("_2").as("title"), p("_3").as("author"), p("_4").as("subject"), p("_5").as("keywords"))
  )

  val Hwpx: Kind = Kind(
    "*.hwpx",
    parser { bytes => val d = HwpLoader.extractHwpx(bytes); (d.text, d.title, d.author) },
    TextCleaner.cleanHwpText,
    p => Seq(p("_2").as("title"), p("_3").as("author"))
  )

  /** The kinds by name: the values `Cli --source` takes. */
  val kinds: Map[String, Kind] = Map("html" -> Html, "hwp" -> Hwp, "hwpx" -> Hwpx)

  /** The files under `dir` (recursively) whose name matches `glob`, as
    * (path, modificationTime, length, content).
    */
  def files(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.read
      .format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)

  /** Load the `kind` files under `dir` into the document schema. */
  def load(spark: SparkSession, dir: String, kind: Kind): DataFrame = {
    val parsed = col("parsed")
    val docs = files(spark, dir, kind.glob)
      .withColumn("parsed", kind.parse(col("content")))
      .filter(parsed.isNotNull) // O9
      .select(
        (Seq(
          col("path").as("source"),
          element_at(split(col("path"), "/"), -1).as("filename"),
          folderName(col("path"), dir).as("folder_name"),
          lower(regexp_extract(col("path"), "\\.([A-Za-z]+)$", 1)).as("file_type"),
          col("length").as("file_size"),
          col("modificationTime").as("modified_time")
        ) ++ kind.fields(parsed) :+ parsed("_1").as("text")): _*
      )
    Pipeline.documents(docs, kind.clean)
  }

  /** Folder immediately under the root ('root' for top-level files) —
    * config.py:37-43 collection routing key. The root reaches the
    * generated code only inside the pattern, a string literal held as a
    * referenced object, so a new input directory reuses the compiled
    * pass; a value derived from it as an Int (a prefix length) would be
    * inlined into the Java source and recompile it (SourcesSpec pins
    * this).
    */
  private def folderName(path: Column, root: String): Column = {
    val rel = regexp_replace(path, s"^file:${java.util.regex.Pattern.quote(root)}/?", "")
    when(size(split(rel, "/")) <= 1, lit("root"))
      .otherwise(element_at(split(rel, "/"), 1))
  }
}
