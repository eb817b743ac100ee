package graft.sources

import graft.clean.TextCleaner
import graft.lang.LanguageDetect
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.regex.Pattern
import scala.util.matching.Regex

/** HTML/JSP directory source (reference html_loader.py, SURVEY.md §2.1
  * S1-S3 + C13). Spark-first shape: the built-in `binaryFile` source
  * provides the recursive scan, path, size and mtime columns (S3) with
  * splittable parallel reads; parsing is a pure bytes→struct function
  * per file. Per-file error isolation (O9): parse failures yield null
  * text and are filtered, never fail the job.
  *
  * Parsing uses a regex-based extractor (no HTML parser library ships
  * in this build): boilerplate elements are dropped
  * (script/style/nav/footer/header/aside — html_loader.py:74-76), tags
  * stripped, entities unescaped, structure counted (C13,
  * text_cleaner.py:227-260).
  */
object HtmlLoader {

  private val Comment = Pattern.compile("(?s)<!--.*?-->")
  private val BoilerplateBlocks = Seq("script", "style", "nav", "footer", "header", "aside")
    .map(tag => Pattern.compile(s"(?is)<$tag\\b[^>]*>.*?</$tag>"))
  private val BlockCloser = Pattern.compile("(?i)</(p|div|h[1-6]|li|tr|table|ul|ol|section|article|br)>")
  private val LineBreak = Pattern.compile("(?i)<br\\s*/?>")
  private val Tag = Pattern.compile("<[^>]+>")

  /** Drop &lt;script&gt;/&lt;style&gt;/nav/footer/header/aside blocks, then strip
    * tags; block-level closers become newlines so paragraph structure
    * survives for the chunker.
    */
  private[sources] def htmlToText(html: String): String = {
    if (html == null) return null
    // strip comments first so commented-out markup doesn't leak
    var t = Comment.matcher(html).replaceAll(" ")
    for (block <- BoilerplateBlocks) t = block.matcher(t).replaceAll(" ")
    // block-level boundaries → newline (get_text('\n') analog)
    t = BlockCloser.matcher(t).replaceAll("\n")
    t = LineBreak.matcher(t).replaceAll("\n")
    t = Tag.matcher(t).replaceAll(" ")
    unescapeEntities(t)
  }

  private[sources] def unescapeEntities(s: String): String =
    s.replace("&nbsp;", " ")
      .replace("&amp;", "&")
      .replace("&lt;", "<")
      .replace("&gt;", ">")
      .replace("&quot;", "\"")
      .replace("&#39;", "'")

  private val Title = "(?is)<title[^>]*>(.*?)</title>".r
  private val Headings = (1 to 6).map(lvl => lvl -> s"(?is)<h$lvl[^>]*>(.*?)</h$lvl>".r)
  private val ListOpen = "(?i)<(ul|ol)\\b".r
  private val TableOpen = "(?i)<table\\b".r
  private val ParagraphOpen = "(?i)<p\\b".r

  private def firstGroup(s: String, regex: Regex): String =
    regex.findFirstMatchIn(s).map(_.group(1).trim).orNull

  private def countOf(s: String, regex: Regex): Int =
    regex.findAllMatchIn(s).length

  /** C13 — structure record: title, headings (level+text), list/table/
    * paragraph counts.
    */
  private[sources] def extractStructure(html: String): HtmlStructure = {
    if (html == null) return HtmlStructure(null, Seq.empty, 0, 0, 0)
    val headings = Headings.flatMap { case (lvl, heading) =>
      heading
        .findAllMatchIn(html)
        .map(m => Heading(lvl, Tag.matcher(m.group(1)).replaceAll(" ").trim))
        .filter(_.text.nonEmpty)
    }
    HtmlStructure(
      firstGroup(html, Title),
      headings,
      countOf(html, ListOpen),
      countOf(html, TableOpen),
      countOf(html, ParagraphOpen)
    )
  }

  case class Heading(level: Int, text: String)
  case class HtmlStructure(title: String, headings: Seq[Heading], lists: Int, tables: Int, paragraphs: Int)

  /** String-input variant of the parse step for graded queries: runs
    * the REAL [[htmlToText]] + [[extractStructure]] over an HTML string
    * column, so payloads generated in-plan exercise the same extractor
    * the binaryFile load path uses. Struct fields: _1 text, _2 title,
    * _3 headings (level,text), _4 lists, _5 tables, _6 paragraphs.
    */
  val extract = udf { (html: String) =>
    val text = htmlToText(html)
    val st = extractStructure(html)
    (text, st.title, st.headings.map(h => (h.level, h.text)), st.lists, st.tables, st.paragraphs)
  }

  // nondeterministic (r19): the O9 isNotNull filter above otherwise
  // duplicates the whole HTML parse into a pushed-down predicate —
  // every kept row paid the parse twice (plan-verified, ~2x the
  // q_html_load scan-stage CPU).
  //
  // CONTRACT for consumers (ADVICE r19): the marking is a deliberate
  // library-wide trade — it pins evaluation count and placement, but
  // also stops the optimizer pushing OTHER filters past this UDF and
  // disables common-subexpression/constant folding through it. Do not
  // rely on predicate pushdown through parsed columns; if a future
  // caller needs pushdown more than single evaluation, expose a
  // deterministic variant rather than unmarking this one.
  private val parseUdf = udf { (bytes: Array[Byte]) =>
    // O9 error isolation: any parse failure → null, filtered downstream
    try {
      if (bytes == null) null
      else {
        val html = new String(bytes, "UTF-8")
        val text = htmlToText(html)
        val st = extractStructure(html)
        (text, st.title, st.headings.map(h => (h.level, h.text)), st.lists, st.tables, st.paragraphs)
      }
    } catch { case _: Throwable => null }
  }.asNondeterministic()

  /** S1+S2+S3 — load a directory of HTML/JSP files into the document
    * schema (FIXTURES.md §1): text cleaned by the full battery,
    * structure attached, folder derived from the path, language
    * detected from content, empty/failed docs dropped (S8).
    */
  def load(spark: SparkSession, dir: String, minChars: Int = 10): DataFrame = {
    val raw = spark.read
      .format("binaryFile")
      .option("pathGlobFilter", "*.{html,jsp}")
      .option("recursiveFileLookup", "true")
      .load(dir)

    val parsed = raw
      .withColumn("parsed", parseUdf(col("content")))
      .filter(col("parsed").isNotNull) // O9
      .select(
        col("path").as("source"),
        element_at(split(col("path"), "/"), -1).as("filename"),
        folderName(col("path"), dir).as("folder_name"),
        lower(regexp_extract(col("path"), "\\.([A-Za-z]+)$", 1)).as("file_type"),
        col("length").as("file_size"),
        col("modificationTime").as("modified_time"),
        col("parsed._1").as("raw_text"),
        col("parsed._2").as("title"),
        col("parsed._3").as("headings"),
        col("parsed._4").as("list_count"),
        col("parsed._5").as("table_count"),
        col("parsed._6").as("paragraph_count")
      )
      .withColumn("heading_count", size(col("headings")))
      .withColumn("text", TextCleaner.cleanText(col("raw_text")))
      .drop("raw_text")
      .withColumn("char_count", length(col("text")))
      .withColumn("language", LanguageDetect.detectContentLanguage(col("text")))

    parsed.filter(length(col("text")) >= minChars) // S8
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
