package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.regex.Pattern
import scala.util.matching.Regex

/** HTML/JSP pages (reference html_loader.py, SURVEY.md §2.1 S1-S3 +
  * C13): the html kind of [[DocumentSource]], which reads the files.
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

  private val Entity = Pattern.compile("&(nbsp|amp|lt|gt|quot|#39);")
  private val EntityChars =
    Map("nbsp" -> " ", "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "#39" -> "'")

  /** The HTML entity set decoded in one left-to-right pass, so a decoded
    * `&` never starts another entity (`&amp;lt;` is the text `&lt;`).
    */
  private[sources] def unescapeEntities(s: String): String =
    Entity.matcher(s).replaceAll(m => java.util.regex.Matcher.quoteReplacement(EntityChars(m.group(1))))

  private val Title = "(?is)<title[^>]*>(.*?)</title>".r
  private val Headings = (1 to 6).map(lvl => lvl -> s"(?is)<h$lvl[^>]*>(.*?)</h$lvl>".r)
  private val ListOpen = "(?i)<(ul|ol)\\b".r
  private val TableOpen = "(?i)<table\\b".r
  private val ParagraphOpen = "(?i)<p\\b".r

  private def firstGroup(s: String, regex: Regex): String =
    regex.findFirstMatchIn(s).map(_.group(1).trim).orNull

  private def countOf(s: String, regex: Regex): Int =
    regex.findAllMatchIn(s).length

  /** Text and C13 structure of one page: _1 text, _2 title, _3 headings
    * (level, text), _4 list, _5 table and _6 paragraph counts.
    */
  private[sources] def parse(html: String): (String, String, Seq[(Int, String)], Int, Int, Int) = {
    if (html == null) return (null, null, Seq.empty, 0, 0, 0)
    val headings = Headings.flatMap { case (lvl, heading) =>
      heading
        .findAllMatchIn(html)
        .map(m => lvl -> Tag.matcher(m.group(1)).replaceAll(" ").trim)
        .filter(_._2.nonEmpty)
    }
    (
      htmlToText(html),
      firstGroup(html, Title),
      headings,
      countOf(html, ListOpen),
      countOf(html, TableOpen),
      countOf(html, ParagraphOpen)
    )
  }

  /** String-input variant of the parse step for graded queries: runs
    * the same [[parse]] as the file load over an HTML string column, so
    * payloads generated in-plan exercise the same extractor.
    */
  val extract = udf((html: String) => parse(html))

  /** S1+S2+S3+S8 — load a directory of HTML/JSP files into the document
    * schema (FIXTURES.md §1): text cleaned by the full battery,
    * structure attached, folder derived from the path, language
    * detected from content, empty/failed docs dropped.
    */
  def load(spark: SparkSession, dir: String): DataFrame =
    DocumentSource.load(spark, dir, DocumentSource.Html)
}
