package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.ByteArrayInputStream
import java.util.regex.Pattern
import java.util.zip.{Inflater, ZipInputStream}
import scala.collection.mutable.ArrayBuffer
import scala.util.matching.Regex

/** HWP / HWPX binary sources (reference hwp_loader.py, SURVEY.md §2.1
  * S4/S5/S7). The reference's primary path shells out to hwp5txt (S6);
  * that is deliberately not rebuilt (zero-egress, no external binary) —
  * the in-process decoders are the single implementation:
  *
  *  - HWPX (zip container, S7): text from `*section*.xml` element
  *    bodies, title/author from `*meta*.xml` (hwp_loader.py:417-460).
  *  - HWP v5 BodyText sections (S4/S5): raw zlib deflate streams
  *    (`Inflater(nowrap=true)` ≡ zlib -15) decoded as UTF-16LE with
  *    the reference's codepoint whitelist (hwp_loader.py:180-239),
  *    read out of the OLE2/CFB container by [[CfbReader]].
  *
  * All decoders are pure bytes→string functions; [[DocumentSource]]
  * reads the files and runs them at file granularity with per-file
  * error isolation (O9), as its hwp and hwpx kinds.
  */
object HwpLoader {

  /** S5 — UTF-16LE decode with whitelist: keep ASCII 0x20-0x7E, Hangul
    * jamo/syllables/compat, CJK unified, newline/tab/CR; NULs dropped;
    * anything else → single space (hwp_loader.py:196-236).
    */
  def decodeSectionText(bytes: Array[Byte]): String = {
    if (bytes == null) return ""
    val sb = new StringBuilder(bytes.length / 2)
    var i = 0
    while (i + 1 < bytes.length) {
      val code = ((bytes(i + 1) & 0xff) << 8) | (bytes(i) & 0xff)
      val c = code.toChar
      val keep =
        (code >= 0x20 && code <= 0x7e) ||
          (code >= 0x1100 && code <= 0x11ff) || // Hangul Jamo
          (code >= 0x3130 && code <= 0x318f) || // Hangul Compat Jamo
          (code >= 0xac00 && code <= 0xd7af) || // Hangul Syllables
          (code >= 0x4e00 && code <= 0x9fff) || // CJK Unified
          code == '\n' || code == '\t' || code == '\r'
      if (keep) sb.append(c)
      else if (code != 0) sb.append(' ')
      i += 2
    }
    sb.toString
  }

  /** S4 — raw-deflate decompress (zlib wbits=-15 equivalent). Returns
    * null on corrupt input (error isolation).
    */
  def inflateRaw(bytes: Array[Byte]): Array[Byte] = {
    try {
      val inf = new Inflater(true)
      inf.setInput(bytes)
      val out = new ArrayBuffer[Byte]()
      val buf = new Array[Byte](64 * 1024)
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n > 0) out ++= buf.take(n)
        else if (n == 0 && inf.needsDictionary()) throw new IllegalStateException("needs dict")
      }
      val finished = inf.finished()
      inf.end()
      // truncated/garbage input exits the loop without finishing —
      // that is a failed decompress, not an empty payload
      if (finished) out.toArray else null
    } catch { case _: Throwable => null }
  }

  /** Decode one HWP BodyText section stream: inflate (compressed
    * sections) or direct decode when inflate fails (uncompressed).
    */
  def decodeSection(streamBytes: Array[Byte]): String = {
    val inflated = inflateRaw(streamBytes)
    decodeSectionText(if (inflated != null) inflated else streamBytes)
  }

  private val SectionName = "BodyText/Section(\\d+)".r

  /** S4 complete — HWP v5 (CFB container) extract: FileHeader flags
    * bit 0 selects per-section zlib compression; BodyText/Section{i}
    * streams (≤ 100, matching hwp_loader.py:139) are inflated and
    * UTF-16LE-decoded. Returns null text on malformed containers.
    */
  def extractHwp(bytes: Array[Byte]): String = extractHwpDoc(bytes)._1

  /** The BodyText of a parsed container; null when it has no section. */
  private def bodyText(all: Map[String, Array[Byte]]): String = {
    val compressed = all.get("FileHeader").exists { fh =>
      fh.length > 39 && (fh(36) & 0x01) == 1
    }
    val sections = all.toSeq
      .flatMap {
        case (SectionName(idx), data) if idx.toInt < 100 => Some(idx.toInt -> data)
        case _ => None
      }
      .sortBy(_._1)
    if (sections.isEmpty) null
    else
      sections
        .map { case (_, data) => if (compressed) decodeSection(data) else decodeSectionText(data) }
        .mkString("\n")
  }

  /** Text + document metadata from the HwpSummaryInformation property
    * set (title/subject/author/keywords — hwp_loader.py:358-371 parity),
    * from one parse of the container.
    */
  def extractHwpDoc(bytes: Array[Byte]): (String, String, String, String, String) = {
    val none = (null, null, null, null, null)
    val streams =
      try CfbReader.streams(bytes)
      catch { case _: Throwable => return none }
    val text =
      try bodyText(streams)
      catch { case _: Throwable => null }
    if (text == null) return none
    val meta =
      try {
        streams
          .collectFirst { case (name, data) if name.endsWith("HwpSummaryInformation") => data }
          .map(OlePropertySet.stringProperties)
          .getOrElse(Map.empty)
      } catch { case _: Throwable => Map.empty[Int, String] }
    (
      text,
      meta.get(OlePropertySet.PidTitle).orNull,
      meta.get(OlePropertySet.PidAuthor).orNull,
      meta.get(OlePropertySet.PidSubject).orNull,
      meta.get(OlePropertySet.PidKeywords).orNull
    )
  }

  /** Load a directory of binary .hwp (CFB) files into the document
    * schema with HWP-strict cleaning.
    */
  def loadHwp(spark: SparkSession, dir: String): DataFrame =
    DocumentSource.load(spark, dir, DocumentSource.Hwp)

  private val XmlComment = Pattern.compile("(?s)<!--.*?-->")
  private val XmlTag = Pattern.compile("<[^>]+>")
  private val Blanks = Pattern.compile("[ \\t]+")

  private def xmlElementText(xml: String): String = {
    val t = HtmlLoader.unescapeEntities(XmlTag.matcher(XmlComment.matcher(xml).replaceAll(" ")).replaceAll(" "))
    Blanks.matcher(t).replaceAll(" ")
  }

  case class HwpxDoc(text: String, title: String, author: String)

  /** S7 — HWPX (zip/XML) extract: concatenate `*section*.xml` text in
    * entry order; title/creator from `*meta*.xml`.
    */
  def extractHwpx(bytes: Array[Byte]): HwpxDoc = {
    if (bytes == null) return HwpxDoc(null, null, null)
    try {
      val zis = new ZipInputStream(new ByteArrayInputStream(bytes))
      val sections = ArrayBuffer.empty[(String, String)]
      var title: String = null
      var author: String = null
      var e = zis.getNextEntry
      while (e != null) {
        val name = e.getName.toLowerCase
        if ((name.contains("section") || name.contains("meta")) && name.endsWith(".xml")) {
          val content = new String(zis.readAllBytes(), "UTF-8")
          if (name.contains("section")) sections += name -> xmlElementText(content)
          else {
            title = firstTag(content, TitleTags)
            author = firstTag(content, CreatorTags)
          }
        }
        e = zis.getNextEntry
      }
      zis.close()
      if (sections.isEmpty) HwpxDoc(null, title, author)
      else HwpxDoc(sections.sortBy(_._1).map(_._2).mkString("\n"), title, author)
    } catch { case _: Throwable => HwpxDoc(null, null, null) }
  }

  private def tagPattern(tag: String): Regex = s"(?is)<(?:\\w+:)?$tag[^>]*>(.*?)</(?:\\w+:)?$tag>".r
  private val TitleTags = Seq(tagPattern("title"), tagPattern("dc:title"))
  private val CreatorTags = Seq(tagPattern("creator"), tagPattern("dc:creator"))

  /** The trimmed body of the first tag pattern that matches, else null. */
  private def firstTag(xml: String, tags: Seq[Regex]): String =
    tags.iterator.flatMap(_.findFirstMatchIn(xml)).nextOption().map(_.group(1).trim).orNull

  /** Load a directory of .hwpx files into the document schema with the
    * reference's HWP-strict cleaning (C12) and metadata
    * (hwp_loader.py:358-371).
    */
  def loadHwpx(spark: SparkSession, dir: String): DataFrame =
    DocumentSource.load(spark, dir, DocumentSource.Hwpx)
}
