package graft.lang

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.text.Tokens.countMatching

/** Language detection as pure Column arithmetic (no UDFs — the whole
  * thing codegens). The reference ships TWO divergent detectors with
  * different thresholds and different empty-input defaults; both are
  * observable behavior and kept separate (SURVEY.md §7.5 item 6).
  */
object LanguageDetect {

  /** Hangul syllable count (U+AC00–U+D7A3). */
  def hangulCount(c: Column): Column = countMatching(c, "[가-힣]")

  /** C14 — content-based detection used by the loaders
    * (html_loader.py:116-150, duplicated hwp_loader.py:462-492).
    * Thresholds: korean > 10%, vietnamese > 2%, english > 30%,
    * else argmax; empty → 'korean'.
    */
  def detectContentLanguage(text: Column): Column = {
    val c = coalesce(text, lit(""))
    val total = length(c).cast("double")
    val kr = hangulCount(c).cast("double")
    // reference: c.isalpha() and ord(c) < 128 → ASCII letters
    val en = countMatching(c, "[A-Za-z]").cast("double")
    // reference set (html_loader.py:121-123): base + tonal vowels, both cases listed explicitly
    val vi = countMatching(
      c,
      "[ăâđêôơưĂÂĐÊÔƠƯàáảãạèéẻẽẹìíỉĩịòóỏõọùúủũụỳýỷỹỵ]"
    ).cast("double")

    val krR = kr / total
    val viR = vi / total
    val enR = en / total

    when(total === 0, lit("korean"))
      .when(krR > 0.10, lit("korean"))
      .when(viR > 0.02, lit("vietnamese"))
      .when(enR > 0.30, lit("english"))
      // argmax fallback; ties resolve korean > vietnamese > english,
      // matching the reference's if/elif order (html_loader.py:142-150)
      .when(krR >= viR && krR >= enR, lit("korean"))
      .when(viR >= enR, lit("vietnamese"))
      .otherwise(lit("english"))
  }

  /** C15 — query-side detection (search_utils.py:13-33). DIFFERENT
    * thresholds (korean > 10%, vietnamese > 5%) and empty → 'english'.
    * Vietnamese chars counted on the lower-cased text against the larger
    * diacritic set the query path uses.
    */
  def detectQueryLanguage(text: Column): Column = {
    val c = coalesce(text, lit(""))
    val total = length(c).cast("double")
    val kr = hangulCount(c).cast("double")
    val vi = countMatching(
      lower(c),
      "[àáạảãâầấậẩẫăằắặẳẵèéẹẻẽêềếệểễìíịỉĩòóọỏõôồốộổỗơờớợởỡùúụủũưừứựửữỳýỵỷỹđ]"
    ).cast("double")

    when(total === 0, lit("english"))
      .when(kr / total > 0.1, lit("korean"))
      .when(vi / total > 0.05, lit("vietnamese"))
      .otherwise(lit("english"))
  }

  /** C16 — token estimation (chunker.py:65-69):
    * int(hangul/1.5 + other/4), truncation toward zero (values are ≥ 0
    * so floor ≡ int()).
    */
  def estimateTokens(text: Column): Column = {
    val c = coalesce(text, lit(""))
    val kr = hangulCount(c).cast("double")
    val other = length(c).cast("double") - kr
    floor(kr / 1.5 + other / 4.0).cast("int")
  }
}
