package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's text-cleaning battery re-expressed as a chain of
  * Catalyst `regexp_replace` Column expressions — no UDFs, so the whole
  * battery stays inside whole-stage codegen and scales linearly with
  * input partitions (zero shuffle).
  *
  * Stage order is semantically observable and preserved exactly
  * (reference: modules/text_cleaner.py:166-224). Patterns are re-authored
  * as Java regex (the reference uses Python `re`): supplementary-plane
  * classes use `\x{...}` and `\w` gets `(?U)` to match Python's
  * Unicode-aware word class.
  */
object TextCleaner {

  // C1 — HWP binary garbage codepoint ranges → ' ' (text_cleaner.py:55-107).
  // Contiguous reference ranges are coalesced; the union of codepoints is
  // identical to the reference's 60-block class.
  val HwpGarbagePattern: String =
    "[\\u0080-\\u02AF" + // Latin-1 Sup … IPA Extensions
      "\\u0300-\\u052F" + // Combining … Cyrillic Sup
      "\\u0530-\\u06FF" + // Armenian, Hebrew, Arabic
      "\\u0700-\\u074F" + // Syriac
      "\\u0900-\\u09FF" + // Devanagari, Bengali
      "\\u0B00-\\u0BFF" + // Oriya, Tamil
      "\\u0C00-\\u0C7F" + // Telugu
      "\\u0D00-\\u0D7F" + // Malayalam
      "\\u0E00-\\u0E7F" + // Thai
      "\\u1000-\\u10FF" + // Myanmar, Georgian
      "\\u1100-\\u11FF" + // Hangul Jamo (compat syllables kept)
      "\\u1200-\\u137F" + // Ethiopic
      "\\u1400-\\u167F" + // Canadian Aboriginal
      "\\u2000-\\u20CF" + // General Punct … Currency
      "\\u2100-\\u27BF" + // Letterlike … Dingbats
      "\\u3000-\\u312F" + // CJK Symbols, kana, Bopomofo
      "\\u3200-\\u33FF" + // Enclosed CJK, CJK Compat
      "\\uFE00-\\uFEFF" + // Variation Selectors
      "\\uFF00-\\uFFFF" + // Full/half-width forms, Specials
      "\\x{10000}-\\x{1FFFF}" + // SMP
      "]+"

  // C2 — whitelist filter: anything outside the allowed set → ' '
  // (text_cleaner.py:111-113).
  val AllowedCharsPattern: String =
    "[^\\sa-zA-Z0-9가-힣ㄱ-ㅎㅏ-ㅣ.,!?:;'\"\\-()\\[\\]{}/\\n\\r\\t@#$%&*+=~`<>|\\\\^·•※◎○●◆■□]"

  // C3 — HWP noise patterns, each → ' ', applied in order
  // (text_cleaner.py:116-136). Java regex supports the lookarounds used.
  val HwpNoisePatterns: Seq[String] = Seq(
    "[밼밾뀀뀜럑됀쀀쀜쀌쟑쮜뛵픀븀휀렀낭갊뗈퐀팀햀쐀쐐썀썐찀쨀쩐짐쪠짤팜팠]\\s*",
    "[엀움은윀쁀쁘뻘뺘빀삐삘쌤씀썼쎄쐬쒀쓔쓰씌앜얘옜웨윔읨윙읭욀]\\s*",
    "[낗삓삙낸쓅맂곂탗탉랺곅섀쓇먈쇑눀뤀엌얮쓍샅헒밀곇딀솳쒬겼쓀킭봀쀄탅쀠뒭탇듅랬]\\s*",
    "[냖멎넀슻췀븷쀔쀐쀘뜀늲]\\s*",
    "(?:[A-Z]\\s+){3,}",
    "\\b[A-Z]\\b(?:\\s+\\b[A-Z]\\b){2,}",
    "耀[^가-힣]*",
    "[而戀肮]\\s*",
    "(?:\\s[a-zA-Z]\\s){2,}",
    "저\\s*\\n\\s*저\\s*\\n",
    "원본 그림의 이름:[^\\n]*",
    "원본 그림의 크기:[^\\n]*",
    "\\d+pixel",
    "(?<![가-힣])[a-zA-Z]{1,2}\\d+(?![가-힣])",
    "저\\d*\\s*저?\\d*",
    "톱니모양의[^\\n]*",
    "화살표입니다[^\\n]*",
    "그림입니다[^\\n]*"
  )

  // C4 — HTML tag strip → ' ' (text_cleaner.py:182).
  val HtmlTagPattern: String = "<[^>]+>"

  // C5 — template tags → '' case-insensitive (text_cleaner.py:24-30).
  val TemplateTagPatterns: Seq[String] = Seq(
    "\\{\\{#?/?[^}]+\\}\\}", // {{#layout}}, {{/layout}}, {{ x }}
    "\\{%[^%]+%\\}", // {% block %}
    "\\$\\{[^}]+\\}", // ${variable}
    "<%[^%]+%>", // <% erb %>
    "\\[\\[[^\\]]+\\]\\]" // [[wiki]]
  )

  // C6 — JavaScript residue → '' case-insensitive (text_cleaner.py:44-49).
  val JsPatterns: Seq[String] = Seq(
    "javascript:\\s*void\\s*\\([^)]*\\)",
    "onclick\\s*=\\s*[\"'][^\"']+[\"']",
    "PageScript\\.[a-zA-Z]+\\([^)]*\\)",
    "function\\s*\\([^)]*\\)\\s*\\{[^}]*\\}"
  )

  // C7 — emoji ranges → '' (text_cleaner.py:13-21).
  val EmojiPattern: String =
    "[\\x{1F600}-\\x{1F64F}\\x{1F300}-\\x{1F5FF}\\x{1F680}-\\x{1F6FF}\\x{1F1E0}-\\x{1F1FF}]+"

  // C8 — header/footer/URL → '' with (?im) (text_cleaner.py:33-41).
  val HeaderFooterPatterns: Seq[String] = Seq(
    "Copyright.*?\\d{4}",
    "All [Rr]ights [Rr]eserved",
    "Page\\s*\\d+\\s*(of\\s*\\d+)?",
    "^\\s*\\d+\\s*$", // lone page number line
    "\\|\\s*Page\\s*\\d+",
    "www\\..*?\\.com",
    "http[s]?://(?:[a-zA-Z]|[0-9]|[$-_@.&+]|[!*\\\\(\\\\),]|(?:%[0-9a-fA-F][0-9a-fA-F]))+"
  )

  // C9 — special chars outside the keep-set → ' ' (text_cleaner.py:52).
  // (?U) makes Java's \w Unicode-aware like Python 3's.
  val SpecialCharPattern: String =
    "(?U)[^\\w\\s가-힣ㄱ-ㅎㅏ-ㅣa-zA-Z0-9.,!?;:'\"\\-()\\[\\]{}+@/·•]"

  /** The full battery as ordered (pattern, replacement) stages — one
    * flat list so it can run as a single [[graft.functions.RegexChain]]
    * expression (44 nested regexp_replace calls are one unsplittable
    * codegen expression that blows the 64 KB method limit and drops the
    * whole stage to interpreted eval — measured 4× slower; see
    * RegexChain's doc).
    */
  val BatteryStages: Seq[(String, String)] =
    Seq(HwpGarbagePattern -> " ", AllowedCharsPattern -> " ") ++ // C1, C2
      HwpNoisePatterns.map(_ -> " ") ++ // C3
      Seq(HtmlTagPattern -> " ") ++ // C4
      TemplateTagPatterns.map(p => s"(?i)$p" -> "") ++ // C5
      JsPatterns.map(p => s"(?i)$p" -> "") ++ // C6
      Seq(EmojiPattern -> "") ++ // C7
      HeaderFooterPatterns.map(p => s"(?im)$p" -> "") ++ // C8
      Seq(
        SpecialCharPattern -> " ", // C9
        "[ \\t]+" -> " ", // C10
        "\\n\\s*\\n" -> "\n\n",
        "\\n{3,}" -> "\n\n",
        "(?m)^[ \\t\\x0B\\f\\r]+|[ \\t\\x0B\\f\\r]+$" -> "", // C11
        "\\n{3,}" -> "\n\n",
        "^\\s+|\\s+$" -> ""
      )

  /** Full cleaning battery C1-C11, stage order as in clean_text
    * (text_cleaner.py:166-224), fused into one codegen-friendly
    * expression. Byte-identical to folding regexp_replace over
    * [[BatteryStages]] (RegexChainSpec pins it; the 145 goldens and the
    * noisy DuckDB oracle pin the semantics end-to-end).
    */
  def cleanText(text: Column): Column =
    coalesce(graft.functions.RegexChain(text, BatteryStages), lit("")) // empty input → "" (text_cleaner.py:169)

  /** C12 — HWP-strict clean (text_cleaner.py:139-163): full battery, then
    * drop lines with fewer than 3 Hangul chars AND length < 10, then
    * flatten ALL whitespace runs (including newlines) to single spaces —
    * the newline-flattening quirk is observable and reproduced.
    * The per-line Hangul count needs stateful line logic → small UDF on
    * top of the codegen'd battery.
    */
  def cleanHwpText(text: Column): Column = {
    val dropShort = udf { (s: String) =>
      if (s == null) ""
      else {
        val kept = s.split('\n').iterator.map(_.trim).filter { line =>
          var k = 0
          var i = 0
          while (i < line.length) {
            val ch = line.charAt(i)
            if (ch >= '가' && ch <= '힣') k += 1
            i += 1
          }
          k >= 3 || line.length >= 10
        }
        kept.mkString("\n")
      }
    }
    val filtered = dropShort(cleanText(text))
    regexp_replace(
      regexp_replace(regexp_replace(filtered, "\\s+", " "), "\\n\\s*\\n", "\n\n"),
      "^\\s+|\\s+$",
      ""
    )
  }

  /** C18 — insert-time truncation projection (milvus_store.py:204-217). */
  def truncateForStore(text: Column, source: Column, filename: Column, language: Column)
      : Seq[Column] = Seq(
    substring(coalesce(text, lit("")), 1, graft.model.FieldCaps.Text).as("text"),
    substring(coalesce(source, lit("")), 1, graft.model.FieldCaps.Source).as("source"),
    substring(coalesce(filename, lit("")), 1, graft.model.FieldCaps.Filename).as("filename"),
    substring(coalesce(language, lit("unknown")), 1, graft.model.FieldCaps.Language).as("language")
  )

  /** [[truncateForStore]] over a frame's own text/source/filename/
    * language columns, each replaced in place.
    */
  def capForStore(df: DataFrame): DataFrame = df.withColumns(
    Seq("text", "source", "filename", "language").zip(
      truncateForStore(col("text"), col("source"), col("filename"), col("language"))).toMap)

  /** C19 — collection-name normalization (config.py:37-43). */
  def collectionName(folder: Column, prefix: String): Column =
    concat(lit(prefix), regexp_replace(lower(coalesce(folder, lit("root"))), "[- ]", "_"))
}
