package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The text vocabulary every operator shares, each rule written once.
  * [[words]] is the reference's rule before it hashes (chunker.py:193-194,
  * `' '.join(s.lower().split())`) as a Column and as a Scala function;
  * the two give equal arrays (TokensSpec), so the signature builders
  * (MinHash, SimHash, repetition stats) and the Column operators see one
  * token set.
  *
  * Four inputs keep their own spelling, because folding them here would
  * change their output:
  *  - GopherRules' `__words` keep case: lowercasing makes "İ" two chars
  *    long (i + U+0307) and turns the Kelvin sign into ASCII `k`.
  *  - JaccardJoinOps splits [[normalized]] on single spaces: empty text
  *    gives one `""` token there, not zero.
  *  - `TextAnalysis.tokenCountWhitespace` and q_pack_sequences' token
  *    count give null on null input, not 0.
  *  - The DuckDB oracle SQL strings: they are the references.
  */
object Tokens {

  /** Lowercase, split on whitespace, drop empties; null → empty. */
  def words(c: Column): Column =
    filter(split(lower(coalesce(c, lit(""))), "\\s+"), t => length(t) > 0)

  /** [[words]] for UDF bodies and the driver (Locale.ROOT, as the
    * engine's `lower`; the default locale differs under tr/az).
    */
  def words(s: String): Array[String] =
    if (s == null) Array.empty
    else s.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

  /** Lowercase with every whitespace run collapsed to one space and the
    * ends trimmed — the text the reference hashes; null stays null.
    */
  def normalized(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Number of characters of `c` inside matches of `regex`. */
  def countMatching(c: Column, regex: String): Column =
    length(c) - length(regexp_replace(c, regex, ""))

  /** Half-up rounding as floor(x·10^k + 0.5)/10^k over the IEEE double:
    * Spark's round() (BigDecimal HALF_UP) and DuckDB's round() disagree
    * on exact decimal ties (0.49625 at 4 dp), the floor form does not.
    */
  def roundHalfUp(c: Column, scale: Int): Column = {
    val p = math.pow(10.0, scale)
    floor(c * p + lit(0.5)).cast("double") / p
  }
}
