package graft.text

import graft.SparkTestBase
import graft.dedup.Dedup
import graft.quality.GopherRules
import org.apache.spark.sql.functions._

class TokensSpec extends SparkTestBase {

  test("words: the Column form and the Scala form give equal arrays") {
    import spark.implicits._
    val inputs = Seq[String](
      null, "", " \t\n ", "A  b\tC",
      "x y z", // no-break space: \s does not split on it
      "İstanbul", // dotted capital I lowercases to i + U+0307
      "ΟΔΟΣ", // final sigma
      "K" // Kelvin sign lowercases to ASCII k
    )
    val viaColumn = inputs.zipWithIndex.toDF("t", "i")
      .select(col("i"), Tokens.words(col("t")).as("w"))
      .orderBy("i").as[(Int, Seq[String])].collect().map(_._2).toSeq
    val viaScala = inputs.map(s => Tokens.words(s).toSeq)
    inputs.indices.foreach { i =>
      assert(viaColumn(i) == viaScala(i),
        s"input ${Option(inputs(i)).map(_.map(c => f"U+${c.toInt}%04X").mkString(" "))}")
    }
    assert(viaScala.take(5) == Seq(Nil, Nil, Nil, Seq("a", "b", "c"), Seq("x y", "z")))
    assert(viaScala(6) == Seq("οδος") && viaScala(7) == Seq("k"))
  }

  test("the text family on null, empty and blank text: pinned outputs") {
    import spark.implicits._
    val df = Seq[(Int, String)]((1, null), (2, ""), (3, "   ")).toDF("id", "t")
    val got = TextAnalysis.withQualityAnalysis(df, "t")
      .select(
        col("id"),
        TextAnalysis.qualityFeatures(col("t")).as("features"),
        TextAnalysis.qualityScore(col("t")).as("score"),
        struct(col("n_chars"), col("n_tokens"), col("stopword_ratio"), col("punct_ratio"),
          col("alpha_ratio"), col("avg_word_len"), col("quality_score")).as("staged"),
        TextAnalysis.languageIdNgram(col("t")).as("lang"),
        Dedup.contentHash(col("t")).as("md5"),
        TextAnalysis.fingerprint64(col("t")).as("fp64"),
        GopherRules.stopwordHits(col("t")).as("hits"),
        Dedup.simHash(col("t")).as("simhash"))
      .orderBy("id").collect().map(_.toString).toSeq
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    val emptyFp64 = "-7444071767201028348"
    assert(got == Seq(
      "[1,[0,0,0.0,0.0,0.0,0.0],0.125,[0,0,0.0,0.0,0.0,0.0,0.125],und,null,42,0,0]",
      s"[2,[0,0,0.0,0.0,0.0,0.0],0.125,[0,0,0.0,0.0,0.0,0.0,0.125],und,$emptyMd5,$emptyFp64,0,0]",
      s"[3,[3,0,0.0,0.0,0.0,0.0],0.125,[3,0,0.0,0.0,0.0,0.0,0.125],und,$emptyMd5,$emptyFp64,0,0]"
    ), got.mkString("\n"))
  }

  test("the tokenizer, normalized text, character counter and half-up rounding are written only in Tokens") {
    val tokens = "src/main/scala/graft/text/Tokens.scala"
    val patterns = Seq(
      "Column tokenizer" -> raw"split\(lower\(",
      "Scala tokenizer" -> raw"toLowerCase\(java\.util\.Locale\.ROOT\)\.split",
      "normalized text" -> raw"""regexp_replace\(lower\(.*"\\\\s\+"""",
      "character counter" -> raw"length\(\w+\) - length\(regexp_replace\(",
      "half-up rounding" -> raw"floor\(.*\+ (lit\()?0\.5")
    val wrong = for {
      (name, p) <- patterns
      sites = graft.MainSources.codeSitesOf(p.r)
      if sites != Seq(tokens)
    } yield s"$name ($p): ${sites.mkString(", ")}"
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
