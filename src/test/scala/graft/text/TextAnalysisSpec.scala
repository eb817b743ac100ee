package graft.text

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkTestBase {

  private def one(c: org.apache.spark.sql.Column, text: String): org.apache.spark.sql.Row = {
    import spark.implicits._
    Seq(text).toDF("t").select(c.as("v")).head()
  }

  test("whitespace token count") {
    import spark.implicits._
    val got = Seq("a b  c", "", "  ", "single").toDF("t")
      .select(TextAnalysis.tokenCountWhitespace(col("t")).as("n")).as[Int].collect()
    assert(got.toSeq == Seq(3, 0, 0, 1))
  }

  test("BPE-ish token count: punctuation splits, long words cost extra") {
    val short = one(TextAnalysis.tokenCountBpeish(col("t")), "cat sat").getInt(0)
    assert(short == 2)
    val punct = one(TextAnalysis.tokenCountBpeish(col("t")), "cat, sat.").getInt(0)
    assert(punct == 4) // cat , sat .
    val long = one(TextAnalysis.tokenCountBpeish(col("t")), "internationalization").getInt(0)
    assert(long > 1, s"20-char word should cost multiple subword tokens, got $long")
  }

  test("language ID: script detection") {
    import spark.implicits._
    val cases = Seq(
      "한국어 텍스트가 대부분인 문서입니다" -> "ko",
      "the quick brown fox is definitely english text" -> "en",
      "der hund und die katze sind nicht hier" -> "de",
      "это русский текст с кириллицей" -> "ru",
      "日本語のテキストですかな" -> "ja"
    )
    val got = cases.map(_._1).toDF("t")
      .select(TextAnalysis.languageIdNgram(col("t")).as("l")).as[String].collect()
    cases.map(_._2).zip(got).foreach { case (exp, g) => assert(g == exp, s"expected $exp got $g") }
  }

  test("fingerprints are whitespace/case-insensitive and stable") {
    import spark.implicits._
    val df = Seq("Hello  World", "hello world", "different").toDF("t")
      .select(
        graft.dedup.Dedup.contentHash(col("t")).as("md5"),
        TextAnalysis.fingerprint64(col("t")).as("f64")
      )
    val rows = df.collect()
    assert(rows(0).getString(0) == rows(1).getString(0))
    assert(rows(0).getLong(1) == rows(1).getLong(1))
    assert(rows(0).getString(0) != rows(2).getString(0))
  }

  test("withQualityAnalysis matches the two-expression formulation bit-for-bit") {
    import spark.implicits._
    val docs = Seq(
      "the cat sat on the mat and it was a good day for all of us",
      "@@@@ #### $$$$ %%%%",
      "", "   ", "one",
      "Punctuation, everywhere; truly: everywhere! Right?",
      "한국어 텍스트와 english mixed 문서 the and of"
    ).zipWithIndex.map(_.swap).toDF("id", "t")
    val fused = TextAnalysis
      .withQualityAnalysis(docs, "t")
      .select("id", "n_chars", "n_tokens", "stopword_ratio", "punct_ratio", "alpha_ratio", "avg_word_len", "quality_score")
    val twoExpr = docs
      .select(
        col("id"),
        TextAnalysis.qualityFeatures(col("t")).as("f"),
        TextAnalysis.qualityScore(col("t")).as("quality_score")
      )
      .select(
        col("id"),
        col("f.n_chars").as("n_chars"),
        col("f.n_tokens").as("n_tokens"),
        col("f.stopword_ratio").as("stopword_ratio"),
        col("f.punct_ratio").as("punct_ratio"),
        col("f.alpha_ratio").as("alpha_ratio"),
        col("f.avg_word_len").as("avg_word_len"),
        col("quality_score")
      )
    val a = fused.orderBy("id").collect().toSeq
    val b = twoExpr.orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("topTermsPerDoc is single-pass: one parquet scan, no tf self-join, df via window") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").select(col("doc_id"), col("text"))
    val out = TextAnalysis.topTermsPerDoc(docs, "doc_id", "text", 3)
    val plan = out.queryExecution.executedPlan.toString
    // r20: df comes from a count() window over the tf rows — the former
    // groupBy(term)+join shape tokenized the corpus twice because column
    // pruning specialized the two tf subtrees past ReuseExchange. Pin
    // the single-pass shape: exactly one file scan, no join operator.
    val fileScans = "Scan parquet".r.findAllIn(plan).size
    assert(fileScans == 1, s"expected exactly one parquet scan:\n$plan")
    assert(!plan.contains("Join"), s"expected no join in the single-pass plan:\n$plan")
    // and the rows still match the from-first-principles definition on
    // a hand-checked corpus (the ranking test below covers values)
    assert(out.limit(1).count() == 1)
  }

  test("topTermsPerDoc ranks rare-in-corpus, frequent-in-doc terms first") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark common"),
      (2L, "duck duck common"),
      (3L, "common plain words")
    ).toDF("doc_id", "text")
    val got = TextAnalysis
      .topTermsPerDoc(docs, "doc_id", "text", 2)
      .orderBy("doc_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
    // doc 1: "spark" tf=3 df=1 (score 9.0) beats "common" tf=1 df=3 (1.0)
    assert(got(0) == (1L, 1, "spark", 3L, 1L))
    assert(got(1) == (1L, 2, "common", 1L, 3L))
    // doc 2: "duck" tf=2 df=1 (6.0) beats "common"
    assert(got(2) == (2L, 1, "duck", 2L, 1L))
    // doc 3: unique terms (df=1) beat the shared one; ties break by term
    assert(got(4) == (3L, 1, "plain", 1L, 1L))
    assert(got(5) == (3L, 2, "words", 1L, 1L))
  }

  test("quality score is in [0,1] and rewards fluent prose") {
    import spark.implicits._
    val prose = "the cat sat on the mat and it was a good day for all of us in the house"
    val junk = "@@@@ #### $$$$ %%%%"
    val got = Seq(prose, junk).toDF("t")
      .select(TextAnalysis.qualityScore(col("t")).as("q")).as[Double].collect()
    assert(got.forall(q => q >= 0.0 && q <= 1.0))
    assert(got(0) > got(1))
  }

  test("unigramCrossEntropy: hand-computed bits, route-invariant under hotMin") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a b"),       // P(a)=3/6, P(b)=2/6, P(c)=1/6
      (2L, "a b c")
    ).toDF("doc_id", "text")
    def bits(p: Double) = -math.log(p) / math.log(2.0)
    val expect1 = (bits(0.5) + bits(0.5) + bits(2.0 / 6)) / 3
    val expect2 = (bits(0.5) + bits(2.0 / 6) + bits(1.0 / 6)) / 3
    val allBroadcast = TextAnalysis.unigramCrossEntropy(df, "doc_id", "text", hotMin = 1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(allBroadcast(1L)._1 == 3 && allBroadcast(2L)._1 == 3)
    assert(math.abs(allBroadcast(1L)._2 - expect1) < 1e-6, s"${allBroadcast(1L)._2} vs $expect1")
    assert(math.abs(allBroadcast(2L)._2 - expect2) < 1e-6)
    // every type through the SHUFFLE tail path must give identical rows
    val allShuffle = TextAnalysis.unigramCrossEntropy(df, "doc_id", "text", hotMin = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(allBroadcast == allShuffle, "hotMin must only move work, never change the result")
  }

  test("unigramCrossEntropy on real docs: finite, positive, bounded by log2(T)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val out = TextAnalysis.unigramCrossEntropy(docs, "doc_id", "text", hotMin = 50L)
    val rows = out.collect()
    assert(rows.length == docs.count())
    val t = rows.map(_.getLong(1)).sum.toDouble
    rows.foreach { r =>
      val b = r.getDouble(2)
      assert(b > 0 && b <= math.log(t) / math.log(2.0) + 1e-9, s"bits out of range: $r")
    }
    // the hot head really broadcasts: plan carries a BroadcastHashJoin
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"head route should broadcast:\n$plan")
  }

  test("bigramCrossEntropy: hand-computed interpolated bits, route-invariant, short docs absent") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b a b"), // bigrams (a,b) (b,a) (a,b)
      (2L, "a b c"),   // bigrams (a,b) (b,c)
      (3L, "solo"),    // no bigram → absent
      (4L, "")         // no tokens → absent
    ).toDF("doc_id", "text")
    // cu: a=3 b=3 c=1 solo=1, N=8; cb: (a,b)=3 (b,a)=1 (b,c)=1; cp: a=3 b=2
    def bits(p: Double) = -math.log(p) / math.log(2.0)
    def p(cb: Double, cp: Double, cuW: Double) = 0.75 * cb / cp + 0.25 * cuW / 8.0
    val expect1 = (2 * bits(p(3, 3, 3)) + bits(p(1, 2, 3))) / 3
    val expect2 = (bits(p(3, 3, 3)) + bits(p(1, 2, 1))) / 2
    val viaBroadcast = TextAnalysis.bigramCrossEntropy(df, "doc_id", "text", hotMin = 1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(viaBroadcast.keySet == Set(1L, 2L), "docs without bigrams must be absent")
    assert(viaBroadcast(1L)._1 == 3 && viaBroadcast(2L)._1 == 2)
    assert(math.abs(viaBroadcast(1L)._2 - expect1) < 1e-6, s"${viaBroadcast(1L)._2} vs $expect1")
    assert(math.abs(viaBroadcast(2L)._2 - expect2) < 1e-6, s"${viaBroadcast(2L)._2} vs $expect2")
    val viaShuffle = TextAnalysis.bigramCrossEntropy(df, "doc_id", "text", hotMin = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(viaBroadcast == viaShuffle, "hotMin must only move work, never change the result")
  }

  test("bigramCrossEntropy on real docs: finite, positive, and below the pure-unigram ceiling") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val out = TextAnalysis.bigramCrossEntropy(docs, "doc_id", "text", hotMin = 50L)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getDouble(2)
      assert(b > 0 && java.lang.Double.isFinite(b), s"bits out of range: $r")
    }
    // interpolation lower-bounds every p by 0.25·P_uni(w), so bits are
    // bounded by the unigram bits + 2 (the -log2(0.25) slack)
    val uni = TextAnalysis.unigramCrossEntropy(docs, "doc_id", "text", hotMin = 50L)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val avgBi = rows.map(_.getDouble(2)).sum / rows.length
    val avgUni = uni.values.sum / uni.size
    assert(avgBi <= avgUni + 2.0 + 1e-6,
      s"corpus-average bigram bits $avgBi should sit near/below unigram $avgUni + 2")
  }
}
