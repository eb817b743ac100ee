package graft

import graft.dedup.Dedup
import graft.lang.LanguageDetect
import graft.quality.GopherRules
import graft.search.KeywordSearch
import graft.text.{RepetitionStats, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch: optimized + physical plans of every folded text operator, exprIds erased. */
class PlanDumpSpec extends SparkTestBase {
  test("dump") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val t = col("text")
    val exprs: Seq[(String, DataFrame)] = Seq(
      "qualityFeatures" -> docs.select(TextAnalysis.qualityFeatures(t)),
      "qualityScore" -> docs.select(TextAnalysis.qualityScore(t)),
      "withQualityAnalysis" -> TextAnalysis.withQualityAnalysis(docs, "text"),
      "languageIdNgram" -> docs.select(TextAnalysis.languageIdNgram(t)),
      "contentHash" -> docs.select(Dedup.contentHash(t)),
      "fingerprint64" -> docs.select(TextAnalysis.fingerprint64(t)),
      "stopwordHits" -> docs.select(GopherRules.stopwordHits(t)),
      "withGopherRules" -> GopherRules.withGopherRules(docs, "text"),
      "withGopherKeep" -> GopherRules.withGopherKeep(docs, "text"),
      "detectContentLanguage" -> docs.select(LanguageDetect.detectContentLanguage(t)),
      "detectQueryLanguage" -> docs.select(LanguageDetect.detectQueryLanguage(t)),
      "estimateTokens" -> docs.select(LanguageDetect.estimateTokens(t)),
      "topTermsPerDoc" -> TextAnalysis.topTermsPerDoc(docs, "doc_id", "text", 3),
      "unigramCrossEntropy" -> TextAnalysis.unigramCrossEntropy(docs, "doc_id", "text"),
      "bm25TopK" -> KeywordSearch.bm25TopK(docs, Seq("the", "data"), 5, rationalIdf = true),
      "bm25Indexed" -> KeywordSearch.bm25TopKIndexed(KeywordSearch.buildIndex(docs), Seq("the", "data"), 5),
      "scrubDuplicateSpans" -> Dedup.scrubDuplicateSpans(docs, "doc_id", "text"),
      "ngramJaccardPairs" -> Dedup.ngramJaccardPairs(docs.withColumn("b", lit(1)), "doc_id", "text", "b", 0.8),
      "prefixJaccardPairs" -> Dedup.prefixJaccardPairs(docs, "doc_id", "text", 0.8),
      "lineDedupStats" -> Dedup.lineDedupStats(docs, "doc_id", "text"),
      "exactDedup" -> Dedup.exactDedup(docs, "text", Seq("doc_id")),
      "repetitionFeatures" -> docs.select(RepetitionStats.repetitionFeatures(t))
    )
    def norm(s: String) = s.replaceAll("#\\d+L?", "#").replaceAll("x_\\d+", "x_").replaceAll("\\[plan_id=\\d+\\]", "")
      .replaceAll("Scan ExistingRDD\\[[^\\]]*\\]", "Scan ExistingRDD").replaceAll("LogicalRDD \\[[^\\]]*\\]", "LogicalRDD")
    val out = new java.io.PrintWriter(sys.env("PLAN_DUMP_OUT"), "UTF-8")
    exprs.foreach { case (n, df) =>
      out.println(s"===== $n")
      out.println(norm(df.queryExecution.optimizedPlan.toString))
      out.println(norm(df.queryExecution.executedPlan.toString))
    }
    out.close()
  }
}
