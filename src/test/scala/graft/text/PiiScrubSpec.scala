package graft.text

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PiiScrubSpec extends SparkTestBase {

  private def scrubOne(s: String): String = {
    import spark.implicits._
    Seq(s).toDF("t").select(PiiScrub.scrub(col("t"))).head().getString(0)
  }

  test("redacts emails, phones, IPs, and card runs with stable placeholders") {
    assert(scrubOne("mail me at a.b-c_1@sub.example.co today") == "mail me at <EMAIL> today")
    assert(scrubOne("call +82 10-1234-5678 now") == "call <PHONE> now")
    assert(scrubOne("call 010 1234 5678 now") == "call <PHONE> now")
    assert(scrubOne("host 192.168.0.1 up") == "host <IP> up")
    assert(scrubOne("pay 1234-5678-9012-3456 thanks") == "pay <CARD> thanks")
    assert(scrubOne("pay 1234567890123456 thanks") == "pay <CARD> thanks") // unseparated PAN
    assert(scrubOne("pay 1234 5678 9012 345 ok") == "pay <CARD> ok")       // 15-digit, spaces
    assert(scrubOne("call (02) 123-4567 now") == "call <PHONE> now")       // leading-paren area code
    assert(scrubOne("call 82 10 1234 5678 now") == "call <PHONE> now")     // bare country code, no '+'
  }

  test("does not fire on plain prose, versions, or short digit runs") {
    for (
      s <- Seq(
        "release v1.2.3 of the lib",       // 3-part version, guarded by [^0-9.]
        "totals 12 34 and 567",            // too-short digit groups
        "the quick brown fox",
        "year 2024 month 12"
      )
    ) assert(scrubOne(s) == s, s)
  }

  test("scrubBatched ≡ scrub on the real corpus (pattern-major execution parity)") {
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    val noise = " contact a@b.co or 010-1234-5678 ip 10.0.0.1 card 1234 5678 9012 3456 end"
    val base = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id").cast("long"), concat(col("text"), lit(noise)))
      .as[(Long, String)](enc)
    val viaExpr = base.toDF("doc_id", "t")
      .select(col("doc_id"), PiiScrub.scrub(col("t")).as("s"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // small batch forces multiple batches per partition
    val viaBatch = PiiScrub.scrubBatched(base, batch = 7)
      .toDF("doc_id", "s")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaExpr == viaBatch)
  }

  test("scrub-then-fingerprint collapses docs that differ only in PII") {
    import spark.implicits._
    val df = Seq(
      "report sent to alice@corp.example yesterday",
      "report sent to bob.roberts@other.example yesterday"
    ).toDF("t")
    val prints = df
      .select(graft.dedup.Dedup.contentHash(PiiScrub.scrub(col("t"))).as("fp"))
      .distinct()
      .count()
    assert(prints == 1L)
  }
}
