package graft

import graft.sources.HwpPayloads
import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

/** End-to-end stage runner over a real HTML directory — the reference
  * user's `--stage all` path (main.py:466-559 parity).
  */
class CliSpec extends SparkTestBase {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def write(path: String, bytes: Array[Byte]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), bytes)
  }

  /** Two folders (two store collections), long pages (several chunks
    * each) and one page planted twice (exact-dedup work).
    */
  private lazy val htmlCorpus: String = {
    val input = tmp("graft-cli-all-html")
    def page(i: Int) = {
      val body = (1 to 30).map(j => s"<p>Guide $i paragraph $j about spark joins and aggregation pipelines.</p>").mkString
      s"<html><head><title>Guide $i</title></head><body><h1>Guide $i</h1>$body</body></html>".getBytes("UTF-8")
    }
    (1 to 3).foreach(i => write(s"$input/guides/g$i.html", page(i)))
    write(s"$input/notes/n1.jsp", page(4))
    write(s"$input/notes/copy.html", page(1))
    input
  }

  private lazy val hwpxCorpus: String = {
    val input = tmp("graft-cli-all-hwpx")
    def doc(i: Int) = HwpPayloads.buildHwpxZip(
      (0 to 1).map(s => (1 to 15).map(j => s"<hp:p>공지 $i 섹션 $s 문단 $j 스파크 조인과 집계 파이프라인 설명입니다.</hp:p>").mkString),
      s"<opf:metadata><dc:title>공지 $i</dc:title><dc:creator>작성자 $i</dc:creator></opf:metadata>")
    (1 to 2).foreach(i => write(s"$input/notices/n$i.hwpx", doc(i)))
    write(s"$input/forms/f1.hwpx", doc(3))
    input
  }

  private lazy val hwpCorpus: String = {
    val input = tmp("graft-cli-all-hwp")
    def doc(i: Int) = HwpPayloads.buildHwpCfb(
      (0 to 1).map(s => (1 to 15).map(j => s"공지 $i 섹션 $s 문단 $j 스파크 조인과 집계 파이프라인 설명입니다.").mkString(" ")),
      compressed = i % 2 == 0)
    (1 to 2).foreach(i => write(s"$input/notices/n$i.hwp", doc(i)))
    write(s"$input/d3.hwp", doc(3))
    input
  }

  /** Runs a stage and returns what it printed. */
  private def runCli(argv: String*): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(out, true, "UTF-8"))(Cli.run(spark, Cli.parse(argv.toArray)))
    out.toString("UTF-8")
  }

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  test("all ≡ the four stages run one at a time: same rows, schemas and report") {
    // one collection per folder for every kind: guides/ and notes/,
    // notices/ and forms/
    Seq(("html", htmlCorpus, 2), ("hwpx", hwpxCorpus, 2)).foreach { case (kind, input, collections) =>
      val all = tmp(s"graft-cli-all-$kind")
      val staged = tmp(s"graft-cli-staged-$kind")
      val allReport = runCli("all", "--input", input, "--work", all, "--source", kind)
      runCli("extract", "--input", input, "--work", staged, "--source", kind)
      runCli("transform", "--work", staged)
      runCli("load", "--work", staged)
      val stagedReport = runCli("validate", "--work", staged)

      Seq("documents", "chunks", "store").foreach { d =>
        val (a, s) = (spark.read.parquet(s"$all/$d"), spark.read.parquet(s"$staged/$d"))
        assert(a.schema == s.schema, s"$kind $d: schema")
        assert(rows(s"$all/$d") == rows(s"$staged/$d"), s"$kind $d: rows")
      }
      val store = spark.read.parquet(s"$all/store")
      assert(store.columns.last == "collection", s"$kind: ${store.columns.mkString(",")}")
      assert(store.select("collection").distinct().count() == collections, kind)
      assert(allReport.contains("recommendation") && allReport == stagedReport, s"$kind:\n$allReport\n$stagedReport")

      // the frames a stage hands forward carry the schema a plain read of
      // its checkpoint gives
      val a = Cli.parse(Array("extract", "--input", input, "--work", all, "--source", kind))
      assert(Cli.extract(spark, a).schema == spark.read.parquet(s"$all/documents").schema, kind)
      assert(Cli.transform(spark, a).schema == spark.read.parquet(s"$all/chunks").schema, kind)
      assert(Cli.load(spark, a).schema == spark.read.parquet(s"$all/store").schema, kind)
    }
  }

  test("all runs 6 Spark jobs per source kind: no stage infers the schema of a checkpoint") {
    Seq("html" -> htmlCorpus, "hwp" -> hwpCorpus, "hwpx" -> hwpxCorpus).foreach { case (kind, input) =>
      val (_, jobs) = JobCount.jobsOf(spark)(
        runCli("all", "--input", input, "--work", tmp(s"graft-cli-jobs-$kind"), "--source", kind))
      // three checkpoint writes, one map-stage job per exchange under AQE
      // (the dedup and the report aggregate) and the report's show; each
      // parquet read without a schema would add an inference job
      assert(jobs == 6, s"$kind: Cli all ran $jobs Spark jobs")
    }
  }

  test("extract → transform → load → validate → search → reset over an HTML corpus") {
    val input = Files.createTempDirectory("graft-cli-in").toString
    val work = Files.createTempDirectory("graft-cli-work").toString
    Files.createDirectories(Paths.get(s"$input/guides"))
    (1 to 5).foreach { i =>
      val body = (1 to 30)
        .map(j => s"<p>Guide $i paragraph $j about spark joins and aggregation pipelines.</p>")
        .mkString
      Files.write(
        Paths.get(s"$input/guides/g$i.html"),
        s"<html><head><title>Guide $i</title></head><body>$body</body></html>".getBytes("UTF-8")
      )
    }

    Cli.run(spark, Cli.parse(Array("extract", "--input", input, "--work", work)))
    assert(spark.read.parquet(s"$work/documents").count() == 5)

    Cli.run(spark, Cli.parse(Array("transform", "--work", work)))
    val chunks = spark.read.parquet(s"$work/chunks")
    assert(chunks.count() > 5) // long docs → multiple chunks each
    assert(chunks.columns.contains("chunk_id"))

    Cli.run(spark, Cli.parse(Array("load", "--work", work)))
    val store = spark.read.parquet(s"$work/store")
    assert(store.columns.contains("embedding"))
    assert(store.select("collection").distinct().count() == 1) // guides folder

    val report = Cli.validate(spark, Cli.parse(Array("validate", "--work", work)))
    assert(report.columns.contains("recommendation"))

    val results = Cli.search(
      spark,
      Cli.parse(Array("search", "--work", work, "--query", "spark join aggregation", "--k", "3"))
    )
    assert(results.count() == 3)

    Cli.run(spark, Cli.parse(Array("reset", "--work", work)))
    assert(!new java.io.File(s"$work/store").exists())
  }

  test("extract → transform → load → search over a binary HWP corpus (--source hwp)") {
    val input = Files.createTempDirectory("graft-cli-hwp-in").toString
    val work = Files.createTempDirectory("graft-cli-hwp-work").toString
    Files.createDirectories(Paths.get(s"$input/notices"))
    (1 to 3).foreach { i =>
      val text = (1 to 20)
        .map(j => s"공지사항 $i 번째 문단 $j 스파크 조인과 집계 파이프라인에 대한 설명입니다.")
        .mkString(" ")
      Files.write(
        Paths.get(s"$input/notices/n$i.hwp"),
        graft.sources.HwpFixtures.buildHwpCfb(text, compressed = true)
      )
    }

    Cli.run(spark, Cli.parse(Array("extract", "--input", input, "--work", work, "--source", "hwp")))
    val docs = spark.read.parquet(s"$work/documents")
    assert(docs.count() == 3)
    assert(docs.select("language").distinct().collect().map(_.getString(0)).toSeq == Seq("korean"))

    Cli.run(spark, Cli.parse(Array("transform", "--work", work)))
    assert(spark.read.parquet(s"$work/chunks").count() >= 3)

    Cli.run(spark, Cli.parse(Array("load", "--work", work)))
    val store = spark.read.parquet(s"$work/store")
    assert(store.columns.contains("embedding"))

    val results = Cli.search(
      spark,
      Cli.parse(Array("search", "--work", work, "--query", "스파크 조인 집계", "--k", "2"))
    )
    assert(results.count() == 2)
  }

  test("load applies the reference's insert-time caps (C18) and null defaults") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-cli-caps").toString
    Seq(("c1", "x" * 70000, "s/a.html", None: Option[String], "guides", "english"))
      .toDF("chunk_id", "text", "source", "filename", "folder_name", "language")
      .write.parquet(s"$work/chunks")

    Cli.run(spark, Cli.parse(Array("load", "--work", work)))
    val row = spark.read.parquet(s"$work/store").select("text", "filename").head()
    assert(row.getString(0).length == 65535)
    assert(row.getString(1) == "")
  }

  test("load names the stage, the checkpoint, its missing column and the stage to rerun") {
    val work = tmp("graft-cli-fresh")
    runCli("extract", "--input", htmlCorpus, "--work", work)
    runCli("transform", "--work", work)
    // a chunks checkpoint written by a build that had no folder_name
    val stale = tmp("graft-cli-stale")
    spark.read.parquet(s"$work/chunks").drop("folder_name").write.parquet(s"$stale/chunks")
    val e = intercept[IllegalArgumentException](runCli("load", "--work", stale))
    Seq("load:", s"$stale/chunks", "folder_name", "rerun transform").foreach { part =>
      assert(e.getMessage.contains(part), s"'$part' missing from: ${e.getMessage}")
    }
    assert(!Files.exists(Paths.get(s"$stale/store")), "load wrote a store from a stale checkpoint")
  }

  test("parse: a trailing flag with no value names the flag") {
    val e = intercept[IllegalArgumentException](Cli.parse(Array("search", "--work", "/w", "--k")))
    assert(e.getMessage.contains("--k"))
  }

  test("parse: a non-integer --k names the flag") {
    val e = intercept[IllegalArgumentException](Cli.parse(Array("search", "--k", "abc")))
    assert(e.getMessage.contains("--k") && e.getMessage.contains("abc"))
  }

  test("parse: --k below 1 is rejected") {
    val e = intercept[IllegalArgumentException](Cli.parse(Array("search", "--k", "0")))
    assert(e.getMessage.contains("--k"))
  }

  test("parse: an unknown stage is rejected before any session starts") {
    val e = intercept[IllegalArgumentException](Cli.parse(Array("nope", "--work", "/w")))
    assert(e.getMessage.contains("nope"))
  }

  test("parse: an unknown --source names the flag before any session starts") {
    val e = intercept[IllegalArgumentException](Cli.parse(Array("extract", "--source", "pdf")))
    assert(e.getMessage.contains("--source") && e.getMessage.contains("pdf"))
  }

  test("unknown stage/flag rejected") {
    intercept[IllegalArgumentException](Cli.parse(Array("extract", "--bogus", "x")))
    intercept[IllegalArgumentException](
      Cli.run(spark, Cli.parse(Array("nope")))
    )
  }
}
