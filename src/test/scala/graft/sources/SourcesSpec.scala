package graft.sources

import graft.SparkTestBase
import java.nio.file.{Files, Paths}
import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.util.zip.{Deflater, ZipEntry, ZipOutputStream}

class SourcesSpec extends SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-src").toString

  test("HTML loader: recursive scan, parse, structure, metadata, folder routing (S1-S3, C13)") {
    val root = tmpDir()
    Files.createDirectories(Paths.get(s"$root/lms"))
    val html =
      """<html><head><title>Course Page</title><script>var x=1;</script>
        |<style>.a{color:red}</style></head>
        |<body><nav>menu</nav><h1>Welcome Students</h1>
        |<p>This is the first paragraph with enough text to survive cleaning.</p>
        |<p>Second paragraph provides additional useful content here.</p>
        |<ul><li>item</li></ul><table><tr><td>x</td></tr></table>
        |<footer>copyright</footer></body></html>""".stripMargin
    Files.write(Paths.get(s"$root/lms/course.html"), html.getBytes("UTF-8"))
    Files.write(Paths.get(s"$root/top.html"),
      "<html><body><p>Top level document with plenty of textual content here.</p></body></html>".getBytes("UTF-8"))
    Files.write(Paths.get(s"$root/lms/broken.html"), Array[Byte](0x00, 0x01)) // parse survives, tiny text dropped

    val df = HtmlLoader.load(spark, root)
    val rows = df.collect()
    assert(rows.length == 2, s"expected 2 docs, got ${rows.map(_.getAs[String]("source")).mkString(",")}")
    val course = rows.find(_.getAs[String]("filename") == "course.html").get
    assert(course.getAs[String]("folder_name") == "lms")
    assert(course.getAs[String]("title") == "Course Page")
    assert(course.getAs[Int]("heading_count") == 1)
    assert(course.getAs[Int]("paragraph_count") == 2)
    assert(course.getAs[Int]("table_count") == 1)
    assert(course.getAs[Int]("list_count") == 1)
    val text = course.getAs[String]("text")
    assert(text.contains("first paragraph"))
    assert(!text.contains("var x=1"), "script content must be dropped")
    assert(!text.contains("menu"), "nav content must be dropped")
    val top = rows.find(_.getAs[String]("filename") == "top.html").get
    assert(top.getAs[String]("folder_name") == "root")
    assert(top.getAs[String]("language") == "english")
  }

  /** A source tree of `kind`: one file in `lms/`, one at the top. */
  private def tree(kind: String, root: String): String = {
    val body = "한국어 문서 본문이 충분히 길어서 필터를 통과합니다"
    val bytes = kind match {
      case "html" => s"<html><body><p>A page with plenty of textual content: $body</p></body></html>".getBytes("UTF-8")
      case "hwp" => HwpPayloads.buildHwpCfb(Seq(body), compressed = true)
      case "hwpx" => HwpPayloads.buildHwpxZip(Seq(s"<hp:p>$body</hp:p>"), "<opf:metadata/>")
    }
    Files.createDirectories(Paths.get(s"$root/lms"))
    Files.write(Paths.get(s"$root/lms/a.$kind"), bytes)
    Files.write(Paths.get(s"$root/top.$kind"), bytes)
    root
  }

  test("source kinds compile once per plan shape: a new root compiles nothing") {
    for ((kind, k) <- DocumentSource.kinds) {
      def folders(root: String): (Seq[(String, String)], Long) = {
        val (rows, compiles) = graft.CodegenCount.compilesOf(DocumentSource.load(spark, root, k).collect())
        (rows.map(r => r.getAs[String]("filename") -> r.getAs[String]("folder_name")).toSeq.sorted, compiles)
      }
      val expected = Seq(s"a.$kind" -> "lms", s"top.$kind" -> "root")
      assert(folders(tree(kind, tmpDir()))._1 == expected, kind)
      // another root, of another length too
      val (second, compiles) = folders(tree(kind, s"${tmpDir()}/second"))
      assert(second == expected, kind)
      assert(compiles == 0, s"$kind: a new input directory compiled $compiles classes: the root reached the generated code")
      // the root as given: a trailing slash; regex metacharacters (not
      // Hadoop glob ones, which the binaryFile source would expand)
      assert(folders(tree(kind, tmpDir()) + "/")._1 == expected, kind)
      assert(folders(tree(kind, s"${tmpDir()}/a+b(c)$$^.d|e"))._1 == expected, kind)
    }
  }

  test("every source kind emits the shared leading columns") {
    for ((kind, k) <- DocumentSource.kinds) {
      val root = tree(kind, tmpDir())
      val df = DocumentSource.load(spark, root, k)
      assert(df.columns.take(6).toSeq ==
        Seq("source", "filename", "folder_name", "file_type", "file_size", "modified_time"), kind)
      assert(df.columns.takeRight(3).toSeq == Seq("text", "char_count", "language"), kind)
      val top = df.filter(df("filename") === s"top.$kind").head()
      assert(top.getAs[String]("folder_name") == "root", kind)
      assert(top.getAs[String]("file_type") == kind, kind)
      assert(top.getAs[Long]("file_size") == Files.size(Paths.get(s"$root/top.$kind")), kind)
    }
  }

  test("entities decode in one pass: a decoded & starts no other entity (HTML, HWPX)") {
    assert(HtmlLoader.htmlToText("<p>&amp;lt; &amp;quot; &lt;b&gt; &#39;</p>").trim == "&lt; &quot; <b> '")
    val hwpx = HwpPayloads.buildHwpxZip(Seq("<hp:t>&amp;quot; &amp;lt; &quot;q&quot; &amp;</hp:t>"), "<opf:metadata/>")
    assert(HwpLoader.extractHwpx(hwpx).text.trim == "&quot; &lt; \"q\" &")
  }

  test("format(\"binaryFile\") appears in src/main only inside the document source") {
    val sites = graft.MainSources.sitesOf(raw"""format\s*\(\s*"binaryFile"\s*\)""".r)
    assert(sites == Seq("src/main/scala/graft/sources/DocumentSource.scala"),
      s"read files with DocumentSource.files; found binaryFile reads in: ${sites.mkString(", ")}")
  }

  test("HWP section decode: UTF-16LE whitelist keeps Hangul/ASCII, drops NULs and garbage (S5)") {
    val content = "한글 text 123\n"
    val garbage = "ЁЂ" // Cyrillic — outside whitelist
    val bytes = (content + garbage).getBytes("UTF-16LE") ++ Array[Byte](0, 0) // trailing NUL
    val out = HwpLoader.decodeSectionText(bytes)
    assert(out.startsWith("한글 text 123\n"))
    assert(!out.contains('Ё'))
    assert(out.endsWith("  ") || out.endsWith(" "), "garbage → spaces, NUL dropped")
  }

  test("inflateRaw round-trips a raw-deflate stream; corrupt input → null (S4)") {
    val data = ("압축 테스트 " * 50).getBytes("UTF-16LE")
    val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    deflater.setInput(data); deflater.finish()
    val buf = new Array[Byte](64 * 1024)
    val n = deflater.deflate(buf)
    val compressed = buf.take(n)
    assert(HwpLoader.inflateRaw(compressed).toSeq == data.toSeq)
    assert(HwpLoader.decodeSection(compressed).contains("압축 테스트"))
    assert(HwpLoader.inflateRaw(Array[Byte](1, 2, 3)) == null)
  }

  test("HWPX zip extract: sections concatenated in order, meta title/author (S7)") {
    val root = tmpDir()
    val baos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(baos)
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    entry("Contents/section0.xml", "<hp:p>첫 번째 섹션의 한국어 본문 내용입니다 충분히 길게 작성</hp:p>")
    entry("Contents/section1.xml", "<hp:p>두 번째 섹션 내용도 여기에 포함되어 있습니다</hp:p>")
    entry("Contents/meta.xml", "<opf:metadata><dc:title>문서 제목</dc:title><dc:creator>작성자</dc:creator></opf:metadata>")
    zos.close()
    val f = new FileOutputStream(s"$root/doc.hwpx")
    f.write(baos.toByteArray); f.close()

    val df = HwpLoader.loadHwpx(spark, root)
    val rows = df.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("title") == "문서 제목")
    assert(r.getAs[String]("author") == "작성자")
    val text = r.getAs[String]("text")
    assert(text.contains("첫 번째 섹션"))
    assert(text.contains("두 번째 섹션"))
    assert(r.getAs[String]("language") == "korean")
  }
}

class CorruptContainerSpec extends graft.SparkTestBase {
  import graft.sources.{CfbReader, HwpLoader, HwpPayloads}

  test("O9: the graded corruption shapes all yield null text, never throw") {
    // HWP/CFB — truncated below the 512-byte header
    val good = HwpPayloads.buildHwpCfb(Seq("x 1"), compressed = true, title = "t", author = "a")
    assert(HwpLoader.extractHwpDoc(good.take(137))._1 == null)
    // HWP/CFB — flipped magic byte
    val badMagic = good.clone(); badMagic(0) = 0x42
    assert(HwpLoader.extractHwpDoc(badMagic)._1 == null)
    intercept[IllegalArgumentException](CfbReader.streams(badMagic)) // reader itself is strict

    // HWPX — fixed non-zip garbage (no entries)
    val garbage = Array.tabulate[Byte](96)(i => ((i * 7) % 251).toByte)
    assert(HwpLoader.extractHwpx(garbage).text == null)
    // HWPX — PK local-header signature over garbage fields
    val pkGarbage = Array[Byte](0x50, 0x4b, 0x03, 0x04) ++
      Array.tabulate[Byte](64)(i => ((i * 11) % 250).toByte)
    assert(HwpLoader.extractHwpx(pkGarbage).text == null)

    // HTML — control-byte garbage: parses without throwing, battery
    // cleans to (near-)empty so the S8 min-chars filter drops it
    import spark.implicits._
    val ctl = new String(Array.tabulate[Byte](64)(i => ((i % 8) + 1).toByte), "UTF-8")
    val cleaned = Seq(ctl).toDF("text")
      .select(graft.clean.TextCleaner.cleanText(org.apache.spark.sql.functions.col("text")))
      .head().getString(0)
    assert(cleaned.trim.length < 10)
  }
}
