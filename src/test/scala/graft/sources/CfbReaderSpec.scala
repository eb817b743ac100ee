package graft.sources

import graft.SparkTestBase
import java.nio.{ByteBuffer, ByteOrder}

/** Round-trips a spec-conformant CFB container (built from scratch by
  * [[HwpFixtures]]: header, FAT, DIFAT-in-header, directory, miniFAT +
  * mini stream) through CfbReader + HwpLoader.extractHwp.
  */
class CfbReaderSpec extends SparkTestBase {

  import HwpFixtures.buildHwpCfb

  test("CfbReader enumerates streams with full paths through storages") {
    val cfb = buildHwpCfb("한글 씨에프비 컨테이너 본문", compressed = true)
    val streams = CfbReader.streams(cfb)
    assert(streams.keySet ==
      Set("FileHeader", "BodyText/Section0", "\u0005HwpSummaryInformation"))
    assert(streams("FileHeader").length == 256)
    assert(new String(streams("FileHeader").take(17), "US-ASCII") == "HWP Document File")
  }

  test("multi-section container with summary: extractHwpDoc full round-trip") {
    val cfb = HwpPayloads.buildHwpCfb(
      Seq("첫 섹션 본문", "second section body"),
      compressed = true, title = "문서 제목", author = "홍길동")
    val (text, title, author, subject, keywords) = HwpLoader.extractHwpDoc(cfb)
    assert(text == "첫 섹션 본문\nsecond section body")
    assert(title == "문서 제목" && author == "홍길동")
    assert(subject == null && keywords == null)
  }

  test("sectionless container → null text (S8 failed-doc contract)") {
    val cfb = HwpPayloads.buildHwpCfb(Seq.empty, compressed = true, title = "빈 문서", author = "x")
    assert(HwpLoader.extractHwp(cfb) == null)
  }

  test("extractHwp: compressed sections inflate and decode") {
    val text = "한글 본문 내용입니다 compressed section text"
    val out = HwpLoader.extractHwp(buildHwpCfb(text, compressed = true))
    assert(out == text)
  }

  test("extractHwp: uncompressed flag path") {
    val text = "uncompressed 비압축 본문"
    val out = HwpLoader.extractHwp(buildHwpCfb(text, compressed = false))
    assert(out == text)
  }

  /** MS-OLEPS PropertySetStream with title(2)/author(4) as VT_LPWSTR. */
  private def buildSummaryStream(title: String, author: String): Array[Byte] = {
    def lpwstr(s: String): Array[Byte] = {
      val chars = s + "\u0000"
      val b = ByteBuffer.allocate(8 + chars.length * 2).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(31) // VT_LPWSTR
      b.putInt(chars.length)
      b.put(chars.getBytes("UTF-16LE"))
      b.array()
    }
    val vTitle = lpwstr(title)
    val vAuthor = lpwstr(author)
    val setOffset = 48 // header(28) + fmtid(16) + offset(4)
    val headerSize = 8 + 2 * 8 // size+count + 2 id/offset pairs
    val b = ByteBuffer.allocate(setOffset + headerSize + vTitle.length + vAuthor.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.putShort(0, 0xfffe.toShort) // byte order
    b.putInt(24, 1) // one property set
    b.putInt(44, setOffset) // offset of the set (fmtid left zero)
    b.position(setOffset)
    b.putInt(setOffset + headerSize + vTitle.length + vAuthor.length - setOffset) // size
    b.putInt(2) // numProps
    b.putInt(2); b.putInt(headerSize) // pid 2 (title) at offset
    b.putInt(4); b.putInt(headerSize + vTitle.length) // pid 4 (author)
    b.put(vTitle); b.put(vAuthor)
    b.array()
  }

  test("OLE property set: title/author round-trip") {
    val props = OlePropertySet.stringProperties(buildSummaryStream("문서 제목", "홍길동"))
    assert(props(OlePropertySet.PidTitle) == "문서 제목")
    assert(props(OlePropertySet.PidAuthor) == "홍길동")
    assert(OlePropertySet.stringProperties(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("malformed container → null (error isolation)") {
    assert(HwpLoader.extractHwp(Array[Byte](1, 2, 3)) == null)
    assert(HwpLoader.extractHwp("not a cfb file at all, just text padded to be long enough".getBytes) == null)
  }

  test("loadHwp end-to-end over a directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hwp").toString
    val text = "한국어 문서 본문이 충분히 길어서 필터를 통과합니다 그리고 조금 더"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/doc1.hwp"),
      buildHwpCfb(text, compressed = true)
    )
    val df = HwpLoader.loadHwp(spark, dir)
    val rows = df.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("language") == "korean")
    assert(rows.head.getAs[String]("text").contains("한국어 문서"))
    assert(rows.head.getAs[String]("folder_name") == "root")
  }
}
