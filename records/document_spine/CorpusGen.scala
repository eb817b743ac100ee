package probe

import graft.sources.HwpPayloads
import java.nio.file.{Files, Paths}

/** Writes the html/hwp/hwpx trees of the parent-vs-change `Cli all`
  * comparison (cli_all_parent_vs_change.txt): 30 files per kind over
  * four folders (one nested) and the top level, Korean and English
  * pages, short html pages and one planted html copy. Run from a test
  * scope: `sbt "Test/runMain probe.CorpusGen <root>"`.
  */
object CorpusGen {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    def write(p: String, b: Array[Byte]): Unit = {
      val path = Paths.get(root, p); Files.createDirectories(path.getParent); Files.write(path, b)
    }
    val folders = Seq("guides", "notes", "Forms-A", "deep/inner")
    val rnd = new scala.util.Random(7)
    val en = Seq("spark", "join", "aggregate", "pipeline", "vector", "store", "chunk", "embed", "query", "index")
    val ko = Seq("스파크", "조인", "집계", "파이프라인", "벡터", "저장소", "청크", "임베딩", "질의", "색인")
    def para(words: Seq[String], n: Int) = (1 to n).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    for (i <- 1 to 30) {
      val words = if (i % 2 == 0) ko else en
      val folder = if (i % 7 == 0) "" else folders(i % folders.size) + "/"
      val body = (1 to (3 + i % 5)).map(j => s"<p>${para(words, 20 + j)} &amp; item $i.$j &lt;x&gt;</p>").mkString
      val html = if (i % 11 == 0) "<html><body><p>tiny</p></body></html>" else s"<html><head><title>T $i</title></head><body><h1>H $i</h1>$body</body></html>"
      write(s"html/$folder" + f"p$i%02d." + (if (i % 5 == 0) "jsp" else "html"), html.getBytes("UTF-8"))
      val secs = (0 to i % 3).map(s => para(words, 30 + s * 7) + s" 문단 $i")
      write(s"hwp/$folder" + f"d$i%02d.hwp", HwpPayloads.buildHwpCfb(secs, compressed = i % 2 == 0, title = s"제목 $i", author = s"필자 $i"))
      val xml = secs.map(t => s"<hs:sec><hp:p><hp:t>$t &amp; more</hp:t></hp:p></hs:sec>")
      write(s"hwpx/$folder" + f"x$i%02d.hwpx", HwpPayloads.buildHwpxZip(xml, s"<opf:metadata><dc:title>문서 $i</dc:title><dc:creator>작성자 $i</dc:creator></opf:metadata>"))
    }
    write("html/notes/dup.html", Files.readAllBytes(Paths.get(root, "html/guides/p04.html")))
  }
}
