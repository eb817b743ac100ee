package spinebench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.mutable

/** Seeded inputs: an HTML/JSP or HWPX source tree with planted exact
  * duplicates and below-minimum pages, and a Korean/English query stream.
  * Everything is a pure function of the seed, so one seed always gives a
  * byte-identical tree and the same queries.
  */
object Corpus {

  /** One generated source file, `rel` relative to the tree root. */
  final case class SourceFile(rel: String, bytes: Array[Byte])

  /** A generated tree and what the spine must do with it: `survivors`
    * are the files whose documents must reach the store, `duplicates`
    * the planted copies the dedup layer must remove (whichever copy of
    * a group sorts after the group's first path), `short` the pages the
    * minimum-length filter must drop.
    */
  final case class Tree(
      files: Vector[SourceFile],
      survivors: Set[String],
      duplicates: Set[String],
      short: Set[String]
  ) {
    def bytes: Long = files.iterator.map(_.bytes.length.toLong).sum

    def write(root: Path): Unit = files.foreach { f =>
      val p = root.resolve(f.rel)
      Files.createDirectories(p.getParent)
      Files.write(p, f.bytes)
    }
  }

  val Folders: Vector[String] = Vector("guide", "notice", "policy", "faq", "manual")

  // Syllables the cleaner's HWP-noise stage deletes are kept out of the
  // vocabulary, so the generated text reaches the chunker intact.
  private val CleanerNoise: Set[Char] =
    ("밼밾뀀뀜럑됀쀀쀜쀌쟑쮜뛵픀븀휀렀낭갊뗈퐀팀햀쐀쐐썀썐찀쨀쩐짐쪠짤팜팠" +
      "엀움은윀쁀쁘뻘뺘빀삐삘쌤씀썼쎄쐬쒀쓔쓰씌앜얘옜웨윔읨윙읭욀" +
      "낗삓삙낸쓅맂곂탗탉랺곅섀쓇먈쇑눀뤀엌얮쓍샅헒밀곇딀솳쒬겼쓀킭봀쀄탅쀠뒭탇듅랬" +
      "냖멎넀슻췀븷쀔쀐쀘뜀늲저").toSet

  val KoreanWords: Vector[String] = Vector(
    "데이터", "검색", "문서", "벡터", "처리", "분석", "시스템", "사용자", "정보", "서비스",
    "관리", "개발", "결과", "방법", "기능", "모델", "학습", "품질", "언어", "한국",
    "정책", "공지", "안내", "자료", "교육", "연구", "기술", "보고서", "회의", "일정",
    "변경", "신청", "절차", "규정", "예산", "지원", "센터", "프로그램", "네트워크", "보안",
    "계정", "로그", "설정", "파일", "목록", "항목", "요약", "추천", "질문", "답변",
    "평가", "기준", "범위", "단계", "작업", "과정", "운영", "배포", "시험", "성능",
    "색인", "구조", "문장", "단락", "제목", "내용", "형식", "변환", "수집", "정제",
    "중복", "제거", "임베딩", "유사도", "순위", "응답", "요청", "서버", "클러스터", "노드",
    "도서관", "학교", "병원", "도시", "교통", "환경", "에너지", "경제", "사회", "문화"
  ).filterNot(_.exists(CleanerNoise))

  val EnglishWords: Vector[String] = Vector(
    "data", "search", "document", "vector", "process", "analysis", "system", "user", "information",
    "service", "manage", "develop", "result", "method", "feature", "model", "learning", "quality",
    "language", "policy", "notice", "guide", "material", "education", "research", "technology",
    "report", "meeting", "schedule", "change", "request", "procedure", "rule", "budget", "support",
    "center", "program", "network", "security", "account", "record", "setting", "file", "list",
    "item", "summary", "question", "answer", "review", "standard", "range", "stage", "task",
    "course", "operation", "release", "test", "performance", "index", "structure", "sentence",
    "paragraph", "title", "content", "format", "convert", "collect", "clean", "duplicate", "remove",
    "embedding", "similarity", "ranking", "response", "server", "cluster", "library", "school",
    "hospital", "city", "traffic", "energy", "economy", "society", "culture", "river", "garden"
  )

  private def pick[T](r: SplittableRandom, xs: Vector[T]): T = xs(r.nextInt(xs.size))

  private def sentence(r: SplittableRandom, korean: Boolean): String = {
    val n = 6 + r.nextInt(7)
    val words = Vector.fill(n)(pick(r, if (korean) KoreanWords else EnglishWords))
    if (korean) words.mkString(" ") + "."
    else (words.head.capitalize +: words.tail).mkString(" ") + "."
  }

  private def paragraph(r: SplittableRandom, korean: Boolean): String =
    Vector.fill(2 + r.nextInt(4))(sentence(r, korean)).mkString(" ")

  private final case class Doc(title: String, paragraphs: Vector[String])

  private def doc(r: SplittableRandom, korean: Boolean, paragraphs: Int): Doc = {
    val title = Vector.fill(2 + r.nextInt(3))(pick(r, if (korean) KoreanWords else EnglishWords))
      .mkString(" ")
    Doc(title, Vector.fill(paragraphs)(paragraph(r, korean)))
  }

  /** Fisher-Yates shuffle driven by `r`. */
  private def shuffle[T](r: SplittableRandom, xs: Vector[T]): Vector[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** `n` values cycling through `values`, in seeded order: every seed
    * gets the same multiset, so the work in a tree does not swing with
    * the seed.
    */
  private def balanced[T](r: SplittableRandom, values: Vector[T], n: Int): Vector[T] =
    shuffle(r, Vector.tabulate(n)(i => values(i % values.size)))

  private def htmlPage(d: Doc): Array[Byte] = {
    val body = d.paragraphs.zipWithIndex.map { case (p, i) =>
      if (i == 1) s"<h2>${d.title}</h2>\n<p>$p</p>" else s"<p>$p</p>"
    }.mkString("\n")
    s"""<!DOCTYPE html>
       |<html><head><title>${d.title}</title>
       |<script>var page = { id: 1 };</script><style>p { margin: 0; }</style></head>
       |<body><nav><a href="/">home</a> <a href="/about">about</a></nav>
       |<h1>${d.title}</h1>
       |$body
       |<footer>contact desk</footer></body></html>
       |""".stripMargin.getBytes(UTF_8)
  }

  private val ShortHtml = "<html><body><p>%s</p></body></html>\n"

  private val ZipTime = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)

  private def zip(entries: Seq[(String, String)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      val e = new ZipEntry(name)
      e.setTimeLocal(ZipTime)
      zos.putNextEntry(e)
      zos.write(content.getBytes(UTF_8))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  private def section(paragraphs: Seq[String]): String =
    paragraphs.map(p => s"<hp:p><hp:run><hp:t>$p</hp:t></hp:run></hp:p>")
      .mkString("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<hs:sec xmlns:hs=\"s\" xmlns:hp=\"p\">\n", "\n", "\n</hs:sec>\n")

  private def meta(title: String): String =
    s"""<?xml version="1.0" encoding="UTF-8"?><opf:package><dc:title>$title</dc:title><dc:creator>spinebench</dc:creator></opf:package>"""

  private def hwpxPage(d: Doc): Array[Byte] = {
    val (a, b) = d.paragraphs.splitAt((d.paragraphs.size + 1) / 2)
    zip(Seq("mimetype" -> "application/hwp+zip", "Contents/content.meta.xml" -> meta(d.title),
      "Contents/section0.xml" -> section(a)) ++ (if (b.nonEmpty) Seq("Contents/section1.xml" -> section(b)) else Nil))
  }

  private def hwpxShort(word: String): Array[Byte] =
    zip(Seq("mimetype" -> "application/hwp+zip", "Contents/section0.xml" -> section(Seq(word))))

  /** `n` files of one source kind ("html" gives .html and .jsp pages,
    * "hwpx" gives HWPX archives). 6% are below the minimum length and 8%
    * are byte-identical copies of an earlier page under another path;
    * the rest are Korean and English pages in equal numbers, 3 to 7
    * paragraphs long. The seed decides the order, the words and which
    * page each copy repeats.
    */
  def tree(seed: Long, kind: String, n: Int): Tree = {
    require(kind == "html" || kind == "hwpx", s"unknown source kind $kind")
    val r = new SplittableRandom(seed * 1000003L + (if (kind == "html") 1 else 2))
    val nShort = math.round(n * 0.06).toInt
    val nDup = math.round(n * 0.08).toInt
    val nOrig = n - nShort - nDup
    // the first file is an original, so every copy has one to repeat
    val roles = "orig" +: shuffle(r, Vector.fill(nShort)("short") ++ Vector.fill(nDup)("dup") ++ Vector.fill(nOrig - 1)("orig"))
    val languages = balanced(r, Vector(true, false), nOrig).iterator
    val lengths = balanced(r, Vector(3, 4, 5, 6, 7), nOrig).iterator
    val files = Vector.newBuilder[SourceFile]
    val group = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[String]] // original → copies
    val originals = mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    val short = Set.newBuilder[String]
    for ((role, i) <- roles.zipWithIndex) {
      val folder = pick(r, Folders)
      val ext = if (kind == "hwpx") "hwpx" else if (r.nextInt(5) == 0) "jsp" else "html"
      val rel = f"$folder/p$i%05d.$ext"
      role match {
        case "short" =>
          val w = pick(r, KoreanWords)
          files += SourceFile(rel, if (kind == "hwpx") hwpxShort(w) else ShortHtml.format(w).getBytes(UTF_8))
          short += rel
        case "dup" =>
          val (orig, bytes) = originals(r.nextInt(originals.size))
          files += SourceFile(rel, bytes)
          group(orig) += rel
        case "orig" =>
          val d = doc(r, languages.next(), lengths.next())
          val bytes = if (kind == "hwpx") hwpxPage(d) else htmlPage(d)
          group(i) = mutable.ArrayBuffer(rel)
          originals += (i -> bytes)
          files += SourceFile(rel, bytes)
      }
    }
    val groups = group.valuesIterator.map(_.toVector).toVector
    // the dedup layer keeps, per duplicate group, the copy whose source
    // path sorts first (its tiebreak is source, then chunk index)
    val survivors = groups.map(_.min).toSet
    val duplicates = groups.flatMap(g => g.filterNot(_ == g.min)).toSet
    Tree(files.result(), survivors, duplicates, short.result())
  }

  /** A generated query and the language its words were drawn from
    * ("korean" or "english", the store's language values).
    */
  final case class Query(text: String, language: String)

  /** `n` distinct queries of 2 to 12 distinct vocabulary words, Korean and
    * English alternating in seeded order within each pair.
    */
  def queries(seed: Long, n: Int): Vector[Query] = {
    val r = new SplittableRandom(seed * 1000003L + 7)
    val seen = mutable.HashSet.empty[String]
    val out = Vector.newBuilder[Query]
    var pair = Vector.empty[Boolean]
    while (seen.size < n) {
      if (pair.isEmpty) pair = shuffle(r, Vector(true, false))
      val korean = pair.head
      val words = if (korean) KoreanWords else EnglishWords
      val q = shuffle(r, words).take(2 + r.nextInt(11)).mkString(" ")
      if (seen.add(q)) {
        out += Query(q, if (korean) "korean" else "english")
        pair = pair.tail
      }
    }
    out.result()
  }
}
