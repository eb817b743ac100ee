package graft

/** Source gates: where a pattern is written in the main sources. */
object MainSources {

  private def files(): Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory,
      s"gate must run from the repo root (cwd=${new java.io.File(".").getCanonicalPath})")
    def walk(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    walk(root).filter(_.getName.endsWith(".scala"))
  }

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  /** For each match of `pattern`, the `src/main/scala/…` path of the
    * file holding it, in walk order. Runs from the repo root.
    */
  def sitesOf(pattern: scala.util.matching.Regex): Seq[String] =
    for {
      f <- files()
      _ <- pattern.findAllIn(read(f))
    } yield f.getPath

  /** Like [[sitesOf]], one path per matching line, over code only:
    * comment lines and the bodies of triple-quoted strings (the DuckDB
    * oracle SQL) are skipped.
    */
  def codeSitesOf(pattern: scala.util.matching.Regex): Seq[String] =
    for {
      f <- files()
      // blank each """…""" body, keeping its line breaks
      code = "(?s)\"\"\".*?\"\"\"".r.replaceAllIn(read(f),
        m => scala.util.matching.Regex.quoteReplacement(m.matched.replaceAll("[^\n]", "")))
      line <- code.split("\n").toSeq.map(_.trim)
      if !line.startsWith("//") && !line.startsWith("*") && !line.startsWith("/*")
      if pattern.findFirstIn(line).isDefined
    } yield f.getPath
}
