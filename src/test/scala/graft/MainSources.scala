package graft

/** Source gates: where a pattern is written in the main sources. */
object MainSources {

  /** For each match of `pattern`, the `src/main/scala/…` path of the
    * file holding it, in walk order. Runs from the repo root.
    */
  def sitesOf(pattern: scala.util.matching.Regex): Seq[String] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory,
      s"gate must run from the repo root (cwd=${new java.io.File(".").getCanonicalPath})")
    def walk(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    for {
      f <- walk(root) if f.getName.endsWith(".scala")
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      _ <- pattern.findAllIn(src)
    } yield f.getPath
  }
}
