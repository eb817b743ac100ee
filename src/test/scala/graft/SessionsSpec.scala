package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory: SPARK_GRAFT_CPUS parsing, and the gate that
  * keeps it the only place a session is built in the main sources.
  */
class SessionsSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset falls back to the host's processors") {
    assert(Sessions.parseCpus(None, available = 6) == 6)
  }

  test("SPARK_GRAFT_CPUS: an integer >= 1 is taken, surrounding blanks allowed") {
    assert(Sessions.parseCpus(Some("8"), available = 6) == 8)
    assert(Sessions.parseCpus(Some(" 4 "), available = 6) == 4)
  }

  test("SPARK_GRAFT_CPUS: anything else fails with a message naming the variable") {
    for (bad <- Seq("abc", "0")) {
      val e = intercept[IllegalArgumentException](Sessions.parseCpus(Some(bad), available = 6))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"))
    }
  }

  test("SparkSession.builder appears in src/main only inside the factory") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory,
      s"gate must run from the repo root (cwd=${new java.io.File(".").getCanonicalPath})")
    def walk(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    val builder = raw"SparkSession\s*\.\s*builder".r
    val sites = for {
      f <- walk(root) if f.getName.endsWith(".scala")
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      _ <- builder.findAllIn(src)
    } yield f.getPath
    assert(sites == Seq("src/main/scala/graft/Sessions.scala"),
      s"build sessions with graft.Sessions.start; found builders in: ${sites.mkString(", ")}")
  }
}
