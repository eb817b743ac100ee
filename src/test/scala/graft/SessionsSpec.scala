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
    val sites = MainSources.sitesOf(raw"SparkSession\s*\.\s*builder".r)
    assert(sites == Seq("src/main/scala/graft/Sessions.scala"),
      s"build sessions with graft.Sessions.start; found builders in: ${sites.mkString(", ")}")
  }
}
