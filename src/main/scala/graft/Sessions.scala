package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for every main in the program (Bench,
  * Verify, Cli, Smoke and the tools), so their configs cannot drift
  * apart:
  *  - master: `spark.master` when spark-submit or `-Dspark.master`
  *    supplies it, otherwise `local[n]`;
  *  - n = `SPARK_GRAFT_CPUS` (an integer >= 1), or the host's
  *    available processors when the variable is unset;
  *  - `n` shuffle partitions, UTC session time zone, UI off, log
  *    level WARN.
  * Everything else is Spark's default. A main that needs a different
  * SQL setting changes it on its own session through `spark.conf.set`.
  */
object Sessions {

  private val CpusVar = "SPARK_GRAFT_CPUS"

  /** `raw` is the variable's value (None when unset); surrounding
    * blanks are allowed, anything but an integer >= 1 fails.
    */
  def parseCpus(raw: Option[String], available: Int): Int = raw match {
    case None => available
    case Some(s) =>
      s.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
        s"$CpusVar must be an integer >= 1, got '$s'"))
  }

  /** The local parallelism every main runs with. */
  def cpus: Int = parseCpus(sys.env.get(CpusVar), Runtime.getRuntime.availableProcessors)

  def start(appName: String): SparkSession = {
    val n = cpus
    val builder = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (!sys.props.contains("spark.master")) builder.master(s"local[$n]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
