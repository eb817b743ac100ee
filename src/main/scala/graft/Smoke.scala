package graft

/** Drives SparkEntry.entry the way the driver's smoke check does
  * (rows > 0 on sf0.001). Handy for manual verification.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.start("graft-smoke")
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.foreach(r => println(s"[smoke] $r"))
    require(rows.nonEmpty, "entry must return rows")
    spark.stop()
  }
}
