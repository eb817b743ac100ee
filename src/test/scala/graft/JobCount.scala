package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark job counting for the fixed-cost gates: every job, a one-task
  * parquet schema-inference job included, pays the scheduler's per-job
  * floor, so a stage that grows a job shows up as a count. The listener
  * bus is drained before and after the block, so the count is exact
  * and holds only the block's own jobs. Suites in one test JVM run one
  * at a time.
  */
object JobCount {

  /** The result of `block` and the number of Spark jobs it started. */
  def jobsOf[T](spark: SparkSession)(block: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val result = block
      drain(sc)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  // the bus is private to Spark; its drain is public on the JVM class
  private def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
