package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Janino compile counting for the plan-shape gates: a plan shape must
  * compile once, so a per-value literal that reaches the generated Java
  * source (a folded query norm, an input path inside a regex) shows up
  * as new compiles when the same plan runs again with another value.
  * The counter is JVM-global; suites in one test JVM run one at a time.
  */
object CodegenCount {

  /** The result of `block` and the number of classes it compiled. */
  def compilesOf[T](block: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val result = block
    (result, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }
}
