package spinebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Process-wide counters read from outside the program: JVM management
  * beans, Spark's codegen metrics and `/proc/self/status`.
  */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenNs: Long = CodeGenerator.compileTime

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb: Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0)

  /** Milliseconds since this JVM started. */
  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime
}

/** One span: a named interval around a call into a layer, the span that
  * caused it, and the counters recorded inside it (exclusive of child
  * spans for the Spark totals, inclusive for the JVM deltas).
  */
final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
  var endNs: Long = -1L
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark totals per span, from a listener the benchmark registers. Jobs
  * carry the active span id as a local property; stages and tasks are
  * attributed through their job.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val totals = new ConcurrentHashMap[Int, mutable.Map[String, Double]]()

  private def bump(span: Int, k: String, v: Double): Unit = {
    val m = totals.computeIfAbsent(span, _ => mutable.Map.empty[String, Double])
    m.synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt).getOrElse(-1)
    e.stageInfos.foreach(s => stageSpan.put(s.stageId, span))
    bump(span, "spark.jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    bump(stageSpan.getOrDefault(e.stageInfo.stageId, -1), "spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, -1)
    bump(span, "spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      bump(span, "spark.executor_cpu_s", m.executorCpuTime / 1e9)
      bump(span, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      bump(span, "spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      bump(span, "spark.records_read", m.inputMetrics.recordsRead.toDouble)
      bump(span, "spark.records_written", m.outputMetrics.recordsWritten.toDouble)
    }
  }
}

/** In-memory span recorder. Spans nest on one client thread; they are
  * kept in memory and written out once, when the run ends.
  */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  val listener = new SpanListener
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, System.nanoTime())
    spans += s
    stack = s :: stack
    val (gc0, jit0, cg0, cgNs0, cpu0) = (Jvm.gcMs, Jvm.jitMs, Jvm.codegenCompiles, Jvm.codegenNs, Jvm.cpuNs)
    sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.add("jvm.gc_s", (Jvm.gcMs - gc0) / 1e3)
      s.add("jvm.jit_ms", (Jvm.jitMs - jit0).toDouble)
      s.add("codegen.compiles", (Jvm.codegenCompiles - cg0).toDouble)
      s.add("codegen.ms", (Jvm.codegenNs - cgNs0) / 1e6)
      s.add("process.cpu_s", (Jvm.cpuNs - cpu0) / 1e9)
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Adds a count to the innermost open span. */
  def count(k: String, v: Double): Unit = stack.head.add(k, v)

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  private def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Spark totals of a span and all its descendants. */
  def sparkTotals(s: Span): Map[String, Double] = {
    val kids = children
    def go(x: Span): Map[String, Double] = {
      val own = Option(listener.totals.get(x.id)).map(m => m.synchronized(m.toMap)).getOrElse(Map.empty)
      kids.getOrElse(x.id, Nil).map(go).foldLeft(own)(Tracer.plus)
    }
    go(s)
  }

  /** A value of a counter summed over the named spans (Spark totals
    * included, descendants included).
    */
  def total(name: String, key: String): Double =
    spans.iterator.filter(_.name == name).map { s =>
      if (key == "s") s.seconds else s.counters.getOrElse(key, sparkTotals(s).getOrElse(key, 0.0))
    }.sum

  def spanCount(name: String): Int = spans.count(_.name == name)

  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  /** All spans as JSON lines: id, parent, name, start/end offsets and
    * counters, Spark totals merged in (exclusive of children).
    */
  def toJsonLines: Seq[String] = {
    val t0 = spans.headOption.fold(0L)(_.startNs)
    spans.toSeq.map { s =>
      val spark = Option(listener.totals.get(s.id)).map(m => m.synchronized(m.toMap)).getOrElse(Map.empty)
      val cs = (s.counters ++ spark).map { case (k, v) => s"\"$k\":${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${Json.num((s.startNs - t0) / 1e6)},""" +
        s""""end_ms":${Json.num((s.endNs - t0) / 1e6)},"counters":{$cs}}"""
    }
  }
}

object Tracer {
  val SpanProperty = "spinebench.span"
  def plus(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).iterator.map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
}
