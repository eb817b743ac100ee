package graft.tools

import graft.{Bench, Sessions}
import graft.queries.{CatalogRow, CatalogSupport, QueryCatalog}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import scala.collection.mutable.ArrayBuffer

/** Looks inside catalog rows without timing the whole catalog:
  *
  *  - `profile <sfDir> <iters> [query…]`: per-stage profile (stage
  *    wall, task time, executor CPU, shuffle, input, spill). Each row is
  *    prepared and warmed once untimed, then run `iters` times through
  *    Bench's noop sink; the stage table is that of the LAST run.
  *  - `scans <sfDir> [query…]`: the "pruning defeats exchange reuse"
  *    audit. With AQE off, classic ReuseExchange collapses canonically
  *    equal exchange subtrees, so a relation still scanned more than
  *    once in the final plan is either consumed with different shapes
  *    (`multi`) or a reuse miss where one scan's columns are a subset
  *    of another's (`PRUNE?`). Plan-only: rows are built, not run, but
  *    rows that run actions while being built still pay those.
  *  - `plan <sfDir> [query…]`: `explain("formatted")` of each row.
  *
  * With no query named, every catalog row is inspected.
  * Usage: runMain graft.tools.Inspect <profile|scans|plan> <sfDir> [iters] [query…]
  */
object Inspect {

  private val Usage = "usage: Inspect <profile|scans|plan> <sfDir> [iters] [query…]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val (mode, sfDir) = (args(0), args(1))
    val (iters, listed) = mode match {
      case "profile" =>
        val n = args.lift(2).flatMap(_.toIntOption).filter(_ >= 1)
          .getOrElse(throw new IllegalArgumentException(s"profile needs iters >= 1; $Usage"))
        (n, args.drop(3).toSeq)
      case "scans" | "plan" => (0, args.drop(2).toSeq)
      case other => throw new IllegalArgumentException(s"unknown mode $other; $Usage")
    }
    val rows = QueryCatalog.select(listed)

    val spark = Sessions.start(s"graft-inspect-$mode")
    try mode match {
      case "profile" => profile(spark, sfDir, iters, rows)
      case "scans" => scans(spark, sfDir, rows)
      case "plan" => plan(spark, sfDir, rows)
    } finally spark.stop()
  }

  private final case class StageRow(
      id: Int,
      name: String,
      wallMs: Long,
      taskTimeMs: Long,
      cpuMs: Long,
      tasks: Int,
      shuffleReadMB: Double,
      shuffleWriteMB: Double,
      inputMB: Double,
      spillMB: Double)

  private def profile(spark: SparkSession, sfDir: String, iters: Int, rows: Seq[CatalogRow]): Unit = {
    val stages = ArrayBuffer.empty[StageRow]
    CatalogSupport.prepare(spark, sfDir)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += StageRow(
            si.stageId,
            si.name.takeWhile(_ != '\n').take(90),
            wall,
            m.executorRunTime,
            m.executorCpuTime / 1000000L,
            si.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.bytesRead / 1e6,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        }
      }
    })
    rows.foreach { r =>
      val (n, fn) = (r.name, r.q)
      Bench.runNoop(fn(spark, sfDir)) // warm: JIT, codegen, footers
      val walls = (1 to iters).map { i =>
        stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"$n#$i")
        Bench.runNoop(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      // Bench's single-thread calibration leg labels the host state
      // each profile was measured under
      val cal = Bench.calibrate()._1
      val totCpu = stages.synchronized(stages.map(_.cpuMs).sum)
      println(f"\n===== $n  walls=${walls.map(w => f"$w%.3f").mkString(", ")}  cal=$cal%.3f  sumCpu=${totCpu}ms =====")
      println(f"${"stage"}%-6s ${"wall_ms"}%8s ${"task_ms"}%9s ${"cpu_ms"}%8s ${"tasks"}%6s ${"shufR_MB"}%9s ${"shufW_MB"}%9s ${"in_MB"}%8s ${"spill"}%6s  name")
      stages.synchronized(stages.sortBy(_.id)).foreach { r =>
        println(f"${r.id}%-6d ${r.wallMs}%8d ${r.taskTimeMs}%9d ${r.cpuMs}%8d ${r.tasks}%6d ${r.shuffleReadMB}%9.2f ${r.shuffleWriteMB}%9.2f ${r.inputMB}%8.2f ${r.spillMB}%6.1f  ${r.name}")
      }
    }
  }

  private def scans(spark: SparkSession, sfDir: String, rows: Seq[CatalogRow]): Unit = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // a ReusedExchange is a leaf, so the scans it stands for are not
    // counted again; subquery plans hold their own scans
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
      (p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }) ++
        p.children.flatMap(fileScans) ++ p.subqueries.flatMap(fileScans)
    rows.foreach { row =>
      val n = row.name
      try {
        val plan = row.q(spark, sfDir).queryExecution.executedPlan
        val byPath = fileScans(plan).groupBy(f =>
          f.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?"))
        val nReuse = plan.collectWithSubqueries { case r: ReusedExchangeExec => r }.size
        val dups = byPath.filter(_._2.size > 1)
        if (dups.isEmpty)
          println(f"[scans] $n%-28s ok    scans=${byPath.values.map(_.size).sum} reuse=$nReuse")
        else dups.toSeq.sortBy(_._1).foreach { case (path, ss) =>
          val cols = ss.map(_.output.map(_.name).toSet)
          val subsumed = cols.combinations(2).exists(p => p(0).subsetOf(p(1)) || p(1).subsetOf(p(0)))
          val tag = if (subsumed) "PRUNE?" else "multi "
          println(f"[scans] $n%-28s $tag path=$path x${ss.size} reuse=$nReuse cols=${cols.map(_.toSeq.sorted.mkString("(", ",", ")")).mkString(" vs ")}")
        }
      } catch { case e: Throwable => println(s"[scans] $n FAILED: ${e.getMessage}") }
    }
  }

  private def plan(spark: SparkSession, sfDir: String, rows: Seq[CatalogRow]): Unit =
    rows.foreach { r =>
      println(s"\n===== ${r.name} =====")
      try r.q(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"plan failed: ${e.getMessage}") }
    }
}
