package graft
import graft.queries.QueryCatalog
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each catalog row's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query names] — the third
    // (local-iteration only; the driver passes two) restricts the run
    // and fails on an unknown name.
    val sfDir = args(0)
    val outDir = args(1)
    val rows = QueryCatalog.select(args.lift(2).toSeq.flatMap(_.split(',')))
    val spark = Sessions.start("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Dump partitioning: repartition(1), NOT coalesce(1): coalesce
    // folds the whole upstream pipeline into the single output task,
    // so any map-only query (clean battery, PII scrub, language id
    // ...) would run one-threaded over the full corpus — hours at
    // sf10. The round-robin shuffle keeps computation parallel and
    // only the final file write single-tasked; the driver compare
    // sorts rows, so output order is immaterial.
    //
    // GRAFT_VERIFY_NPARTS=0 drops the repartition entirely (natural
    // partitioning, one file per task): the single-file funnel heap-
    // OOM'd on a ~608M-row dump at sf100 (round 13's
    // q_embed_neardup_adaptive crash, which took 5 bystander rows'
    // verdicts with it), and every consumer — the driver compare and
    // tools/check_oracles.py — globs <name>/*.parquet, so file count
    // is immaterial to them. The default stays 1 (the driver's
    // small-sf contract); tools/sweep_big.py sets 0.
    // validated explicitly (ADVICE r14): a malformed value must fail
    // with a clear message BEFORE any query runs, and negative values
    // must not silently alias nparts=0 (natural partitioning)
    val npartsRaw = sys.env.getOrElse("GRAFT_VERIFY_NPARTS", "1")
    val nparts = npartsRaw.trim.toIntOption.filter(_ >= 0).getOrElse(
      sys.error(s"GRAFT_VERIFY_NPARTS must be an integer >= 0, got '$npartsRaw'"))
    rows.foreach { r =>
      try {
        val out = r.q(spark, sfDir)
        val shaped = if (nparts > 0) out.repartition(nparts) else out
        shaped.write.mode("overwrite").parquet(s"$outDir/${r.name}")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${r.name} failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
