package spinebench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One workload: repeatable set-up rounds, and ops that run timed and
  * hand back their untimed output check.
  */
trait Workload {
  def itemsPerOp: Int
  /** Set-up rounds per run: the first is the cold one. */
  def setupRounds: Int
  /** Timed ops a run makes even when fewer fit in its window: the first
    * op of a run is still the slowest, and a median over two ops would
    * be half made of it.
    */
  def minOps: Int
  def setupRound(round: Int): Unit
  /** Untimed work after the last set-up round, before the first op. */
  def warmUp(): Unit = ()
  def op(i: Int, tracer: Option[Tracer]): () => Either[String, Unit]
  def sideMeasurements(tr: Tracer): Unit = ()
  def perLayer(tr: Tracer, tracedOps: Int): Seq[(String, Double)]
}

/** Per-layer metrics from the spans of a traced run. */
object Layers {

  /** Spine layers, per pass: `passes` traced passes over `files` source
    * files of `bytes` bytes. Cleaner and detector times come from their
    * own spans; the loaders' self time is the loader span minus both.
    */
  def spine(tr: Tracer, passes: Int, files: Int, bytes: Long): Seq[(String, Double)] = {
    def per(span: String, key: String) = tr.total(span, key) / passes
    val clean = tr.total("clean", "s")
    val lang = tr.total("lang", "s")
    val docsOut = per("sources", "spark.records_written")
    val chunks = per("chunk", "spark.records_written")
    val kept = per("dedup", "spark.records_written")
    val written = per("store", "store.bytes_written")
    Seq(
      "sources.s" -> (per("sources", "s") - clean - lang),
      "sources.files" -> files.toDouble,
      "sources.bytes_in" -> bytes.toDouble,
      "sources.docs_out" -> docsOut,
      "sources.drop_frac" -> (1 - docsOut / files),
      "clean.s" -> clean,
      "clean.chars_in" -> tr.total("clean", "clean.chars_in"),
      "clean.chars_out" -> tr.total("clean", "clean.chars_out"),
      "lang.s" -> lang,
      "chunk.s" -> per("chunk", "s"),
      "chunk.chunks_out" -> chunks,
      "dedup.s" -> per("dedup", "s"),
      "dedup.removed" -> (chunks - kept),
      "dedup.kept_frac" -> (if (chunks > 0) kept / chunks else 0.0),
      "embed.s" -> per("embed", "s"),
      "embed.rows" -> per("embed", "spark.records_written"),
      "store.write_s" -> per("store", "s"),
      "store.bytes_written" -> written,
      "store.files_written" -> per("store", "store.files_written"),
      "store.bytes_per_input_byte" -> written / bytes,
      "quality.s" -> per("quality", "s")
    )
  }

  /** Search layers, per traced query (spans named `query`). */
  def search(tr: Tracer): Seq[(String, Double)] = {
    val n = math.max(1, tr.spanCount("query")).toDouble
    def per(span: String, key: String) = tr.total(span, key) / n
    val results = tr.total("query", "search.results")
    Seq(
      "embed.query_us" -> per("embed.query", "s") * 1e6,
      "search.lang_us" -> per("search.lang", "s") * 1e6,
      "search.plan_ms" -> per("search.plan", "s") * 1e3,
      "search.exec_ms" -> per("search.exec", "s") * 1e3,
      "search.stages_per_query" -> per("query", "spark.stages"),
      "search.rows_scanned_per_result" -> (if (results > 0) tr.total("query", "spark.records_read") / results else 0.0)
    )
  }

  /** Spark totals per traced op (spans named `op`). */
  def sparkPerOp(tr: Tracer): Seq[(String, Double)] = {
    val n = math.max(1, tr.spanCount("op")).toDouble
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_cpu_s", "spark.shuffle_write_bytes",
      "spark.spill_bytes").map(k => k -> tr.total("op", k) / n)
  }
}

/** Runs one workload in one process and prints its raw measurements as
  * one `SPINEBENCH_RESULT {json}` line; `run.py` turns them into metrics.
  *
  * Usage: spinebench.Main --workload etl|search --seed N --seconds S
  *        --trace 0|1 --work DIR
  */
object Main {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** The pinned launch: fixed master, shuffle partitions and time zone;
    * nothing is taken from the environment. The heap is pinned by the
    * JVM flags `run.py` passes.
    */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("spinebench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.default.parallelism", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)

    val sessionT0 = System.nanoTime()
    val spark = session(work)
    val sessionStartS = (System.nanoTime() - sessionT0) / 1e9
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val w: Workload = workload match {
      case "etl" => new EtlWorkload(spark, seed, work)
      case "search" => new SearchWorkload(spark, seed, work, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up is repeated; each round starts from fresh directories. The
    // first round is the cold one (class loading, first code generation,
    // JIT); later rounds and the warm-up bring the JVM near its steady
    // state. `setup_s` counts all of it: JVM start to the first timed op.
    val rounds = (1 to w.setupRounds).map { r =>
      val t = System.nanoTime()
      w.setupRound(r)
      (System.nanoTime() - t) / 1e9
    }
    w.warmUp()
    val setupS = Jvm.uptimeMs / 1e3
    // JVM-wide counters: codegen compiles and ms, JIT ms, GC s
    def jvmNow = Seq(Jvm.codegenCompiles.toDouble, Jvm.codegenNs / 1e6, Jvm.jitMs.toDouble, Jvm.gcMs / 1e3)
    val atFirstOp = jvmNow

    // Closed loop, one client. With tracing, the first half of the window
    // runs untraced ops and the second half traced ones, so the untraced
    // ops' JVM counters see the workload undisturbed and the two halves
    // give the tracing overhead; a traced run has at least three untraced
    // ops (search reports codegen over its first 24 timed queries) and two
    // traced ones. Past the workload's minimum, an op that would not
    // finish inside the window (judged by the median op so far) is not
    // started.
    val opMs = Seq.newBuilder[Double]
    val untracedMs = Seq.newBuilder[Double]
    val tracedMs = Seq.newBuilder[Double]
    val cpuMs = Seq.newBuilder[Double]
    // JVM-wide counters per untraced op
    val jvmPerOp = Seq.newBuilder[Seq[Double]]
    val failures = Seq.newBuilder[String]
    var ops, failed = 0
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val midpoint = start + (seconds * 0.5e9).toLong
    val minOps = math.max(w.minOps, if (trace) 5 else 1)
    def fits = System.nanoTime() + median(opMs.result()) * 1e6 <= deadline
    while (ops < minOps || fits) {
      val traced = tracer.filter(_ => ops >= 3 && System.nanoTime() >= midpoint)
      val jvm0 = jvmNow
      val cpu0 = Jvm.cpuNs
      val t0 = System.nanoTime()
      val outcome =
        try {
          val check = w.op(ops, traced)
          val ms = (System.nanoTime() - t0) / 1e6
          cpuMs += (Jvm.cpuNs - cpu0) / 1e6
          if (traced.isEmpty) jvmPerOp += jvmNow.zip(jvm0).map { case (a, b) => a - b }
          opMs += ms
          (if (traced.isDefined) tracedMs else untracedMs) += ms
          check()
        } catch { case e: Exception => Left(s"op $ops threw $e") }
      outcome.left.foreach { msg => failed += 1; failures += msg; System.err.println(s"[spinebench] FAILED $msg") }
      ops += 1
    }
    val peakRss = Jvm.peakRssMb
    val timedPhase = jvmNow.zip(atFirstOp).map { case (a, b) => a - b }

    val perLayer = tracer.fold(Seq.empty[(String, Double)]) { tr =>
      w.sideMeasurements(tr)
      tr.drain()
      val overhead = median(tracedMs.result()) / median(untracedMs.result()) - 1
      val perOp = jvmPerOp.result()
      val jvmMeans = Seq("codegen.compiles_per_op", "codegen.ms_per_op", "jvm.jit_ms", "jvm.gc_s").zipWithIndex
        .map { case (k, i) => k -> perOp.map(_(i)).sum / math.max(1, perOp.size) }
      val metrics = w.perLayer(tr, tr.spanCount("op")) ++ jvmMeans ++ Layers.sparkPerOp(tr) ++
        Seq("spark.session_start_s" -> sessionStartS, "trace.overhead_frac" -> overhead)
      val spansFile = work.resolve("spans.jsonl")
      Files.write(spansFile, tr.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
      metrics
    }
    // host speed after the run
    val (calS, _) = graft.Bench.calibrate()
    def phase(xs: Seq[Double]) =
      Json.obj(Seq("codegen_compiles", "codegen_ms", "jit_ms", "gc_s").zip(xs).map { case (k, v) => k -> Json.num(v) })

    val opsDone = opMs.result()
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> ops.toString,
      "failed" -> failed.toString,
      "failures" -> failures.result().take(5).map(Json.str).mkString("[", ",", "]"),
      "items" -> (opsDone.size.toLong * w.itemsPerOp).toString,
      "op_ms" -> Json.arr(opsDone),
      "cpu_ms" -> Json.arr(cpuMs.result()),
      "setup_s" -> Json.num(setupS),
      "setup_rounds_s" -> Json.arr(rounds),
      "setup_round_median_s" -> Json.num(median(rounds)),
      "jvm_setup_phase" -> phase(atFirstOp),
      "jvm_timed_phase" -> phase(timedPhase),
      "session_start_s" -> Json.num(sessionStartS),
      "peak_rss_mb" -> Json.num(peakRss),
      "cores" -> Cores.toString,
      "untraced_codegen_compiles" -> Json.num(jvmPerOp.result().map(_.head).sum),
      "calibrate_s" -> Json.num(calS),
      "per_layer" -> Json.obj(perLayer.map { case (k, v) => k -> Json.num(v) })
    ))
    println("SPINEBENCH_RESULT " + result)
    spark.stop()
  }
}
