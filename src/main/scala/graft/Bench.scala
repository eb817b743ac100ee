package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: one JSON line with per-query seconds over
  * SPARK_GRAFT_SF_DIR.
  *
  * Two harness rules learned the hard way (BASELINE.md):
  *  - noop-format sink, not count(): count() lets Catalyst prune all
  *    projection-only work, so projection queries measure ~0.
  *  - untimed warm-up first: `run / fork := true` means every bench is
  *    a cold JVM, and first-touch JIT/codegen/parquet-footer cost lands
  *    on whichever queries run early — round-2 showed the SAME commit
  *    swinging 2.8 s ↔ 16.1 s on one query between cold runs. The
  *    warm-up executes every query once at the sibling sf0.001 dir
  *    (compiles the same codegen'd stages against tiny data), then runs
  *    the load-side index build for the target dir (SparkEntry.prepare
  *    — the reference builds its IVF index at insert time, so searches
  *    shouldn't absorb it).
  *
  * A query that throws is NOT silently ~0 s: the failure is recorded in
  * an "errors" JSON field and printed to stderr.
  *
  * The output carries a "telemetry" object so a slow total is
  * attributable (VERDICT r3: driver runs measured a uniform ~2× of
  * builder fresh runs — machine contention, but nothing in the JSON
  * could prove it):
  *  - calibration_sec_start/end: wall time of a fixed single-threaded
  *    arithmetic loop (xorshift + fp mix, no allocation). On an idle
  *    reference machine this is CALIBRATION_BASELINE_SEC; a contended
  *    or slower host scales every query by roughly the same factor, so
  *    totals should be read relative to calibration_sec/baseline.
  *  - calibration_par_sec_start/end: the same loop on `parallelism`
  *    threads at once (wall until all finish). A single busy core can
  *    look idle while the MACHINE is not (frequency scaling under
  *    all-core load, memory-bandwidth/page-cache pressure, sibling
  *    hyperthreads) — the r14-r16 settled artifacts spread 35.9→42.5 s
  *    with single-thread calibration pinned at 0.96-1.02, so the field
  *    meant to explain totals could not. par/single >> 1 (beyond the
  *    SMT-expected ~1.1-1.3 on this host class) marks a run whose
  *    32-way phases did not get 32 cores' worth of machine.
  *  - load_1m_before/after: /proc/loadavg around the timed loop.
  *  - cpu_busy_frac: machine-wide non-idle share of /proc/stat ticks
  *    over the timed loop; cpu_other_frac subtracts this JVM's own CPU
  *    time (OperatingSystemMXBean) — the direct external-contention
  *    signal (≈0 on an idle machine).
  *  - parallelism / host_cores: the local[N] actually used
  *    (SPARK_GRAFT_CPUS, see [[Sessions]]) vs what the host has.
  *  - gc_sec / throttled_periods / throttled_sec: stop-the-world GC
  *    time and cgroup-v2 CPU-quota throttling over the timed loop —
  *    the two stall modes /proc/stat cannot see (BENCH_r04 showed two
  *    adjacent 14-15 s query spikes on an "idle" machine).
  *  - attempts / stall_sec: each query is timed `attempts` times and
  *    the MIN reported (standard best-of-N); stall_sec totals what the
  *    discarded attempts lost to transient noise.
  */
object Bench {

  /** Measured on this repo's dev machine (32-core host, idle): ~0.95 s.
    * Not a constant the code depends on — recorded for readers of the
    * JSON; BASELINE.md quotes the same number.
    */
  val CalibrationIters: Long = 400_000_000L

  /** Idle-host reference for the single-threaded calibration leg
    * (BASELINE.md r16: settled artifacts ran 0.91–0.95 s on this host
    * class; the contended runs that needed discarding started ≥1.1).
    * Also the denominator reference for `total_norm_sec`.
    */
  val CalibrationBaselineSec: Double = 0.95

  /** The idle BAND for both calibration legs, applied to all four
    * measurements (single/parallel × start/end). Until r18 these bands
    * lived only in BASELINE.md prose, so every artifact from a
    * contended host needed a reader who knew them (VERDICT r18 #2 —
    * the BENCH_r17/r18 driver tails were both flagged-by-band, visible
    * only to band-literate readers). `settled` in the JSON is derived
    * from these constants so each artifact labels itself.
    *
    * Single leg: idle runs measure 0.91–0.95 s; the lo guard (0.80)
    * only exists to catch a mis-set CalibrationIters, not a host state.
    * Parallel leg: idle all-core runs measure 1.03–1.17 s (SMT-expected
    * par/single ≈ 1.1–1.25); contended runs that distorted totals
    * carried 1.24–1.29+.
    */
  val CalSingleIdleLoSec: Double = 0.80
  val CalSingleIdleHiSec: Double = 1.02
  val CalParIdleLoSec: Double = 0.80
  val CalParIdleHiSec: Double = 1.20

  /** Fixed-work single-threaded loop; returns (seconds, checksum). The
    * checksum is folded into the JSON (as a comment-grade field) so the
    * JIT cannot dead-code the loop.
    */
  def calibrate(): (Double, Long) = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < CalibrationIters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += java.lang.Long.rotateLeft(x, (i & 63).toInt)
      i += 1
    }
    ((System.nanoTime() - t0) / 1e9, acc)
  }

  /** The SAME fixed-work loop run concurrently on `threads` threads
    * (each thread does the full CalibrationIters); returns the wall
    * seconds until ALL finish. On an idle host with >= `threads` free
    * cores this matches the single-thread number; it inflates when the
    * cores are shared or the memory subsystem is saturated — exactly
    * the host states the single-thread probe is blind to (VERDICT r16
    * #1: three rounds of 35.9/41.2/42.5 s settled-artifact spread on
    * near-identical trees with single-thread calibration pinned at
    * 0.96-1.02 — the totals moved with machine-WIDE state that one
    * busy core cannot see). Read par/single > ~1.2 as "the 32-way
    * bench ran on a machine that could not actually give it 32 cores'
    * worth of throughput" and compare totals accordingly.
    */
  def calibratePar(threads: Int): Double = {
    val done = new java.util.concurrent.CountDownLatch(threads)
    val sink = new java.util.concurrent.atomic.AtomicLong(0)
    val ts = (1 to threads).map { _ =>
      new Thread(() => { sink.addAndGet(calibrate()._2); done.countDown() })
    }
    val t0 = System.nanoTime()
    ts.foreach(_.start())
    done.await()
    // fold the per-thread checksums into a field-free sink read so the
    // JIT cannot dead-code the worker loops (same trick as `calibrate`)
    if (sink.get() == 42L) System.err.println("[bench] calibration sink hit sentinel")
    (System.nanoTime() - t0) / 1e9
  }

  private def loadAvg1m(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (busyTicks, totalTicks) from the aggregate cpu line of /proc/stat;
    * busy = everything but idle+iowait. Linux USER_HZ is 100 on every
    * mainstream build — only used inside a same-units ratio anyway.
    */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
        .get(0).trim.split("\\s+").drop(1).map(_.toLong)
      val total = f.sum
      (total - f(3) - (if (f.length > 4) f(4) else 0L), total)
    } catch { case _: Throwable => (-1L, -1L) }

  private def selfCpuSec(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    catch { case _: Throwable => -1.0 }

  /** Cumulative stop-the-world GC seconds across all collectors. */
  private def gcSec(): Double =
    try {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
    } catch { case _: Throwable => -1.0 }

  /** (nr_throttled, throttled_sec) from cgroup-v2 cpu.stat — CPU-quota
    * throttling is invisible in /proc/stat (it shows as idle), and is
    * the one contention mode the r4 telemetry could NOT rule out when
    * per-query spikes appeared on an apparently idle machine.
    */
  private def cgroupThrottle(): (Long, Double) =
    try {
      val kv = java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get("/sys/fs/cgroup/cpu.stat"))
        .toArray.map(_.toString.split("\\s+")).collect { case Array(k, v) => k -> v.toLong }
        .toMap
      (kv.getOrElse("nr_throttled", -1L), kv.getOrElse("throttled_usec", -1L) / 1e6)
    } catch { case _: Throwable => (-1L, -1.0) }

  /** One run of a catalog row through the noop sink: every row is
    * fully computed, nothing is written.
    */
  def runNoop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    // Spark's default shuffle writer (bypass threshold 200): a four-leg
    // full-catalog A/B measured it ahead of the forced sort writer
    // (records/bench_r20_ab_*.json).
    val spark = Sessions.start("graft-bench")

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Returns (seconds, succeeded). Success matters to the caller: a
    // fast-FAILING attempt (e.g. a 0.1 s exception) must not become the
    // reported best-of-N time for a query whose other attempt succeeded
    // — that would understate runtime with only the errors map hinting.
    def runOne(name: String, fn: (SparkSession, String) => DataFrame, dir: String, record: Boolean): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { runNoop(fn(spark, dir)); true }
        catch {
          case e: Throwable =>
            if (record) {
              errors(name) = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
              System.err.println(s"[bench] $name FAILED: $e")
            }
            false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }

    // untimed warm-up: full query set once at the smallest sibling sf,
    // falling back to the driver testdata's sf0.001 when the target is
    // a ScaleUp corpus with no tiny sibling (otherwise every sf1/sf10
    // bench pays first-touch JIT/codegen on timed attempt 1 — ~1000 s
    // of "stall" in the round-10 sf10 run). Canonical paths: a
    // trailing-slash/relative/symlinked SPARK_GRAFT_SF_DIR must not
    // defeat the "don't warm up on the timed data" guard.
    val warmDir = Seq(
      new java.io.File(new java.io.File(sfDir).getParent, "sf0.001"),
      new java.io.File(sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001"))
    ).find(d => d.isDirectory &&
      d.getCanonicalPath != new java.io.File(sfDir).getCanonicalPath)
    // optional exact-name filter (comma-separated SPARK_GRAFT_QUERIES)
    // for curated scale probes — e.g. the sf100 scale-risk subset —
    // where timing the full catalog would cost hours without adding
    // information. Unset = the full catalog, which every recorded
    // BENCH_r*.json uses.
    val selected = sys.env.get("SPARK_GRAFT_QUERIES") match {
      case Some(listed) =>
        val want = listed.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val missing = want.diff(SparkEntry.queries.keySet)
        require(missing.isEmpty, s"SPARK_GRAFT_QUERIES names unknown queries: $missing")
        SparkEntry.queries.filter { case (n, _) => want(n) }
      case None => SparkEntry.queries
    }
    warmDir match {
      case Some(d) =>
        System.err.println(s"[bench] warm-up pass on ${d.getPath}")
        selected.foreach { case (n, fn) => runOne(n, fn, d.getPath, record = false) }
      case None =>
        System.err.println(
          "[bench] WARM-UP SKIPPED: no tiny sibling sf and SPARK_GRAFT_WARM_DIR unset/missing — " +
            "timed attempt 1 will carry first-touch JIT")
    }
    try SparkEntry.prepare(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[bench] prepare FAILED: $e") }

    val (calStart, calCheck) = calibrate()
    val calParStart = calibratePar(cpus)
    val loadBefore = loadAvg1m()
    val (busy0, ticks0) = cpuTicks()
    val self0 = selfCpuSec()
    val gc0 = gcSec()
    val (thr0, thrSec0) = cgroupThrottle()
    val wall0 = System.nanoTime()

    // Best-of-2 per query: a transient machine stall (page-cache miss,
    // cgroup throttle burst, GC pause) during ONE attempt cannot poison
    // that query's number — BENCH_r04 recorded two adjacent queries at
    // 15.2 s / 13.9 s on an otherwise idle machine that measure < 2 s
    // on every fresh run. stall_sec below quantifies how much the
    // discarded attempts lost to such noise.
    val Attempts = 2
    val attempts = selected.map { case (name, fn) =>
      // Index-backed rows read the PREPARED caches; the batch's own
      // working set can LRU-evict them between prepare and here
      // (round-11 sf100: q_pq_recall 8.4 s in-batch vs 0.59 s
      // isolated). Re-pin OUTSIDE the timed window and record when an
      // eviction actually happened so the artifact can't silently
      // pollute the per-query numbers again.
      if (SparkEntry.indexBackedQueries(name) &&
          !SparkEntry.ensureIndexCaches(spark, sfDir))
        System.err.println(
          s"[bench] index caches partially evicted before $name — re-pinned untimed")
      name -> (1 to Attempts).map(_ => runOne(name, fn, sfDir, record = true))
    }
    // min over SUCCESSFUL attempts only; a query whose every attempt
    // failed reports its (fastest) failure time and sits in `errors`.
    val results = attempts.map { case (name, ts) =>
      val ok = ts.collect { case (t, true) => t }
      name -> (if (ok.nonEmpty) ok.min else ts.map(_._1).min)
    }
    // stall accounting likewise: the metric means "time a SUCCESSFUL
    // attempt lost to transient machine noise" — deltas involving a
    // failed attempt are failure time, not stall, and belong to
    // `errors`, so they must not inflate this number.
    val stallSec = attempts.valuesIterator
      .map(_.collect { case (t, true) => t })
      .collect { case ok if ok.size >= 2 => ok.max - ok.min }
      .sum

    val wallSec = (System.nanoTime() - wall0) / 1e9
    val gcDelta = { val g1 = gcSec(); if (g1 >= 0 && gc0 >= 0) g1 - gc0 else -1.0 }
    val (thr1, thrSec1) = cgroupThrottle()
    val thrCount = if (thr1 >= 0 && thr0 >= 0) thr1 - thr0 else -1L
    val thrDelta = if (thrSec1 >= 0 && thrSec0 >= 0) thrSec1 - thrSec0 else -1.0
    val (busy1, ticks1) = cpuTicks()
    val selfSec = selfCpuSec() - self0
    val loadAfter = loadAvg1m()
    val (calEnd, _) = calibrate()
    val calParEnd = calibratePar(cpus)
    val busyFrac =
      if (ticks1 > ticks0) (busy1 - busy0).toDouble / (ticks1 - ticks0) else -1.0
    // this JVM's share of the same tick window (USER_HZ = 100)
    val otherFrac =
      if (ticks1 > ticks0 && selfSec >= 0)
        math.max(0.0, (busy1 - busy0 - selfSec * 100.0) / (ticks1 - ticks0))
      else -1.0
    def r4(d: Double) = math.rint(d * 10000) / 10000
    val telemetry =
      s"""{"calibration_sec_start":${r4(calStart)},"calibration_sec_end":${r4(calEnd)},""" +
        s""""calibration_par_sec_start":${r4(calParStart)},"calibration_par_sec_end":${r4(calParEnd)},""" +
        s""""calibration_par_threads":$cpus,""" +
        s""""calibration_iters":$CalibrationIters,"calibration_check":"${java.lang.Long.toHexString(calCheck)}",""" +
        s""""load_1m_before":$loadBefore,"load_1m_after":$loadAfter,""" +
        s""""wall_sec":${r4(wallSec)},"self_cpu_sec":${r4(selfSec)},""" +
        s""""cpu_busy_frac":${r4(busyFrac)},"cpu_other_frac":${r4(otherFrac)},""" +
        s""""gc_sec":${r4(gcDelta)},"throttled_periods":$thrCount,"throttled_sec":${r4(thrDelta)},""" +
        s""""attempts":$Attempts,"stall_sec":${r4(stallSec)},""" +
        s""""parallelism":$cpus,"host_cores":${Runtime.getRuntime.availableProcessors}}"""

    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => Json.quote(k) + ":" + Json.quote(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // capped_queries: rows whose graded form slices to a fixed-density
    // replica-0 cap — at the ScaleUp decades (sf1/sf10/sf100) these
    // timings measure the capped slice, NOT the full corpus, so
    // round-over-round comparisons and full-corpus perf claims must
    // not read them as uncapped (ADVICE r14). At the driver sfs the
    // caps are no-ops (QueryCatalogSpec pins that), so driver BENCH
    // artifacts are unaffected. Full-corpus decade numbers for these
    // operators live in SCALE.md's probe ladders.
    val capped = results.keysIterator
      .filter(graft.queries.QueryCatalog.cappedQueries)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // Self-labeling (VERDICT r18 #2): `settled` = all four calibration
    // legs inside the pinned idle bands — an artifact from a contended
    // host says so itself instead of requiring a band-literate reader;
    // `total_norm_sec` = total ÷ (mean single-leg calibration /
    // CalibrationBaselineSec), the BASELINE.md normalization formula,
    // so round-over-round ledger rows compare without prose caveats.
    // Normalization is by the SINGLE leg only: the parallel leg
    // detects machine-wide contention but its distortion of a 32-way
    // workload is not a clean multiplier.
    val settled =
      Seq(calStart, calEnd).forall(c => c >= CalSingleIdleLoSec && c <= CalSingleIdleHiSec) &&
        Seq(calParStart, calParEnd).forall(c => c >= CalParIdleLoSec && c <= CalParIdleHiSec)
    val singleMean = (calStart + calEnd) / 2
    val totalNorm = if (singleMean > 0) total / (singleMean / CalibrationBaselineSec) else total
    println(s"""{"metric":"total","value":$total,"unit":"sec","settled":$settled,"total_norm_sec":${r4(totalNorm)},"queries":$qs,"errors":$errs,"capped_queries":$capped,"telemetry":$telemetry,"sf":"$sfDir"}""")
    spark.stop()
  }
}
