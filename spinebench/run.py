#!/usr/bin/env python3
"""Spine benchmark: build the program from source, run one workload, print metrics.

Run from the root of a checkout:

    python3 spinebench/run.py --workload etl|search --seed N --seconds S --trace 0|1

The first run in a checkout builds the program and the harness with sbt
(into `target/` and `spinebench/target/`); later runs reuse the build while
the sources are unchanged. Each run starts one JVM with a pinned launch,
prints one diagnostics line, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones, and the spans go to `.bench_build/traces/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
CLASSPATH = BUILD / "classpath.txt"
WORKLOADS = ("etl", "search")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 700  # the first run, which builds, within 900 s
HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "sources.s": "s", "sources.files": "count", "sources.bytes_in": "bytes",
    "sources.docs_out": "count", "sources.drop_frac": "frac",
    "clean.s": "s", "clean.chars_in": "chars", "clean.chars_out": "chars",
    "lang.s": "s",
    "chunk.s": "s", "chunk.chunks_out": "count",
    "dedup.s": "s", "dedup.removed": "count", "dedup.kept_frac": "frac",
    "embed.s": "s", "embed.rows": "count",
    "store.write_s": "s", "store.bytes_written": "bytes", "store.files_written": "count",
    "store.bytes_per_input_byte": "ratio",
    "quality.s": "s",
    "embed.query_us": "us", "search.lang_us": "us", "search.plan_ms": "ms", "search.exec_ms": "ms",
    "search.stages_per_query": "count", "search.rows_scanned_per_result": "ratio",
    "search.codegen_compiles_per_query": "count", "search.codegen_ms_per_query": "ms",
    "codegen.compiles_per_op": "count", "codegen.ms_per_op": "ms",
    "jvm.jit_ms": "ms", "jvm.gc_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_cpu_s": "s", "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.session_start_s": "s",
    "trace.overhead_frac": "frac",
}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def tail_percentile(samples, quantiles=(99, 95, 90)):
    """(q, value) for the highest quantile with at least 10 samples above it, else None."""
    xs = sorted(samples)
    for q in quantiles:
        if len(xs) < 2:
            break
        value = statistics.quantiles(xs, n=100, method="inclusive")[q - 1]
        if sum(1 for x in xs if x > value) >= 10:
            return q, value
    return None


def source_files():
    """Every file the build reads: the program's and the harness's sources and build files."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt")) + [ROOT / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def build():
    """Compile the program and the harness unless an up-to-date build exists."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = BUILD / "build.stamp"
    if stamp.exists() and stamp.read_text() == digest.hexdigest() and CLASSPATH.exists():
        return
    BUILD.mkdir(parents=True, exist_ok=True)
    repo_config = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={BUILD / 'sbt-global'}", "-Xmx2g"]
    if repo_config.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_config}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = BUILD / "build.log"
    with open(log, "w") as out:
        # own process group: the sbt launcher script starts a JVM, and a
        # timeout must stop both
        proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "export Runtime/fullClasspath"], cwd=BENCH,
                                env=env, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        sys.exit(f"build failed (exit {proc.returncode}); see {log}")
    # `export` prints the harness's runtime classpath as a bare line
    CLASSPATH.write_text([l for l in log.read_text().splitlines() if l and not l.startswith("[")][-1])
    stamp.write_text(digest.hexdigest())


def cpu_ticks():
    """(steal, busy, total) ticks of the machine from the aggregate line of
    /proc/stat; busy is everything but idle, iowait and steal."""
    fields = [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields) - fields[3] - fields[4] - steal, sum(fields)


def loadavg():
    return float(Path("/proc/loadavg").read_text().split()[0])


def java_command(main, main_args, work):
    """The pinned JVM launch of a harness main class, temp files under `work`."""
    classpath = CLASSPATH.read_text().strip()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # fixed heap limit, grown on demand, so resident memory follows what
        # the program touches; JIT flags at their defaults
        f"-Xmx{HEAP}",
        "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        "-Djava.awt.headless=true", "-cp", classpath, main] + main_args


def jvm_env():
    """The caller's environment without anything Spark- or program-specific
    (e.g. SPARK_GRAFT_CPUS, SPARK_LOCAL_DIRS): the launch is pinned instead."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_", "GRAFT_", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS"))}
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    return env


def launch(args, work):
    """Run the harness JVM; returns the parsed SPINEBENCH_RESULT object."""
    cmd = java_command("spinebench.Main", [
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", str(work)], work)
    budget = RUN_LIMIT_S - (time.monotonic() - RUN_START)
    proc = subprocess.run(cmd, cwd=work, env=jvm_env(), stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=max(budget, 1))
    lines = [l for l in proc.stdout.splitlines() if l.startswith("SPINEBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        sys.exit(f"harness exited {proc.returncode} without a result")
    return json.loads(lines[-1][len("SPINEBENCH_RESULT "):])


def end_to_end(r):
    ops = r["op_ms"]
    return {
        "setup_s": r["setup_s"],
        "op_p50_ms": statistics.median(ops),
        "items_per_s": r["items"] / (sum(ops) / 1000.0),
        "cpu_ms_per_op": statistics.median(r["cpu_ms"]),
        "peak_rss_mb": r["peak_rss_mb"],
    }


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        sys.exit(f"no program sources next to {BENCH.name}/: run from the root of a full checkout")
    build()
    global RUN_START
    RUN_START = time.monotonic()

    work = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    steal0, busy0, total0 = cpu_ticks()
    children0 = os.times()
    wall0 = time.monotonic()
    load0 = loadavg()
    try:
        r = launch(args, work)
        if args.trace:
            traces = BUILD / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "spans.jsonl", traces / f"{args.workload}-seed{args.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, busy1, total1 = cpu_ticks()
    children1 = os.times()
    wall = time.monotonic() - wall0
    # CPU the rest of the machine used during the run, in cores: busy time
    # minus this run's JVM
    own_cpu_s = (children1.children_user + children1.children_system
                 - children0.children_user - children0.children_system)
    hz = os.sysconf("SC_CLK_TCK")
    other_cores = ((busy1 - busy0) / hz - own_cpu_s) / wall

    ops = r["op_ms"]
    tail = tail_percentile(ops)
    print(json.dumps({"diagnostics": {
        "workload": args.workload, "seed": args.seed, "cores": r["cores"], "heap": HEAP,
        "ops": len(ops), "setup_rounds_s": r["setup_rounds_s"],
        "setup_round_median_s": r["setup_round_median_s"],
        "jvm_setup_phase": r["jvm_setup_phase"], "jvm_timed_phase": r["jvm_timed_phase"],
        "codegen_compiles_untraced_ops": r["untraced_codegen_compiles"],
        "op_ms_quartiles": statistics.quantiles(ops, n=4) if len(ops) > 1 else ops,
        "op_ms": ops if len(ops) <= 40 else None,
        "op_tail_ms": {f"p{tail[0]}": tail[1]} if tail else None,
        "host_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "other_cpu_cores": other_cores,
        "loadavg_1m": [load0, loadavg()], "bench_calibrate_s": r["calibrate_s"],
        "failures": r["failures"]}}))

    if args.trace:
        values, units = r["per_layer"], PER_LAYER
    else:
        values, units = end_to_end(r), END_TO_END
    missing = [k for k in units if values.get(k) is None]
    if missing:
        sys.exit(f"harness did not report {missing}")
    attempted, failed = int(r["attempted"]), int(r["failed"])
    print(json.dumps({
        "correct": failed == 0 and attempted >= 1,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


RUN_START = time.monotonic()

if __name__ == "__main__":
    main()
