#!/usr/bin/env python3
"""Compare two sides of an A/B from saved benchmark logs.

Usage: ab_compare.py <label:logfile> <label:logfile> [...]

Two log kinds are read, told apart by their content:

- Bench stdout captures: the last line with "metric" is parsed. Prints
  total/norm/calibration per leg, then a per-query table of
  min-per-label seconds and the B/A ratio of the first two labels,
  sorted by absolute delta.
- spinebench `run.py` stdout (one or more runs appended to a file, each
  a diagnostics line followed by a result line). The first label is the
  parent, the second the change. For each workload and end-to-end
  metric it prints each side's median and Q1-Q3, the change/parent
  ratio of the medians, and the pairs the change wins: the i-th parent
  run of a workload against its i-th change run, ties counting for
  neither side. A gain is "clear" when the change wins at least nine
  tenths of the pairs and the medians differ by more than the parent's
  Q1-Q3 spread. Metric directions come from BENCHMARK.json.

    python3 tools/ab_compare.py parent:records/x/parent.txt change:records/x/change.txt
"""
import json
import math
import statistics
import sys
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load(path):
    last = None
    with open(path) as f:
        for line in f:
            if '"metric"' in line:
                last = line
    if last is None:
        raise SystemExit(f"no metric line in {path}")
    return json.loads(last)


def load_spine(path):
    """[(workload, result)] of the spinebench runs saved in `path`, in order."""
    runs, workload = [], None
    with open(path) as f:
        for line in f:
            if not line.startswith("{"):
                continue
            d = json.loads(line)
            if "diagnostics" in d:
                workload = d["diagnostics"]["workload"]
            elif "metrics" in d:
                if workload is None:
                    raise SystemExit(f"{path}: a result line without its diagnostics line")
                runs.append((workload, d))
                workload = None
    return runs


def is_spine(path):
    with open(path) as f:
        return any(line.startswith('{"diagnostics"') for line in f)


def quartiles(xs):
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def spine_main(legs):
    better = {m["name"]: m["better"] for m in json.loads(BENCHMARK.read_text())["end_to_end"]}
    labels = list(dict.fromkeys(label for label, _ in legs))
    if len(labels) != 2:
        raise SystemExit(f"spinebench logs need exactly two labels (parent, change), got {labels}")
    runs = {label: [] for label in labels}
    for label, path in legs:
        runs[label] += load_spine(path)
    parent, change = labels
    for workload in dict.fromkeys(w for label in labels for w, _ in runs[label]):
        side = {label: [r for w, r in runs[label] if w == workload] for label in labels}
        pairs = min(len(side[parent]), len(side[change]))
        fails = {label: sum(r["failed"] for r in side[label]) for label in labels}
        print(f"\n{workload}: {parent} {len(side[parent])} runs ({fails[parent]} failed ops), "
              f"{change} {len(side[change])} runs ({fails[change]} failed ops), {pairs} pairs")
        print(f"{'metric':14s} {parent + ' median [Q1-Q3]':>30s} {change + ' median [Q1-Q3]':>30s}"
              f" {'ratio':>6s} {'wins':>6s}  clear")
        for metric, direction in better.items():
            vals = {label: [r["metrics"][metric]["value"] for r in side[label]] for label in labels}
            if not vals[parent] or not vals[change]:
                continue
            med = {label: statistics.median(vals[label]) for label in labels}
            qs = {label: quartiles(vals[label]) for label in labels}
            sign = -1 if direction == "lower" else 1
            wins = sum(1 for p, c in zip(vals[parent], vals[change]) if sign * (c - p) > 0)
            spread = qs[parent][2] - qs[parent][0]
            gained = sign * (med[change] - med[parent]) > 0
            clear = gained and wins >= math.ceil(0.9 * pairs) and abs(med[change] - med[parent]) > spread
            cells = [f"{med[label]:.4g} [{qs[label][0]:.4g}-{qs[label][2]:.4g}]" for label in labels]
            ratio = med[change] / med[parent] if med[parent] else float("nan")
            print(f"{metric:14s} {cells[0]:>30s} {cells[1]:>30s} {ratio:6.3f} {wins:>3d}/{pairs:<2d}"
                  f"  {'yes' if clear else 'no'}")


def main():
    legs = []  # (label, parsed)
    for arg in sys.argv[1:]:
        label, path = arg.split(":", 1)
        legs.append((label, path))
    if legs and all(is_spine(path) for _, path in legs):
        spine_main(legs)
        return
    legs = [(label, load(path)) for label, path in legs]
    labels = []
    bylabel = {}
    for label, d in legs:
        t = d["telemetry"]
        print(f"{label}: total={d['value']:.2f} norm={d['total_norm_sec']:.2f} "
              f"settled={d['settled']} cal={t['calibration_sec_start']:.3f}/{t['calibration_sec_end']:.3f} "
              f"calpar={t['calibration_par_sec_start']:.3f}/{t['calibration_par_sec_end']:.3f} "
              f"stall={t['stall_sec']:.1f} load={t['load_1m_before']}/{t['load_1m_after']}")
        if label not in bylabel:
            labels.append(label)
            bylabel[label] = {}
        for q, s in d["queries"].items():
            bylabel[label][q] = min(s, bylabel[label].get(q, 1e9))
    if len(labels) < 2:
        return
    a, b = labels[0], labels[1]
    qa, qb = bylabel[a], bylabel[b]
    common = sorted(set(qa) & set(qb), key=lambda q: -(abs(qa[q] - qb[q])))
    suma = sum(qa[q] for q in common)
    sumb = sum(qb[q] for q in common)
    geo = math.exp(sum(math.log(qb[q] / qa[q]) for q in common) / len(common))
    print(f"\nmin-per-query totals: {a}={suma:.2f}s {b}={sumb:.2f}s  "
          f"geomean {b}/{a}={geo:.3f}")
    print(f"{'query':34s} {a:>8s} {b:>8s}  {b}/{a}")
    for q in common[:40]:
        print(f"{q:34s} {qa[q]:8.3f} {qb[q]:8.3f}  {qb[q]/qa[q]:6.2f}")


if __name__ == "__main__":
    main()
