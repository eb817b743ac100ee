#!/usr/bin/env python3
"""Drive ab_compare's spinebench mode over synthetic run logs: a change
that wins 9 of 10 alternating pairs by more than the parent's Q1-Q3
spread reads "clear"; one that wins 8 does not; a metric where higher is
better counts its wins the other way.

Run: python3 tools/test_ab_compare.py   (prints OK, exit 0)
"""
import contextlib
import io
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def log(path, op_ms, items):
    with open(path, "w") as f:
        for ms, it in zip(op_ms, items):
            f.write(json.dumps({"diagnostics": {"workload": "etl", "seed": 1}}) + "\n")
            metrics = {"setup_s": 10.0, "op_p50_ms": ms, "items_per_s": it,
                       "cpu_ms_per_op": 5000.0, "peak_rss_mb": 1000.0}
            f.write(json.dumps({"correct": True, "attempted": 5, "failed": 0,
                                "metrics": {k: {"value": v, "unit": "x"} for k, v in metrics.items()}}) + "\n")


def rows(parent_ms, change_ms, parent_items, change_items):
    with tempfile.TemporaryDirectory() as d:
        p, c = os.path.join(d, "p.txt"), os.path.join(d, "c.txt")
        log(p, parent_ms, parent_items)
        log(c, change_ms, change_items)
        out = subprocess.run([sys.executable, os.path.join(HERE, "ab_compare.py"), f"parent:{p}", f"change:{c}"],
                             check=True, capture_output=True, text=True).stdout
    return {line.split()[0]: line.split() for line in out.splitlines() if line and line.split()[0] in
            ("op_p50_ms", "items_per_s", "setup_s")}


def main():
    parent = [3000, 3100, 2900, 3050, 2950, 3000, 3100, 2900, 3050, 2950]
    nine = [2000] * 9 + [3200]
    r = rows(parent, nine, [40] * 10, [50] * 9 + [30])
    assert r["op_p50_ms"][-2:] == ["9/10", "yes"], r["op_p50_ms"]
    assert r["items_per_s"][-2:] == ["9/10", "yes"], r["items_per_s"]
    assert r["setup_s"][-2:] == ["0/10", "no"], r["setup_s"]  # all ties
    eight = [2000] * 8 + [3200] * 2
    r = rows(parent, eight, [40] * 10, [40] * 10)
    assert r["op_p50_ms"][-2:] == ["8/10", "no"], r["op_p50_ms"]
    # nine wins by less than the parent's own spread are not clear
    close = [p - 10 for p in parent[:9]] + [3200]
    r = rows(parent, close, [40] * 10, [40] * 10)
    assert r["op_p50_ms"][-2:] == ["9/10", "no"], r["op_p50_ms"]
    print("OK")


if __name__ == "__main__":
    main()
