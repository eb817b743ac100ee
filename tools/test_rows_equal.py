#!/usr/bin/env python3
"""Drive rows_equal over duckdb-written parquet trees: identical trees
exit 0; one changed row exits 1; one duplicated row exits 1 (the
comparison is a multiset one); a name missing on one side exits 1.

Run: python3 tools/test_rows_equal.py   (prints OK, exit 0)
"""
import os
import subprocess
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))


def tree(root, rows):
    """One output `q` under `root`, written by duckdb from (id, score) rows."""
    os.makedirs(os.path.join(root, "q"))
    values = ", ".join(f"({i}, {s})" for i, s in rows)
    duckdb.sql(f"copy (select * from (values {values}) t(id, score)) "
               f"to '{os.path.join(root, 'q', 'part-0.parquet')}' (format parquet)")


def run(parent_rows, change_rows):
    with tempfile.TemporaryDirectory() as d:
        p, c = os.path.join(d, "parent"), os.path.join(d, "change")
        tree(p, parent_rows)
        if change_rows is not None:
            tree(c, change_rows)
        else:
            os.makedirs(c)
        out = subprocess.run([sys.executable, os.path.join(HERE, "rows_equal.py"), p, c, "q"],
                             capture_output=True, text=True)
    return out.returncode, out.stdout


def main():
    rows = [(1, 0.5), (2, 0.25), (3, 0.125)]
    code, out = run(rows, list(reversed(rows)))
    assert code == 0 and out.startswith("SAME q"), out
    code, out = run(rows, [(1, 0.5), (2, 0.25), (3, 0.375)])
    assert code == 1 and out.startswith("DIFF q") and "only_parent=1 only_change=1" in out, out
    code, out = run(rows, rows + [(3, 0.125)])
    assert code == 1 and out.startswith("DIFF q") and "only_parent=0 only_change=1" in out, out
    code, out = run(rows, None)
    assert code == 1 and out.startswith("ERR q"), out
    print("OK")


if __name__ == "__main__":
    main()
