#!/usr/bin/env python3
"""Compare two trees of parquet outputs row by row, order-free.

Each directory under PARENT (or each NAME given) holds one output as
`*.parquet` files, the layout `graft.Verify <sfDir> <out>` writes. A name
is SAME when the two sides hold the same multiset of rows (DuckDB
`EXCEPT ALL` both ways, so a duplicated row counts), DIFF when they do
not, and ERR when either side cannot be read.

Run: python3 tools/rows_equal.py PARENT CHANGE [NAME ...]
Exits 0 when every name is SAME, 1 on any DIFF or ERR.
"""
import os
import sys

import duckdb


def compare(a, b, name):
    pa, pb = f"{a}/{name}/*.parquet", f"{b}/{name}/*.parquet"
    con = duckdb.connect()
    try:
        n = con.sql(f"select count(*) from read_parquet('{pa}')").fetchone()[0]
        only_a = con.sql(f"select count(*) from (select * from read_parquet('{pa}') "
                         f"except all select * from read_parquet('{pb}'))").fetchone()[0]
        only_b = con.sql(f"select count(*) from (select * from read_parquet('{pb}') "
                         f"except all select * from read_parquet('{pa}'))").fetchone()[0]
    except Exception as e:  # a missing side or mismatched columns
        return "ERR", f"{e}".splitlines()[0]
    finally:
        con.close()
    verdict = "SAME" if only_a == 0 and only_b == 0 else "DIFF"
    return verdict, f"rows={n} only_parent={only_a} only_change={only_b}"


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    a, b = argv[0], argv[1]
    names = argv[2:] or sorted(d for d in os.listdir(a) if os.path.isdir(os.path.join(a, d)))
    bad = 0
    for name in names:
        verdict, detail = compare(a, b, name)
        bad += verdict != "SAME"
        print(f"{verdict} {name} {detail}")
    print(f"{len(names) - bad} identical, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
