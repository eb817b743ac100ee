"""Compare two `Cli all` work roots (one `<kind>/` work dir per source kind) with DuckDB.

Usage: python3 cli_diff.py <parent root> <change root>

For each kind and checkpoint (documents, chunks, store) it prints the row
count, whether the schemas are identical (names, types, order), the columns
one side adds, and the rows of the common columns (collection excluded)
found on one side only (EXCEPT ALL both ways, so order-free). For the store
it also prints each side's collections and, when the schemas match, the
full-row difference.
"""
import sys

import duckdb

roots = {"parent": sys.argv[1], "change": sys.argv[2]}
con = duckdb.connect()


def rel(side, kind, ckpt):
    hive = ", hive_partitioning=true" if ckpt == "store" else ""
    return f"read_parquet('{roots[side]}/{kind}/{ckpt}/**/*.parquet'{hive})"


def schema(side, kind, ckpt):
    return [(r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {rel(side, kind, ckpt)}").fetchall()]


def only(a, b, kind, ckpt, cols):
    return con.execute(
        f"SELECT count(*) FROM (SELECT {cols} FROM {rel(a, kind, ckpt)} "
        f"EXCEPT ALL SELECT {cols} FROM {rel(b, kind, ckpt)})").fetchone()[0]


for kind in ["html", "hwp", "hwpx"]:
    for ckpt in ["documents", "chunks", "store"]:
        sp, sc = schema("parent", kind, ckpt), schema("change", kind, ckpt)
        cols = ", ".join(f'"{c}"' for c, _ in sp if c in dict(sc) and c != "collection")
        n = con.execute(f"SELECT count(*) FROM {rel('change', kind, ckpt)}").fetchone()[0]
        print(f"{kind:5} {ckpt:9} rows={n} schema_identical={sp == sc} "
              f"added={[c for c in sc if c not in sp]} removed={[c for c in sp if c not in sc]} "
              f"diff(p-c)={only('parent', 'change', kind, ckpt, cols)} "
              f"diff(c-p)={only('change', 'parent', kind, ckpt, cols)}")
        if ckpt == "store":
            coll = {s: con.execute(f"SELECT list(DISTINCT collection ORDER BY collection) FROM {rel(s, kind, ckpt)}")
                    .fetchone()[0] for s in roots}
            line = f"      collections parent={coll['parent']} change={coll['change']}"
            if sp == sc:
                full = ", ".join(f'"{c}"' for c, _ in sp)
                line += f" full-row diff={only('parent', 'change', kind, ckpt, full)}"
            print(line)
