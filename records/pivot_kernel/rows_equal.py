import duckdb, sys, os
a, b = sys.argv[1], sys.argv[2]
names = sys.argv[3:] or sorted(d for d in os.listdir(a) if os.path.isdir(os.path.join(a, d)))
bad = 0
for n in names:
    pa, pb = f"{a}/{n}/*.parquet", f"{b}/{n}/*.parquet"
    con = duckdb.connect()
    try:
        na = con.sql(f"select count(*) from read_parquet('{pa}')").fetchone()[0]
        d1 = con.sql(f"select count(*) from (select * from read_parquet('{pa}') except all select * from read_parquet('{pb}'))").fetchone()[0]
        d2 = con.sql(f"select count(*) from (select * from read_parquet('{pb}') except all select * from read_parquet('{pa}'))").fetchone()[0]
    except Exception as e:
        print(f"ERR {n}: {e}"); bad += 1; continue
    ok = d1 == 0 and d2 == 0
    bad += not ok
    print(f"{'SAME' if ok else 'DIFF'} {n} rows={na} only_parent={d1} only_change={d2}")
print(f"{len(names) - bad} identical, {bad} differ")
