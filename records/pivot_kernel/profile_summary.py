import re, glob, statistics as st, sys
d = sys.argv[1]
rows = {}
for f in sorted(glob.glob(f"{d}/profile_*_run*.txt")):
    side = re.search(r"profile_(\w+?)_run", f).group(1)
    for m in re.finditer(r"===== (\S+)\s+walls=([^=]+?)\s+cal=([\d.]+)\s+sumCpu=(\d+)ms", open(f).read()):
        q, walls, cal, cpu = m.group(1), [float(x) for x in m.group(2).split(",")], float(m.group(3)), int(m.group(4))
        rows.setdefault((q, side), []).append((cpu, st.median(walls), f.split("/")[-1]))
def q13(xs):
    xs = sorted(xs)
    if len(xs) < 2: return xs[0], xs[0]
    q = st.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]
for q in sorted({k[0] for k in rows}):
    for side in ("parent", "change"):
        r = rows.get((q, side), [])
        cpus = [c for c, _, _ in r]; walls = [w for _, w, _ in r]
        lo, hi = q13(cpus)
        print(f"{q:22s} {side:6s} runs={len(r)} last-iter executor CPU ms: {cpus} median={st.median(cpus)} Q1-Q3={lo:.0f}-{hi:.0f} | median wall of 5 iters s: {[round(w,3) for w in walls]}")

# per-stage executor CPU (ms) of each row's last iteration, median over runs
stages = {}
for f in sorted(glob.glob(f"{d}/profile_*_run*.txt")):
    side = re.search(r"profile_(\w+?)_run", f).group(1)
    q = None
    for line in open(f):
        m = re.match(r"===== (\S+)", line)
        if m: q = m.group(1); continue
        p = line.split()
        if q and len(p) > 9 and p[0].isdigit():
            stages.setdefault((q, side, int(p[0]), " ".join(p[9:])[:40]), []).append(int(p[3]))
print("\nper-stage cpu_ms, median [min-max] over runs:")
for key in sorted({(q, s, n) for q, _, s, n in stages}):
    q, s, n = key
    cells = []
    for side in ("parent", "change"):
        v = stages.get((q, side, s, n), [])
        cells.append(f"{side} {st.median(v):6.1f} [{min(v)}-{max(v)}]" if v else f"{side} -")
    print(f"  {q:20s} stage {s} {n:40s} " + "  ".join(cells))
