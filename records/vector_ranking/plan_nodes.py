"""Print each row's physical-plan node sequence from an `Inspect plan` log."""
import re, sys
rows, cur, intree = {}, None, False
for line in open(sys.argv[1], errors="replace"):
    m = re.match(r"^===== (\S+) =====", line)
    if m:
        cur = m.group(1); rows[cur] = []; intree = False; continue
    if cur is None: continue
    if line.startswith("== Physical Plan =="):
        intree = True; continue
    if intree:
        if not line.strip():
            intree = False; continue
        node = re.sub(r"^[\s:+\-|]*", "", line.rstrip())
        node = re.sub(r"\s*\(\d+\)$", "", node)
        rows[cur].append(node)
for k in sorted(rows):
    print(f"{k}: {' > '.join(rows[k])}")
