#!/usr/bin/env python3
"""Compare two Verify output dirs: per query, sha256 of sorted rows (exact repr)."""
import hashlib, os, sys
import pyarrow.parquet as pq
def digest(d):
    t = pq.read_table(d)
    cols = t.column_names
    rows = sorted(repr(tuple(r[c] for c in cols)) for r in t.to_pylist())
    h = hashlib.sha256(repr(cols).encode())
    for r in rows: h.update(r.encode()); h.update(b"\n")
    return h.hexdigest(), len(rows)
a, b = sys.argv[1], sys.argv[2]
qa = sorted(x for x in os.listdir(a) if os.path.isdir(os.path.join(a, x)))
qb = sorted(x for x in os.listdir(b) if os.path.isdir(os.path.join(b, x)))
assert qa == qb, (set(qa) ^ set(qb))
diff = 0
for q in qa:
    ha, na = digest(os.path.join(a, q)); hb, nb = digest(os.path.join(b, q))
    if ha != hb:
        diff += 1; print("DIFF", q, na, nb)
    elif len(sys.argv) > 3 and q in sys.argv[3].split(","):
        print("same", q, na, ha[:16])
print(f"{len(qa)} queries, {len(qa) - diff} identical, {diff} differ")
