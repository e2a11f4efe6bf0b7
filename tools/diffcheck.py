import duckdb, json, sys, glob, os, math
import numpy as np
outdir, sfdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
oracles = json.load(open(f'{outdir}/oracle_sql.json'))

# Both sides go through pandas (.df()), matching the driver's compare path:
# DuckDB HUGEINT/DECIMAL surface as float64 there while BIGINT stays int64,
# so int vs float is a REAL difference — do NOT canonicalize across them.
def canon(v):
    if v is None: return None
    if isinstance(v, (np.floating, float)):
        if isinstance(v, float) and math.isnan(v): return ('null',)
        return ('num', round(float(v), 9))
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return ('int', int(v))
    if isinstance(v, np.ndarray): return tuple(canon(x) for x in v.tolist())
    if isinstance(v, list): return tuple(canon(x) for x in v)
    if isinstance(v, np.bool_): return bool(v)
    return v

def frame(rel):
    df = rel.df()
    cols = [c.lower() for c in df.columns]
    rows = [tuple(canon(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return cols, rows

def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(r[i] for i in order) for r in rows)

# a query with an oracle but no output directory threw (or never ran)
fails = [name for name in sorted(oracles)
         if not os.path.isdir(os.path.join(outdir, name))]
for name in fails:
    print(f"{name:22s} FAIL no output directory")
for name in sorted(os.listdir(outdir)):
    p = os.path.join(outdir, name)
    if not os.path.isdir(p): continue
    files = glob.glob(p + '/*.parquet')
    scols, srows = frame(con.sql(f"SELECT * FROM read_parquet({files})"))
    if name not in oracles:
        print(f"{name:22s} rows-only: {len(srows)} rows")
        continue
    try:
        ocols, orows = frame(con.sql(oracles[name]))
    except Exception as e:
        fails.append(name)
        print(f"{name:22s} FAIL oracle error: {str(e)[:200]}")
        continue
    status = []
    if sorted(scols) != sorted(ocols):
        status.append(f"SCHEMA spark={sorted(scols)} oracle={sorted(ocols)}")
    elif len(srows) != len(orows):
        status.append(f"ROWCOUNT spark={len(srows)} oracle={len(orows)}")
    else:
        a, b = normalize(srows, scols), normalize(orows, ocols)
        if a != b:
            bad = [(x, y) for x, y in zip(a, b) if x != y][:2]
            status.append(f"VALUES diff e.g. {bad}")
    if status:
        fails.append(name)
        print(f"{name:22s} FAIL {status[0][:300]}")
    else:
        print(f"{name:22s} OK   ({len(srows)} rows)")
print("\nFAILED:", fails if fails else "none")
