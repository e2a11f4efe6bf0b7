"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine is made here from `--seed` and a
scale factor `sf` (rows scale like TPC-H: 150k customers, 1.5M orders and
6M line items per unit of sf):

* `tables/<name>.parquet` -- the two tables the operator workload's
  queries read (`lineitem`, `documents`), with the column names and types
  of the engine's test corpus;
* `etl/<label>.parquet` -- for the ETL workload, the graph tables of the
  Tube ETL run (one per node label, plus its string `node_id`), and
  `etl/<label>.var.parquet` for the tables the CDC rounds change;
* `dumps/` -- the same graph as Sqoop-format text dumps, the layout
  `TubeGraphSource` reads: `node_<label>/part-m-NNNNN` rows
  `created,acl,_sysan,_props,node_id` and `edge_*/part-m-NNNNN` rows
  `created,acl,_sysan,_props,src_id,dst_id` (quoted CSV, `_props` JSON);
* `variants/node_<label>/` -- the changed dump of each such table, in
  which about 1% of the rows carry a new value;
* `fixture/schema.json` and `fixture/etlMapping.yaml` copied next to them.

The seed fixes every value, the node ids, the row order inside the dumps,
how rows split into part files, and which rows a variant changes.

Usage: python3 gen.py <out_dir> --seed N --sf X [--etl] [--ops]
"""
import argparse
import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "en", "zh", "de", "fr", "es"]  # en weighted twice
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

GRAPH_LABELS = ["region", "nation", "customer", "supplier", "orders",
                "lineitem"]
# the tables the operator workload's queries read
OPS_TABLES = ["lineitem", "documents"]
# the node tables the CDC rounds swap for their variants
CHANGED_TABLES = ["supplier", "lineitem"]
# child label, parent label, edge table (DictionaryLoader naming:
# edge_{child}{link label}{parent})
EDGES = [("nation", "region", "edge_nationpartofregion"),
         ("customer", "nation", "edge_customerlocatedinnation"),
         ("supplier", "nation", "edge_supplierlocatedinnation"),
         ("orders", "customer", "edge_ordersplacedbycustomer"),
         ("lineitem", "orders", "edge_lineitembelongstoorders")]

EPOCH = dt.datetime(1970, 1, 1)


def _us(d):
    return int((d - EPOCH).total_seconds() * 1_000_000)


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def sizes(sf, documents=50_000, basket=4):
    """Row counts at scale factor `sf`: `documents` per unit of sf, and
    `basket` line items per order on average (the operator workload sizes
    its documents and baskets on its own)."""
    n = lambda base, floor=1: max(floor, int(round(base * sf)))
    lineitem = n(6_000_000, 50)
    return dict(customer=n(150_000, 10), supplier=n(10_000, 5),
                part=n(200_000, 64), lineitem=lineitem,
                orders=max(20, int(round(lineitem / basket))),
                documents=n(documents, 100))


def relational(rng, s, names):
    """The tables in `names` as column dicts, keyed by table name, with
    the row counts `s` (see sizes)."""
    t = {}
    if "region" in names:
        t["region"] = dict(r_regionkey=pa.array(range(5), pa.int32()),
                           r_name=REGIONS)
    if "nation" in names:
        t["nation"] = dict(n_nationkey=pa.array(range(25), pa.int32()),
                           n_name=[f"NATION_{i}" for i in range(25)],
                           n_regionkey=pa.array([i % 5 for i in range(25)],
                                                pa.int32()))
    nc, ns, no = s["customer"], s["supplier"], s["orders"]
    if "customer" in names:
        t["customer"] = dict(
            c_custkey=pa.array(np.arange(nc), pa.int64()),
            c_name=[f"Customer#{i:09d}" for i in range(nc)],
            c_nationkey=pa.array(rng.integers(0, 25, nc), pa.int32()),
            c_acctbal=_money(rng, -999.99, 9999.99, nc),
            c_mktsegment=[SEGMENTS[i] for i in rng.integers(0, 5, nc)])
    if "supplier" in names:
        t["supplier"] = dict(
            s_suppkey=pa.array(np.arange(ns), pa.int64()),
            s_name=[f"Supplier#{i:09d}" for i in range(ns)],
            s_nationkey=pa.array(rng.integers(0, 25, ns), pa.int32()),
            s_acctbal=_money(rng, -999.99, 9999.99, ns))
    day0 = _us(dt.datetime(1995, 1, 1))
    if "orders" in names:
        t["orders"] = dict(
            o_orderkey=pa.array(np.arange(no), pa.int64()),
            o_custkey=pa.array(rng.integers(0, nc, no), pa.int64()),
            o_orderstatus=[STATUSES[i] for i in rng.integers(0, 3, no)],
            o_totalprice=_money(rng, 1000.0, 500000.0, no),
            o_orderdate=_ts(day0 + rng.integers(0, 2404, no) * 86_400_000_000),
            o_orderpriority=[PRIORITIES[i] for i in rng.integers(0, 5, no)])
    if "lineitem" in names:
        nl = s["lineitem"]
        qty = rng.integers(1, 51, nl).astype(np.float64)
        partkey = rng.integers(0, s["part"], nl)
        t["lineitem"] = dict(
            l_orderkey=pa.array(rng.integers(0, no, nl), pa.int64()),
            l_partkey=pa.array(partkey, pa.int64()),
            l_suppkey=pa.array(rng.integers(0, ns, nl), pa.int64()),
            l_linenumber=pa.array(rng.integers(1, 8, nl), pa.int32()),
            l_quantity=qty,
            l_extendedprice=np.round(
                qty * (900.0 + (partkey % 1000) * 0.1), 2),
            l_discount=rng.integers(0, 11, nl) / 100.0,
            l_tax=rng.integers(0, 9, nl) / 100.0,
            l_returnflag=[("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            l_linestatus=[("O", "F")[i] for i in rng.integers(0, 2, nl)],
            l_shipdate=_ts(day0 + rng.integers(1, 2500, nl) * 86_400_000_000))
    if "documents" in names:
        t["documents"] = documents(rng, s["documents"])
    return t


def documents(rng, n):
    """Random word sequences over a 30-word vocabulary; about 5% of the
    documents are near copies of an earlier one (a word appended or
    replaced), which is what the near-duplicate operators find."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            w = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                w.append("dup")
            else:
                i = int(rng.integers(0, len(w)))
                w[i] = WORDS[int(rng.integers(0, 30))]
            texts.append(" ".join(w))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, 30, k)))
    return dict(doc_id=pa.array(np.arange(n), pa.int64()), text=texts,
                lang=[LANGS[i] for i in rng.integers(0, 6, n)],
                source=[f"src{i % 20}" for i in range(n)],
                n_chars=pa.array([len(x) for x in texts], pa.int64()))


# ---- the graph of the ETL run -------------------------------------------

def graph(rng, rel):
    """Node tables of the six-label graph: props as the dictionary types
    them, a string node_id, and the parent's node id per link."""
    ids = {}
    for label in GRAPH_LABELS:
        n = len(rel[label][next(iter(rel[label]))])
        # seeded, unique: a random permutation behind a label prefix
        perm = rng.permutation(n) + int(rng.integers(1 << 20, 1 << 28))
        ids[label] = np.array([f"{label[:3]}-{x:08x}" for x in perm])
    _, n, c, s, o, li = (rel[k] for k in GRAPH_LABELS)
    g = {
        "region": dict(node_id=ids["region"], name=np.array(REGIONS)),
        "nation": dict(node_id=ids["nation"], name=np.array(n["n_name"]),
                       p_region=ids["region"][np.arange(25) % 5]),
        "customer": dict(
            node_id=ids["customer"], name=np.array(c["c_name"]),
            acctbal=c["c_acctbal"],
            mktsegment=np.array(c["c_mktsegment"]),
            custkey=c["c_custkey"].to_numpy(),
            p_nation=ids["nation"][c["c_nationkey"].to_numpy()]),
        "supplier": dict(
            node_id=ids["supplier"], name=np.array(s["s_name"]),
            acctbal=s["s_acctbal"],
            p_nation=ids["nation"][s["s_nationkey"].to_numpy()]),
        "orders": dict(
            node_id=ids["orders"],
            orderstatus=np.array(o["o_orderstatus"]),
            totalprice_cents=np.round(o["o_totalprice"] * 100).astype(np.int64),
            orderpriority=np.array(o["o_orderpriority"]),
            custkey=o["o_custkey"].to_numpy(),
            p_customer=ids["customer"][o["o_custkey"].to_numpy()]),
        "lineitem": dict(
            node_id=ids["lineitem"],
            quantity=li["l_quantity"].astype(np.int64),
            extendedprice_cents=np.round(
                li["l_extendedprice"] * 100).astype(np.int64),
            returnflag=np.array(li["l_returnflag"]),
            linenumber=li["l_linenumber"].to_numpy().astype(np.int64),
            p_orders=ids["orders"][li["l_orderkey"].to_numpy()]),
    }
    return g


# props of each label, in the dictionary's types (fixture/schema.json)
PROPS = {
    "region": ["name"],
    "nation": ["name"],
    "customer": ["acctbal", "custkey", "mktsegment", "name"],
    "supplier": ["acctbal", "name"],
    "orders": ["custkey", "orderpriority", "orderstatus", "totalprice_cents"],
    "lineitem": ["extendedprice_cents", "linenumber", "quantity",
                 "returnflag"],
}


def variant(rng, label, cols):
    """A copy of a supplier or line-item node table in which ~1% of the
    rows changed value."""
    v = {k: np.array(x, copy=True) for k, x in cols.items()}
    n = len(v["node_id"])
    rows = rng.choice(n, max(1, n // 100), replace=False)
    if label == "supplier":
        v["acctbal"][rows] = np.round(v["acctbal"][rows] + 1.0, 2)
        v["name"] = v["name"].astype(object)
        v["name"][rows] = [x + "*" for x in v["name"][rows]]
    else:
        v["quantity"][rows] = v["quantity"][rows] % 50 + 1
    return v


def _json_value(x):
    if isinstance(x, (str, np.str_)):
        return '""' + str(x) + '""'  # CSV-escaped JSON string
    if isinstance(x, (float, np.floating)):
        return repr(float(x))
    return str(int(x))


def write_dump_dir(rng, path, lines):
    """Rows in seeded order, split into 1-3 seeded part files."""
    os.makedirs(path, exist_ok=True)
    order = rng.permutation(len(lines))
    parts = int(rng.integers(1, 4))
    for p, chunk in enumerate(np.array_split(order, parts)):
        with open(os.path.join(path, f"part-m-{p:05d}"), "w") as f:
            f.write("\n".join(lines[i] for i in chunk))
            f.write("\n")


def node_lines(label, cols):
    props = PROPS[label]
    vals = [cols[p].tolist() for p in props]
    out = []
    for i, nid in enumerate(cols["node_id"].tolist()):
        body = ", ".join(f'""{p}"": {_json_value(v[i])}'
                         for p, v in zip(props, vals))
        out.append(f'2024-01-01T00:00:00,{{}},{{}},"{{{body}}}",{nid}')
    return out


def edge_lines(child_ids, parent_ids):
    return [f"2024-01-01T00:00:00,{{}},{{}},{{}},{c},{p}"
            for c, p in zip(child_ids.tolist(), parent_ids.tolist())]


def _etl_parquet(path, cols):
    _write(path, {k: (pa.array(v.tolist()) if v.dtype.kind in "OU" else v)
                  for k, v in cols.items()})


def write_etl(rng, out, rel):
    g = graph(rng, rel)
    os.makedirs(os.path.join(out, "etl"), exist_ok=True)
    for label in GRAPH_LABELS:
        _etl_parquet(os.path.join(out, "etl", f"{label}.parquet"), g[label])
        write_dump_dir(rng, os.path.join(out, "dumps", f"node_{label}"),
                       node_lines(label, g[label]))
    for child, parent, table in EDGES:
        write_dump_dir(rng, os.path.join(out, "dumps", table),
                       edge_lines(g[child]["node_id"],
                                  g[child][f"p_{parent}"]))
    for label in CHANGED_TABLES:
        v = variant(rng, label, g[label])
        _etl_parquet(os.path.join(out, "etl", f"{label}.var.parquet"), v)
        write_dump_dir(rng, os.path.join(out, "variants", f"node_{label}"),
                       node_lines(label, v))
    os.makedirs(os.path.join(out, "fixture"), exist_ok=True)
    for f in ("schema.json", "etlMapping.yaml"):
        shutil.copy(os.path.join(HERE, "fixture", f),
                    os.path.join(out, "fixture", f))


def generate(out, seed, sf, etl=True, ops=True, **size_args):
    """Writes the inputs of the ETL workload (`etl`) and of the operator
    workload (`ops`): only the tables each one reads."""
    rng = np.random.default_rng(seed)
    names = (GRAPH_LABELS if etl else []) + (OPS_TABLES if ops else [])
    rel = relational(rng, sizes(sf, **size_args), set(names))
    if ops:
        os.makedirs(os.path.join(out, "tables"), exist_ok=True)
        for name in OPS_TABLES:
            _write(os.path.join(out, "tables", f"{name}.parquet"), rel[name])
    if etl:
        write_etl(rng, out, rel)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--etl", action="store_true")
    ap.add_argument("--ops", action="store_true")
    a = ap.parse_args()
    generate(a.out, a.seed, a.sf, etl=a.etl, ops=a.ops)


if __name__ == "__main__":
    main()
