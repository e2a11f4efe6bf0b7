"""Output checks, run after the timed passes.

ETL: each published index is compared with expected documents computed
here by DuckDB SQL over the generator's graph tables -- an implementation
of the mapping in fixture/etlMapping.yaml that shares no code with the
engine's Translator. Operators: each query's output is compared with the
engine's own DuckDB oracle (`SparkEntry.oracleSql`) over the same parquet.

Both sides are read through DuckDB and compared as multisets of
canonical rows: column order and row order do not matter, nor does the
order inside a document's collected arrays; floats compare at nine
significant digits. Each check returns (problem or None, row count).
"""
import decimal
import glob
import math
import os

import duckdb

# One query per index, over views c n r s o l of the graph tables.
EXPECTED_DOCS = {
    "customer_doc": """
        SELECT c.node_id AS _customer_id, c.name,
               CAST(c.acctbal AS FLOAT) AS acctbal, c.custkey,
               CASE c.mktsegment WHEN 'AUTOMOBILE' THEN 'auto'
                                 WHEN 'BUILDING' THEN 'building'
                                 ELSE c.mktsegment END AS segment,
               n.name AS nation_name, r.name AS region_name,
               coalesce(d1.cnt, 0) AS orders_count,
               coalesce(d1.tot, 0) AS total_cents,
               d1.mx AS max_order_cents,
               coalesce(d2.cnt, 0) AS lineitem_count,
               coalesce(d2.tot, 0) AS total_quantity,
               d2.mx AS max_quantity
        FROM c
        LEFT JOIN n ON c.p_nation = n.node_id
        LEFT JOIN r ON n.p_region = r.node_id
        LEFT JOIN (SELECT p_customer, count(DISTINCT node_id) AS cnt,
                          sum(totalprice_cents) AS tot,
                          max(totalprice_cents) AS mx
                   FROM o GROUP BY p_customer) d1
               ON d1.p_customer = c.node_id
        LEFT JOIN (SELECT o.p_customer, count(DISTINCT l.node_id) AS cnt,
                          sum(l.quantity) AS tot, max(l.quantity) AS mx
                   FROM o JOIN l ON l.p_orders = o.node_id
                   GROUP BY o.p_customer) d2
               ON d2.p_customer = c.node_id""",
    "nation_doc": """
        SELECT n.node_id AS _nation_id, n.name, r.name AS region_name,
               coalesce(x.cnt, 0) AS supplier_count, x.suppliers
        FROM n
        LEFT JOIN r ON n.p_region = r.node_id
        LEFT JOIN (SELECT p_nation, count(DISTINCT node_id) AS cnt,
                          list({'name': name,
                                'acctbal': CAST(acctbal AS FLOAT),
                                '_supplier_id': node_id}) AS suppliers
                   FROM s GROUP BY p_nation) x
               ON x.p_nation = n.node_id""",
    "orders_doc": """
        SELECT o.node_id AS _orders_id, o.orderstatus, o.totalprice_cents,
               o.orderpriority, o.custkey,
               coalesce(x.cnt, 0) AS line_count,
               coalesce(x.q, 0) AS quantity,
               CASE c.mktsegment WHEN 'AUTOMOBILE' THEN 'auto'
                                 WHEN 'BUILDING' THEN 'building'
                                 ELSE c.mktsegment END AS customer_segment,
               n.name AS customer_nation
        FROM o
        LEFT JOIN (SELECT p_orders, count(DISTINCT node_id) AS cnt,
                          sum(quantity) AS q
                   FROM l GROUP BY p_orders) x ON x.p_orders = o.node_id
        LEFT JOIN c ON c.custkey = o.custkey
        LEFT JOIN n ON c.p_nation = n.node_id""",
    "account_doc": """
        SELECT a.node_id AS _account_id, a.name,
               CAST(a.acctbal AS FLOAT) AS acctbal, a.source_node,
               CASE WHEN n.name IS NULL THEN [] ELSE [n.name] END
                 AS nation_name,
               CASE WHEN r.name IS NULL THEN [] ELSE [r.name] END
                 AS region_name
        FROM (SELECT node_id, name, acctbal, p_nation,
                     'customer' AS source_node FROM c
              UNION ALL
              SELECT node_id, name, acctbal, p_nation,
                     'supplier' AS source_node FROM s) a
        LEFT JOIN n ON a.p_nation = n.node_id
        LEFT JOIN r ON n.p_region = r.node_id""",
}

GRAPH_VIEWS = {"c": "customer", "n": "nation", "r": "region",
               "s": "supplier", "o": "orders", "l": "lineitem"}


def canon(v, sort_arrays=True):
    """A hashable canonical form of one DuckDB value; arrays compare as
    multisets unless `sort_arrays` is off."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("n", v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return ("nan",)
        if f.is_integer() and abs(f) < 2 ** 53:
            return ("n", int(f))
        return ("f", float(f"{f:.9g}"))
    if isinstance(v, dict):
        return ("s",) + tuple(sorted((k, canon(x, sort_arrays))
                                     for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        items = [canon(x, sort_arrays) for x in v]
        return ("a",) + tuple(sorted(items, key=repr) if sort_arrays
                              else items)
    return ("t", str(v))


def rows(rel, sort_arrays=True):
    cols = [c.lower() for c in rel.columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(canon(r[i], sort_arrays) for i in order)
                  for r in rel.fetchall()), key=repr)
    return [cols[i] for i in order], out


def compare(actual, expected):
    """(None when equal, else the first difference; actual row count)."""
    acols, arows = actual
    ecols, erows = expected
    if acols != ecols:
        return f"columns {acols} != expected {ecols}", len(arows)
    if len(arows) != len(erows):
        return f"{len(arows)} rows != expected {len(erows)}", len(arows)
    for a, e in zip(arows, erows):
        if a != e:
            return f"row {a!r:.300} != expected {e!r:.300}", len(arows)
    return None, len(arows)


def live_indices(store):
    """alias -> live index name, from the store's alias file."""
    out = {}
    path = os.path.join(store, "_aliases.properties")
    if os.path.exists(path):
        for line in open(path):
            k, _, v = line.strip().partition("=")
            if v and not k.startswith("time_"):
                out[k] = v.split(",")[0]
    return out


def check_etl(data, store, variant_live):
    """{index: (problem or None, rows)} for every index of the mapping."""
    con = duckdb.connect()
    for view, label in GRAPH_VIEWS.items():
        suffix = ".var" if variant_live.get(label) else ""
        path = os.path.join(data, "etl", f"{label}{suffix}.parquet")
        con.sql(f"CREATE VIEW {view} AS SELECT * FROM '{path}'")
    live = live_indices(store)
    result = {}
    for index, sql in EXPECTED_DOCS.items():
        if index not in live:
            result[index] = ("not published", 0)
            continue
        files = glob.glob(os.path.join(store, live[index], "docs", "*.parquet"))
        actual = rows(con.sql(f"SELECT * FROM read_parquet({files})"))
        result[index] = compare(actual, rows(con.sql(sql)))
    return result


def check_ops(tables, outputs, oracle_sql):
    """{query: (problem or None, rows)} for every query of the workload."""
    con = duckdb.connect()
    for path in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    result = {}
    for q, sql in oracle_sql.items():
        files = glob.glob(os.path.join(outputs, q, "*.parquet"))
        if not sql:
            result[q] = ("no oracle", 0)
        elif not files:
            result[q] = ("no output", 0)
        else:
            actual = rows(con.sql(f"SELECT * FROM read_parquet({files})"),
                          sort_arrays=False)
            result[q] = compare(actual, rows(con.sql(sql), sort_arrays=False))
    return result
