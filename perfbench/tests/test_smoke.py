"""Smoke tests of the benchmark: every workload once at sf 0.001, with the
output checks and the metric names of BENCHMARK.json.

    python3 -m pytest perfbench/tests -q

The first test run builds the engine (about a minute); each run after
that takes a fresh JVM's cold pass, so the whole file takes a few
minutes.
"""
import json
import os
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import run as bench  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "11", "--seconds", "0", "--sf", "0.001",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return p.stdout.splitlines()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_checks_and_reports_every_metric(workload, trace):
    lines = run(workload, trace)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in wanted)
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    checks = [ln for ln in lines if ln.startswith("check ")]
    # four indices or four queries, per lane
    assert len(checks) == (2 if trace else 1) * 4
    assert all(ln.split()[3] == "ok" for ln in checks), checks


def test_unknown_workload_fails_loudly():
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                        "--workload", "nope", "--seed", "1", "--seconds",
                        "1"], cwd=ROOT, capture_output=True, text=True)
    assert p.returncode != 0 and "nope" in p.stderr


def test_traced_etl_lane_is_in_step_with_runetl_run():
    """TracedEtl re-implements RunEtl.run; when RunEtl.run changes, this
    fails until the copy is brought in step and the digest updated."""
    assert bench.runetl_run_digest() == bench.RUNETL_RUN_SHA256


def test_etl_check_sees_a_changed_table(tmp_path):
    """The expected documents of the base dumps and of the variants differ,
    so a run that published stale documents cannot pass the check."""
    gen.generate(str(tmp_path), 3, 0.001, etl=True, ops=False)

    def expected(variant):
        con = duckdb.connect()
        for view, label in check.GRAPH_VIEWS.items():
            suffix = ".var" if variant and label in gen.CHANGED_TABLES else ""
            con.sql(f"CREATE VIEW {view} AS SELECT * FROM "
                    f"'{tmp_path}/etl/{label}{suffix}.parquet'")
        return {i: check.rows(con.sql(sql))
                for i, sql in check.EXPECTED_DOCS.items()}

    base, var = expected(False), expected(True)
    changed = {i for i in base if check.compare(var[i], base[i])[0]}
    assert changed == set(check.EXPECTED_DOCS)


def test_ops_check_compares_against_the_oracle(tmp_path):
    tables, out = tmp_path / "tables", tmp_path / "out"
    tables.mkdir()
    (out / "q").mkdir(parents=True)
    con = duckdb.connect()
    con.sql(f"COPY (SELECT range AS k, range * 2 AS v FROM range(5)) "
            f"TO '{tables}/t.parquet' (FORMAT PARQUET)")
    oracle = {"q": "SELECT k, v FROM t WHERE k > 0"}
    con.sql(f"COPY (SELECT v, k FROM '{tables}/t.parquet' WHERE k > 0 "
            f"ORDER BY k DESC) TO '{out}/q/part-0.parquet' (FORMAT PARQUET)")
    assert check.check_ops(str(tables), str(out), oracle) == {"q": (None, 4)}
    con.sql(f"COPY (SELECT k, v + (k = 3)::INT AS v FROM '{tables}/t.parquet' "
            f"WHERE k > 0) TO '{out}/q/part-0.parquet' (FORMAT PARQUET)")
    problem, rows = check.check_ops(str(tables), str(out), oracle)["q"]
    assert problem and rows == 4


def test_generator_is_seeded(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.generate(a, 5, 0.001, etl=True, ops=True)
    gen.generate(b, 5, 0.001, etl=True, ops=True)
    gen.generate(c, 6, 0.001, etl=True, ops=True)

    def tree(d):
        out = {}
        for dirpath, _, files in os.walk(d):
            for f in files:
                p = os.path.join(dirpath, f)
                if not f.endswith(".parquet"):
                    out[os.path.relpath(p, d)] = open(p, "rb").read()
        return out

    assert tree(a) == tree(b)
    assert tree(a) != tree(c)
