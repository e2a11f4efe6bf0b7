#!/usr/bin/env python3
"""Regenerate the Tube conformance fixture the test suite runs on.

Runs the benchmark's seeded generator once (seed 1, sf 0.0002, ETL inputs
only), copies its Sqoop-format `dumps/` and its `fixture/` (schema.json,
etlMapping.yaml) under src/test/resources/tube-conformance/, and writes
the expected documents of each index next to them as
`expected/<index>.parquet`. The expected documents come from the
benchmark's own DuckDB implementation of the mapping
(`perfbench/check.py` EXPECTED_DOCS over the generator's graph tables),
which shares no code with the engine's Translator.

Reads perfbench/ and changes nothing in it.

Usage, from the repository root:
    python3 plans/r21-spec-only-deletions/gen_conformance.py
"""
import os
import shutil
import subprocess
import sys
import tempfile

import duckdb

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import check  # noqa: E402

DEST = os.path.join(ROOT, "src", "test", "resources", "tube-conformance")


def main():
    with tempfile.TemporaryDirectory() as tmp:
        subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "gen.py"),
                        tmp, "--seed", "1", "--sf", "0.0002", "--etl"],
                       check=True)
        shutil.rmtree(DEST, ignore_errors=True)
        for part in ("dumps", "fixture"):
            shutil.copytree(os.path.join(tmp, part), os.path.join(DEST, part))
        os.makedirs(os.path.join(DEST, "expected"))
        con = duckdb.connect()
        for view, label in check.GRAPH_VIEWS.items():
            path = os.path.join(tmp, "etl", f"{label}.parquet")
            con.sql(f"CREATE VIEW {view} AS SELECT * FROM '{path}'")
        for index, sql in sorted(check.EXPECTED_DOCS.items()):
            out = os.path.join(DEST, "expected", f"{index}.parquet")
            con.sql(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
            n = con.sql(f"SELECT count(*) FROM '{out}'").fetchone()[0]
            print(f"{index}: {n} documents")


if __name__ == "__main__":
    main()
