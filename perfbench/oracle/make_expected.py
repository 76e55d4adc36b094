#!/usr/bin/env python3
"""Regenerate oracle/expected.json: the row count and order-free digest of
each pipeline_mix query's DuckDB oracle (SparkEntry.oracleSql) over the
tables in perfbench/data/sf0.01. Run it when the mix queries, their oracles
or the shipped tables change:

    python3 perfbench/oracle/make_expected.py
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402
import run  # noqa: E402


def main():
    import duckdb
    classes = build.build()
    with tempfile.TemporaryDirectory(dir=build.BUILD) as tmp:
        out = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{classes}:{build.spark_jars()}/*",
                        "graft.perfbench.OracleSql", out], check=True)
        with open(out) as f:
            oracles = json.load(f)
    con = duckdb.connect()
    for p in sorted(os.listdir(run.MIX_DATA)):
        if p.endswith(".parquet"):
            con.execute(f"CREATE VIEW {p[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(run.MIX_DATA, p)}')")
    expected = {}
    for q, sql in sorted(oracles.items()):
        rows, sha = run.digest(con, sql)
        expected[q] = {"rows": rows, "sha256": sha}
        print(f"{q:20s} {rows:8d} rows  {sha[:16]}")
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
