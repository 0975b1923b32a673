#!/usr/bin/env python3
"""Regenerates perfbench/expected_sf0.01.json: the canonical description of
each batch entry's DuckDB oracle result over perfbench/fixtures/sf0.01.

    python3 perfbench/make_expected.py

The oracle SQL comes from the registry (`SparkEntry.oracleSql`), dumped by
`perfbench.OracleSql`. The benchmark compares every batch entry's Spark
output with these descriptions; run this only when the fixtures or an
entry's oracle twin change.
"""
import json
import os
import subprocess
import sys
import tempfile

import duckdb

import build
import oracle

FIXTURES = build.FIXTURES


def main():
    build.build()
    with tempfile.TemporaryDirectory(dir=build.BUILD) as tmp:
        sql_file = os.path.join(tmp, "oracle_sql.json")
        subprocess.run(["java", "-cp", build.classpath(), "perfbench.OracleSql", sql_file],
                       check=True)
        sqls = json.load(open(sql_file))
    con = duckdb.connect()
    for t in oracle.TABLES:
        if os.path.exists(f"{FIXTURES}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{FIXTURES}/{t}.parquet')")
    expected = {}
    for name, sql in sorted(sqls.items()):
        expected[name] = oracle.describe(con.execute(sql).df())
        print(name, expected[name]["rows"], expected[name]["hash"], file=sys.stderr)
    with open(oracle.EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
