"""Canonical description of a query result, as dev/compare.py computes it:
column names (sorted), pandas dtypes, row count and the canonical-string
hash of the result read through DuckDB."""
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# each batch entry's expected result, generated by make_expected.py
EXPECTED = os.path.join(HERE, "expected_sf0.01.json")

sys.path.insert(0, os.path.join(os.path.dirname(HERE), "dev"))
from compare import TABLES, canonical_hash, norm  # noqa: E402,F401


def describe(df):
    df = norm(df)
    return {"columns": list(df.columns),
            "dtypes": [str(df[c].dtype) for c in df.columns],
            "rows": len(df),
            "hash": canonical_hash(df)}


def parquet_frame(con, files):
    return con.execute(f"SELECT * FROM read_parquet({sorted(files)!r})").df()
