"""Correctness check of the harness's output dump against DuckDB.

Each query's output (one parquet dir per query, written by the harness)
is compared with `SparkEntry.oracleSql` run in DuckDB over the same
staged tables: column names, row count, and a hash of the sorted,
normalised rows (floats to 10 significant digits), hashed by the project's
own oracle gate, `tools/verify_local.py`. A query without oracle
SQL must return at least one row.
"""
import glob
import importlib.util
import json
import os

import duckdb

from gen import TABLES


def _project_oracle():
    """The project's own oracle gate, tools/verify_local.py, as a module."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tools", "verify_local.py")
    if not os.path.isfile(path):
        raise SystemExit("perfbench: tools/verify_local.py not found; "
                         "run from the root of a full checkout")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


rows_hash = _project_oracle().df_hash


def compare(got_cols, got_rows, want_cols, want_rows):
    """'' when the two results agree, else the first difference found."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"rows {len(got_rows)} != oracle {len(want_rows)}"
    if rows_hash(got_rows, got_cols) != rows_hash(want_rows, want_cols):
        return "row hash differs from oracle"
    return ""


def _files(check_dir, q):
    return glob.glob(os.path.join(check_dir, q, "*.parquet"))


def check(data_dir, check_dir, queries):
    """({query: ''} for each query that matches, else {query: reason};
    {query: output row count})."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    path = os.path.join(check_dir, "oracle_sql.json")
    sqls = {}
    if os.path.exists(path):
        with open(path) as f:
            sqls = json.load(f)
    verdict, rows = {}, {}
    for q in queries:
        if not _files(check_dir, q):
            verdict[q] = "no output"
            continue
        got = con.execute(f"SELECT * FROM '{check_dir}/{q}/*.parquet'")
        gcols = [c[0] for c in got.description]
        grows = got.fetchall()
        rows[q] = len(grows)
        if q not in sqls:
            verdict[q] = "" if grows else "no rows"
            continue
        try:
            want = con.execute(sqls[q])
            verdict[q] = compare(gcols, grows, [c[0] for c in want.description],
                                 want.fetchall())
        except duckdb.Error as e:
            verdict[q] = f"oracle failed: {e}"
    return verdict, rows
