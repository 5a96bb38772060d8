#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
given SF, then execute each oracle SQL in DuckDB over the same parquet
tables and compare (schema column names, row count, sorted value hash).

Usage: python3 tools/verify_local.py [sfDir] [outDir] [--no-run]
                                     [--only q1,q2,...]

The flags follow the positional arguments. --no-run re-compares the last
run's output without running Spark. --only runs and compares only the
named queries; a name is a full query name (fz01_fuzzy_part_lookup) or
its id before the first underscore (fz01), the same rule graft.Verify's
query filter applies.
"""
import glob
import hashlib
import json
import os
import subprocess
import sys

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
ONLY = (sys.argv[sys.argv.index("--only") + 1]
        if "--only" in sys.argv[:-1] else None)
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return f"{v:.10g}"
    return str(v)


def df_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    # sort rows on the column-name-sorted projection for order independence
    proj = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    for r in proj:
        h.update("\x01".join(r).encode())
        h.update(b"\x02")
    return h.hexdigest()


def selected(name, only):
    """True when `only` is unset or names `name` in full or by its id."""
    return only is None or name in only or name.split("_", 1)[0] in only


def main():
    run = "--no-run" not in sys.argv
    only = set(ONLY.split(",")) if ONLY else None
    if run:
        filt = f" {ONLY}" if ONLY else ""
        cp = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT_DIR}{filt}'],
            cwd=REPO_ROOT, capture_output=True, text=True)
        sys.stdout.write(cp.stdout[-3000:])
        if cp.returncode != 0:
            sys.stderr.write(cp.stderr[-3000:])
            sys.exit(1)

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    oracle = json.load(open(f"{OUT_DIR}/oracle_sql.json"))
    ok, bad = [], []
    for name in sorted(n for n in oracle if selected(n, only)):
        sql = oracle[name]
        files = glob.glob(f"{OUT_DIR}/{name}/*.parquet")
        if not files:
            bad.append((name, "no spark output"))
            continue
        try:
            want = con.execute(sql)
            wcols = [c[0] for c in want.description]
            wrows = want.fetchall()
        except Exception as e:
            bad.append((name, f"oracle failed: {e}"))
            continue
        got = con.execute(f"SELECT * FROM '{OUT_DIR}/{name}/*.parquet'")
        gcols = [c[0] for c in got.description]
        grows = got.fetchall()
        if sorted(gcols) != sorted(wcols):
            bad.append((name, f"cols spark={sorted(gcols)} oracle={sorted(wcols)}"))
            continue
        if len(grows) != len(wrows):
            bad.append((name, f"rows spark={len(grows)} oracle={len(wrows)}"))
            continue
        if df_hash(grows, gcols) != df_hash(wrows, wcols):
            # find first differing row for debugging
            diff = ""
            order_g = sorted(range(len(gcols)), key=lambda i: gcols[i])
            order_w = sorted(range(len(wcols)), key=lambda i: wcols[i])
            sg = sorted(tuple(norm(r[i]) for i in order_g) for r in grows)
            sw = sorted(tuple(norm(r[i]) for i in order_w) for r in wrows)
            for a, b in zip(sg, sw):
                if a != b:
                    diff = f" first diff: spark={a} oracle={b}"
                    break
            bad.append((name, "hash mismatch" + diff))
            continue
        ok.append(name)
    for name in ok:
        print(f"PASS {name}")
    for name, why in bad:
        print(f"FAIL {name}: {why}")
    print(f"\n{len(ok)}/{len(ok) + len(bad)} queries match")
    sys.exit(0 if not bad else 2)


if __name__ == "__main__":
    main()
