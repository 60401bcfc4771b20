#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Reads Verify.scala output (<out>/<name>/ parquet + oracle_sql.json), runs
each oracle in DuckDB over the same sf dir, and compares: schema (column
names), row count, and exact values with columns sorted by name and rows
sorted. Each result line carries the query's DuckDB oracle seconds, and the
five slowest oracles are listed before the closing `== N pass, M fail ==`
line. Dev tooling only — not part of the Spark library.

Usage: python3 tools/check_oracles.py <sfDir> <verifyOutDir>
"""
import json
import sys
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: ints -> int64, floats -> float64, timestamps -> ns
    for c in df.columns:
        k = df[c].dtype.kind
        if k in "iu":
            df[c] = df[c].astype("int64")
        elif k == "f":
            df[c] = df[c].astype("float64")
        elif k == "M":
            df[c] = df[c].astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    secs = {}
    for name in sorted(oracles):
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark output missing ({e})")
            n_fail += 1
            continue
        t0 = time.perf_counter()
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        finally:
            secs[name] = time.perf_counter() - t0
        took = f"oracle {secs[name]:.2f} s"
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)} ({took})")
            n_fail += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)} ({took})")
            n_fail += 1
            continue
        if not g.equals(w):
            neq = (g != w) & ~(g.isna() & w.isna())
            bad_cols = [c for c in g.columns if neq[c].any()]
            print(f"FAIL {name}: values differ in {bad_cols} ({took})")
            for c in bad_cols[:2]:
                i = neq[c].idxmax()
                print(f"  e.g. row {i} col {c}: spark={g[c][i]!r} duckdb={w[c][i]!r}")
            n_fail += 1
            continue
        print(f"PASS {name} ({len(g)} rows, {took})")
        n_pass += 1
    slowest = sorted(secs.items(), key=lambda kv: -kv[1])[:5]
    print(f"slowest oracles ({sum(secs.values()):.1f} s in all): " +
          ", ".join(f"{n} {s:.2f} s" for n, s in slowest))
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
