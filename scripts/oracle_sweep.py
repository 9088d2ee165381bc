#!/usr/bin/env python3
"""Ad-hoc oracle sweep: run named (or all) oracled queries at a given SF and
compare against the DuckDB oracle the same way the driver does (row count +
column set + order-insensitive values).  Parallelism is ``SPARK_GRAFT_CPUS``
(default: the machine's core count).  Usage:

    python scripts/oracle_sweep.py [--sf-dir DIR] [query ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from navgraph_osm_spark.session import get_spark  # noqa: E402
from navgraph_osm_spark.sources.tables import DRIVER_TABLES  # noqa: E402


def _canon(df):
    """Columns in name order, rows sorted on the non-float columns first:
    a float that rounds differently on the two sides then cannot reorder
    rows and misalign the 1e-6 value check (floats only break ties)."""
    df = df[sorted(df.columns)].copy()
    floats = []
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
            floats.append(c)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    keys = [c for c in df.columns if c not in floats] + floats
    return df.sort_values(keys).reset_index(drop=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    con = duckdb.connect()
    for t in DRIVER_TABLES:
        p = f"{args.sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    oracles = entry_mod.oracle_sql()
    names = args.names or sorted(oracles)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    spark = get_spark("oracle_sweep", parallelism=cpus)
    qs = entry_mod.queries()
    failed = []
    for name in names:
        if name not in oracles:
            print(f"{name}: NO ORACLE (skipped)")
            continue
        got = qs[name](spark, args.sf_dir).toPandas()
        want = con.execute(oracles[name]).df()
        status = "ok"
        if sorted(got.columns) != sorted(want.columns):
            status = f"COLS {sorted(got.columns)} vs {sorted(want.columns)}"
        elif len(got) != len(want):
            status = f"ROWS {len(got)} vs {len(want)}"
        else:
            g, w = _canon(got), _canon(want)
            for c in g.columns:
                if status != "ok":
                    break
                if g[c].dtype.kind == "f" or w[c].dtype.kind == "f":
                    gv = g[c].astype(float).to_numpy()
                    wv = w[c].astype(float).to_numpy()
                    for a, b in zip(gv, wv):
                        ok = (math.isnan(a) and math.isnan(b)) or abs(
                            a - b
                        ) <= 1e-6 * max(1, abs(b))
                        if not ok:
                            status = f"VAL {c}: {a} vs {b}"
                            break
                else:
                    mism = g[c].astype(str) != w[c].astype(str)
                    if mism.any():
                        status = f"VAL {c}: {g[c][mism].head(2).tolist()} vs {w[c][mism].head(2).tolist()}"
        print(f"{name}: {status} ({len(got)} rows)")
        if status != "ok":
            failed.append(name)
    spark.stop()
    if failed:
        print("FAILED:", failed)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
