"""Simulate the driver's verify loop locally: smoke entry(spark), then run
every queries() entry at sf0.01 against its oracle_sql() via DuckDB and
compare row-count, column names, and a dtype-sensitive value hash that
mirrors the real driver: both results go through pandas, columns sorted by
name, rows sorted by all columns, every cell stringified (floats rounded to
6dp FIRST, so 37.0 vs 37 — the DuckDB-HUGEINT-through-pandas trap — still
mismatches, and list cells raise exactly like the driver's sort_values
does). Usage: python tools/driver_sim.py [sf_dir] [query ...]
(extra args restrict the run to those query names and skip the entry smoke)."""

from __future__ import annotations

import math
import os
import sys
import time

# Anchor imports at the repo root, not the caller's CWD (same failure
# class as the ADVICE-r13/r14 CWD-relative glob and stage commands):
# __spark_entry__ and indexlab_spark must resolve no matter where the
# sim is invoked from. Spark's Python workers do not inherit sys.path,
# so the root also goes on PYTHONPATH before the session starts.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb
import pandas as pd

import __spark_entry__ as entry_mod
from indexlab_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _cell_str(v):
    """Stringify one cell the way the driver's hash sees it: dtype matters
    (float64 37.0 -> '37.0', int64 37 -> '37'), NaN/None coalesce, floats
    rounded to 6dp to absorb engine round-off."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(round(v, 6))
    return str(v)


def canon(df: pd.DataFrame):
    """Sort columns by name, rows by all columns (the driver's _canon —
    list-valued cells make pandas sort_values raise, reproducing the real
    driver's 'unhashable type: list' failure), then stringify per cell."""
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(cols, kind="mergesort").reset_index(drop=True)
    rows = [tuple(_cell_str(v) for v in row) for row in df.itertuples(index=False)]
    return rows, cols


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("driver-sim", shuffle_partitions=8)

    if not only:
        t0 = time.time()
        df = entry_mod.entry(spark)
        n = df.count()
        print(f"entry: {n} rows, schema={df.columns}, {time.time()-t0:.1f}s")
        assert n >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            t0 = time.time()
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
            t_spark = time.time() - t0
            s_vals, s_cols = canon(spdf)
        except Exception as e:  # noqa: BLE001 - mirror driver's err capture
            print(f"{name}: SPARK ERR {type(e).__name__}: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"{name}: rows-only check, {len(s_vals)} rows, {t_spark:.1f}s")
            continue
        try:
            t0 = time.time()
            opdf = con.execute(oracles[name]).fetchdf()
            o_vals, o_cols = canon(opdf)
            t_duck = time.time() - t0
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE ERR {type(e).__name__}: {e}")
            failures.append(name)
            continue
        status = []
        if len(s_vals) != len(o_vals):
            status.append(f"ROWCOUNT {len(s_vals)} vs {len(o_vals)}")
        if s_cols != o_cols:
            status.append(f"SCHEMA {s_cols} vs {o_cols}")
        if not status and s_vals != o_vals:
            ndiff = sum(1 for a, b in zip(s_vals, o_vals) if a != b)
            status.append(f"VALUES ({ndiff}/{len(s_vals)} rows differ)")
            for a, b in zip(s_vals, o_vals):
                if a != b:
                    status.append(f"  spark={a}\n  duck ={b}")
                    break
        ok = "OK" if not status else "MISMATCH: " + "; ".join(status[:3])
        print(
            f"{name}: {ok} ({len(s_vals)} rows, spark {t_spark:.1f}s, duck {t_duck:.1f}s)"
        )
        if status:
            failures.append(name)
    if failures:
        print("FAILED:", failures)
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
