"""Self-check harness mimicking the driver's DuckDB-oracle gate:
runs every queries() entry on Spark and its oracle_sql() twin on
DuckDB over the same parquet, then compares row count, sorted column
names, and exact order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Arrow-UDF workers are new Python processes: they find the package
# through PYTHONPATH, not through this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from __spark_entry__ import queries, oracle_sql
    from crypto_price_tracker_with_etl_dashboard_spark.session import get_spark

    spark = get_spark("oracle-check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = queries(), oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}", flush=True)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(sdf)} rows, {t_spark:.1f}s) [no oracle]", flush=True)
            continue
        t0 = time.time()
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue
        t_duck = time.time() - t0
        s, o = normalize(sdf), normalize(odf)
        status = None
        if len(s) != len(o):
            status = f"row count {len(s)} vs {len(o)}"
        elif list(s.columns) != list(o.columns):
            status = f"columns {list(s.columns)} vs {list(o.columns)}"
        elif [d.kind for d in s.dtypes] != [d.kind for d in o.dtypes]:
            # the driver's value hash is width-insensitive (int32 vs int64
            # both hash as ints) but NOT kind-insensitive: DuckDB HUGEINT
            # round-trips through pandas as float/object, which is exactly
            # how the four r1 hash mismatches surfaced.  Flag kind changes.
            bad = [
                f"{c}: {s[c].dtype} vs {o[c].dtype}"
                for c in s.columns
                if s[c].dtype.kind != o[c].dtype.kind
            ]
            status = "dtype kind mismatch " + "; ".join(bad)
        else:
            diffs = []
            for c in s.columns:
                if pd.api.types.is_float_dtype(s[c]) and pd.api.types.is_float_dtype(o[c]):
                    import numpy as np

                    a, b = s[c].to_numpy(), o[c].to_numpy()
                    both_nan = pd.isna(a) & pd.isna(b)
                    neq = ~both_nan & (a != b)
                    if neq.any():
                        mad = float(pd.Series(abs(a[neq] - b[neq])).max())
                        diffs.append(f"{c}: {int(neq.sum())} cells differ, maxabs={mad:.3e}")
                else:
                    neq = ~(s[c].eq(o[c]) | (pd.isna(s[c]) & pd.isna(o[c])))
                    if neq.any():
                        diffs.append(f"{c}: {int(neq.sum())} cells differ e.g. {s[c][neq].iloc[0]!r} vs {o[c][neq].iloc[0]!r}")
            if diffs:
                status = "; ".join(diffs)
        if status:
            failures.append(name)
            print(f"FAIL {name}: {status}", flush=True)
        else:
            # flush=True + showConsoleProgress=false (session.py) keep
            # captured logs countable: `grep -c '^PASS'` == registry size.
            print(f"PASS {name}: {len(s)} rows (spark {t_spark:.1f}s, duckdb {t_duck:.1f}s)", flush=True)
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL PASS", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
