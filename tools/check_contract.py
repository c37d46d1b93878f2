"""Local stand-in for the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB
at the given sf dir, compare row count + column names + order-insensitive
values. Usage: python tools/check_contract.py [sf_dir] [only_name...]"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
import pandas as pd

import __spark_entry__ as entry_mod
from spaghettisearch_spark.session import get_spark

TABLES = ["documents"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("contract-check", cores=8, shuffle_partitions=16)
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
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"[FAIL-spark] {name}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            if len(sdf) == 0 and name != "noop":
                failures.append((name, "rows-only entry returned 0 rows"))
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"[FAIL-duckdb] {name}: {str(e)[:300]}")
            continue
        a, b = norm(sdf), norm(odf)
        status = []
        if list(a.columns) != list(b.columns):
            status.append(f"cols spark={list(a.columns)} duck={list(b.columns)}")
        if len(a) != len(b):
            status.append(f"rows spark={len(a)} duck={len(b)}")
        if not status:
            if not a.equals(b):
                neq = (a != b).any(axis=1)
                diff_n = int(neq.sum())
                status.append(f"values differ in {diff_n}/{len(a)} rows")
                ex = pd.concat(
                    [a[neq].head(3).add_suffix("_spark"),
                     b[neq].head(3).add_suffix("_duck")], axis=1
                )
                status.append("\n" + ex.to_string())
        if status:
            failures.append((name, "; ".join(status)))
            print(f"[FAIL] {name}: {status[0]}" + ("".join(status[1:])[:500]))
        else:
            print(f"[ok] {name}: {len(a)} rows match  ({time.time()-t0:.1f}s)")
    print(f"\n{len(failures)} failures / {len(only) or len(qs)} entries")
    for n, msg in failures:
        print(" -", n, ":", msg[:200])
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
