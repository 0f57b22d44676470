"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` via DuckDB
on the same parquet tables, compare row count + schema + sorted values.

Usage: python scripts/check_oracles.py [--fine] [sf_dir] [query ...]

``--fine`` checks the pre-consolidation fine-grained surface
(__spark_entry__._queries_fine / _oracle_sql_base — every operator its
own query) instead of the registered driver surface; default checks
the registered queries()/oracle_sql() exactly as the driver does.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from communitydetection_jl_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def compare(name, spark_df, sql, con):
    got = spark_df.toPandas()
    want = con.sql(sql).df()
    ok = True
    msgs = []
    if len(got) != len(want):
        ok = False
        msgs.append(f"rows: spark={len(got)} oracle={len(want)}")
    gcols = sorted(got.columns)
    wcols = sorted(want.columns)
    if gcols != wcols:
        ok = False
        msgs.append(f"cols: spark={gcols} oracle={wcols}")
    if ok:
        g = got[gcols].sort_values(gcols).reset_index(drop=True)
        w = want[gcols].sort_values(gcols).reset_index(drop=True)
        for c in gcols:
            try:
                gc = pd.to_numeric(g[c])
                wc = pd.to_numeric(w[c])
                if not ((gc - wc).abs().fillna(0) < 1e-9).all():
                    bad = (gc - wc).abs() >= 1e-9
                    ok = False
                    msgs.append(
                        f"col {c}: {int(bad.sum())} mismatches, e.g. "
                        f"{g[bad].head(2).to_dict()} vs {w[bad].head(2).to_dict()}"
                    )
            except (ValueError, TypeError):
                if not (g[c].astype(str) == w[c].astype(str)).all():
                    bad = g[c].astype(str) != w[c].astype(str)
                    ok = False
                    msgs.append(f"col {c}: {int(bad.sum())} string mismatches")
    print(f"{'OK  ' if ok else 'FAIL'} {name} ({len(got)} rows)" + ("; ".join([""] + msgs)),
          flush=True)
    return ok


def main():
    args = [a for a in sys.argv[1:] if a != "--fine"]
    fine = "--fine" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs = entrymod._queries_fine() if fine else entrymod.queries()
    oracles = entrymod._oracle_sql_base() if fine else entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            try:
                n = fn(spark, sf_dir).count()
                print(f"rows-only {name}: {n} rows", flush=True)
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name} (rows-only): {e}", flush=True)
                failures.append(name)
            continue
        try:
            if not compare(name, fn(spark, sf_dir), oracles[name], con):
                failures.append(name)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {type(e).__name__}: {str(e)[:300]}", flush=True)
            failures.append(name)
    print("\nFAILURES:", failures if failures else "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
