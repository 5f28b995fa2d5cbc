"""Local twin of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
at the same scale factor; both sides go THROUGH PANDAS and the shared
driver-shaped canonicalization (tools/frame_compare.py — dtype
sensitivity included), compared on column names, row count, and
order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, ".")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from frame_compare import pandas_signature
from forest_open_data_pipelines_spark.runtime import query_scope
from forest_open_data_pipelines_spark.session import get_spark
from forest_open_data_pipelines_spark.sources.tables import TABLES


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            with query_scope(spark, name):
                spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"{name}: SPARK FAIL {type(e).__name__}: {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"{name}: rows-only rows={len(spdf)}")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"{name}: ORACLE FAIL {type(e).__name__}: {str(e)[:300]}")
            continue
        sc, sb = pandas_signature(spdf)
        oc, ob = pandas_signature(odf)
        if sc != oc:
            failures.append(name)
            print(f"{name}: COLUMN MISMATCH spark={sc} oracle={oc}")
        elif len(sb) != len(ob):
            failures.append(name)
            print(f"{name}: ROWCOUNT MISMATCH spark={len(sb)} oracle={len(ob)}")
        elif sb != ob:
            failures.append(name)
            diffs = [
                (a, b) for a, b in zip(sb, ob) if a != b
            ][:3]
            print(f"{name}: VALUE MISMATCH rows={len(sb)} first_diffs={diffs}")
        else:
            print(f"{name}: MATCH rows={len(sb)}")
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
