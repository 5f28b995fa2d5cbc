"""Print the executed plan (and optionally run) any catalog query.

Usage:
    python tools/explain.py <query_name> [sf_dir] [--run]

Prints `.explain("formatted")` output for the named `queries()` entry —
the plan-audit loop the repo's design rules are checked against
(pushdown reached the scan? dims broadcast? no Python row eval?).
With --run, also executes the query and prints row count + wall time.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from forest_open_data_pipelines_spark.plans.catalog import QUERIES
from forest_open_data_pipelines_spark.session import get_spark
from forest_open_data_pipelines_spark.sources.tables import DEFAULT_SF_DIR


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if not args:
        print(__doc__)
        print("available queries:")
        for name in QUERIES:
            print(f"  {name}")
        return
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else DEFAULT_SF_DIR
    if name not in QUERIES:
        raise SystemExit(f"unknown query {name!r}; run with no args for the list")
    spark = get_spark("explain")
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[name](spark, sf_dir)
    df.explain("formatted")
    if "--run" in sys.argv:
        t0 = time.perf_counter()
        rows = df.count()
        print(f"\n# {name}: rows={rows} wall={time.perf_counter() - t0:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
