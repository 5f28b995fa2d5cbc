"""Time named catalog queries exactly the way bench.py does.

Usage:
    python tools/qtime.py <query> [query ...] [--sf /root/testdata/sf0.1] [--reps 3]

Per query: REPS timed `.count()` runs with `release_persisted()` between
reps, reporting min/median plus the q1 session floor measured first —
the same methodology as bench.py, scoped to the queries under study so
a round-12 A/B does not pay the full 184-query sweep.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from forest_open_data_pipelines_spark.plans.catalog import QUERIES
from forest_open_data_pipelines_spark.runtime import release_persisted
from forest_open_data_pipelines_spark.session import get_spark


def main() -> None:
    names = []
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = 3
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES["q1_pricing_summary"](spark, sf_dir).count()  # JIT warm
    floor_samples = []
    for _ in range(3):
        f0 = time.perf_counter()
        QUERIES["q1_pricing_summary"](spark, sf_dir).count()
        floor_samples.append(time.perf_counter() - f0)
        release_persisted()
    print(f"q1_floor: {min(floor_samples):.3f}s {[round(s,3) for s in floor_samples]}")
    for name in names:
        spark.sparkContext.setJobDescription(f"qtime:{name}")
        samples = []
        rows = 0
        for _ in range(reps):
            start = time.perf_counter()
            rows = QUERIES[name](spark, sf_dir).count()
            samples.append(time.perf_counter() - start)
            release_persisted()
        print(
            f"{name}: min={min(samples):.3f}s "
            f"median={statistics.median(samples):.3f}s rows={rows} "
            f"samples={[round(s, 3) for s in samples]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
