"""Catalog-wide duplicate-scan audit.

For every catalog entry, compile the (initial) physical plan and count
LIVE `Scan parquet` nodes per table — scans nested under an
InMemoryRelation are excluded (they execute once at cache
materialization). Entries scanning the same table more than once are
flagged: at 100 TB a second fact scan doubles the dominant cost of a
query, and the fix is usually a `_persist` of the shared subtree (the
corpus_shard_plan round-8 finding) — unless the query is a genuine
self-join, where the second scan is the algorithm.

Usage:
    python tools/scan_audit.py [sf_dir] [query ...]

Prints one line per flagged entry: name, table → live scan count.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from forest_open_data_pipelines_spark.plans.catalog import QUERIES
from forest_open_data_pipelines_spark.runtime import query_scope
from forest_open_data_pipelines_spark.session import get_spark

SCAN_RE = re.compile(r"Scan parquet\b.*?([a-z_]+)\.parquet")


def live_scans(plan: str) -> dict[str, int]:
    """Count Scan-parquet nodes per table, skipping subtrees under an
    InMemoryRelation (tracked by tree indentation)."""
    counts: dict[str, int] = {}
    cache_indents: list[int] = []
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-*")
        indent = len(line) - len(stripped)
        while cache_indents and indent <= cache_indents[-1]:
            cache_indents.pop()
        if stripped.startswith("InMemoryRelation"):
            cache_indents.append(indent)
            continue
        if cache_indents:
            continue
        m = SCAN_RE.search(line)
        if m:
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    return counts


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    only = set(a for a in args if not os.path.isdir(a))
    spark = get_spark("scan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )

    flagged = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            # One scope per entry, so each is planned fresh: cached or
            # checkpointed frames left by an earlier entry would be
            # substituted into later plans and change their scan count.
            with query_scope(spark, name):
                df = fn(spark, sf_dir)
                plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            flagged += 1
            continue
        dupes = {t: n for t, n in live_scans(plan).items() if n > 1}
        if dupes:
            print(f"{name}: " + ", ".join(f"{t}×{n}" for t, n in sorted(dupes.items())))
            flagged += 1
    print(f"\n{flagged} flagged")


if __name__ == "__main__":
    main()
