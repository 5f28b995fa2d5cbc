"""Streaming telemetry anomaly watch — the unbounded twin of
``operators.sessionize.daily_anomaly_report``.

The scorer needs each type's FULL trailing daily-count history, so the
stream runs on the shared delta-cache bridge (``streaming/delta_cache.py``,
whose docstring holds the cache-plus-checkpoint lifecycle contract):
each micro-batch lands its per-(event_type, day) count deltas, then the
accumulated counts are scored by the batch report's own
``anomaly_scores`` tail (parity asserted in tests).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from forest_open_data_pipelines_spark.operators.sessionize import (
    anomaly_scores,
    spine_fill,
)
from forest_open_data_pipelines_spark.streaming.delta_cache import (
    BASELINE_BATCH_ID,
    compact_delta_cache,
    delta_cache_stream,
)

__all__ = ["BASELINE_BATCH_ID", "anomaly_watch_stream", "compact_anomaly_cache"]


def anomaly_watch_stream(
    events_stream: DataFrame,
    cache_path: str,
    checkpoint: str,
    sink: Callable[[DataFrame, int], None],
    **score_kwargs,
) -> StreamingQuery:
    """foreachBatch bridge: land each micro-batch's (event_type, day)
    count deltas in the batch_id-partitioned cache, then score the
    accumulated counts (identical ``anomaly_scores`` tail to the batch
    report) and call ``sink(report_df, batch_id)``."""

    def _deltas(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("event_type", F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).alias("n_events")
        )

    def _report(acc: DataFrame) -> DataFrame:
        counts = acc.groupBy("event_type", "day").agg(
            F.sum("n_events").cast("long").alias("n_events")
        )
        return anomaly_scores(spine_fill(counts), **score_kwargs)

    return delta_cache_stream(
        events_stream, cache_path, checkpoint, _deltas, _report, sink
    )


def compact_anomaly_cache(
    spark,
    src_cache: str,
    dst_cache: str,
    keep_last: int = 1,
) -> dict[str, int]:
    """Pause-and-fold compaction of the counts cache
    (``delta_cache.compact_delta_cache``): per (event_type, day) the
    ``n_events`` deltas sum."""
    return compact_delta_cache(
        spark,
        src_cache,
        dst_cache,
        ["event_type", "day"],
        [F.sum("n_events").cast("long").alias("n_events")],
        keep_last,
    )
