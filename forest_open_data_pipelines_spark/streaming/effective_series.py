"""Streaming effective-series gate — the unbounded twin of
``operators.timeseries.effective_monthly_series`` (VERDICT r10
item 8): mensal observations arrive as a stream and the truncate-
then-substitute override recomputes per micro-batch against the
STATIC zip series.

The reference instant (the freshest observation) and the truncation
both need the stream's FULL history, which no watermark-bounded state
can hold — so the correct streaming shape is the incremental-cache
bridge (the ``anomaly_watch``/year-cache precedent): every micro-batch
lands its per-period (count, value-sum, max-ts) DELTAS in a parquet
cache partitioned by batch_id, then the accumulated feed is truncated
at the reference month and merged over the zip series by the SAME
``effective_series_merge`` tail the batch operator runs.

The bridge, its exactly-once replay and its cache-plus-checkpoint
lifecycle contract live in ``streaming/delta_cache.py``; this module
binds the per-period delta aggregation, the truncate-and-merge report
and the merge columns of ``compact_effective_series_cache``.

Float note: the batch operator rounds ``money(sum(value))`` over raw
events in one pass; the stream sums RAW per-batch partials and rounds
once at the end, so the only cross-shape difference is double
summation order — absorbed by the 2-dp money rounding (the repo-wide
convention), asserted row-identical in the parity test.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from forest_open_data_pipelines_spark.functions.columns import (
    money,
    period_month,
)
from forest_open_data_pipelines_spark.operators.timeseries import (
    effective_series_merge,
    monthly_series,
)
from forest_open_data_pipelines_spark.runtime import persist
from forest_open_data_pipelines_spark.streaming.delta_cache import (
    BASELINE_BATCH_ID,
    compact_delta_cache,
    delta_cache_stream,
)

__all__ = [
    "BASELINE_BATCH_ID",
    "compact_effective_series_cache",
    "effective_series_stream",
]


def effective_series_stream(
    events_stream: DataFrame,
    enriched: DataFrame,
    cache_path: str,
    checkpoint: str,
    sink: Callable[[DataFrame, int], None],
    reference_month_mode: str = "current",
) -> StreamingQuery:
    """foreachBatch bridge: land each micro-batch's per-period
    (n_orders, raw value sum, max ts) deltas in the batch_id-
    partitioned cache, rebuild the truncated mensal feed from the
    accumulated cache, merge it over the static zip series with the
    batch operator's own ``effective_series_merge``, and call
    ``sink(series_df, batch_id)``."""
    offset = 0 if reference_month_mode == "current" else 1

    zip_series = persist(monthly_series(enriched))

    def _deltas(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(period_month(F.col("ts")).alias("period")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("value").alias("value_sum"),
            F.max("ts").alias("max_ts"),
        )

    def _report(acc: DataFrame) -> DataFrame:
        ref = acc.agg(
            F.year(F.max("max_ts")).alias("cal_year"),
            (F.month(F.max("max_ts")) - F.lit(offset)).alias("ref_month"),
        )
        # truncation at PERIOD granularity is equivalent to the batch
        # operator's per-event filter (both cut at month boundaries)
        mensal = (
            acc.groupBy("period")
            .agg(
                F.sum("n_orders").alias("n_orders"),
                money(F.sum("value_sum")).alias("total_price"),
            )
            .join(F.broadcast(ref))
            .where(
                (F.substring("period", 1, 4).cast("int") == F.col("cal_year"))
                & (F.substring("period", 6, 2).cast("int")
                   <= F.col("ref_month"))
            )
            .select("period", "n_orders", "total_price")
        )
        return effective_series_merge(zip_series, mensal, ref)

    return delta_cache_stream(
        events_stream, cache_path, checkpoint, _deltas, _report, sink
    )


def compact_effective_series_cache(
    spark,
    src_cache: str,
    dst_cache: str,
    keep_last: int = 1,
) -> dict[str, int]:
    """Pause-and-fold compaction of the per-period deltas cache
    (``delta_cache.compact_delta_cache``): per period the deltas SUM
    (n_orders, value_sum) and MAX (max_ts), so the accumulated
    aggregate — and therefore the truncated mensal feed and the merged
    series — is identical before and after."""
    return compact_delta_cache(
        spark,
        src_cache,
        dst_cache,
        ["period"],
        [
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("value_sum").alias("value_sum"),
            F.max("max_ts").alias("max_ts"),
        ],
        keep_last,
    )
