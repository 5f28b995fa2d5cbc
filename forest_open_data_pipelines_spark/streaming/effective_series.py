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

Exactly-once effect under at-least-once foreachBatch: a replayed batch
OVERWRITES its own batch_id partition (dynamic partition overwrite),
so its deltas can never double — the accumulated aggregate converges
to the batch operator's mensal feed. Cache and checkpoint must be
retained or wiped TOGETHER (the anomaly_watch lifecycle contract).

Cache lifecycle (r11 ADVICE): the batch_id partitioning grows one
parquet partition per micro-batch and every batch re-reads the whole
cache, so a long-running stream runs the periodic PAUSE-AND-FOLD
maintenance job ``compact_effective_series_cache`` (the
``compact_anomaly_cache`` protocol): all but the newest partitions
fold into one per-period baseline partition, keeping the recent
batch_ids replayable for the exactly-once overwrite; per-period
totals are identical before and after by construction.

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

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            # a fresh source can fire an empty batch 0: writing it
            # would leave a footer-less cache the read below cannot
            # infer a schema from — idle instead of crashing
            return
        deltas = (
            batch_df.groupBy(period_month(F.col("ts")).alias("period"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("value").alias("value_sum"),
                F.max("ts").alias("max_ts"),
            )
            .withColumn("batch_id", F.lit(batch_id))
        )
        (
            deltas.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(cache_path)
        )
        acc = spark.read.parquet(cache_path)
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
        sink(effective_series_merge(zip_series, mensal, ref), batch_id)

    return (
        events_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


BASELINE_BATCH_ID = -1


def compact_effective_series_cache(
    spark,
    src_cache: str,
    dst_cache: str,
    keep_last: int = 1,
) -> dict[str, int]:
    """Pause-and-fold compaction of the per-period deltas cache — the
    maintenance job bounding a long-running stream's per-batch re-read
    cost and small-file count (r11 ADVICE; the
    ``compact_anomaly_cache`` protocol: run while the stream is
    STOPPED, then resume pointed at ``dst_cache`` with the SAME
    checkpoint).

    Folds every batch_id partition except the newest ``keep_last``
    into one baseline partition (batch_id = ``BASELINE_BATCH_ID``,
    which real micro-batch ids can never collide with; a previous
    baseline folds in again): per period the deltas SUM (n_orders,
    value_sum) and MAX (max_ts), so the accumulated aggregate — and
    therefore the truncated mensal feed and the merged series — is
    identical before and after, asserted in the parity test.  The
    newest partitions stay un-folded so an at-least-once replay of the
    last committed batch still overwrites its own live partition.

    Writes to a NEW path (crash-safe: a mid-job crash leaves
    ``src_cache`` untouched and the job idempotently re-runnable).
    Scale: the cache is (periods × batches) aggregate rows —
    metadata-weight; the fold is one groupBy over it.
    """
    cache = spark.read.parquet(src_cache)
    ids = sorted(r[0] for r in cache.select("batch_id").distinct().collect())
    keep_last = max(0, keep_last)
    cut = max(0, len(ids) - keep_last) if keep_last else len(ids)
    fold_ids = ids[:cut]
    kept_ids = ids[cut:]
    folded = (
        cache.where(F.col("batch_id").isin(fold_ids))
        .groupBy("period")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("value_sum").alias("value_sum"),
            F.max("max_ts").alias("max_ts"),
        )
        .withColumn("batch_id", F.lit(BASELINE_BATCH_ID))
    )
    kept = cache.where(F.col("batch_id").isin(kept_ids))
    out = folded.unionByName(kept) if kept_ids else folded
    (
        out.select("period", "n_orders", "value_sum", "max_ts", "batch_id")
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(dst_cache)
    )
    return {
        "partitions_before": len(ids),
        "partitions_folded": len(fold_ids),
        "partitions_after": (1 if fold_ids else 0) + len(kept_ids),
    }
