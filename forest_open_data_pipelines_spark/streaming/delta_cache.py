"""The foreachBatch delta-cache bridge shared by the full-history
streams (``anomaly_watch``, ``effective_series``).

Some batch operators need a key's FULL history (a trailing daily-count
series, the freshest observation of the whole feed), which no
watermark-bounded state can hold. Their streaming shape is an
incremental cache (the year-cache precedent in
``streaming/windowed.py``): every micro-batch lands its aggregate
DELTAS in a parquet cache partitioned by ``batch_id``, then the
report re-reads the accumulated cache and hands its result to the
sink.

Exactly-once effect under at-least-once foreachBatch: a replayed batch
OVERWRITES its own batch_id partition (dynamic partition overwrite),
so its deltas can never double — the aggregate over the deltas
converges to the batch operator's, and the report is a pure function
of it. The cache is (keys × batches) aggregate rows — metadata-weight
next to the event stream.

Lifecycle contract:

- The cache and the checkpoint MUST be retained or wiped TOGETHER: a
  reset checkpoint restarts batch ids at 0, and dynamic overwrite
  would then fold a new incarnation's deltas over a previous one's.
- The cache grows one small batch_id partition per micro-batch, and
  every batch re-reads all of it. Bounding it is the OFFLINE
  pause-and-fold job ``compact_delta_cache``: stop the stream, fold
  all but the newest partitions into a baseline partition at a NEW
  path, resume pointed at it with the SAME checkpoint. Inline
  compaction is intentionally omitted: a full-cache rewrite inside a
  batch that can replay has no safe idempotence story, while the
  pause-and-fold is the compact_parquet-style job every lake already
  runs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

#: batch_id of the folded baseline partition; real micro-batch ids
#: count up from 0, so they can never collide with it.
BASELINE_BATCH_ID = -1


def delta_cache_stream(
    stream: DataFrame,
    cache_path: str,
    checkpoint: str,
    deltas: Callable[[DataFrame], DataFrame],
    report: Callable[[DataFrame], DataFrame],
    sink: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Start the bridge: each micro-batch's ``deltas(batch_df)`` lands
    in its own batch_id partition of ``cache_path``, then
    ``sink(report(accumulated_cache), batch_id)`` runs."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            # a fresh source can fire an empty batch 0: writing it
            # would leave a footer-less cache that the read below
            # cannot infer a schema from — idle instead of crashing
            return
        (
            deltas(batch_df)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(cache_path)
        )
        acc = batch_df.sparkSession.read.parquet(cache_path)
        sink(report(acc), batch_id)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def compact_delta_cache(
    spark: SparkSession,
    src: str,
    dst: str,
    keys: list[str],
    merge_aggs: list[Column],
    keep_last: int = 1,
) -> dict[str, int]:
    """The pause-and-fold compaction (run while the stream is STOPPED).

    Folds every batch_id partition except the newest ``keep_last``
    into one ``BASELINE_BATCH_ID`` partition — per ``keys`` group the
    ``merge_aggs`` (aliased to the delta columns they merge) combine
    the deltas, and a previous baseline folds in again — and copies
    the kept partitions verbatim. The newest partitions stay un-folded
    so an at-least-once REPLAY of the last committed batch after an
    unclean stop still overwrites its own live partition instead of
    double-adding deltas the baseline already absorbed. The per-key
    aggregates are identical before and after by construction.

    Writes to a NEW path (a mid-job crash leaves ``src`` untouched and
    the job re-runnable); the caller swaps the stream's cache_path on
    resume. Scale: one groupBy over the metadata-weight cache and one
    shuffle-free partitioned write.
    """
    cache = spark.read.parquet(src)
    ids = sorted(r[0] for r in cache.select("batch_id").distinct().collect())
    # clamp: keep_last > #partitions folds NOTHING (a negative slice
    # bound would silently fold the oldest batches, shrinking the
    # replay-safety margin)
    cut = max(0, len(ids) - max(0, keep_last))
    fold_ids, kept_ids = ids[:cut], ids[cut:]
    folded = (
        cache.where(F.col("batch_id").isin(fold_ids))
        .groupBy(*keys)
        .agg(*merge_aggs)
        .withColumn("batch_id", F.lit(BASELINE_BATCH_ID))
    )
    kept = cache.where(F.col("batch_id").isin(kept_ids)).select(*folded.columns)
    out = folded.unionByName(kept) if kept_ids else folded
    out.write.mode("overwrite").partitionBy("batch_id").parquet(dst)
    return {
        "partitions_before": len(ids),
        "partitions_folded": len(fold_ids),
        "partitions_after": (1 if fold_ids else 0) + len(kept_ids),
    }
