"""Streaming ingest gates against a static index — the unbounded twin
of every batch ``classify_against_*`` operator:
``dedup.classify_against_index`` (MinHash, ``dedup_incremental``),
``dedup.classify_against_winnowing_index`` (``winnowing_incremental``),
``multimodal.classify_against_ahash_index`` (``media_ahash_incremental``)
and ``entities.er_classify_against_index`` (``er_incremental_classify``).

The base side of each is exactly the INDEX a production pipeline
persists between compactions. Classifying an arriving record touches
only that static index, and the best-match step is a per-record
aggregation over its own candidates — records never interact — so the
correct streaming shape is a ``foreachBatch`` bridge: every
micro-batch runs the BATCH classifier against the index (same code
path, verdict-identical by construction), exactly like the
``foreachBatch`` → incremental-year-cache bridge in ``sinks``. A
stateful formulation would smuggle the per-record aggregation into
watermark state for no benefit; candidates never cross micro-batches.

What each gate buys: the MinHash gate flags exact and near copies;
the winnowing gate's detection floor registers any ≥ w+k−1-char
verbatim run shared with the base corpus even when whole-document
similarity is low; the aHash gate catches re-encoded or re-scaled
copies of an ingested asset that sha-256 (streaming/dedup.py) sees as
a new blob; the ER gate links arriving records to canonical entities.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def classify_stream(
    stream: DataFrame,
    classify: Callable[[DataFrame], DataFrame],
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
) -> StreamingQuery:
    """foreachBatch bridge: run ``classify`` (a batch classifier bound
    to its persisted index, e.g. ``lambda b:
    classify_against_winnowing_index(b, base_k, hot)``) on each
    micro-batch and hand the verdict frame to ``sink(df, batch_id)``.
    Idempotent under replay: verdicts are a pure function of (record,
    index). The classifier should persist nothing per batch — a
    micro-batch is cheap to recompute, and per-batch persists would
    accumulate across the stream (hence ``persist_new=False`` for the
    aHash classifier)."""
    return (
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: sink(classify(batch_df), batch_id)
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )
