"""Streaming observation-store append — the stateful streaming twin of
``operators.freshness.freshness_observations_append``.

The reference appends observations in nightly batches
(``freshness/storage.py:91-151``), carrying a ``latest`` map keyed by
(watch_id, resource_key) forward through the batch; the batch operator
re-expresses that fold as a lag window. Here the SAME fold runs
continuously: the lag — the previous source timestamp string and the
previous OK probe's micros — per key lives in the state store via
``applyInPandasWithState`` — bounded state (two scalars per key),
append output mode, no buffering of raw events. The fold emits only
that lag; the precision-aware ``changed`` flag and the exact
integer-cents intervals are the batch operator's own
``observation_changes`` tail, so stream and batch rows agree by
construction (parity asserted in tests once the stream drains,
including across multiple micro-batches — state carries the chain
over batch boundaries exactly like the reference's map carries it
over nightly runs).

Ordering contract (same as the reference's append loop): batches must
arrive in source-time order per key — the fold sorts WITHIN a batch by
(ts, event_id), and the state chain assumes batch N+1's events are not
older than batch N's for the same key. A feed that can deliver late
rows needs a watermark-and-reorder stage upstream (the windowed module
pattern); the nightly-append use case this mirrors polls forward-only.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

STATE_SCHEMA = StructType(
    [
        StructField("prev_str", StringType()),
        StructField("prev_ts_us", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("watch_id", LongType()),
        StructField("resource_key", StringType()),
        StructField("ts", TimestampType()),
        StructField("source_modified_at", StringType()),
        StructField("precision", StringType()),
        StructField("status", StringType()),
        StructField("previous_source_modified_at", StringType()),
        StructField("prev_mod_ts", TimestampType()),
    ]
)

def _append_fold(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    watch_id, resource_key = key
    prev_str, prev_us = state.get if state.exists else ("", None)
    out: list[tuple] = []
    rows: list[tuple] = []
    for pdf in pdfs:
        rows.extend(
            zip(
                pdf["ts"], pdf["event_id"], pdf["status"],
                pdf["source_modified_at"], pdf["precision"],
            )
        )
    # event order within the batch — the reference appends in feed
    # order; the batch twin's lag window orders identically
    rows.sort(key=lambda r: (r[0], r[1]))
    for ts, _eid, status, cur, precision in rows:
        prev_ts = None if prev_us is None else pd.Timestamp(prev_us, unit="us")
        out.append(
            (watch_id, resource_key, ts, cur, precision, status, prev_str, prev_ts)
        )
        # an error probe carries no timestamp forward: the next change
        # interval must come from an OK probe, as in the batch lag
        prev_str = cur
        prev_us = ts.value // 1_000 if status == "ok" else None  # ns → µs
    state.update((prev_str, prev_us))
    yield pd.DataFrame(out, columns=[f.name for f in OUTPUT_SCHEMA.fields])


def observations_append_stream(events_stream: DataFrame) -> DataFrame:
    """events stream → per-observation append rows with the latest
    (watch, resource) source timestamp carried in the state store.
    Derivation (status/precision/modified) is the SHARED batch
    projection, so stream and batch rows are identical by
    construction; ``observed_at`` is omitted (the batch scalar is the
    append call's clock — a stream has no global max)."""
    from forest_open_data_pipelines_spark.operators.freshness import (
        observation_changes,
        observations_from_events,
    )

    obs = observations_from_events(events_stream)
    lagged = obs.groupBy("watch_id", "resource_key").applyInPandasWithState(
        _append_fold,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return observation_changes(lagged).drop("prev_mod_ts")
