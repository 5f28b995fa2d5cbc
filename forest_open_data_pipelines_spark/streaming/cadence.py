"""Streaming freshness/cadence monitor — the stateful streaming twin
of ``operators.freshness.freshness_cadence``.

The reference's watcher (``freshness/watch.py``) polls sources and
appends observations; its classifier (``freshness/classifier.py``)
derives change intervals → cadence. Here the observation feed is a
Structured Streaming source and per-user interval statistics live in
the state store via ``applyInPandasWithState`` — the canonical custom
stateful operator: bounded state per key (a handful of scalars), update
output mode, no unbounded buffering of raw events.

Streaming-vs-batch semantics: the batch classifier uses the interval
MEDIAN, which is not incrementally maintainable in O(1) state; the
stream maintains count/mean/variance (Welford-style via sum/sumsq) and
classifies on the mean. The pandas update emits only those raw sums;
the rounding and the label are the batch operator's own columns
(``functions.columns.ratio``, ``freshness.cadence_label``).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from forest_open_data_pipelines_spark.functions.columns import ratio
from forest_open_data_pipelines_spark.operators.freshness import cadence_label

STATE_SCHEMA = StructType(
    [
        StructField("observations", LongType()),
        StructField("changes", LongType()),
        StructField("sum_intervals", DoubleType()),
        StructField("sumsq_intervals", DoubleType()),
        StructField("last_ts_us", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("observations", LongType()),
        StructField("changes", LongType()),
        StructField("sum_intervals", DoubleType()),
        StructField("sumsq_intervals", DoubleType()),
        StructField("last_observed_at", TimestampType()),
    ]
)

_US_PER_DAY = 86_400_000_000


def _update_cadence(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        observations, changes, s, s2, last_us = state.get
    else:
        observations, changes, s, s2, last_us = 0, 0, 0.0, 0.0, None

    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for ts in pdf["ts"]:
            ts_us = ts.value // 1000  # pandas ns → µs
            if last_us is not None:
                iv = (ts_us - last_us) / _US_PER_DAY
                if iv > 0:
                    changes += 1
                    s += iv
                    s2 += iv * iv
            observations += 1
            last_us = ts_us

    state.update((observations, changes, s, s2, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "observations": [observations],
            "changes": [changes],
            "sum_intervals": [s],
            "sumsq_intervals": [s2],
            "last_observed_at": [pd.Timestamp(last_us, unit="us")],
        }
    )


def cadence_monitor_stream(events_stream: DataFrame) -> DataFrame:
    """Per-user cadence state machine over the observation stream.

    Output (update mode): one row per user per micro-batch in which the
    user appeared, carrying the cumulative classification."""
    raw = events_stream.select("user_id", "ts", "event_id").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _update_cadence,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    changes = F.col("changes")
    mean = F.when(changes > 0, F.col("sum_intervals") / changes)
    var = F.greatest(F.col("sumsq_intervals") / changes - mean * mean, F.lit(0.0))
    cv = F.when((changes >= 2) & (mean != 0), F.sqrt(var) / mean)
    return raw.select(
        "user_id",
        "observations",
        "changes",
        ratio(mean).alias("mean_interval_days"),
        ratio(cv).alias("cv"),
        cadence_label(F.col("observations"), changes, mean, cv).alias(
            "suggested_cadence"
        ),
        "last_observed_at",
    )
