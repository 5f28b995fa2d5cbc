"""Streaming sessionization — the stateful streaming twin of
``operators.sessionize.events_sessionize``.

Per-user state is one OPEN session (start, last_ts, n, sum) plus the
count of sessions closed so far. A new event either extends the open
session (gap ≤ 30 min) or closes it — the closed session is emitted
with the same columns and the same ``session_seq`` numbering the batch
operator produces, so a drained stream's closed sessions are
row-identical to the batch result minus each user's final
(still-open) session. Tests assert exactly that. The kernel emits raw
value sums; ``total_value`` and ``duration_minutes`` are the batch
operator's own ``money`` and ``session_duration_minutes`` columns.

State is O(1) per user regardless of stream length — the shape that
holds at 100 TB/day. Session closure here is data-driven (next event
arrives past the gap); a production monitor would add a processing-time
timeout (GroupStateTimeout) to also flush sessions for users who went
silent — omitted so results stay deterministic for parity testing.
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

from forest_open_data_pipelines_spark.functions.columns import money
from forest_open_data_pipelines_spark.operators.sessionize import (
    SESSION_GAP_MINUTES,
    session_duration_minutes,
)

STATE_SCHEMA = StructType(
    [
        StructField("closed_sessions", LongType()),
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_seq", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

_US_PER_MIN = 60 * 1_000_000


def _update_sessions(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    gap_us = SESSION_GAP_MINUTES * _US_PER_MIN
    if state.exists:
        closed, start_us, last_us, n, total = state.get
    else:
        closed, start_us, last_us, n, total = 0, None, None, 0, 0.0

    import numpy as np

    # Columnar output accumulators (optimization r12: a drained sf0.1
    # stream emits ~94k closed sessions — one dict + two pd.Timestamp
    # objects per row made the OUTPUT assembly the kernel's dominant
    # cost after the segment kernel itself was vectorized).
    o_seq: list[int] = []
    o_start: list[int] = []
    o_end: list[int] = []
    o_n: list[int] = []
    o_tot: list[float] = []
    # Vectorized per-batch segmentation (optimization r12, guide §4.2:
    # no per-event Python) — boundaries are ts-diff > gap, session ids
    # their cumsum, per-session totals np.add.reduceat (a strictly
    # sequential left-to-right segment reduce, the same order as the
    # former `total += value` loop); the carried open session merges
    # with the first segment when the first event extends it.
    # Per-chunk semantics are byte-identical to the former loop: each
    # chunk is sorted and consumed independently, state carrying over.
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values(["ts", "event_id"])
        ts_us = pdf["ts"].to_numpy(dtype="datetime64[ns]").astype("int64") // 1000
        vals = pdf["value"].to_numpy(dtype="float64")
        m = len(ts_us)
        # boundary BEFORE event i (i>0): gap exceeded vs previous event
        new_seg = np.empty(m, dtype=bool)
        new_seg[0] = True
        if m > 1:
            new_seg[1:] = (ts_us[1:] - ts_us[:-1]) > gap_us
        starts = np.flatnonzero(new_seg)
        seg_sums = np.add.reduceat(vals, starts)
        seg_ends = np.append(starts[1:], m) - 1
        seg_first = 0
        if start_us is not None:
            if ts_us[0] - last_us > gap_us:
                # carried session closes before this chunk's first event
                closed += 1
                o_seq.append(closed - 1)
                o_start.append(start_us)
                o_end.append(last_us)
                o_n.append(n)
                o_tot.append(total)
            else:
                # first segment extends the carried session — fold its
                # values SEQUENTIALLY onto the carried total (the
                # former loop's exact (((total+v1)+v2)+...) order; a
                # pre-summed segment would regroup the float adds).
                # At most one such segment per chunk.
                for v in vals[starts[0] : seg_ends[0] + 1]:
                    total += float(v)
                n += int(seg_ends[0] - starts[0] + 1)
                last_us = int(ts_us[seg_ends[0]])
                seg_first = 1
        if seg_first == 0 and m > 0:
            start_us = int(ts_us[starts[0]])
            last_us = int(ts_us[seg_ends[0]])
            n = int(seg_ends[0] - starts[0] + 1)
            total = float(seg_sums[0])
            seg_first = 1
        # every further segment CLOSES the one before it: the emitted
        # rows are the current open-session variables followed by
        # segments seg_first..len-2 verbatim (each middle segment's
        # emitted values ARE its start/end/count/sum — identical to the
        # former per-segment rebind-then-emit loop), and the LAST
        # segment becomes the new open session.
        cnt = len(starts) - seg_first
        if cnt > 0:
            o_seq.extend(range(closed, closed + cnt))
            closed += cnt
            o_start.append(start_us)
            o_end.append(last_us)
            o_n.append(n)
            o_tot.append(total)
            if cnt > 1:
                mid_s = starts[seg_first:-1]
                mid_e = seg_ends[seg_first:-1]
                o_start.extend(ts_us[mid_s].tolist())
                o_end.extend(ts_us[mid_e].tolist())
                o_n.extend((mid_e - mid_s + 1).tolist())
                o_tot.extend(seg_sums[seg_first:-1].tolist())
            start_us = int(ts_us[starts[-1]])
            last_us = int(ts_us[seg_ends[-1]])
            n = int(seg_ends[-1] - starts[-1] + 1)
            total = float(seg_sums[-1])

    state.update((closed, start_us, last_us, n, total))
    yield pd.DataFrame(
        {
            "user_id": np.full(len(o_seq), user_id, dtype="int64"),
            "session_seq": np.asarray(o_seq, dtype="int64"),
            "session_start": pd.to_datetime(np.asarray(o_start, dtype="int64"), unit="us"),
            "session_end": pd.to_datetime(np.asarray(o_end, dtype="int64"), unit="us"),
            "n_events": np.asarray(o_n, dtype="int64"),
            "sum_value": np.asarray(o_tot, dtype="float64"),
        }
    )


def sessionize_stream(events_stream: DataFrame) -> DataFrame:
    """Per-user gap sessionization over the event stream; emits each
    session the moment an event closes it (append semantics)."""
    raw = events_stream.select("user_id", "ts", "event_id", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _update_sessions,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return raw.select(
        "user_id",
        "session_seq",
        "session_start",
        "session_end",
        "n_events",
        money(F.col("sum_value")).alias("total_value"),
        session_duration_minutes(F.col("session_start"), F.col("session_end")).alias(
            "duration_minutes"
        ),
    )
