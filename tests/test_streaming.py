"""Structured Streaming: windowed counts over the events stream must
equal the batch twin (``events_windowed``) once the stream drains."""

from __future__ import annotations

from pyspark.sql import functions as F

import pytest

from forest_open_data_pipelines_spark.operators.sessionize import events_windowed
from forest_open_data_pipelines_spark.sources import load_table
from forest_open_data_pipelines_spark.streaming.windowed import (
    stream_events_from_parquet,
    windowed_counts_stream,
)
from tests.conftest import SF_DIR


def test_stream_matches_batch(spark, tmp_path):
    stream = stream_events_from_parquet(spark, SF_DIR)
    windowed = windowed_counts_stream(stream)
    query = (
        windowed.writeStream.format("memory")
        .queryName("windowed_counts_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
        got = {
            (str(r["day"]), r["event_type"]): (r["n_events"], r["total_value"])
            for r in spark.sql("SELECT * FROM windowed_counts_test").collect()
        }
    finally:
        query.stop()
    batch = {
        (str(r["day"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in events_windowed(load_table(spark, SF_DIR, "events")).collect()
    }
    assert got == batch


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


def test_cadence_monitor_matches_batch(spark, tmp_path):
    """Stateful streaming cadence: after the stream drains, each user's
    cumulative (observations, changes, cv) must equal the batch
    freshness_cadence values (cv is mean-based in both)."""
    import pyspark.sql.functions as F

    from forest_open_data_pipelines_spark.operators.freshness import (
        freshness_cadence,
    )
    from forest_open_data_pipelines_spark.streaming.cadence import (
        cadence_monitor_stream,
    )

    stream = stream_events_from_parquet(spark, SF_DIR)
    monitored = cadence_monitor_stream(stream)
    query = (
        monitored.writeStream.format("memory")
        .queryName("cadence_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_cad"))
        .start()
    )
    try:
        query.processAllAvailable()
        # update mode appends one row per (user, batch); keep the last
        # (max observations) row per user.
        got = {
            r["user_id"]: r
            for r in spark.sql(
                """SELECT * FROM (
                     SELECT *, row_number() OVER (
                       PARTITION BY user_id ORDER BY observations DESC) AS rn
                     FROM cadence_test) WHERE rn = 1"""
            ).collect()
        }
    finally:
        query.stop()

    batch = {
        r["user_id"]: r
        for r in freshness_cadence(load_table(spark, SF_DIR, "events")).collect()
    }
    assert set(got) == set(batch)
    for uid, b in batch.items():
        g = got[uid]
        assert g["observations"] == b["observations"], uid
        assert g["changes"] == b["changes"], uid
        if b["cv"] is None:
            assert g["cv"] is None, uid
        else:
            assert g["cv"] == pytest.approx(b["cv"], abs=2e-6), uid
        assert g["last_observed_at"] == b["last_observed_at"], uid


def test_sessionize_kernel_vectorized_matches_loop_reference():
    """Optimization r12 pins the vectorized `_update_sessions` kernel
    (np segmentation + reduceat sums) against a pure-Python replay of
    the former per-event loop, across the carry cases the drain test
    cannot isolate: carried session EXTENDED by a later chunk, carried
    session CLOSED by the gap, several sessions inside one chunk, a
    multi-chunk micro-batch, and float totals whose fold order the
    kernel must reproduce exactly."""
    import pandas as pd

    from forest_open_data_pipelines_spark.operators.sessionize import (
        SESSION_GAP_MINUTES,
    )
    from forest_open_data_pipelines_spark.streaming.sessions import (
        _session_row,
        _update_sessions,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def loop_reference(chunks_per_batch, gap_us=SESSION_GAP_MINUTES * 60_000_000):
        closed, start_us, last_us, n, total = 0, None, None, 0, 0.0
        out = []
        for chunks in chunks_per_batch:
            for pdf in chunks:
                pdf = pdf.sort_values(["ts", "event_id"])
                for ts, value in zip(pdf["ts"], pdf["value"]):
                    ts_us = ts.value // 1000
                    if start_us is None:
                        start_us, last_us, n, total = ts_us, ts_us, 1, float(value)
                    elif ts_us - last_us > gap_us:
                        closed += 1
                        out.append(
                            _session_row(7, closed - 1, start_us, last_us, n, total)
                        )
                        start_us, last_us, n, total = ts_us, ts_us, 1, float(value)
                    else:
                        last_us = ts_us
                        n += 1
                        total += float(value)
        return out, (closed, start_us, last_us, n, total)

    def mk(rows):
        return pd.DataFrame(
            {
                "user_id": [7] * len(rows),
                "ts": pd.to_datetime([r[0] for r in rows]),
                "event_id": [i for i in range(len(rows))],
                "value": [r[1] for r in rows],
            }
        )

    # batch 1, chunk A: two sessions (gap between 10:00 and 11:00);
    # chunk B of the SAME batch extends the open one then opens another
    batches = [
        [
            mk([("2024-01-01 09:00", 1.11), ("2024-01-01 09:10", 2.03),
                ("2024-01-01 11:00", 0.07)]),
            mk([("2024-01-01 11:20", 5.55), ("2024-01-01 14:00", 1.01)]),
        ],
        # batch 2: first event EXTENDS the carried session
        [mk([("2024-01-01 14:25", 2.22), ("2024-01-01 18:00", 3.33)])],
        # batch 3: first event past the gap — carried session CLOSES
        [mk([("2024-01-02 08:00", 4.44)])],
        # batch 4: empty chunk then a burst of three sessions
        [mk([]), mk([("2024-01-03 08:00", 0.10), ("2024-01-03 10:00", 0.20),
                     ("2024-01-03 12:00", 0.30), ("2024-01-03 12:10", 0.40)])],
    ]
    state = FakeState()
    got = []
    for chunks in batches:
        got.extend(
            rec
            for pdf in _update_sessions((7,), iter(chunks), state)
            for rec in pdf.to_dict("records")
        )
    want_rows, want_state = loop_reference(batches)
    want = [dict(r) for r in want_rows]
    got_cmp = [
        {k: (v if k not in ("user_id", "session_seq", "n_events") else int(v))
         for k, v in r.items()} for r in got
    ]
    assert got_cmp == want
    assert state.get == want_state
    assert len(want) >= 6  # the scenario really exercises closures


def test_sessionize_stream_matches_batch_closed_sessions(spark, tmp_path):
    """Streaming sessions: once the stream drains, the emitted (closed)
    sessions must equal the batch result minus each user's final
    session (which is still open — no later event ever closes it)."""
    from forest_open_data_pipelines_spark.operators.sessionize import (
        events_sessionize,
    )
    from forest_open_data_pipelines_spark.streaming.sessions import (
        sessionize_stream,
    )

    stream = stream_events_from_parquet(spark, SF_DIR)
    query = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    try:
        query.processAllAvailable()
        got = {
            (r["user_id"], r["session_seq"]): (
                r["session_start"],
                r["session_end"],
                r["n_events"],
                r["total_value"],
                r["duration_minutes"],
            )
            for r in spark.sql("SELECT * FROM sessions_test").collect()
        }
    finally:
        query.stop()

    batch_rows = events_sessionize(load_table(spark, SF_DIR, "events")).collect()
    last_seq = {}
    for r in batch_rows:
        last_seq[r["user_id"]] = max(last_seq.get(r["user_id"], -1), r["session_seq"])
    expected = {
        (r["user_id"], r["session_seq"]): (
            r["session_start"],
            r["session_end"],
            r["n_events"],
            r["total_value"],
            r["duration_minutes"],
        )
        for r in batch_rows
        if r["session_seq"] != last_seq[r["user_id"]]
    }
    assert len(got) == len(expected)
    assert got == expected


def test_watermark_drops_late_data(spark, tmp_path):
    """Three micro-batches: (A) days 1-5 advance the watermark to day 3;
    (B) a day-1 straggler (beyond watermark → dropped) plus a day-3
    straggler (within watermark → absorbed into the open window);
    (C) a day-8 event advances the watermark so windows 3-5 finalize.
    The emitted day-3 window must include B's straggler; day 1 must have
    emitted exactly once with A's count only."""
    import datetime as dt
    import os

    from pyspark.sql import Row

    from forest_open_data_pipelines_spark.streaming.windowed import (
        windowed_counts_stream,
    )

    def ev(eid, day, hour=0):
        return Row(
            event_id=eid,
            ts=dt.datetime(2024, 3, day, hour),
            user_id=1,
            event_type="click",
            value=1.0,
            props="{}",
        )

    src = tmp_path / "events_src"
    src.mkdir()
    batch_a = [ev(i, d) for i, d in enumerate([1, 1, 2, 3, 4, 5])]
    batch_b = [ev(100, 1, 6), ev(101, 3, 12)]  # beyond-wm, within-wm
    batch_c = [ev(200, 8)]

    schema = spark.createDataFrame(batch_a).schema

    def write_batch(rows, name, mtime):
        # Stage OUTSIDE the watched glob, rewind mtimes, then rename
        # into place: writing in-place raced the FileStreamSource —
        # if it listed the fresh file before the utime, the rewound
        # mtime made the file "older than maxFileAge" and it was
        # silently ignored (flaked under CPU contention).
        staging = str(tmp_path / f"staging_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        for f in os.listdir(staging):
            os.utime(os.path.join(staging, f), (mtime, mtime))
        os.utime(staging, (mtime, mtime))
        os.rename(staging, str(src / name))

    write_batch(batch_a, "a.parquet", 1_000_000)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    query = (
        windowed_counts_stream(stream)
        .writeStream.format("memory")
        .queryName("wm_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
        .start()
    )
    try:
        query.processAllAvailable()
        write_batch(batch_b, "b.parquet", 2_000_000)
        query.processAllAvailable()
        write_batch(batch_c, "c.parquet", 3_000_000)
        query.processAllAvailable()
        rows = {
            str(r["day"]): r["n_events"]
            for r in spark.sql("SELECT * FROM wm_test WHERE event_type='click'").collect()
        }
    finally:
        query.stop()

    assert rows["2024-03-01"] == 2  # A only — B's day-1 straggler dropped
    assert rows["2024-03-03"] == 2  # A's event + B's within-watermark straggler
    assert rows["2024-03-04"] == 1 and rows["2024-03-05"] == 1


def test_stream_dedup_drops_replayed_batch(spark, tmp_path):
    """Replay the same events file twice as two micro-batches: the
    deduped stream must emit each event_id exactly once."""
    import shutil

    from forest_open_data_pipelines_spark.streaming.dedup import dedup_stream
    from forest_open_data_pipelines_spark.streaming.windowed import (
        stream_events_from_parquet,
    )

    src = tmp_path / "stream_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "batch1.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", src / "batch2.parquet")
    stream = stream_events_from_parquet(spark, str(src), glob="*.parquet")
    deduped = dedup_stream(stream)
    query = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    try:
        query.processAllAvailable()
        ids = [
            r.event_id
            for r in spark.sql("SELECT event_id FROM dedup_stream_test").collect()
        ]
    finally:
        query.stop()
    n_unique = load_table(spark, SF_DIR, "events").select("event_id").distinct().count()
    assert len(ids) == n_unique
    assert len(set(ids)) == len(ids)


def test_content_stream_dedup_matches_dedup_exact_fingerprints(spark, tmp_path):
    """Replay the documents file twice: the content-fingerprint stream
    must emit exactly one row per batch dedup_exact fingerprint."""
    import shutil

    from forest_open_data_pipelines_spark.operators.dedup import dedup_exact
    from forest_open_data_pipelines_spark.streaming.dedup import dedup_content_stream

    src = tmp_path / "docs_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "batch1.parquet")
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "batch2.parquet")
    docs = load_table(spark, SF_DIR, "documents")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        # documents carry no event time; derive a deterministic one so
        # the watermark has a column to bound state by (offset past the
        # epoch — a row AT the initial watermark counts as late)
        .withColumn("ts", F.timestamp_seconds(F.col("doc_id") + 1))
    )
    query = (
        dedup_content_stream(stream)
        .writeStream.format("memory")
        .queryName("content_dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_content_dedup"))
        .start()
    )
    try:
        query.processAllAvailable()
        emitted = [
            r.content_fingerprint
            for r in spark.sql(
                "SELECT content_fingerprint FROM content_dedup_test"
            ).collect()
        ]
    finally:
        query.stop()
    batch_fps = {r.content_fingerprint for r in dedup_exact(docs).collect()}
    assert len(emitted) == len(set(emitted)), "stream emitted a duplicate fingerprint"
    assert set(emitted) == batch_fps


def test_region_counts_stream_matches_batch(spark, tmp_path):
    """Streaming região rollup: after the stream drains, per-day região
    counts must equal the batch derivation, and the day-summed totals
    must reproduce the batch region_rank card exactly."""
    from forest_open_data_pipelines_spark.operators.social import (
        region_rank,
        wrap_events_as_fire_detections,
    )
    from forest_open_data_pipelines_spark.streaming.regions import (
        region_counts_stream,
    )

    events = load_table(spark, SF_DIR, "events")
    # derive (ts, estado) on the stream with the SAME variant expression
    # the batch shaping uses (pure expressions are stream-safe)
    from forest_open_data_pipelines_spark.operators.social import ESTADO_VARIANTS

    idx = (F.col("event_id") % len(ESTADO_VARIANTS)).cast("int")
    variants = F.array(*[F.lit(v) for v in ESTADO_VARIANTS])
    det_stream = stream_events_from_parquet(spark, SF_DIR).select(
        "ts", F.element_at(variants, idx + 1).alias("estado")
    )
    query = (
        region_counts_stream(det_stream)
        .writeStream.format("memory")
        .queryName("region_counts_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_regions"))
        .start()
    )
    try:
        query.processAllAvailable()
        got = {
            (str(r["day"]), r["label"]): r["value"]
            for r in spark.sql("SELECT * FROM region_counts_test").collect()
        }
    finally:
        query.stop()

    # batch twin: same estado derivation + día grouping
    det_batch = wrap_events_as_fire_detections(events).join(
        events.select(F.col("event_id").alias("detection_id"), "ts"),
        "detection_id",
    )
    from forest_open_data_pipelines_spark.operators.social import (
        STATE_REGION_BY_NAME,
        STATE_REGION_BY_UF,
        UNIDENTIFIED_REGION,
        normalize_state_label,
    )

    lookup = {**STATE_REGION_BY_UF, **STATE_REGION_BY_NAME}
    mapping = F.create_map(*[F.lit(x) for kv in sorted(lookup.items()) for x in kv])
    region = F.coalesce(
        mapping[normalize_state_label(F.col("estado"))], F.lit(UNIDENTIFIED_REGION)
    )
    batch = {
        (str(r["day"]), r["label"]): r["value"]
        for r in det_batch.select(F.to_date("ts").alias("day"), region.alias("label"))
        .groupBy("day", "label")
        .agg(F.count("*").alias("value"))
        .collect()
    }
    assert got == batch

    # summed over days the stream reproduces the batch card exactly
    summed = {}
    for (_, label), v in got.items():
        summed[label] = summed.get(label, 0) + v
    card = {r.label: r.value for r in region_rank(
        wrap_events_as_fire_detections(events)
    ).collect()}
    assert summed == card


def test_curation_gate_stream_matches_batch_stages(spark, tmp_path):
    """Replay the documents file twice: the gate stream must emit
    exactly one record per content fingerprint the BATCH pipeline
    classifies past the quality and lang stages (statuses kept /
    exact_dup / near_dup all share a gate-passing fingerprint), and
    every emitted record itself passes both gates."""
    import shutil

    from forest_open_data_pipelines_spark.operators.curation import (
        CURATION_MIN_QUALITY,
        CURATION_MIN_TOKENS,
        corpus_curation,
    )
    from forest_open_data_pipelines_spark.streaming.curation import (
        curation_gate_stream,
    )

    src = tmp_path / "cur_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "batch1.parquet")
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "batch2.parquet")
    docs = load_table(spark, SF_DIR, "documents")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.timestamp_seconds(F.col("doc_id") + 1))
    )
    query = (
        curation_gate_stream(stream)
        .writeStream.format("memory")
        .queryName("curation_gate_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_curation_gate"))
        .start()
    )
    try:
        query.processAllAvailable()
        emitted = spark.sql("SELECT * FROM curation_gate_test").collect()
    finally:
        query.stop()
    assert emitted, "gate stream emitted nothing"
    fps = [r.content_fingerprint for r in emitted]
    assert len(fps) == len(set(fps)), "duplicate fingerprint emitted"
    for r in emitted:
        assert r.n_tokens >= CURATION_MIN_TOKENS
        assert r.quality_score >= CURATION_MIN_QUALITY
        assert r.predicted_lang != "unknown"
    batch = corpus_curation(docs, load_table(spark, SF_DIR, "embeddings")).collect()
    gate_passing = {
        r.content_fingerprint
        for r in batch
        if r.status not in ("quality", "lang")
    }
    assert set(fps) == gate_passing


def test_repetition_gate_streams_stateless(spark, tmp_path):
    """repetition_row_metrics is a pure projection, so it must run on
    an unbounded stream with no state store and emit exactly the batch
    operator's rows."""
    import shutil

    from forest_open_data_pipelines_spark.operators.textops import (
        quality_repetition,
        repetition_row_metrics,
    )

    src = tmp_path / "rep_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "batch1.parquet")
    docs = load_table(spark, SF_DIR, "documents")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    query = (
        repetition_row_metrics(stream)
        .writeStream.format("memory")
        .queryName("repetition_gate_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_repetition"))
        .start()
    )
    try:
        query.processAllAvailable()
        emitted = spark.sql("SELECT * FROM repetition_gate_test").collect()
    finally:
        query.stop()
    batch = sorted(tuple(r) for r in quality_repetition(docs).collect())
    assert sorted(tuple(r) for r in emitted) == batch


def test_stream_to_incremental_year_cache(spark, tmp_path):
    """Streaming the events feed through the foreachBatch bridge must
    leave the SAME per-year parquet cache the batch writer produces,
    and a replayed batch (restart) must converge, not duplicate."""
    import shutil

    from forest_open_data_pipelines_spark.sinks.writers import (
        write_incremental_by_year,
    )
    from forest_open_data_pipelines_spark.streaming.windowed import (
        stream_to_incremental_year_cache,
    )

    src = tmp_path / "inc_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "batch1.parquet")
    events = load_table(spark, SF_DIR, "events")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "inc_cache"
    q = stream_to_incremental_year_cache(
        stream, str(out), str(tmp_path / "ckpt_inc")
    ).start()
    try:
        q.processAllAvailable()
        # replay: same file again — per-year rewrite must be idempotent
        shutil.copy(f"{SF_DIR}/events.parquet", src / "batch2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    batch_out = tmp_path / "inc_cache_batch"
    write_incremental_by_year(events, str(batch_out), "ts")
    got = sorted(
        tuple(r) for r in spark.read.parquet(str(out)).drop("year").collect()
    )
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(str(batch_out)).drop("year").collect()
    )
    assert got == want
    # and the cache is year-partitioned (pruning-ready)
    assert any(p.name.startswith("year=") for p in out.iterdir())


def test_funnel_stream_matches_batch_chain(spark, tmp_path):
    """Drained per-user funnel state must equal the batch operator's
    min-timestamp chain, and a full replay (at-least-once) must leave
    it unchanged."""
    import shutil

    from pyspark.sql import Window
    from forest_open_data_pipelines_spark.streaming.funnel import funnel_stream

    src = tmp_path / "funnel_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "batch1.parquet")
    events = load_table(spark, SF_DIR, "events")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        funnel_stream(stream)
        .writeStream.format("memory")
        .queryName("funnel_stream_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_funnel"))
        .start()
    )
    try:
        q.processAllAvailable()
        shutil.copy(f"{SF_DIR}/events.parquet", src / "batch2.parquet")  # replay
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM funnel_stream_test"
        ).collect()
    finally:
        q.stop()
    # last emitted row per user is the final state
    latest = {}
    for r in rows:
        latest[r["user_id"]] = r  # memory sink appends in batch order
    # batch chain
    w = Window.partitionBy("user_id")
    e = (
        events.withColumn(
            "tv", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "tc",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("tv")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "tp",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("tc")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    batch = {
        r["user_id"]: r
        for r in e.groupBy("user_id")
        .agg(F.max("tv").alias("tv"), F.max("tc").alias("tc"), F.max("tp").alias("tp"))
        .collect()
    }
    assert set(latest) == set(batch)
    for uid, b in batch.items():
        s = latest[uid]
        assert s["t_view"] == b["tv"], uid
        assert s["t_click"] == b["tc"], uid
        assert s["t_purchase"] == b["tp"], uid


def test_windowed_counts_by_nation_stream_static_join(spark, tmp_path):
    """Stream-static enrichment: drained windowed per-nation counts
    must equal the batch groupBy over the same join, and the stream
    side must join a broadcast dim (no stream-side shuffle for it)."""
    import shutil

    from forest_open_data_pipelines_spark.streaming.windowed import (
        windowed_counts_by_nation,
    )

    src = tmp_path / "wn_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "b1.parquet")
    events = load_table(spark, SF_DIR, "events")
    customer = load_table(spark, SF_DIR, "customer")
    nation = load_table(spark, SF_DIR, "nation")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        windowed_counts_by_nation(stream, customer, nation)
        .writeStream.format("memory")
        .queryName("wn_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wn"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # append mode only emits closed windows; re-derive the batch twin
    # and compare the emitted subset row-for-row
    got = {
        (r["window_start"], r["n_name"]): r["n_events"]
        for r in spark.sql("SELECT * FROM wn_test").collect()
    }
    dims = customer.selectExpr("c_custkey AS user_id", "c_nationkey").join(
        nation, F.col("c_nationkey") == F.col("n_nationkey")
    ).select("user_id", "n_name")
    batch = {
        (r["window_start"], r["n_name"]): r["n_events"]
        for r in events.join(dims, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "n_name")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_name", "n_events")
        .collect()
    }
    assert got, "no windows closed"
    for k, v in got.items():
        assert batch[k] == v, k
    # every batch window except possibly the last open ones was emitted
    assert len(got) >= len(batch) - len({n for _, n in batch})


def test_curation_gate_stream_with_repetition_gate(spark, tmp_path):
    """with_repetition=True adds the stateless Gopher repetition gate:
    the emitted fingerprint set must be exactly the plain-gate set
    intersected with the batch quality_repetition pass set."""
    import shutil

    from forest_open_data_pipelines_spark.operators.curation import (
        corpus_curation,
    )
    from forest_open_data_pipelines_spark.operators.textops import (
        quality_repetition,
    )
    from forest_open_data_pipelines_spark.streaming.curation import (
        curation_gate_stream,
    )

    src = tmp_path / "cur_rep_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "batch1.parquet")
    docs = load_table(spark, SF_DIR, "documents")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.timestamp_seconds(F.col("doc_id") + 1))
    )
    query = (
        curation_gate_stream(stream, with_repetition=True)
        .writeStream.format("memory")
        .queryName("curation_gate_rep_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_curation_gate_rep"))
        .start()
    )
    try:
        query.processAllAvailable()
        emitted = spark.sql("SELECT * FROM curation_gate_rep_test").collect()
    finally:
        query.stop()
    assert emitted, "repetition-gated stream emitted nothing"
    batch = corpus_curation(docs, load_table(spark, SF_DIR, "embeddings")).collect()
    gate_passing = {
        r.content_fingerprint: r.doc_id
        for r in batch
        if r.status not in ("quality", "lang")
    }
    rep_pass_docs = {
        r.doc_id for r in quality_repetition(docs).collect() if r.passes_repetition
    }
    # A fingerprint survives the repetition-gated stream iff at least
    # one of its copies passes all gates; on this corpus duplicate
    # copies share identical text, so doc-level and fingerprint-level
    # repetition verdicts agree.
    expected = {
        fp for fp, any_doc in gate_passing.items() if any_doc in rep_pass_docs
    }
    got = {r.content_fingerprint for r in emitted}
    assert got == expected
    assert len(got) < len(gate_passing), "repetition gate filtered nothing"


def test_stratified_sample_stream_matches_batch(spark, tmp_path):
    """The sampling gate is stateless, so the streamed emission must
    equal the batch stratified_sample row set exactly (rates frozen
    from the static corpus snapshot, as in production)."""
    import shutil

    from forest_open_data_pipelines_spark.operators.curation import (
        _mixture_rates,
        stratified_sample,
    )
    from forest_open_data_pipelines_spark.streaming.sampling import (
        stratified_sample_stream,
    )

    src = tmp_path / "sample_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "batch1.parquet")
    docs = load_table(spark, SF_DIR, "documents")
    rates = _mixture_rates(docs)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    query = (
        stratified_sample_stream(stream, rates)
        .writeStream.format("memory")
        .queryName("strat_sample_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_strat_sample"))
        .start()
    )
    try:
        query.processAllAvailable()
        emitted = spark.sql("SELECT * FROM strat_sample_test").collect()
    finally:
        query.stop()
    batch = stratified_sample(docs).collect()
    key = lambda r: (r["doc_id"], r["lang"], r["source"], r["sample_u_micro"])
    assert sorted(map(key, emitted)) == sorted(map(key, batch))
    assert emitted, "sampler emitted nothing"


def test_boilerplate_gate_stream_matches_batch(spark, tmp_path):
    """The frozen boilerplate-set projection must score every streamed
    doc EXACTLY like batch boilerplate_ngrams when the reference
    corpus matches: same gram counts, densities, flags."""
    import shutil

    from forest_open_data_pipelines_spark.operators.textops import (
        boilerplate_ngrams,
    )
    from forest_open_data_pipelines_spark.streaming.curation import (
        boilerplate_gate_stream,
    )

    src = tmp_path / "boiler_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "batch1.parquet")
    docs = load_table(spark, SF_DIR, "documents")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    query = (
        boilerplate_gate_stream(stream, docs)
        .writeStream.format("memory")
        .queryName("boiler_gate_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_boiler"))
        .start()
    )
    try:
        query.processAllAvailable()
        emitted = spark.sql("SELECT * FROM boiler_gate_test").collect()
    finally:
        query.stop()
    batch = boilerplate_ngrams(docs).collect()
    key = lambda r: (
        r["doc_id"],
        r["n_grams"],
        r["n_boiler"],
        r["boiler_frac"],
        r["flagged"],
    )
    assert sorted(map(key, emitted)) == sorted(map(key, batch))
    assert emitted, "gate emitted nothing"
    assert any(r["n_boiler"] > 0 for r in emitted), "frozen set vacuous"


def test_charlm_gate_stream_matches_batch(spark, tmp_path):
    """The frozen-LM literal-map fold must score every streamed doc
    EXACTLY like batch charlm_perplexity when the model corpus matches
    (every bigram seen): same micro-bit sums, entropies, verdicts."""
    import shutil

    from forest_open_data_pipelines_spark.operators.textops import (
        charlm_perplexity,
    )
    from forest_open_data_pipelines_spark.streaming.curation import (
        charlm_gate_stream,
    )

    src = tmp_path / "charlm_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "batch1.parquet")
    docs = load_table(spark, SF_DIR, "documents")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    query = (
        charlm_gate_stream(stream, docs)
        .writeStream.format("memory")
        .queryName("charlm_gate_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_charlm"))
        .start()
    )
    try:
        query.processAllAvailable()
        emitted = spark.sql("SELECT * FROM charlm_gate_test").collect()
    finally:
        query.stop()
    batch = charlm_perplexity(docs).collect()
    key = lambda r: (
        r["doc_id"],
        r["n_bigrams"],
        r["entropy_bits"],
        r["perplexity"],
        r["passes_charlm"],
    )
    assert sorted(map(key, emitted)) == sorted(map(key, batch))
    assert emitted, "gate emitted nothing"
    # unseen-bigram path: a doc of entirely novel bigrams must score
    # through the prefix/floor fallbacks, not NULL out (the gate is a
    # pure projection, so it applies to a batch frame directly)
    novel = spark.createDataFrame([(999_999, "ÞþÞþÞþ")], "doc_id long, text string")
    row = charlm_gate_stream(novel, docs).collect()[0]
    assert row["n_bigrams"] == 5
    assert row["entropy_bits"] is not None and row["entropy_bits"] > 0


def test_dsir_gate_stream_matches_batch(spark, tmp_path):
    """The frozen-model literal-map fold must score every streamed doc
    EXACTLY like batch dsir_importance_weights when the model corpus
    matches: same micro-bit sums, same target_like verdicts."""
    import shutil

    from forest_open_data_pipelines_spark.operators.curation import (
        dsir_importance_weights,
    )
    from forest_open_data_pipelines_spark.streaming.curation import (
        dsir_gate_stream,
    )

    src = tmp_path / "dsir_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "batch1.parquet")
    docs = load_table(spark, SF_DIR, "documents")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    query = (
        dsir_gate_stream(stream, docs)
        .writeStream.format("memory")
        .queryName("dsir_gate_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dsir"))
        .start()
    )
    try:
        query.processAllAvailable()
        emitted = spark.sql("SELECT * FROM dsir_gate_test").collect()
    finally:
        query.stop()
    batch = dsir_importance_weights(docs).collect()
    key = lambda r: (
        r["doc_id"],
        r["lang"],
        r["n_tokens"],
        r["log_importance"],
        r["target_like"],
    )
    assert sorted(map(key, emitted)) == sorted(map(key, batch))
    assert emitted, "gate emitted nothing"


def test_incremental_dedup_stream_matches_batch(spark, tmp_path):
    """foreachBatch classification against the static index must emit
    verdicts row-identical to batch dedup_incremental over the same
    new/base split."""
    import shutil

    from pyspark.sql import functions as F2

    from forest_open_data_pipelines_spark.operators.dedup import (
        build_dedup_index,
        classify_against_index,
        dedup_incremental,
    )
    from forest_open_data_pipelines_spark.streaming.classify import (
        classify_stream,
    )

    docs = load_table(spark, SF_DIR, "documents")
    new = docs.where(F2.col("doc_id") % 13 == 0)
    base = docs.where(F2.col("doc_id") % 13 != 0)
    # materialize the 'new batch' as the stream source (part files land
    # directly in src so the non-recursive stream listing finds them)
    src = tmp_path / "inc_src"
    new.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    fps, bandrows, shingles = (df.cache() for df in build_dedup_index(base))
    collected = []
    query = classify_stream(
        stream,
        lambda b: classify_against_index(b, fps, bandrows, shingles),
        sink=lambda df, bid: collected.extend(df.collect()),
        checkpoint=str(tmp_path / "ckpt_inc_dedup"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    batch = dedup_incremental(new, base).collect()
    key = lambda r: tuple(r)
    assert sorted(map(key, collected)) == sorted(map(key, batch))
    assert any(r["status"] != "new" for r in collected)


def test_er_gate_stream_matches_batch(spark, tmp_path):
    """foreachBatch ER classification against the static canonical
    index must emit verdicts row-identical to batch
    er_incremental_classify over the same index/incoming split — in
    TWO micro-batches (records never interact, so any batching gives
    the same verdicts) — with all three outcome channels firing."""
    from pyspark.sql import functions as F2

    from forest_open_data_pipelines_spark.operators.entities import (
        ER_HOLDOUT_MOD,
        ER_HOLDOUT_RESIDUE,
        _keyed_records,
        er_classify_against_index,
        er_incremental_classify,
    )
    from forest_open_data_pipelines_spark.streaming.classify import (
        classify_stream,
    )
    from tests.conftest import SF_DIR_MID

    cust = load_table(spark, SF_DIR_MID, "customer")
    recs = _keyed_records(cust)
    held = (
        F2.pmod(F2.col("entity_id"), F2.lit(ER_HOLDOUT_MOD))
        == ER_HOLDOUT_RESIDUE
    )
    index = recs.where((F2.col("kind") == "canonical") & ~held).cache()
    incoming = recs.where((F2.col("kind") != "canonical") | held)

    src = tmp_path / "er_src"
    src.mkdir()
    incoming.where("rec_id % 2 = 0").coalesce(1).write.parquet(
        str(src / "a.parquet")
    )
    incoming.where("rec_id % 2 = 1").coalesce(1).write.parquet(
        str(src / "b.parquet")
    )
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    collected = []
    query = classify_stream(
        stream,
        lambda b: er_classify_against_index(b, index),
        sink=lambda df, bid: collected.extend(df.collect()),
        checkpoint=str(tmp_path / "ckpt_er_gate"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    batch = er_incremental_classify(cust).collect()

    key = lambda r: tuple(r)
    assert sorted(map(key, collected)) == sorted(map(key, batch))
    outcomes = {(r["status"], r["is_correct"]) for r in collected}
    assert ("matched", True) in outcomes
    assert ("matched", False) in outcomes
    assert ("new", None) in outcomes


def test_pii_scrub_is_stream_safe(spark, tmp_path):
    """pii_scrub is a pure projection, so it runs on an unbounded
    stream with no state store and emits exactly the batch rows."""
    import shutil

    from forest_open_data_pipelines_spark.operators.curation import pii_scrub

    src = tmp_path / "pii_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "batch1.parquet")
    docs = load_table(spark, SF_DIR, "documents")
    stream = spark.readStream.schema(docs.schema).parquet(str(src))
    query = (
        pii_scrub(stream, sorted_output=False)
        .writeStream.format("memory")
        .queryName("pii_stream_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_pii"))
        .start()
    )
    try:
        query.processAllAvailable()
        emitted = spark.sql("SELECT * FROM pii_stream_test").collect()
    finally:
        query.stop()
    batch = pii_scrub(docs).collect()
    assert sorted(map(tuple, emitted)) == sorted(map(tuple, batch))


def test_fenced_json_stream_matches_batch(spark, tmp_path):
    """The streaming JSON gate is the batch extractor verbatim (pure
    projection, zero state): the drained stream's (status, json_text,
    missing_keys) rows equal batch parse_fenced_json exactly, and the
    valid_only variant emits exactly the batch 'ok' subset."""
    from forest_open_data_pipelines_spark.operators.textops import (
        fenced_json_extract,
        wrap_documents_as_llm_responses,
    )
    from forest_open_data_pipelines_spark.streaming.llm_responses import (
        fenced_json_stream,
    )

    docs = load_table(spark, SF_DIR, "documents")
    src = tmp_path / "resp_src"
    wrap_documents_as_llm_responses(docs).write.parquet(str(src))
    schema = wrap_documents_as_llm_responses(docs).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    query = (
        fenced_json_stream(stream)
        .writeStream.format("memory")
        .queryName("fenced_json_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_fenced_json"))
        .start()
    )
    try:
        query.processAllAvailable()
        got = {
            r.doc_id: (r.status, r.json_text, r.missing_keys)
            for r in spark.sql("SELECT * FROM fenced_json_test").collect()
        }
    finally:
        query.stop()
    batch = {
        r.doc_id: (r.status, r.json_text, r.missing_keys)
        for r in fenced_json_extract(docs).collect()
    }
    assert got == batch
    q2 = (
        fenced_json_stream(stream, valid_only=True)
        .writeStream.format("memory")
        .queryName("fenced_json_ok_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_fenced_json_ok"))
        .start()
    )
    try:
        q2.processAllAvailable()
        ok_ids = {
            r.doc_id for r in spark.sql("SELECT * FROM fenced_json_ok_test").collect()
        }
    finally:
        q2.stop()
    assert ok_ids == {i for i, (s, _, _) in batch.items() if s == "ok"}


def test_ann_route_stream_matches_batch(spark, tmp_path):
    """The routing projection is stateless over a frozen query set, so
    streamed emissions for non-query vectors must equal the batch
    route_nearest_query rows exactly; query-set members pass through
    flagged is_query_vector instead of being dropped."""
    import shutil

    from forest_open_data_pipelines_spark.operators.similarity import (
        collect_route_queries,
        route_nearest_query,
    )
    from forest_open_data_pipelines_spark.streaming.ann_route import (
        ann_route_stream,
    )

    src = tmp_path / "ann_route_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/embeddings.parquet", src / "batch1.parquet")
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = collect_route_queries(emb)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    query = (
        ann_route_stream(stream, queries)
        .writeStream.format("memory")
        .queryName("ann_route_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ann_route"))
        .start()
    )
    try:
        query.processAllAvailable()
        emitted = spark.sql("SELECT * FROM ann_route_test").collect()
    finally:
        query.stop()
    routed = [r for r in emitted if not r["is_query_vector"]]
    assert len(routed) == len(emitted) - len(queries)
    batch = route_nearest_query(emb).collect()
    key = lambda r: (
        r["vec_id"], r["best_query_id"], r["best_cosine"], r["n_above_threshold"]
    )
    assert sorted(map(key, routed)) == sorted(map(key, batch))
    assert routed, "router emitted nothing"


def test_watch_signal_stream_matches_batch(spark, tmp_path):
    """Signal normalization is per-record (regex + offset arithmetic),
    so the streamed emissions must equal the batch
    freshness_watch_signals rows exactly."""
    import shutil

    from forest_open_data_pipelines_spark.operators.freshness import (
        freshness_watch_signals,
    )
    from forest_open_data_pipelines_spark.streaming.watch import (
        watch_signal_stream,
    )

    src = tmp_path / "watch_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "batch1.parquet")
    docs = load_table(spark, SF_DIR, "documents")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    query = (
        watch_signal_stream(stream)
        .writeStream.format("memory")
        .queryName("watch_signal_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_watch"))
        .start()
    )
    try:
        query.processAllAvailable()
        emitted = spark.sql("SELECT * FROM watch_signal_test").collect()
    finally:
        query.stop()
    batch = freshness_watch_signals(docs).collect()
    key = lambda r: tuple(str(r[c]) for c in (
        "doc_id", "method", "source_modified_at", "precision",
        "raw_label", "warning",
    ))
    assert sorted(map(key, emitted)) == sorted(map(key, batch))
    assert emitted, "watcher emitted nothing"


def test_media_dedup_stream_first_per_digest(spark, tmp_path):
    """Replayed media batches emit exactly ONE record per payload
    digest, and the kept digest set equals batch multimodal_dedup's
    canonical set."""
    import shutil

    from forest_open_data_pipelines_spark.operators.multimodal import (
        as_media_table,
        multimodal_dedup,
    )
    from forest_open_data_pipelines_spark.streaming.dedup import (
        media_dedup_stream,
    )

    src = tmp_path / "media_src"
    src.mkdir()
    docs = load_table(spark, SF_DIR, "documents")
    media = as_media_table(docs).withColumn(
        "ts", F.timestamp_seconds(F.col("media_id") + 1_700_000_000)
    )
    staging = tmp_path / "media_staging"
    media.coalesce(1).write.parquet(str(staging))
    (part,) = [p for p in staging.iterdir() if p.suffix == ".parquet"]
    # two plain files directly under src (the stream source does not
    # recurse into written directories): the second is a byte replay
    shutil.copy(part, src / "b1.parquet")
    shutil.copy(part, src / "b2.parquet")
    stream = (
        spark.readStream.schema(media.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    query = (
        media_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("media_dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_media_dedup"))
        .start()
    )
    try:
        query.processAllAvailable()
        emitted = spark.sql(
            "SELECT sha256, count(*) AS n FROM media_dedup_test GROUP BY 1"
        ).collect()
    finally:
        query.stop()
    assert emitted and all(r.n == 1 for r in emitted)
    canon = {
        r.sha256 for r in multimodal_dedup(docs).collect() if r.is_canonical
    }
    assert {r.sha256 for r in emitted} == canon


def test_winnowing_gate_stream_matches_batch(spark, tmp_path):
    """The foreachBatch winnowing gate must emit verdicts row-identical
    to batch winnowing_incremental over the same new/base split — the
    18th+ streaming row follows the incremental-dedup bridge shape."""
    from pyspark.sql import functions as F2

    from forest_open_data_pipelines_spark.operators.dedup import (
        build_winnowing_index,
        classify_against_winnowing_index,
        winnowing_incremental,
    )
    from forest_open_data_pipelines_spark.streaming.classify import (
        classify_stream,
    )

    docs = load_table(spark, SF_DIR, "documents")
    new = docs.where(F2.col("doc_id") % 13 == 0)
    base = docs.where(F2.col("doc_id") % 13 != 0)
    src = tmp_path / "wg_src"
    new.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    base_k, hot = (df.cache() for df in build_winnowing_index(base))
    collected = []
    query = classify_stream(
        stream,
        lambda b: classify_against_winnowing_index(b, base_k, hot),
        sink=lambda df, bid: collected.extend(df.collect()),
        checkpoint=str(tmp_path / "ckpt_wg"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    batch = winnowing_incremental(new, base).collect()
    key = lambda r: tuple(r)
    assert sorted(map(key, collected)) == sorted(map(key, batch))
    assert any(r["status"] == "dup" for r in collected)


def test_anomaly_watch_stream_matches_batch(spark, tmp_path):
    """After draining the stream, the last emitted report must be
    row-identical to batch daily_anomaly_report over the same events —
    the count deltas accumulate across micro-batches into exactly the
    batch operator's daily counts."""
    from forest_open_data_pipelines_spark.operators.sessionize import (
        daily_anomaly_report,
    )
    from forest_open_data_pipelines_spark.streaming.anomaly_watch import (
        anomaly_watch_stream,
    )

    docs = load_table(spark, SF_DIR, "events")
    src = tmp_path / "aw_src"
    # three part files → three micro-batches, so the cache genuinely
    # accumulates across batches before the final report
    docs.repartition(3).write.parquet(str(src))
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    reports = {}
    query = anomaly_watch_stream(
        stream,
        cache_path=str(tmp_path / "aw_cache"),
        checkpoint=str(tmp_path / "ckpt_aw"),
        sink=lambda df, bid: reports.__setitem__(bid, df.collect()),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert len(reports) == 3
    final = reports[max(reports)]
    batch = daily_anomaly_report(docs).collect()
    key = lambda r: tuple(r)
    assert sorted(map(key, final)) == sorted(map(key, batch))


def test_anomaly_cache_compaction_restart_convergence(spark, tmp_path):
    """Pause → compact → resume: fold the counts cache into a baseline
    partition at a new path, restart the stream against it with the
    SAME checkpoint, feed more events — the final report must equal
    the batch operator over ALL events, and the compacted cache must
    hold exactly baseline + kept + new-batch partitions."""
    import shutil

    from forest_open_data_pipelines_spark.operators.sessionize import (
        daily_anomaly_report,
    )
    from forest_open_data_pipelines_spark.streaming.anomaly_watch import (
        BASELINE_BATCH_ID,
        anomaly_watch_stream,
        compact_anomaly_cache,
    )

    events = load_table(spark, SF_DIR, "events")
    staging = tmp_path / "aw2_staging"
    events.repartition(3).write.parquet(str(staging))
    parts = sorted(p for p in staging.iterdir() if p.name.endswith(".parquet"))
    assert len(parts) == 3
    src = tmp_path / "aw2_src"
    src.mkdir()
    for p in parts[:2]:
        shutil.copy(p, src / p.name)

    cache1 = str(tmp_path / "aw2_cache")
    ckpt = str(tmp_path / "ckpt_aw2")
    reports = {}
    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    q = anomaly_watch_stream(
        stream, cache_path=cache1, checkpoint=ckpt,
        sink=lambda df, bid: reports.__setitem__(bid, df.collect()),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(reports) == 2

    # pause-and-fold into a NEW path; totals must be unchanged
    cache2 = str(tmp_path / "aw2_cache_compacted")
    stats = compact_anomaly_cache(spark, cache1, cache2, keep_last=1)
    assert stats == {
        "partitions_before": 2, "partitions_folded": 1, "partitions_after": 2
    }
    tot = lambda path: sorted(
        tuple(r) for r in spark.read.parquet(path)
        .groupBy("event_type", "day").agg(F.sum("n_events").alias("n"))
        .collect()
    )
    assert tot(cache2) == tot(cache1)
    ids = {
        r[0] for r in spark.read.parquet(cache2).select("batch_id").distinct().collect()
    }
    assert BASELINE_BATCH_ID in ids and len(ids) == 2

    # resume against the compacted cache with the SAME checkpoint,
    # then deliver the third file
    shutil.copy(parts[2], src / parts[2].name)
    stream2 = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    q2 = anomaly_watch_stream(
        stream2, cache_path=cache2, checkpoint=ckpt,
        sink=lambda df, bid: reports.__setitem__(bid, df.collect()),
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    final = reports[max(reports)]
    batch = daily_anomaly_report(events).collect()
    key = lambda r: tuple(r)
    assert sorted(map(key, final)) == sorted(map(key, batch))


def test_bm25_route_stream_matches_batch(spark, tmp_path):
    """The BM25 gate is stateless over frozen index metadata, so the
    streamed emissions must equal the batch bm25_route rows exactly
    (same collect_bm25_index snapshot on both sides)."""
    import shutil

    from forest_open_data_pipelines_spark.operators.textops import (
        bm25_route,
        collect_bm25_index,
    )
    from forest_open_data_pipelines_spark.streaming.bm25_gate import (
        bm25_route_stream,
    )

    src = tmp_path / "bm25_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", src / "batch1.parquet")
    docs = load_table(spark, SF_DIR, "documents")
    index, avgdl = collect_bm25_index(docs)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    query = (
        bm25_route_stream(stream, index, avgdl)
        .writeStream.format("memory")
        .queryName("bm25_route_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_bm25"))
        .start()
    )
    try:
        query.processAllAvailable()
        emitted = spark.sql("SELECT * FROM bm25_route_test").collect()
    finally:
        query.stop()
    batch = bm25_route(docs).collect()
    key = lambda r: (
        r["doc_id"], r["best_query_id"], r["best_bm25"], r["n_queries_matched"]
    )
    assert sorted(map(key, emitted)) == sorted(map(key, batch))
    assert emitted, "gate emitted nothing"


def test_compact_anomaly_cache_keep_last_exceeds_partitions(spark, tmp_path):
    """keep_last > #partitions must fold NOTHING (the replay-safety
    margin is a floor, not a hint): previously the negative slice
    bound silently folded the oldest batches."""
    from forest_open_data_pipelines_spark.streaming.anomaly_watch import (
        compact_anomaly_cache,
    )

    src = str(tmp_path / "caches_src")
    rows = [
        ("click", "2024-01-01", 3, 0),
        ("click", "2024-01-02", 5, 1),
        ("view", "2024-01-01", 7, 2),
    ]
    spark.createDataFrame(
        rows, ["event_type", "day", "n_events", "batch_id"]
    ).write.partitionBy("batch_id").parquet(src)

    dst = str(tmp_path / "caches_dst")
    stats = compact_anomaly_cache(spark, src, dst, keep_last=5)
    assert stats == {
        "partitions_before": 3,
        "partitions_folded": 0,
        "partitions_after": 3,
    }
    kept = sorted(
        tuple(r)
        for r in spark.read.parquet(dst)
        .select("event_type", "day", "n_events", "batch_id")
        .collect()
    )
    assert kept == sorted(rows)


def test_observations_append_stream_matches_batch(spark, tmp_path):
    """The stateful append gate must reproduce the batch operator's
    rows exactly — including chains that CROSS a micro-batch boundary
    (two time-ordered files fed sequentially, the reference's
    nightly-append cadence): for every batch-window row, identical
    previous timestamp, precision-aware changed flag, and intervals."""
    import datetime as _dt

    from forest_open_data_pipelines_spark.operators.freshness import (
        freshness_observations_append,
    )
    from forest_open_data_pipelines_spark.streaming.observations import (
        observations_append_stream,
    )

    events = load_table(spark, SF_DIR, "events")
    mid = events.agg(
        F.date_sub(F.max("ts").cast("date"), 10).alias("d")
    ).first()["d"]
    src = tmp_path / "obs_src"
    src.mkdir()
    # two time-ordered files: the chain for most keys crosses the split
    events.where(F.col("ts").cast("date") <= F.lit(mid)).coalesce(1) \
        .write.parquet(str(tmp_path / "part1"))
    events.where(F.col("ts").cast("date") > F.lit(mid)).coalesce(1) \
        .write.parquet(str(tmp_path / "part2"))
    import shutil

    def _feed(part: str, name: str) -> None:
        f = next(
            p for p in (tmp_path / part).iterdir()
            if p.name.endswith(".parquet")
        )
        shutil.copy(f, src / name)

    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    q = (
        observations_append_stream(stream)
        .writeStream.format("memory")
        .queryName("obs_append_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_obs"))
        .start()
    )
    try:
        _feed("part1", "a.parquet")
        q.processAllAvailable()
        _feed("part2", "b.parquet")
        q.processAllAvailable()
        emitted = spark.sql("SELECT * FROM obs_append_test").collect()
    finally:
        q.stop()

    # multiset compare over the batch window (error probes share the
    # empty source timestamp, so tuples — not keys — are the unit)
    cutoff = events.agg(
        F.date_sub(F.max("ts").cast("date"), 7).alias("d")
    ).first()["d"]
    tup = lambda r: (
        r["watch_id"], r["resource_key"], r["source_modified_at"],
        r["precision"], r["status"], r["previous_source_modified_at"],
        r["changed"], r["interval_hours"], r["interval_days"],
    )
    streamed = sorted(
        tup(r) for r in emitted if r["ts"].date() > cutoff
    )
    batch_rows = freshness_observations_append(events).collect()
    assert batch_rows
    assert streamed == sorted(tup(r) for r in batch_rows)
    assert len(emitted) == events.count()  # every event emitted once


def test_scd2_stream_matches_batch_closed_runs(spark, tmp_path):
    """Streaming SCD2: once the stream drains, the emitted (closed)
    runs must equal the batch history minus each user's final run
    (still current — no later state change ever closes it), including
    the valid_to each closure stamped."""
    from forest_open_data_pipelines_spark.operators.sessionize import (
        scd2_user_state_history,
    )
    from forest_open_data_pipelines_spark.streaming.scd2 import scd2_stream

    stream = stream_events_from_parquet(spark, SF_DIR)
    query = (
        scd2_stream(stream)
        .writeStream.format("memory")
        .queryName("scd2_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_scd2"))
        .start()
    )
    try:
        query.processAllAvailable()
        got = {
            (r["user_id"], r["version"]): (
                r["state"],
                r["valid_from"],
                r["last_seen"],
                r["n_events"],
                r["valid_to"],
                r["is_current"],
            )
            for r in spark.sql("SELECT * FROM scd2_test").collect()
        }
    finally:
        query.stop()

    batch_rows = scd2_user_state_history(
        load_table(spark, SF_DIR, "events")
    ).collect()
    expected = {
        (r["user_id"], r["version"]): (
            r["state"],
            r["valid_from"],
            r["last_seen"],
            r["n_events"],
            r["valid_to"],
            r["is_current"],
        )
        for r in batch_rows
        if not r["is_current"]
    }
    assert len(got) == len(expected)
    assert got == expected


def test_scd2_stream_feeds_purchase_attribution(spark, tmp_path):
    """End-to-end composition the SCD2 family exists for (ADVICE r9
    item 9): the STREAM-maintained k-bucket history, completed with
    each user's open run (the state-store read a production consumer
    does), drives the point-in-time purchase join and must reproduce
    batch purchase_state_attribution row-for-row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    from forest_open_data_pipelines_spark.operators.sessionize import (
        purchase_state_attribution,
    )
    from forest_open_data_pipelines_spark.streaming.scd2 import scd2_stream
    from forest_open_data_pipelines_spark.streaming.windowed import (
        stream_events_from_parquet,
    )

    kb = F2.floor(
        F2.regexp_extract(F2.col("props"), '"k":\\s*([0-9]+)', 1).cast("int")
        / F2.lit(32)
    ).cast("int")
    stream = stream_events_from_parquet(spark, SF_DIR)
    query = (
        scd2_stream(stream, state=kb)
        .writeStream.format("memory")
        .queryName("scd2_attr_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_scd2_attr"))
        .start()
    )
    try:
        query.processAllAvailable()
        closed = spark.sql(
            "SELECT user_id, version, CAST(state AS INT) AS k_bucket,"
            " valid_from, valid_to FROM scd2_attr_test"
        )
    finally:
        query.stop()

    events = load_table(spark, SF_DIR, "events")
    # complete the history with each user's OPEN run: version follows
    # the last closed one (1 if none), valid_from is the last closure
    # instant (the user's first event if never closed), state is the
    # user's latest k-bucket — exactly what a production consumer reads
    # from the state store snapshot after a drain.
    last_closed = closed.groupBy("user_id").agg(
        F2.max("version").alias("last_version"),
        F2.max("valid_to").alias("last_close"),
    )
    latest = (
        events.withColumn("kb", kb)
        .withColumn(
            "rn",
            F2.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F2.desc("ts"), F2.desc("event_id")
                )
            ),
        )
        .where(F2.col("rn") == 1)
        .select("user_id", "kb", "ts")
    )
    first_seen = events.groupBy("user_id").agg(
        F2.min("ts").alias("first_ts")
    )
    open_runs = (
        latest.join(last_closed, "user_id", "left")
        .join(first_seen, "user_id")
        .select(
            "user_id",
            (F2.coalesce(F2.col("last_version"), F2.lit(0)) + 1).alias(
                "version"
            ),
            F2.col("kb").alias("k_bucket"),
            F2.coalesce(F2.col("last_close"), F2.col("first_ts")).alias(
                "valid_from"
            ),
            F2.lit(None).cast("timestamp").alias("valid_to"),
        )
    )
    hist = closed.unionByName(open_runs)
    purchases = events.where(F2.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    got = sorted(
        map(
            tuple,
            purchases.join(
                hist.select(
                    F2.col("user_id").alias("h_user"),
                    F2.col("version").alias("state_version"),
                    "k_bucket",
                    "valid_from",
                    "valid_to",
                ),
                (F2.col("user_id") == F2.col("h_user"))
                & (F2.col("ts") >= F2.col("valid_from"))
                & (
                    F2.col("valid_to").isNull()
                    | (F2.col("ts") < F2.col("valid_to"))
                ),
            )
            .select(
                "user_id",
                F2.col("event_id").alias("purchase_event_id"),
                F2.col("ts").alias("purchase_ts"),
                "value",
                "k_bucket",
                "state_version",
                F2.col("valid_from").alias("state_since"),
            )
            .collect(),
        )
    )
    want = sorted(
        map(tuple, purchase_state_attribution(events).collect())
    )
    assert len(got) == len(want) and got == want


def test_ahash_gate_stream_matches_batch(spark, tmp_path):
    """The foreachBatch perceptual gate must emit verdicts row-identical
    to batch media_ahash_incremental over the same new/base split —
    the winnowing-gate bridge shape at the aHash granularity."""
    from pyspark.sql import functions as F2

    from forest_open_data_pipelines_spark.operators.multimodal import (
        ahash_signatures,
        as_media_table,
        classify_against_ahash_index,
        media_ahash_incremental,
    )
    from forest_open_data_pipelines_spark.streaming.classify import (
        classify_stream,
    )

    docs = load_table(spark, SF_DIR, "documents")
    base = docs.where(F2.col("doc_id") % 13 != 0)
    # manufacture a guaranteed dup: one base payload re-ingested under a
    # fresh id (the corpus's own duplicates need not cross the split)
    replay = base.orderBy("doc_id").limit(1).withColumn(
        "doc_id", F2.lit(9_000_000).cast("long")
    )
    new = docs.where(F2.col("doc_id") % 13 == 0).unionByName(replay)
    src = tmp_path / "ag_src"
    new.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    base_sigs = ahash_signatures(
        as_media_table(base).where(F2.length("payload") > 0)
    ).cache()
    collected = []
    query = classify_stream(
        stream,
        lambda b: classify_against_ahash_index(b, base_sigs, persist_new=False),
        sink=lambda df, bid: collected.extend(df.collect()),
        checkpoint=str(tmp_path / "ckpt_ag"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        base_sigs.unpersist()
    batch = media_ahash_incremental(new, base).collect()
    key = lambda r: tuple(r)
    assert sorted(map(key, collected)) == sorted(map(key, batch))
    # the split must exercise both verdicts for the parity to mean much
    assert any(r["status"] == "dup" for r in collected)
    assert any(r["status"] == "new" for r in collected)
    for r in collected:
        assert (r["status"] == "dup") == (r["n_base_matches"] > 0)
        if r["status"] == "dup":
            assert r["best_hamming"] is not None and r["best_hamming"] <= 7


def test_stream_stream_click_purchase_pairs_match_batch(spark, tmp_path):
    """The watermarked STREAM-STREAM interval join must reproduce the
    batch range_window_join pair set exactly (same strict-lower /
    inclusive-upper bounds), and its per-purchase aggregate must equal
    clicks_before_purchase restricted to purchases with >=1 click."""
    from pyspark.sql import functions as F2

    from forest_open_data_pipelines_spark.operators.asof import (
        clicks_before_purchase,
        range_window_join,
    )
    from forest_open_data_pipelines_spark.streaming.attribution import (
        click_purchase_pairs_stream,
    )
    from forest_open_data_pipelines_spark.streaming.windowed import (
        stream_events_from_parquet,
    )

    stream = stream_events_from_parquet(spark, SF_DIR)
    query = (
        click_purchase_pairs_stream(stream)
        .writeStream.format("memory")
        .queryName("ss_attr_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss_attr"))
        .start()
    )
    try:
        query.processAllAvailable()
        got_pairs = {
            (r["purchase_event_id"], r["click_event_id"])
            for r in spark.sql("SELECT * FROM ss_attr_test").collect()
        }
    finally:
        query.stop()

    events = load_table(spark, SF_DIR, "events")
    purchases = events.where(F2.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = events.where(F2.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    want_pairs = {
        (r["event_id"], r["w_event_id"])
        for r in range_window_join(
            purchases, clicks, key="user_id", window_seconds=30 * 60
        ).collect()
        if r["w_event_id"] is not None
    }
    assert got_pairs == want_pairs and got_pairs

    # aggregate parity on the >=1-click subset (inner join drops
    # zero-click purchases; the batch left shape keeps them as 0 rows)
    got_agg = {
        (r["purchase_event_id"], r["n_clicks"], r["click_value"])
        for r in spark.sql(
            "SELECT purchase_event_id, count(click_event_id) AS n_clicks,"
            " round(sum(click_value) * 1e6) / 1e6 AS click_value"
            " FROM ss_attr_test GROUP BY purchase_event_id"
        ).collect()
    }
    want_agg = {
        (r["purchase_event_id"], r["n_clicks"], r["click_value"])
        for r in clicks_before_purchase(events).collect()
        if r["n_clicks"] > 0
    }
    assert got_agg == want_agg


def test_stream_stream_left_outer_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """left_outer stream-stream join: a zero-click purchase's all-NULL
    row emits only once the click-side watermark PASSES its window —
    driven here by a controlled second batch far in the future. A
    matched purchase keeps its pair; the late batch's own purchase
    stays unemitted (its window never provably closes before drain)."""
    from datetime import datetime

    from forest_open_data_pipelines_spark.streaming.attribution import (
        click_purchase_pairs_stream,
    )

    src_dir = tmp_path / "ss_left_src"
    src_dir.mkdir()
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    batch1 = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10, 0), 7, "click", 1.0, "{}"),
            (2, datetime(2024, 1, 1, 10, 10), 7, "purchase", 9.0, "{}"),
            (3, datetime(2024, 1, 1, 10, 20), 8, "purchase", 5.0, "{}"),
        ],
        schema,
    )
    batch1.coalesce(1).write.parquet(str(src_dir / "b1.parquet"))
    # second batch: far-future events on BOTH sides — Spark's global
    # watermark is the MIN across all watermarked inputs, so a future
    # purchase alone would leave the click-side watermark (and the
    # global one) stuck at batch1 and the NULL row unemitted
    import time as _time

    _time.sleep(1.1)  # distinct mtimes keep the file order b1 -> b2
    batch2 = spark.createDataFrame(
        [
            (4, datetime(2024, 3, 1, 0, 0), 9, "purchase", 1.0, "{}"),
            (5, datetime(2024, 3, 1, 0, 0), 10, "click", 1.0, "{}"),
        ],
        schema,
    )
    batch2.coalesce(1).write.parquet(str(src_dir / "b2.parquet"))

    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "part-*.parquet")
        .parquet(str(src_dir))
    )
    query = (
        click_purchase_pairs_stream(
            stream, join_type="left_outer", watermark="1 hour"
        )
        .writeStream.format("memory")
        .queryName("ss_left_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss_left"))
        .start()
    )
    try:
        query.processAllAvailable()
        rows = {
            r["purchase_event_id"]: r
            for r in spark.sql("SELECT * FROM ss_left_test").collect()
        }
        # the SCALE property: watermark passage EVICTS join state.
        # batch1 contributed 3 buffered rows; after the global
        # watermark passes their windows only the still-open future
        # rows may remain.
        state = (query.lastProgress or {}).get("stateOperators") or []
        if state:
            assert state[0]["numRowsTotal"] <= 2, state[0]
    finally:
        query.stop()

    # matched purchase pairs with its click; unmatched purchase 3 emits
    # the all-NULL click row after the watermark advance; the future
    # purchase 4's window is still open at drain
    assert rows[2]["click_event_id"] == 1
    assert rows[3]["click_event_id"] is None
    assert rows[3]["click_ts"] is None and rows[3]["click_value"] is None
    assert 4 not in rows  # its window never provably closes before drain


def test_effective_series_stream_matches_batch(spark, tmp_path):
    """Streaming effective-series gate (VERDICT r10 item 8): after a
    drain, the last emitted series must be row-identical to batch
    effective_monthly_series over the same mensal events and static
    zip series — the per-period deltas accumulate across micro-batches
    into exactly the batch operator's truncated feed, and the merge
    tail IS the batch operator's own."""
    from forest_open_data_pipelines_spark.operators.timeseries import (
        effective_monthly_series,
        orders_enriched,
    )
    from forest_open_data_pipelines_spark.streaming.effective_series import (
        effective_series_stream,
    )

    events = load_table(spark, SF_DIR, "events")
    enriched = orders_enriched(
        *(load_table(spark, SF_DIR, t)
          for t in ("orders", "customer", "nation", "region"))
    )
    src = tmp_path / "es_src"
    # three part files -> three micro-batches, so the cache genuinely
    # accumulates (and the reference instant moves) across batches
    events.repartition(3).write.parquet(str(src))
    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    for mode in ("current", "previous"):
        reports = {}
        query = effective_series_stream(
            stream,
            enriched,
            cache_path=str(tmp_path / f"es_cache_{mode}"),
            checkpoint=str(tmp_path / f"ckpt_es_{mode}"),
            sink=lambda df, bid: reports.__setitem__(bid, df.collect()),
            reference_month_mode=mode,
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        assert len(reports) == 3
        final = reports[max(reports)]
        batch = effective_monthly_series(
            enriched, events, reference_month_mode=mode
        ).collect()
        key = lambda r: tuple(r)
        assert sorted(map(key, final)) == sorted(map(key, batch)), mode
        # the substitution actually fired on this corpus
        assert any(r["source"] == "mensal" for r in final) or all(
            r["source"] == "zip" for r in batch
        )


def test_effective_series_cache_compaction_restart_convergence(
    spark, tmp_path
):
    """The r11-ADVICE maintenance job: drain two of three micro-
    batches, pause, fold the cache into a baseline + newest partition
    at a NEW path, resume against the compacted cache with the SAME
    checkpoint, drain the third batch — the final series must still be
    row-identical to the batch operator over all events."""
    from forest_open_data_pipelines_spark.operators.timeseries import (
        effective_monthly_series,
        orders_enriched,
    )
    from forest_open_data_pipelines_spark.streaming.effective_series import (
        compact_effective_series_cache,
        effective_series_stream,
    )

    events = load_table(spark, SF_DIR, "events")
    enriched = orders_enriched(
        *(load_table(spark, SF_DIR, t)
          for t in ("orders", "customer", "nation", "region"))
    )
    parts = events.repartition(3).toPandas()
    thirds = [parts.iloc[i::3] for i in range(3)]
    src = tmp_path / "esc_src"
    src.mkdir()
    for i, chunk in enumerate(thirds[:2]):
        spark.createDataFrame(chunk, events.schema).coalesce(1).write.parquet(
            str(src / f"part_{i}"), mode="overwrite"
        )
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    cache1 = str(tmp_path / "esc_cache1")
    cache2 = str(tmp_path / "esc_cache2")
    ckpt = str(tmp_path / "ckpt_esc")
    reports = {}
    sink = lambda df, bid: reports.__setitem__(bid, df.collect())
    query = effective_series_stream(
        stream, enriched, cache_path=cache1, checkpoint=ckpt, sink=sink
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    stats = compact_effective_series_cache(spark, cache1, cache2, keep_last=1)
    assert stats == {
        "partitions_before": 2,
        "partitions_folded": 1,
        "partitions_after": 2,
    }, stats
    # per-period accumulated totals identical before and after
    agg = lambda path: sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .groupBy("period")
        .agg(
            F.sum("n_orders").cast("long"),
            F.round(F.sum("value_sum"), 6),
            F.max("max_ts"),
        )
        .collect()
    )
    assert agg(cache1) == agg(cache2)

    spark.createDataFrame(thirds[2], events.schema).coalesce(1).write.parquet(
        str(src / "part_2"), mode="overwrite"
    )
    query = effective_series_stream(
        stream, enriched, cache_path=cache2, checkpoint=ckpt, sink=sink
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    final = reports[max(reports)]
    batch = effective_monthly_series(enriched, events).collect()
    assert sorted(map(tuple, final)) == sorted(map(tuple, batch))


def test_heavy_hitters_stream_matches_batch(spark, tmp_path):
    """Bounded-sketch state: stream the events table in TWO forced
    micro-batches (ts-split files, drained in order so the concatenated
    order equals the batch twin's global (ts, event_id) sort); the
    final per-shard summary must equal operators.sketches.
    spacesaving_topk bit-for-bit, through a state save/restore."""
    from forest_open_data_pipelines_spark.operators.sketches import (
        spacesaving_topk,
    )
    from forest_open_data_pipelines_spark.sources import load_table
    from forest_open_data_pipelines_spark.streaming.heavy_hitters import (
        heavy_hitters_stream,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id"
    )
    ordered = ev.orderBy("ts", "event_id")
    n = ev.count()
    head = ordered.limit(n // 2).toPandas()
    tail = ordered.subtract(ordered.limit(n // 2)).toPandas()

    src = tmp_path / "events_src"
    src.mkdir()
    spark.createDataFrame(head).coalesce(1).write.parquet(
        str(src / "batch_a"), mode="overwrite"
    )

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1000)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    query = (
        heavy_hitters_stream(stream)
        .writeStream.format("memory")
        .queryName("hh_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_hh"))
        .start()
    )
    try:
        query.processAllAvailable()
        # second micro-batch lands only after the first fully drained
        spark.createDataFrame(tail).coalesce(1).write.parquet(
            str(src / "batch_b"), mode="overwrite"
        )
        query.processAllAvailable()
        final = spark.sql(
            """SELECT * FROM (
                 SELECT *, max(n_processed) OVER (PARTITION BY shard) AS mx
                 FROM hh_test) WHERE n_processed = mx"""
        ).collect()
    finally:
        query.stop()

    got = {
        (r["shard"], r["user_id"]): (
            r["est_count"], r["max_error"], r["is_exact"], r["rank"], r["n_processed"],
        )
        for r in final
    }
    batch = {
        (r["shard"], r["user_id"]): (
            r["est_count"], r["max_error"], r["is_exact"], r["rank"], r["n_processed"],
        )
        for r in spacesaving_topk(ev).collect()
    }
    assert got == batch
    assert len(got) > 0


def test_cusum_monitor_stream_matches_batch(spark, tmp_path):
    """Online CUSUM: drained two-micro-batch stream (state save/
    restore across the batch boundary) equals the batch fixed-target
    twin minus each series' still-open final day; alarms match."""
    from forest_open_data_pipelines_spark.operators.sessionize import (
        cusum_fixed_target,
    )
    from forest_open_data_pipelines_spark.sources import load_table
    from forest_open_data_pipelines_spark.streaming.cusum import (
        cusum_monitor_stream,
    )

    target, threshold = 7, 20
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "event_type"
    )
    ordered = ev.orderBy("ts", "event_id")
    n = ev.count()
    head = ordered.limit(n // 2).toPandas()
    tail = ordered.subtract(ordered.limit(n // 2)).toPandas()

    src = tmp_path / "cusum_src"
    src.mkdir()
    spark.createDataFrame(head).coalesce(1).write.parquet(
        str(src / "batch_a"), mode="overwrite"
    )
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    query = (
        cusum_monitor_stream(stream, target, threshold)
        .writeStream.format("memory")
        .queryName("cusum_stream_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_cusum"))
        .start()
    )
    try:
        query.processAllAvailable()
        spark.createDataFrame(tail).coalesce(1).write.parquet(
            str(src / "batch_b"), mode="overwrite"
        )
        query.processAllAvailable()
        got = {
            (r["event_type"], str(r["day"])): (
                r["n_events"], r["cusum"], r["alarm"],
            )
            for r in spark.sql("SELECT * FROM cusum_stream_test").collect()
        }
    finally:
        query.stop()

    batch_rows = cusum_fixed_target(
        load_table(spark, SF_DIR, "events"), target, threshold
    ).collect()
    last_day = {}
    for r in batch_rows:
        last_day[r["event_type"]] = max(
            last_day.get(r["event_type"], str(r["day"])), str(r["day"])
        )
    batch = {
        (r["event_type"], str(r["day"])): (r["n_events"], r["cusum"], r["alarm"])
        for r in batch_rows
        if str(r["day"]) != last_day[r["event_type"]]
    }
    assert got == batch
    assert len(got) > 0
    assert any(v[2] for v in got.values()) or not any(
        v[2] for v in batch.values()
    )


def test_cusum_monitor_stream_counts_late_rows(spark, tmp_path):
    """A micro-batch carrying a row whose day PRECEDES the open day
    (forward-only contract violation) must not corrupt any day's
    n_events: the row is dropped and surfaced via the cumulative
    n_late counter on subsequently emitted rows (r11 ADVICE)."""
    from datetime import datetime

    from forest_open_data_pipelines_spark.streaming.cusum import (
        cusum_monitor_stream,
    )

    schema = "event_id long, ts timestamp, event_type string"
    batch_a = [
        (1, datetime(2024, 1, 1, 10), "click"),
        (2, datetime(2024, 1, 1, 11), "click"),
        (3, datetime(2024, 1, 2, 9), "click"),  # opens day 2
    ]
    batch_b = [
        (4, datetime(2024, 1, 1, 23), "click"),  # LATE: day 1 < open day 2
        (5, datetime(2024, 1, 3, 8), "click"),  # closes day 2, opens day 3
        (6, datetime(2024, 1, 4, 8), "click"),  # closes day 3
    ]
    src = tmp_path / "cusum_late_src"
    src.mkdir()
    spark.createDataFrame(batch_a, schema).coalesce(1).write.parquet(
        str(src / "batch_a"), mode="overwrite"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    query = (
        cusum_monitor_stream(stream, target_per_day=1, threshold=100)
        .writeStream.format("memory")
        .queryName("cusum_late_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_cusum_late"))
        .start()
    )
    try:
        query.processAllAvailable()
        spark.createDataFrame(batch_b, schema).coalesce(1).write.parquet(
            str(src / "batch_b"), mode="overwrite"
        )
        query.processAllAvailable()
        rows = {
            str(r["day"]): (r["n_events"], r["n_late"])
            for r in spark.sql("SELECT * FROM cusum_late_test").collect()
        }
    finally:
        query.stop()

    # day 1 closed before the late row existed (n_late snapshot 0);
    # days 2 and 3 keep their true counts of 1 each (the late row did
    # NOT inflate them) and carry the violation counter
    assert rows == {
        "2024-01-01": (2, 0),
        "2024-01-02": (1, 1),
        "2024-01-03": (1, 1),
    }, rows


def test_priority_sample_stream_matches_batch(spark, tmp_path):
    """Streaming weighted sampler (r12): drain documents in two
    micro-batches split on an ARBITRARY odd/even predicate (top-k of
    a set is order-independent — no ordering contract needed); the
    drained per-shard candidate sets folded through the batch
    operator's own tail must equal batch priority_sample
    ROW-FOR-ROW, through a state save/restore across the boundary."""
    from forest_open_data_pipelines_spark.operators.curation import (
        priority_sample,
    )
    from forest_open_data_pipelines_spark.sources import load_table
    from forest_open_data_pipelines_spark.streaming.priority_sample import (
        fold_priority_candidates,
        priority_sample_stream,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    src = tmp_path / "prio_src"
    src.mkdir()
    docs.where("doc_id % 2 = 1").toPandas().pipe(
        lambda pdf: spark.createDataFrame(pdf)
    ).coalesce(1).write.parquet(str(src / "batch_a"), mode="overwrite")

    stream = (
        spark.readStream.schema(
            "doc_id long, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    query = (
        priority_sample_stream(stream, n=40)
        .writeStream.format("memory")
        .queryName("prio_sample_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_prio"))
        .start()
    )
    try:
        query.processAllAvailable()
        docs.where("doc_id % 2 = 0").toPandas().pipe(
            lambda pdf: spark.createDataFrame(pdf)
        ).coalesce(1).write.parquet(str(src / "batch_b"), mode="overwrite")
        query.processAllAvailable()
        candidates = spark.sql("SELECT * FROM prio_sample_test")
        # state is bounded: no emission ever exceeds n+1 rows per shard
        sizes = (
            candidates.groupBy("shard", "n_seen")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert sizes <= 41
        folded = fold_priority_candidates(candidates, n=40).collect()
    finally:
        query.stop()

    batch = priority_sample(docs, n=40).collect()
    assert [tuple(r) for r in folded] == [tuple(r) for r in batch]


def test_kmv_distinct_stream_matches_batch(spark, tmp_path):
    """Streaming KMV distinct monitor (r12): drain events in two
    micro-batches split on an ARBITRARY odd/even predicate (bottom-k
    of a set is order-independent — no ordering contract needed); the
    drained per-group candidate sets folded through the batch
    operator's own tail must equal the batch rollup's sketch columns
    ROW-FOR-ROW, through a state save/restore across the boundary.
    State stays bounded: no emission ever exceeds k rows per group."""
    from forest_open_data_pipelines_spark.operators.sketches import (
        KMV_K,
        kmv_distinct_rollup,
    )
    from forest_open_data_pipelines_spark.sources import load_table
    from forest_open_data_pipelines_spark.streaming.kmv_distinct import (
        fold_kmv_candidates,
        kmv_distinct_stream,
    )
    from tests.conftest import SF_DIR_MID

    # sf0.01: 150 distinct users > k=32, so the stream's state
    # actually TRUNCATES and the estimator branch is what must agree
    ev = load_table(spark, SF_DIR_MID, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = tmp_path / "kmv_src"
    src.mkdir()
    ev.where("event_id % 2 = 1").coalesce(1).write.parquet(
        str(src / "batch_a"), mode="overwrite"
    )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    query = (
        kmv_distinct_stream(stream)
        .writeStream.format("memory")
        .queryName("kmv_distinct_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_kmv"))
        .start()
    )
    try:
        query.processAllAvailable()
        ev.where("event_id % 2 = 0").coalesce(1).write.parquet(
            str(src / "batch_b"), mode="overwrite"
        )
        query.processAllAvailable()
        candidates = spark.sql("SELECT * FROM kmv_distinct_test")
        max_emission = (
            candidates.groupBy("event_type", "month", "n_seen")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert max_emission <= KMV_K
        folded = (
            fold_kmv_candidates(candidates)
            .orderBy("event_type", "month")
            .collect()
        )
    finally:
        query.stop()

    batch = (
        kmv_distinct_rollup(ev)
        .select("event_type", "month", "n_candidates", "est_distinct")
        .orderBy("event_type", "month")
        .collect()
    )
    assert [tuple(r) for r in folded] == [tuple(r) for r in batch]


def test_quantile_monitor_stream_matches_batch(spark, tmp_path):
    """Streaming quantile monitor (r12): drain the events table in two
    ts-ordered micro-batches through the bounded-sketch state store —
    each series' freshest provisional open-month row must equal the
    batch quantile_rollup_sketch est columns BIT-FOR-BIT (same
    processing order, same day-ascending merge, same first-day parity
    base), through a state save/restore across the batch boundary."""
    from forest_open_data_pipelines_spark.operators.sketches import (
        quantile_rollup_sketch,
    )
    from forest_open_data_pipelines_spark.sources import load_table
    from forest_open_data_pipelines_spark.streaming.quantiles import (
        quantile_monitor_stream,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    ordered = ev.orderBy("ts", "event_id")
    n = ev.count()
    head = ordered.limit(n // 2).toPandas()
    tail = ordered.subtract(ordered.limit(n // 2)).toPandas()

    src = tmp_path / "qm_src"
    src.mkdir()
    schema = "event_id long, ts timestamp, event_type string, value double"
    spark.createDataFrame(head, schema).coalesce(1).write.parquet(
        str(src / "batch_a"), mode="overwrite"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    query = (
        quantile_monitor_stream(stream)
        .writeStream.format("memory")
        .queryName("quantile_monitor_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_qm"))
        .start()
    )
    try:
        query.processAllAvailable()
        spark.createDataFrame(tail, schema).coalesce(1).write.parquet(
            str(src / "batch_b"), mode="overwrite"
        )
        query.processAllAvailable()
        rows = spark.sql("SELECT * FROM quantile_monitor_test").collect()
    finally:
        query.stop()

    freshest = {}
    for r in rows:
        assert not r["is_final"]  # single-month corpus: no seals
        assert r["n_late"] == 0  # in-order feed: no violations
        cur = freshest.get(r["event_type"])
        if cur is None or r["n_rows"] > cur["n_rows"]:
            freshest[r["event_type"]] = r
    batch = {
        r["event_type"]: r for r in quantile_rollup_sketch(ev).collect()
    }
    assert set(freshest) == set(batch)
    for etype, r in freshest.items():
        b = batch[etype]
        assert (
            r["month"], r["n_rows"], r["est_p50"], r["est_p95"],
            r["max_rank_error"],
        ) == (
            b["month"], b["n_rows"], b["est_p50"], b["est_p95"],
            b["max_rank_error"],
        ), etype


def test_quantile_monitor_stream_month_close_and_late_rows(spark, tmp_path):
    """Hand stream crossing a month boundary with one late row: the
    sealed January row (is_final) matches the pure-Python pipeline
    replay over January's rows, the late row is dropped into n_late,
    and February's provisional row carries only February data."""
    from datetime import datetime

    from forest_open_data_pipelines_spark.streaming.quantiles import (
        quantile_monitor_stream,
    )
    from tests.test_operators import _quantile_rollup_stdlib_replay
    import pandas as pd

    schema = "event_id long, ts timestamp, event_type string, value double"
    batch_a = [
        (i, datetime(2024, 1, 1 + i // 3, 8 + i % 3), "click", float(7 * i % 50))
        for i in range(9)  # Jan 1-3
    ]
    batch_b = [
        (20, datetime(2024, 1, 2, 9), "click", 99.0),  # LATE (< open Jan 3)
        (21, datetime(2024, 2, 1, 8), "click", 5.0),  # seals January
        (22, datetime(2024, 2, 1, 9), "click", 6.0),
    ]
    src = tmp_path / "qmc_src"
    src.mkdir()
    spark.createDataFrame(batch_a, schema).coalesce(1).write.parquet(
        str(src / "batch_a"), mode="overwrite"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    query = (
        quantile_monitor_stream(stream)
        .writeStream.format("memory")
        .queryName("quantile_close_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_qmc"))
        .start()
    )
    try:
        query.processAllAvailable()
        spark.createDataFrame(batch_b, schema).coalesce(1).write.parquet(
            str(src / "batch_b"), mode="overwrite"
        )
        query.processAllAvailable()
        rows = spark.sql("SELECT * FROM quantile_close_test").collect()
    finally:
        query.stop()

    sealed = [r for r in rows if r["is_final"]]
    assert len(sealed) == 1
    jan = sealed[0]
    # replay expectation over January's in-order rows only
    replay_pdf = pd.DataFrame(
        batch_a, columns=["event_id", "ts", "event_type", "value"]
    )
    replay_pdf["ts"] = pd.to_datetime(replay_pdf["ts"])
    from forest_open_data_pipelines_spark.operators.sketches import QUANTILE_K

    (exp_n, exp_p50, exp_p95, exp_err) = _quantile_rollup_stdlib_replay(
        replay_pdf, QUANTILE_K
    )[("click", jan["month"])]
    assert (
        jan["n_rows"], jan["est_p50"], jan["est_p95"], jan["max_rank_error"],
    ) == (exp_n, exp_p50, exp_p95, exp_err)
    assert jan["n_late"] == 1  # the violation surfaced on the seal
    feb = max(
        (r for r in rows if not r["is_final"]), key=lambda r: r["month"]
    )
    assert str(feb["month"]) == "2024-02-01"
    assert feb["n_rows"] == 2  # late row never leaked into February


def test_skyline_stream_order_independent_matches_batch(spark, tmp_path):
    """Streaming Pareto frontier: drain the part table in two
    micro-batches split on an ARBITRARY predicate (odd/even partkey —
    deliberately not sorted, since frontier state is order-
    independent); the drained bucket frontiers folded through one
    global skyline pass must equal batch part_skyline grouped to
    (price, size, tie count)."""
    from forest_open_data_pipelines_spark.operators.relational import (
        part_skyline,
    )
    from forest_open_data_pipelines_spark.sources import load_table
    from forest_open_data_pipelines_spark.streaming.skyline import (
        frontier_insert,
        skyline_stream,
    )

    part = load_table(spark, SF_DIR, "part").select(
        "p_partkey", "p_brand", "p_retailprice", "p_size"
    )
    src = tmp_path / "part_src"
    src.mkdir()
    part.where("p_partkey % 2 = 1").toPandas().pipe(
        lambda pdf: spark.createDataFrame(pdf)
    ).coalesce(1).write.parquet(str(src / "batch_a"), mode="overwrite")

    stream = (
        spark.readStream.schema(
            "p_partkey long, p_brand string, p_retailprice double, p_size int"
        )
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    query = (
        skyline_stream(stream)
        .writeStream.format("memory")
        .queryName("skyline_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_sky"))
        .start()
    )
    try:
        query.processAllAvailable()
        part.where("p_partkey % 2 = 0").toPandas().pipe(
            lambda pdf: spark.createDataFrame(pdf)
        ).coalesce(1).write.parquet(str(src / "batch_b"), mode="overwrite")
        query.processAllAvailable()
        rows = spark.sql(
            """SELECT * FROM (
                 SELECT *, max(n_seen) OVER (PARTITION BY bucket) AS mx
                 FROM skyline_test) WHERE n_seen = mx"""
        ).collect()
    finally:
        query.stop()

    # fold local bucket frontiers through one global pass (the batch
    # operator's carry step) — reusing the kernel keeps the reference
    # independent of Spark plan shapes
    merged: dict = {}
    for r in rows:
        for _ in range(r["n_ties"]):
            frontier_insert(merged, r["price"], r["size"])
    got = {k: v for k, v in merged.items()}

    batch = {}
    for r in part_skyline(part).collect():
        k = (r["p_retailprice"], r["p_size"])
        batch[k] = batch.get(k, 0) + 1
    assert got == batch
    assert len(got) > 0


def test_heavy_hitters_state_kernel_multichunk_order(spark, tmp_path):
    """Regression pin for the per-chunk-sort bug class (the scd2.py
    contract): with arrow.maxRecordsPerBatch forced to 16, one
    micro-batch delivers each shard's rows as MANY Arrow chunks in
    arbitrary order — the kernel must concatenate before sorting, or
    the eviction history diverges from the batch twin's globally
    sorted replay."""
    from forest_open_data_pipelines_spark.operators.sketches import (
        spacesaving_topk,
    )
    from forest_open_data_pipelines_spark.sources import load_table
    from forest_open_data_pipelines_spark.streaming.heavy_hitters import (
        heavy_hitters_stream,
    )

    from tests.test_operators import _synthetic_skewed_events

    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf_key, "10000")
    spark.conf.set(conf_key, "16")
    try:
        # the eviction-saturated synthetic stream: ~14 distinct users
        # per shard > k=8, so eviction fires and ORDER MATTERS — the
        # catalog events table at this SF has <k users per shard and
        # would pass even with the per-chunk-sort bug (verified: the
        # broken kernel fails THIS test and passes the sf0.001 one)
        ev = _synthetic_skewed_events(spark).select(
            "event_id", "ts", "user_id"
        )
        src = tmp_path / "hh_chunk_src"
        src.mkdir()
        # write DESCENDING by ts so any chunk-local sort that skips
        # the concat visibly diverges from the global order
        ev.orderBy(F.desc("ts"), F.desc("event_id")).toPandas().pipe(
            lambda pdf: spark.createDataFrame(pdf)
        ).coalesce(1).write.parquet(str(src / "batch_a"), mode="overwrite")
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, user_id long")
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        query = (
            heavy_hitters_stream(stream)
            .writeStream.format("memory")
            .queryName("hh_chunk_test")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_hh_chunk"))
            .start()
        )
        try:
            query.processAllAvailable()
            got = {
                (r["shard"], r["user_id"]): (r["est_count"], r["max_error"])
                for r in spark.sql("SELECT * FROM hh_chunk_test").collect()
            }
        finally:
            query.stop()
        batch = {
            (r["shard"], r["user_id"]): (r["est_count"], r["max_error"])
            for r in spacesaving_topk(ev).collect()
        }
        assert got == batch
        assert len(got) > 0
        assert any(v[1] > 0 for v in got.values())  # evictions fired
    finally:
        spark.conf.set(conf_key, prev)
