"""Event sessionization and windowed aggregation (batch side).

The reference's freshness watcher reasons about inter-observation gaps
(``freshness/watch.py``, ``classifier.py``); sessionization is the same
gap logic promoted to a first-class operator, and the tumbling-window
aggregation is the batch twin of the Structured Streaming job in
``streaming/windowed.py`` (identical semantics, verified against the
same oracle).

Scale: one shuffle on user_id, windows within partitions, aggregate
down — no global ordering of raw events anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from forest_open_data_pipelines_spark.functions.columns import micro_div, money, ratio, scaled_round
from forest_open_data_pipelines_spark.runtime import persist

SESSION_GAP_MINUTES = 30


def events_sessionize(events: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES) -> DataFrame:
    """Per-user 30-min-gap sessions: session bounds, event count, value sum."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    with_flag = events.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) > gap_us, 1
        )
        .otherwise(0)
        .alias("is_new_session"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sessions = with_flag.select(
        "user_id",
        "ts",
        "value",
        F.sum("is_new_session").over(w_cum).alias("session_seq"),
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            money(F.sum("value")).alias("total_value"),
            # scale-then-round: micros/60 hits exact N.5 doubles at the
            # 6-dp boundary (both engines round those identically),
            # where round(micros/6e7, 6) splits between Spark's
            # decimal-string HALF_UP and DuckDB's binary round
            # (caught by the sf0.1 sweep: 2 boundary sessions)
            (
                F.round(
                    (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                    / F.lit(60.0),
                    0,
                )
                / F.lit(1000000.0)
            ).alias("duration_minutes"),
        )
        .orderBy("user_id", "session_seq")
    )


def events_windowed(events: DataFrame) -> DataFrame:
    """Tumbling 1-day windows per event_type (batch parity query for
    the streaming job — same grouping the streaming test asserts)."""
    return (
        events.groupBy(
            F.window("ts", "1 day").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n_events"), money(F.sum("value")).alias("total_value"))
        .select(
            F.col("w.start").cast("date").alias("day"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("day", "event_type")
    )


def event_funnel(events: DataFrame) -> DataFrame:
    """Ordered conversion funnel view → click → purchase per user:
    a user advances a step only with an event strictly AFTER the
    previous step's earliest qualifying event (min-timestamp chain,
    the standard funnel semantics).

    One shuffle: all three step timestamps are windowed mins over the
    same user partition (Catalyst stacks the three Window operators on
    a single exchange), then a global 3-row aggregate. Output one row
    per step with user counts and conversion from the previous step.
    """
    w = Window.partitionBy("user_id")
    is_ = lambda t: F.col("event_type") == t  # noqa: E731
    e = (
        events.withColumn(
            "tv", F.min(F.when(is_("view"), F.col("ts"))).over(w)
        )
        .withColumn(
            "tc",
            F.min(
                F.when(is_("click") & (F.col("ts") > F.col("tv")), F.col("ts"))
            ).over(w),
        )
        .withColumn(
            "tp",
            F.min(
                F.when(
                    is_("purchase") & (F.col("ts") > F.col("tc")), F.col("ts")
                )
            ).over(w),
        )
    )
    per_user = e.groupBy("user_id").agg(
        F.max("tv").alias("tv"), F.max("tc").alias("tc"), F.max("tp").alias("tp")
    )
    totals = per_user.agg(
        F.count("*").alias("n_users"),
        F.count("tv").alias("n_view"),
        F.count("tc").alias("n_click"),
        F.count("tp").alias("n_purchase"),
    )
    # scale-then-round inside the SQL string too (columns.ratio
    # rationale — SQL round(x, 6) is the same decimal-string HALF_UP
    # the migration removed everywhere else)
    r6 = "round({x} * 1000000) / 1000000"
    stacked = totals.selectExpr(
        "stack(3, "
        f"1, 'view', n_view, {r6.format(x='n_view / n_users')}, "
        "2, 'click_after_view', n_click, "
        f"{r6.format(x='n_click / nullif(n_view, 0)')}, "
        "3, 'purchase_after_click', n_purchase, "
        f"{r6.format(x='n_purchase / nullif(n_click, 0)')}"
        ") AS (step, step_name, users, conversion)"
    )
    return stacked.orderBy("step")


def user_retention_cohorts(events: DataFrame) -> DataFrame:
    """Weekly retention matrix: users cohorted by first-seen week,
    counted as active in each subsequent week-offset, with retention
    as a share of cohort size — the standard growth-analytics rollup.

    Week arithmetic is epoch-based ((ts_epoch − cohort_epoch) ÷ 604800
    floor) so both engines derive identical offsets regardless of
    their date_trunc conventions; the cohort week itself is the
    ISO-Monday date_trunc both engines share.

    Scale: one shuffle to get per-user first-seen (min over user),
    then a distinct + count per (cohort, offset) — all map-side
    combinable; the matrix is bounded by weeks².
    """
    w = Window.partitionBy("user_id")
    e = events.withColumn("cohort_ts", F.min(F.date_trunc("week", "ts")).over(w))
    off = (
        (F.unix_timestamp(F.date_trunc("week", "ts")) - F.unix_timestamp("cohort_ts"))
        / 604800
    ).cast("int")
    active = (
        e.select(
            F.col("cohort_ts").cast("date").alias("cohort_week"),
            off.alias("week_offset"),
            "user_id",
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active"))
    )
    sizes = (
        active.where(F.col("week_offset") == 0)
        .select("cohort_week", F.col("n_active").alias("cohort_size"))
    )
    return (
        active.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            ratio(F.col("n_active") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


def session_duration_stats(events: DataFrame) -> DataFrame:
    """One-row session-length distribution off the sessionizer:
    session count, average/median/p90 duration (minutes), events per
    session, and the share of single-event sessions.

    All aggregates run over EXACT integers (microsecond durations,
    event counts): the averages are single int-sum/int-count
    divisions and the percentiles interpolate over the same sorted
    integer sequence on both engines, so no summation-order rounding
    boundary exists (the embedding_label_stats lesson applied at
    design time).
    """
    s = events_sessionize(events)
    dur_us = F.unix_micros("session_end") - F.unix_micros("session_start")
    d = s.select(dur_us.alias("dur_us"), "n_events")
    return d.agg(
        F.count("*").alias("n_sessions"),
        (F.round(F.sum("dur_us") / (F.count("*") * 60.0), 0) / 1000000.0).alias(
            "avg_minutes"
        ),
        (F.round(F.expr("percentile(dur_us, 0.5)") / 60.0, 0) / 1000000.0).alias(
            "p50_minutes"
        ),
        (F.round(F.expr("percentile(dur_us, 0.9)") / 60.0, 0) / 1000000.0).alias(
            "p90_minutes"
        ),
        ratio(F.sum("n_events") / F.count("*")).alias("avg_events"),
        F.max("n_events").alias("max_events"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            / F.count("*"),
            6,
        ).alias("singleton_share"),
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """Event-type transition matrix — the clickstream Markov view
    (which event follows which, per user, time-ordered): counts of
    (prev_type → type) bigrams plus the per-source transition
    probability in exact 6-dp integer micro-units (DIV + half-up
    remainder, the dedup_winnowing convention — no float boundary).

    Ordering is (ts, event_id), the same deterministic tie-break as
    events_sessionize, so the bigram stream is engine-independent.

    Scale: one user-keyed exchange for the lag window (the same
    partitioning every other per-user operator here shuffles on), then
    a map-side-combinable aggregate onto the bounded |types|² key
    space; the per-source totals window runs over that tiny aggregate,
    never the event stream.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bigrams = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    tot_w = Window.partitionBy("prev_type")
    with_tot = bigrams.withColumn(
        "total_from_prev", F.sum("n_transitions").over(tot_w)
    )
    p_micro = micro_div("n_transitions", "total_from_prev")
    return with_tot.select(
        "prev_type",
        "event_type",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        F.col("total_from_prev").cast("long").alias("total_from_prev"),
        p_micro.cast("long").alias("p_micro"),
    ).orderBy("prev_type", "event_type")


def spine_fill(counts: DataFrame) -> DataFrame:
    """Per-type date-spine fill over an (event_type, day, n_events)
    frame: interior zero days materialize as n=0 rows (the outage case
    the anomaly scorer must see). Shared by the batch report and the
    streaming watch's accumulated counts cache."""
    spine = (
        counts.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("event_type", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    filled = spine.join(
        counts.where(F.col("day").isNotNull()), ["event_type", "day"], "left"
    ).select(
        "event_type",
        "day",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
    )
    # NULL-day counts (bad/absent timestamps) pass through untouched —
    # the spine can neither bound nor join them, but dropping them
    # would hide a misbehaving feed's volume (review finding); the
    # scorer routes them around the windows as unscored rows.
    return filled.unionByName(
        counts.where(F.col("day").isNull()).select(
            "event_type", "day", F.col("n_events").cast("long").alias("n_events")
        )
    )


def daily_event_counts(events: DataFrame) -> DataFrame:
    """(event_type, day, n_events) with the per-type date spine. The
    raw counts persist before the spine: three plan branches (bounds
    aggregate, fill join, NULL-day passthrough) would otherwise each
    re-scan the event fact (audit showed 4 scans; the counts frame is
    types×days rows)."""
    return spine_fill(
        persist(
            events.groupBy("event_type", F.to_date("ts").alias("day")).agg(
                F.count(F.lit(1)).alias("n_events")
            )
        )
    )


def anomaly_scores(
    daily: DataFrame,
    window_days: int = 28,
    min_obs: int = 8,
    z_threshold: float = 3.0,
) -> DataFrame:
    """The scoring tail of ``daily_anomaly_report`` over an
    (event_type, day, n_events) frame — also runs per micro-batch in
    the streaming watch against the accumulated counts cache."""
    # NULL-day rows stay out of the window ordering entirely: Spark
    # sorts NULLS FIRST and DuckDB NULLS LAST by default, so letting
    # them into the frame would silently shift the first trailing
    # windows on one engine only. They re-enter below as unscored rows.
    null_days = daily.where(F.col("day").isNull()).select(
        "event_type",
        "day",
        F.col("n_events").cast("long").alias("n_events"),
        F.lit(0).cast("long").alias("n_window"),
        F.lit(None).cast("double").alias("z"),
        F.lit(False).alias("is_anomaly"),
    )
    daily = daily.where(F.col("day").isNotNull())
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-window_days, -1)
    )
    s1 = F.sum("n_events").over(w)
    s2 = F.sum(F.col("n_events") * F.col("n_events")).over(w)
    cnt = F.count("n_events").over(w)
    stats = daily.select(
        "event_type",
        "day",
        "n_events",
        cnt.cast("long").alias("n_window"),
        s1.cast("double").alias("s1d"),
        s2.cast("double").alias("s2d"),
    )
    # nullif guards on every divisor: the guarded when() branches are
    # NOT enough under ANSI — whole-stage codegen CSE hoists the shared
    # mean/variance subexpressions out of the conditionals and
    # evaluates them on the cnt 0/1 rows too (found by the 3-SF parity
    # run; NULL propagates to a NULL z / false flag instead)
    cntd = F.col("n_window").cast("double")
    mean = F.col("s1d") / F.nullif(cntd, F.lit(0.0))
    variance = (
        F.col("s2d") - F.col("s1d") * F.col("s1d") / F.nullif(cntd, F.lit(0.0))
    ) / F.nullif(cntd - 1, F.lit(0.0))
    z_raw = (F.col("n_events").cast("double") - mean) / F.sqrt(variance)
    z = F.when(
        (F.col("n_window") >= min_obs) & (variance > 0), scaled_round(z_raw, 6)
    )
    # zero-variance branch: a constant baseline makes z undefined, but
    # a count that MOVES off a flat history is the most obvious anomaly
    # of all (low-volume telemetry is often exactly-constant) — flag it
    # explicitly. mean is exact there (equal ints divide exactly in
    # double), so the inequality cannot straddle a bit.
    flat_jump = F.coalesce(
        (F.col("n_window") >= min_obs)
        & (variance == 0)
        & (F.col("n_events").cast("double") != mean),
        F.lit(False),
    )
    scored = stats.select(
        "event_type",
        "day",
        "n_events",
        "n_window",
        z.alias("z"),
        (F.coalesce(F.abs(z) >= z_threshold, F.lit(False)) | flat_jump).alias(
            "is_anomaly"
        ),
    )
    return scored.unionByName(null_days).orderBy("event_type", "day")


def daily_anomaly_report(
    events: DataFrame,
    window_days: int = 28,
    min_obs: int = 8,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Telemetry anomaly detection: per (event_type, day), the event
    count's z-score against the TRAILING window of that type's prior
    daily counts — the alert a pipeline team pages on when one event
    type's volume jumps (a replayed feed, a broken producer) or
    collapses (an upstream outage; the date spine in
    ``daily_event_counts`` materializes zero days so outages score).

    Cross-engine float discipline: the trailing sums s1=Σn and s2=Σn²
    are EXACT LONGS (daily counts are ints), cast to double once, and
    mean/variance/z are then the textually identical double formula on
    both engines (IEEE ops in the same order ⇒ identical bits); the
    final z rounds via scale-then-round at 6 dp (functions.columns
    scaled_round ↔ DuckDB native round — the closed HALF_UP class).
    z is NULL below ``min_obs`` trailing observations or at zero
    variance (flat-baseline JUMPS flag through an exact-compare
    branch); is_anomaly compares the ROUNDED z so the boolean can't
    straddle a bit.

    Scale: one shuffle to (event_type, day) daily counts (map-side
    combine), then windows over the per-type daily series — thousands
    of rows per type regardless of fact size, so the window stage is
    metadata-weight at 100 TB.
    """
    return anomaly_scores(
        daily_event_counts(events), window_days, min_obs, z_threshold
    )


def scd2_user_state_history(
    events: DataFrame, state: Column | None = None
) -> DataFrame:
    """Type-2 slowly-changing-dimension history built from a change
    log (Kimball SCD2, public methodology): collapse each user's
    event stream into maximal runs of a constant ``event_type`` and
    emit one validity interval per run — ``valid_from`` (first event
    of the run), ``valid_to`` (start of the NEXT run, NULL while
    current), ``n_events`` in the run, and ``is_current``. This is
    the warehouse shape a CDC pipeline materializes so point-in-time
    joins become a plain ``BETWEEN valid_from AND valid_to``.

    Determinism: run boundaries come from a null-safe inequality vs
    ``lag(event_type)`` ordered by (ts, event_id) — the event_id
    tie-break makes the run numbering engine-independent even for
    equal timestamps, and the oracle's ``IS DISTINCT FROM`` mirrors
    the null-safe compare exactly.

    Scale: ONE shuffle of the fact table on user_id; the change flag,
    running version number, and the (user_id, version) aggregation
    all reuse that partitioning (hash(user_id) already clusters
    (user_id, version), so Catalyst inserts no second exchange — plan
    guard in tests). The trailing lead() window runs over the
    collapsed runs frame, which is versions-not-events sized.

    ``state`` overrides the tracked attribute (any Column over the
    events row; default ``event_type``) — the output keeps its schema,
    with ``state`` holding the override's values.
    """
    state = F.col("event_type") if state is None else state
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # The first row of each partition is unconditionally a new run:
    # lag(lit(1)) is NULL only there, never mid-partition. Without the
    # explicit branch, a NULL first state would eqNullSafe-match the
    # NULL lag and number the first run 0 — breaking the documented
    # dense-from-1 versioning and batch/stream parity (streaming
    # scd2's version==0 sentinel always numbers the first run 1).
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        state.alias("event_type"),
        F.when(F.lag(F.lit(1)).over(w).isNull(), 1)
        .when(state.eqNullSafe(F.lag(state).over(w)), 0)
        .otherwise(1)
        .alias("chg"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    numbered = flagged.select(
        "user_id",
        "ts",
        F.col("event_type").alias("state"),
        F.sum("chg").over(w_cum).alias("version"),
    )
    runs = numbered.groupBy("user_id", "version", "state").agg(
        F.min("ts").alias("valid_from"),
        F.max("ts").alias("last_seen"),
        F.count("*").alias("n_events"),
    )
    w_next = Window.partitionBy("user_id").orderBy("version")
    return (
        runs.select(
            "user_id",
            "version",
            "state",
            "valid_from",
            "last_seen",
            "n_events",
            F.lead("valid_from").over(w_next).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("user_id", "version")
    )


def session_interval_join(
    events: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES
) -> DataFrame:
    """Point-in-interval enrichment: join the raw event stream back
    onto the session intervals ``events_sessionize`` emits and compute
    the per-session dimensions the interval build dropped (distinct
    event types, error count). This is the canonical SCALABLE interval
    join: an EQUI key (user_id) carries the shuffle and the range
    predicate rides along as a residual filter inside the matched
    partition — never a BroadcastNestedLoop/cartesian over the fact
    table (plan guard in tests). Per-user session counts are bounded,
    so the residual fan-out per fact row is small by construction.

    Sessions of one user are disjoint by the gap definition, so every
    event lands in exactly one interval and ``n_events`` must equal
    the count sessionize itself computed — asserted in tests as the
    join's self-consistency invariant.
    """
    intervals = events_sessionize(events, gap_minutes).select(
        F.col("user_id").alias("s_user"),
        "session_seq",
        "session_start",
        "session_end",
    )
    facts = events.select("user_id", "ts", "event_type", "value")
    joined = facts.join(
        intervals,
        (F.col("user_id") == F.col("s_user"))
        & (F.col("ts") >= F.col("session_start"))
        & (F.col("ts") <= F.col("session_end")),
    )
    return (
        joined.groupBy(
            "user_id", "session_seq", "session_start", "session_end"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_event_types"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("n_errors"),
            money(F.sum("value")).alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


def purchase_state_attribution(events: DataFrame) -> DataFrame:
    """Point-in-time SCD2 consumption — the join the type-2 history
    exists FOR: attribute each purchase to the dimension state valid
    at its timestamp. The tracked dimension is the payload bucket
    (``props`` ``k`` value div 32 — a stand-in for any
    slowly-changing user attribute: plan, segment, region), its
    history built by ``scd2_user_state_history`` with the ``state``
    override; purchases then join on the user_id EQUI key with the
    OPEN-ENDED validity residual ``ts ≥ valid_from AND (valid_to IS
    NULL OR ts < valid_to)`` — the current run's NULL ``valid_to``
    means "still valid", which a plain BETWEEN would silently drop.
    Every purchase matches exactly ONE interval (the runs partition
    [first event, ∞) per user and a purchase is itself an event), so
    the join neither duplicates nor loses facts — asserted in tests.
    (Timestamp-granularity caveat, inherent to point-in-time joins:
    two events sharing one timestamp across a state change make the
    boundary instant ambiguous — the join resolves it to the NEW run
    on both engines identically.)

    Scale: the history build is the one-fact-exchange scd2 plan; the
    consumption join shuffles facts by user_id with the validity
    check as residual (the session_interval_join shape, open-ended).
    """
    k_bucket = F.floor(
        F.regexp_extract(F.col("props"), '"k":\\s*([0-9]+)', 1).cast("int")
        / F.lit(32)
    ).cast("int")
    hist = scd2_user_state_history(events, state=k_bucket).select(
        F.col("user_id").alias("h_user"),
        F.col("version").alias("state_version"),
        F.col("state").alias("k_bucket"),
        "valid_from",
        "valid_to",
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    return (
        purchases.join(
            hist,
            (F.col("user_id") == F.col("h_user"))
            & (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        )
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
            "value",
            "k_bucket",
            "state_version",
            F.col("valid_from").alias("state_since"),
        )
        .orderBy("user_id", "purchase_ts", "purchase_event_id")
    )


def session_concurrency(events: DataFrame) -> DataFrame:
    """Per-day peak session concurrency via a DISTRIBUTED sweep line.

    The interval-stabbing question ("how many sessions were open at
    once?") needs a prefix sum over the globally ordered +1/-1 delta
    stream — the one aggregation a naive window (one partition, whole
    data) cannot survive at 100 TB.  Decomposition used here:

    1. sessionize (the existing per-user shuffle), then EXPLODE each
       session into (start, +1) / (end, -1) — one pass, no
       union-of-two-subtrees double scan;
    2. within-HOUR running sums — Window partitioned by the hour
       bucket, so partition width is bounded by events/hour, never the
       corpus (sub-bucket finer at higher volume, same shape);
    3. the carry across buckets is a prefix sum over BUCKET TOTALS —
       a bucket-count-sized frame where the single-partition window is
       free;
    4. concurrency at any delta point = bucket carry + within-bucket
       running; per-day peak folds buckets, GREATEST with the
       day-start carry covers days whose max precedes their first
       delta (all-closings days).

    Tie contract (mirrored in the oracle): at equal instants +1 sorts
    before -1, so a session starting exactly when another ends counts
    as concurrent, and single-event (zero-length) sessions still
    register.  Identical (ts, delta) duplicates permute freely —
    cumulative values over a run of equal deltas are
    permutation-invariant, so the peak is well-defined.

    Row contract (r11 ADVICE, documented): output rows are DAYS WITH
    DELTAS only.  A multi-day session's middle days — covered but with
    no start/end event — emit no row (their peak equals the carried
    open count, which the next delta-bearing day's
    ``open_at_day_start`` reports).  Consumers wanting full-day
    coverage should left-join a calendar spine against ``day`` and
    coalesce peak to the carried open count; the catalog keeps the
    delta-days contract because the oracle mirrors it and a spine adds
    a second scan-width to every run.
    """
    sessions = events_sessionize(events).select("session_start", "session_end")
    deltas = sessions.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("session_start").alias("ts"),
                    F.lit(1).cast("long").alias("delta"),
                ),
                F.struct(
                    F.col("session_end").alias("ts"),
                    F.lit(-1).cast("long").alias("delta"),
                ),
            )
        ).alias("d")
    ).select(
        F.col("d.ts").alias("ts"),
        F.col("d.delta").alias("delta"),
        F.date_trunc("hour", "d.ts").alias("bucket"),
    )

    w_bucket = (
        Window.partitionBy("bucket")
        .orderBy(F.col("ts").asc(), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = deltas.withColumn("running", F.sum("delta").over(w_bucket))

    bucket_stats = running.groupBy("bucket").agg(
        F.sum("delta").alias("bucket_total"),
        F.max("running").alias("max_within"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("n_started"),
        F.sum(F.when(F.col("delta") == -1, 1).otherwise(0)).alias("n_ended"),
    )
    # bucket-level prefix sum: frame = number of hours, not rows
    w_carry = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carried = bucket_stats.select(
        F.col("bucket").cast("date").alias("day"),
        "bucket",
        "n_started",
        "n_ended",
        "bucket_total",
        "max_within",
        F.coalesce(F.sum("bucket_total").over(w_carry), F.lit(0)).alias("carry"),
    )
    return (
        carried.groupBy("day")
        .agg(
            F.min_by("carry", "bucket").alias("open_at_day_start"),
            F.sum("n_started").alias("n_sessions_started"),
            F.sum("n_ended").alias("n_sessions_ended"),
            F.greatest(
                F.min_by("carry", "bucket"),
                F.max(F.col("carry") + F.col("max_within")),
            ).alias("peak_concurrency"),
        )
        .orderBy("day")
    )


CUSUM_THRESHOLD_MEANS = 2


def _cusum_reflect(dev, dev_col, out_col, alarm_expr):
    """Shared reflection-identity kernel of the two batch CUSUM
    operators: S_t = P_t − min(0, min-prefix P) per event_type day
    series (running sum + running min, two bounded windows), with the
    caller-supplied statistic name and alarm predicate."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    mins = dev.withColumn("p", F.sum(dev_col).over(w)).withColumn(
        "m", F.min("p").over(w)
    )
    s = F.col("p") - F.least(F.lit(0), F.col("m"))
    return mins.select(
        "event_type",
        "day",
        "n_events",
        dev_col,
        s.alias(out_col),
        alarm_expr(s).alias("alarm"),
    ).orderBy("event_type", "day")


def cusum_change_points(
    events: DataFrame, threshold_means: int = CUSUM_THRESHOLD_MEANS
) -> DataFrame:
    """One-sided CUSUM level-shift detection per event-type day series
    (Page 1954, the sequential-detection class) in EXACT integer
    arithmetic.

    The textbook recursion ``S_t = max(0, S_{t-1} + x_t)`` is
    sequential; the distributed form used here is the reflection
    identity ``S_t = P_t − min(0, min_{j≤t} P_j)`` — a running sum
    plus a running min, two bounded per-series windows (partition
    width = days per series, never the corpus; the per-day collapse
    before them is the map-side-combinable aggregate).

    Float z-scores would drift across engines (parallel summation
    order), so the deviation is SCALED BY THE SERIES LENGTH instead:
    ``x_t = n_t·cnt − total`` (all BIGINT — exact in both engines;
    n_t·cnt stays far under 2⁶³ at any real scale).  ``cusum_scaled``
    is therefore (cumulative excess over the series mean) × cnt, and
    the alarm fires when the cumulative excess exceeds
    ``threshold_means`` series means: ``S > threshold_means·total``.
    """
    daily = daily_event_counts(events).where(F.col("day").isNotNull())
    stats = daily.groupBy("event_type").agg(
        F.sum("n_events").alias("total"), F.count(F.lit(1)).alias("cnt")
    )
    dev = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        "n_events",
        (F.col("n_events") * F.col("cnt") - F.col("total")).alias("dev_scaled"),
        "total",
    )
    return _cusum_reflect(
        dev,
        "dev_scaled",
        "cusum_scaled",
        lambda s: s > F.lit(threshold_means) * F.col("total"),
    )


def cusum_fixed_target(
    events: DataFrame, target_per_day: int, threshold: int
) -> DataFrame:
    """Fixed-reference CUSUM (the production monitoring form: the
    target rate is configured, not estimated from the window) — the
    batch parity twin of ``streaming.cusum.cusum_monitor_stream``.
    Same reflection identity as ``cusum_change_points``; deviations
    are plain ``n_t − target`` longs (no scaling needed when the
    target is given)."""
    daily = daily_event_counts(events).where(F.col("day").isNotNull())
    dev = daily.select(
        "event_type",
        "day",
        "n_events",
        (F.col("n_events") - F.lit(target_per_day)).alias("dev"),
    )
    return _cusum_reflect(
        dev, "dev", "cusum", lambda s: s > F.lit(threshold)
    ).drop("dev")


def overlapping_session_pairs(events: DataFrame) -> DataFrame:
    """Interval-OVERLAP join (co-presence): for every pair of USERS,
    how many of their sessions overlapped in time and for how long.

    The interval×interval class (vs the point-in-interval
    ``session_interval_join`` and the as-of/range joins): the naive
    form is a quadratic inequality self-join.  Spark-first shape —
    each session explodes to the HOUR buckets it covers (fan-out =
    session length in hours, bounded by the 30-min-gap construction),
    pairs meet on the bucket EQUI key, and the classic
    once-per-pair rule deduplicates multi-bucket co-spans for free:
    a pair reports only in the bucket containing the overlap START
    (``date_trunc(hour, greatest(a.s, b.s))``), so no DISTINCT over
    the pair blow-up is ever materialized.  At 100 TB the grid is the
    partitioner: bucket width trades fan-out against per-bucket pair
    density exactly like the dedup bands.

    Intervals are CLOSED (the sessionize contract: bounds are event
    instants); touching sessions pair with overlap 0.  The oracle is
    the quadratic inequality join (DuckDB IEJoin), so the hash match
    proves the grid + once-per-pair reformulation.

    The bucketed interval frame is PERSISTED (MEMORY_AND_DISK, the
    part_affinity precedent): both self-join sides consume it, and
    without the pin each side re-runs the sessionize shuffle — a
    second full events scan (was events×2 in the plan audit).
    """
    iv = events_sessionize(events).select(
        "user_id",
        F.col("session_start").alias("s"),
        F.col("session_end").alias("e"),
    )
    buckets = persist(
        iv.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.date_trunc("hour", "s"),
                    F.date_trunc("hour", "e"),
                    F.expr("interval 1 hour"),
                )
            ),
        )
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.user_id") < F.col("b.user_id"))
        & (F.col("a.s") <= F.col("b.e"))
        & (F.col("b.s") <= F.col("a.e"))
        & (
            F.col("a.bucket")
            == F.date_trunc("hour", F.greatest(F.col("a.s"), F.col("b.s")))
        ),
    ).select(
        F.col("a.user_id").alias("user_a"),
        F.col("b.user_id").alias("user_b"),
        (
            F.unix_micros(F.least(F.col("a.e"), F.col("b.e")))
            - F.unix_micros(F.greatest(F.col("a.s"), F.col("b.s")))
        ).alias("overlap_us"),
    )
    return (
        pairs.groupBy("user_a", "user_b")
        .agg(
            F.count(F.lit(1)).alias("n_overlaps"),
            # scale-then-round minutes (the sessionize convention)
            (
                F.round(F.sum("overlap_us") / F.lit(60.0), 0)
                / F.lit(1000000.0)
            ).alias("overlap_minutes"),
        )
        .orderBy("user_a", "user_b")
    )


CUPED_SPLIT_DAY = "2024-01-16"


def cuped_ab_metrics(
    events: DataFrame, split_day: str = CUPED_SPLIT_DAY
) -> DataFrame:
    """A/B experiment readout with CUPED variance reduction (Deng et
    al. 2013, "Improving the Sensitivity of Online Controlled
    Experiments by Utilizing Pre-Experiment Data", WSDM — public
    methodology).

    Arms are the deterministic ``user_id % 2`` split; x is the
    PRE-period per-user value sum (ts < split_day), y the post-period
    sum; theta = cov(x, y)/var(x) pooled across arms, and the
    adjusted metric is mean(y − theta·(x − mean_x)) per arm.

    Cross-engine determinism: per-user sums collapse to exact CENTS
    (scale-then-round, the money convention), every pooled moment
    (Σx, Σy, Σx², Σxy) is an exact BIGINT aggregate of those cents,
    and theta / the adjusted means are SCALAR double formulas over
    the exact sums — the daily_anomaly_report precedent: cast once,
    textually identical on both engines, one 6-dp round at the end.
    The arm means never average per-user floats (order-dependent);
    they fold the same exact arm-level sums:
    mean_y_adj = (Σy_a − theta·(Σx_a − n_a·Σx/n)) / n_a, in cents →
    /100 at the end.

    Scale: one events scan, one shuffle to per-user cents (frame
    persisted — pooled moments and arm sums both consume it), a 2-row
    arm aggregate joined to a 1-row pooled-moment broadcast.
    """
    per_user = events.groupBy("user_id").agg(
        F.round(
            F.sum(
                F.when(
                    F.to_date("ts") < F.lit(split_day).cast("date"),
                    F.col("value"),
                ).otherwise(F.lit(0.0))
            )
            * F.lit(100.0),
            0,
        )
        .cast("long")
        .alias("x_cents"),
        F.round(
            F.sum(
                F.when(
                    F.to_date("ts") >= F.lit(split_day).cast("date"),
                    F.col("value"),
                ).otherwise(F.lit(0.0))
            )
            * F.lit(100.0),
            0,
        )
        .cast("long")
        .alias("y_cents"),
    )
    per_user = persist(per_user)
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_cents").alias("sx"),
        F.sum("y_cents").alias("sy"),
        F.sum(F.col("x_cents") * F.col("x_cents")).alias("sxx"),
        F.sum(F.col("x_cents") * F.col("y_cents")).alias("sxy"),
    )
    arms = per_user.groupBy(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("arm")
    ).agg(
        F.count(F.lit(1)).alias("n_arm"),
        F.sum("x_cents").alias("sx_arm"),
        F.sum("y_cents").alias("sy_arm"),
    )
    j = arms.join(F.broadcast(pooled))
    theta = F.when(
        (
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        != F.lit(0.0),
        (
            F.col("n").cast("double") * F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double")
        )
        / (
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    mean_y = (
        F.col("sy_arm").cast("double")
        / F.col("n_arm").cast("double")
        / F.lit(100.0)
    )
    mean_y_adj = (
        (
            F.col("sy_arm").cast("double")
            - theta
            * (
                F.col("sx_arm").cast("double")
                - F.col("n_arm").cast("double")
                * F.col("sx").cast("double")
                / F.col("n").cast("double")
            )
        )
        / F.col("n_arm").cast("double")
        / F.lit(100.0)
    )
    r6 = lambda c: F.round(c * F.lit(1000000.0), 0) / F.lit(1000000.0)  # noqa: E731
    return j.select(
        "arm",
        "n_arm",
        r6(theta).alias("theta"),
        r6(mean_y).alias("mean_y"),
        r6(mean_y_adj).alias("mean_y_adj"),
    ).orderBy("arm")


KM_CENSOR_DAYS = 7


def survival_churn_curve(
    events: DataFrame, censor_days: int = KM_CENSOR_DAYS
) -> DataFrame:
    """Kaplan–Meier churn curve with right-censoring (Kaplan & Meier
    1958, public methodology) — the survival-analysis class.

    A user's event time is their LAST active day; users whose last
    activity falls within ``censor_days`` of the study horizon are
    right-CENSORED (still alive at cutoff, the KM case that separates
    this from a plain empirical CDF).  Per day: at-risk count, churn
    count, censored count, and the KM estimator
    S(t) = Π_{death days u ≤ t} (1 − d_u / n_u).

    Engine-exact evaluation: d/n are exact BIGINTs; the ordered
    product runs as exp(Σ ln(1 − d/n)) over the SAME day order on
    both engines — identical double-op sequences (the
    daily_anomaly_report precedent), one 6-dp round at the end; a
    day with d == n zeroes survival from that day on through an
    explicit prefix flag (ln(0) never evaluates).

    Scale: the heavy lifting is one shuffle to per-user last days;
    everything after runs on the DAY-level frame (≤ study length
    rows), where the single-partition windows are free.  The
    per-user and per-day frames PERSIST (each feeds two consumers —
    horizon+labels, totals+risk — that would otherwise re-run the
    fact aggregation; was events×4 in the plan audit).
    """
    last = persist(
        events.groupBy("user_id").agg(
            F.max(F.to_date("ts")).alias("last_day")
        )
    )
    horizon = last.agg(F.max("last_day").alias("h"))
    lab = last.join(F.broadcast(horizon)).select(
        "last_day",
        (
            F.col("last_day") > F.date_sub(F.col("h"), censor_days)
        ).alias("censored"),
    )
    per_day = persist(
        lab.groupBy("last_day").agg(
            F.sum(F.when(~F.col("censored"), 1).otherwise(0)).alias(
                "n_churned"
            ),
            F.sum(F.when(F.col("censored"), 1).otherwise(0)).alias(
                "n_censored"
            ),
        )
    )
    total = per_day.agg(
        F.sum(F.col("n_churned") + F.col("n_censored")).alias("n_total")
    )
    w_prior = Window.orderBy("last_day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("last_day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    risked = per_day.join(F.broadcast(total)).withColumn(
        "n_at_risk",
        F.col("n_total")
        - F.coalesce(
            F.sum(F.col("n_churned") + F.col("n_censored")).over(w_prior),
            F.lit(0),
        ),
    )
    contrib = F.when(
        (F.col("n_churned") > 0) & (F.col("n_churned") < F.col("n_at_risk")),
        F.log(
            F.lit(1.0)
            - F.col("n_churned").cast("double")
            / F.col("n_at_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    dead_end = F.max(
        (F.col("n_churned") == F.col("n_at_risk")).cast("int")
    ).over(w_cum)
    return (
        risked.withColumn("ln_s", F.sum(contrib).over(w_cum))
        .withColumn("hit_zero", dead_end)
        .select(
            F.col("last_day").alias("day"),
            "n_at_risk",
            "n_churned",
            "n_censored",
            F.when(F.col("hit_zero") == 1, F.lit(0.0))
            .otherwise(
                F.round(F.exp(F.col("ln_s")) * F.lit(1000000.0), 0)
                / F.lit(1000000.0)
            )
            .alias("survival"),
        )
        .orderBy("day")
    )


KM_TRUNC_BASE = "2024-01-01"
KM_TRUNC_MOD = 35


def km_lifetime_truncate(events: DataFrame) -> DataFrame:
    """Closed-form per-user lifetime truncation for the KM catalog
    entry (the c4_sentenceify precedent): the synthetic corpus keeps
    every user active through the horizon, so raw events produce a
    flat all-censored curve and the KM math never fires at any SF.
    Keeping only events with day ≤ base + (user_id mod 35) gives a
    deterministic churn spread — users with residue ≥ the study
    length stay fully active and exercise the CENSORING branch too.
    Restated verbatim in the oracle CTE."""
    return events.where(
        F.to_date("ts")
        <= F.date_add(
            F.lit(KM_TRUNC_BASE).cast("date"),
            F.pmod(F.col("user_id"), F.lit(KM_TRUNC_MOD)).cast("int"),
        )
    )


#: Split-conformal settings: seasonal-naive lag (weekly), last-week
#: test window, and the miscoverage level α = 1/5 kept as an exact
#: INTEGER fraction so the calibration rank k = ⌈(n+1)(1−α)⌉ is pure
#: integer arithmetic on every engine (a float 0.8 multiply can land
#: one ulp above an integer and shift ceil by one).
CONF_SEASON_LAG = 7
CONF_TEST_DAYS = 7
CONF_ALPHA_NUM = 1
CONF_ALPHA_DEN = 5


def conformal_forecast_intervals(events: DataFrame) -> DataFrame:
    """Split-conformal prediction intervals around a seasonal-naive
    daily forecast — distribution-free uncertainty quantification
    (Vovk et al. 2005; Lei et al. 2018, public methodology): per
    event_type, predict each day's total as the value one season
    (7 days) earlier, compute absolute residuals on a CALIBRATION
    window (predicted days before the last-week test split), take
    q̂ = the k-th smallest calibration residual with
    k = ⌈(n_cal+1)(1−α)⌉, and report [pred−q̂, pred+q̂] for every
    test day.  Finite-sample guarantee: P(covered) ≥ 1−α under
    exchangeability — no distributional assumption, which is why the
    interval is an ORDER STATISTIC and therefore exactly
    oracle-pairable.

    Exactness: daily totals are per-row MICRO-quantized longs summed
    exactly (order/partition-independent — the cuped exact-cents
    convention), so residuals, q̂, bounds, and the covered flag are
    pure int64 comparisons on both engines; k is integer arithmetic
    (α as an exact fraction); only the final presentation divides by
    10⁶.

    Scale: one map-side-combinable daily aggregate over the fact;
    everything after runs on ≤ types·days rows (lag window, one rank
    window over the ≤ n_cal calibration rows per type, broadcast-size
    q̂/coverage joins).
    """
    micro = F.round(F.col("value") * F.lit(1e6), 0).cast("long")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(micro).alias("actual_micro"))
    w = Window.partitionBy("event_type").orderBy("day")
    pred = daily.withColumn(
        "pred_micro", F.lag("actual_micro", CONF_SEASON_LAG).over(w)
    ).withColumn(
        "max_day", F.max("day").over(Window.partitionBy("event_type"))
    )
    scored = pred.where(F.col("pred_micro").isNotNull()).withColumn(
        "is_test",
        F.datediff(F.col("max_day"), F.col("day")) < CONF_TEST_DAYS,
    )
    cal = scored.where(~F.col("is_test")).withColumn(
        "r_micro", F.abs(F.col("actual_micro") - F.col("pred_micro"))
    )
    n_cal = cal.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_cal"))
    keep = CONF_ALPHA_DEN - CONF_ALPHA_NUM
    k = F.expr(
        f"((n_cal + 1) * {keep} + {CONF_ALPHA_DEN} - 1)"
        f" div {CONF_ALPHA_DEN}"
    )
    rw = Window.partitionBy("event_type").orderBy("r_micro", "day")
    qhat = (
        cal.withColumn("rn", F.row_number().over(rw))
        .join(n_cal, "event_type")
        .where(F.col("rn") == k)
        .select("event_type", F.col("r_micro").alias("q_micro"), "n_cal")
    )
    test = (
        scored.where(F.col("is_test"))
        .join(qhat, "event_type")
        .withColumn("lo_micro", F.col("pred_micro") - F.col("q_micro"))
        .withColumn("hi_micro", F.col("pred_micro") + F.col("q_micro"))
        .withColumn(
            "covered",
            (F.col("actual_micro") >= F.col("lo_micro"))
            & (F.col("actual_micro") <= F.col("hi_micro")),
        )
    )
    cov = test.groupBy(F.col("event_type").alias("e2")).agg(
        ratio(
            F.sum(F.when(F.col("covered"), 1).otherwise(0))
            / F.count(F.lit(1))
        ).alias("coverage_rate")
    )
    m = F.lit(1e6)
    return (
        test.join(cov, test["event_type"] == cov["e2"])
        .select(
            "event_type",
            "day",
            ratio(F.col("actual_micro") / m).alias("actual"),
            ratio(F.col("pred_micro") / m).alias("predicted"),
            ratio(F.col("q_micro") / m).alias("q_hat"),
            ratio(F.col("lo_micro") / m).alias("lo"),
            ratio(F.col("hi_micro") / m).alias("hi"),
            "n_cal",
            "covered",
            "coverage_rate",
        )
        .orderBy("event_type", "day")
    )


#: Markov next-event eval: train on all but the last week of per-user
#: transitions, score the last week (the conformal split convention).
MARKOV_TEST_DAYS = 7


def markov_next_event_eval(events: DataFrame) -> DataFrame:
    """First-order Markov next-event model with a temporal train/test
    split — the sequence-model evaluation shape (next-token prediction
    at event granularity): train add-one-smoothed transition
    probabilities P(next|cur) = (n(cur,next)+1)/(n(cur)+K) on
    transitions before the last-week split, predict argmax(count,
    then type ASC) per cur, and score the held-out week's transitions
    with top-1 ACCURACY and average LOG-LOSS (bits/transition).

    The transition stream is ``event_transitions``' deterministic
    per-user (ts, event_id)-ordered bigram convention; a transition
    belongs to the day of its SECOND event.  Unseen test pairs back
    off to the add-one floor 1/(n(cur)+K); an unseen cur scores 1/K
    and cannot be predicted (counted incorrect) — both branches
    mirrored in the oracle.  Log-probs are micro-bit integers per
    distinct PAIR (≤ K² model rows — the charlm idiom), so sums are
    exact longs.

    Scale: one user-keyed exchange for the lag window, then every
    aggregate lives on the bounded K² transition key space; the model
    and split-day frames are broadcast one-row/tiny joins.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bigrams = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("cur_type"),
            F.to_date("ts").alias("day"),
        )
        .where(F.col("cur_type").isNotNull())
        .select("cur_type", "next_type", "day")
    )

    bigrams = persist(bigrams)
    split = bigrams.agg(
        F.date_sub(F.max("day"), MARKOV_TEST_DAYS).alias("split_day")
    )
    with_split = bigrams.crossJoin(F.broadcast(split))
    train = with_split.where(F.col("day") <= F.col("split_day"))
    test = with_split.where(F.col("day") > F.col("split_day"))

    pairs = train.groupBy("cur_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    cur_tot = pairs.groupBy("cur_type").agg(F.sum("n_pair").alias("n_cur"))
    kk = train.agg(F.count_distinct("next_type").alias("k"))
    lp_pair = F.round(
        F.log2(
            (F.col("n_pair") + 1).cast("double")
            / (F.col("n_cur") + F.col("k"))
        )
        * F.lit(1e6),
        0,
    ).cast("long")
    model = (
        pairs.join(cur_tot, "cur_type")
        .crossJoin(F.broadcast(kk))
        .select("cur_type", "next_type", lp_pair.alias("lp_micro"))
    )
    pw = Window.partitionBy("cur_type").orderBy(
        F.desc("n_pair"), "next_type"
    )
    pred = (
        pairs.withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") == 1)
        .select("cur_type", F.col("next_type").alias("predicted_next"))
    )
    lp_unseen_pair = F.round(
        F.log2(F.lit(1.0) / (F.col("n_cur") + F.col("k"))) * F.lit(1e6), 0
    ).cast("long")
    scored = (
        test.join(model, ["cur_type", "next_type"], "left")
        .join(cur_tot.crossJoin(F.broadcast(kk)), "cur_type", "left")
        .crossJoin(F.broadcast(kk.select(F.col("k").alias("k_all"))))
        .join(pred, "cur_type", "left")
        .select(
            "cur_type",
            "next_type",
            F.coalesce(
                "lp_micro",
                lp_unseen_pair,
                F.round(
                    F.log2(F.lit(1.0) / F.col("k_all")) * F.lit(1e6), 0
                ).cast("long"),
            ).alias("lp"),
            F.coalesce(
                F.col("predicted_next") == F.col("next_type"), F.lit(False)
            ).alias("correct"),
        )
    )
    return (
        scored.groupBy("cur_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(F.when(F.col("correct"), 1).otherwise(0)).alias(
                "n_correct"
            ),
            ratio(
                F.sum(F.when(F.col("correct"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("accuracy"),
            ratio(-F.sum("lp") / (F.count(F.lit(1)) * F.lit(1e6))).alias(
                "avg_bits"
            ),
        )
        .join(pred, "cur_type", "left")
        .select(
            "cur_type",
            "predicted_next",
            "n_test",
            "n_correct",
            "accuracy",
            "avg_bits",
        )
        .orderBy("cur_type")
    )
