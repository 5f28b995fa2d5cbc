"""Bounded-memory frequency sketches — SpaceSaving heavy hitters.

No reference counterpart (the reference has no streaming/sketch layer);
this is part of the large-scale training-data mandate: exact top-k over
100 TB of events requires a full shuffle of every distinct key, while a
sharded SpaceSaving summary (Metwally, Agrawal, El Abbadi 2005,
"Efficient Computation of Frequent and Top-k Elements in Data Streams",
ICDT) holds O(k) counters per shard and guarantees

    est_count - max_error  <=  true_count  <=  est_count

for every tracked item, and that ANY item with true frequency
> N_shard / k is tracked.  Sharding by ``pmod(user_id, n_shards)``
routes each item to exactly ONE shard's summary, so the per-shard
guarantees are exact (no cross-summary merge error) and the global
heavy hitters are the union of the shard summaries — the standard
distributed key-space-partitioned deployment.

Determinism contract (shared bit-for-bit with the streaming twin in
``streaming/heavy_hitters.py`` and the stdlib twin in tests): events
are processed in ``(ts, event_id)`` order within a shard, and eviction
picks the entry with the smallest ``(count, error, item)`` tuple.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from forest_open_data_pipelines_spark.runtime import persist

SPACESAVING_K = 8
SPACESAVING_SHARDS = 4

SKETCH_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("user_id", LongType()),
        StructField("est_count", LongType()),
        StructField("max_error", LongType()),
        StructField("is_exact", BooleanType()),
        StructField("rank", IntegerType()),
        StructField("n_processed", LongType()),
    ]
)


def spacesaving_update(
    counters: dict[int, tuple[int, int]], item: int, k: int
) -> None:
    """One SpaceSaving step on ``counters`` (item -> (count, error)).

    Tracked -> increment.  Room left -> insert (1, 0).  Full -> evict
    the min-(count, error, item) entry and inherit its count as the
    new item's (count+1, error=count) — the classic ICDT §3 update.
    """
    hit = counters.get(item)
    if hit is not None:
        counters[item] = (hit[0] + 1, hit[1])
    elif len(counters) < k:
        counters[item] = (1, 0)
    else:
        evict = min(counters, key=lambda i: (counters[i][0], counters[i][1], i))
        min_count = counters[evict][0]
        del counters[evict]
        counters[item] = (min_count + 1, min_count)


def sketch_rows(
    shard: int, counters: dict[int, tuple[int, int]], n_processed: int
) -> pd.DataFrame:
    """Render a shard's summary as ranked rows (count desc, error asc,
    item asc — the deterministic output order shared by both twins)."""
    ranked = sorted(counters.items(), key=lambda kv: (-kv[1][0], kv[1][1], kv[0]))
    return pd.DataFrame(
        {
            "shard": pd.array([shard] * len(ranked), dtype="int32"),
            "user_id": pd.array([i for i, _ in ranked], dtype="int64"),
            "est_count": pd.array([c for _, (c, _e) in ranked], dtype="int64"),
            "max_error": pd.array([e for _, (_c, e) in ranked], dtype="int64"),
            "is_exact": pd.array([e == 0 for _, (_c, e) in ranked], dtype="bool"),
            "rank": pd.array(range(1, len(ranked) + 1), dtype="int32"),
            "n_processed": pd.array([n_processed] * len(ranked), dtype="int64"),
        }
    )


def spacesaving_topk(
    events: DataFrame, k: int = SPACESAVING_K, n_shards: int = SPACESAVING_SHARDS
) -> DataFrame:
    """Sharded SpaceSaving top-k users by event count.

    One scan: project (shard, user_id, ts, event_id), ONE shuffle —
    ``repartition(shard)`` + ``sortWithinPartitions(shard, ts,
    event_id)`` puts each shard's rows in contract order on disk, and
    a ``mapInPandas`` kernel streams the Arrow batches INCREMENTALLY:
    memory is O(k · shards-per-partition) counters plus one Arrow
    batch, never a materialized shard (grouped applyInPandas would
    hand the kernel the whole group as one pandas frame — the
    original shape, rejected in review).  At 100 TB the same plan
    holds: n_shards scales with the cluster, state stays
    O(k · n_shards) regardless of row count or key cardinality.
    """
    from collections.abc import Iterator

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # rows arrive shard-clustered and (ts, event_id)-sorted; a
        # partition may hold several shards (hash co-location), each
        # with its own O(k) counter dict
        counters: dict[int, dict[int, tuple[int, int]]] = {}
        seen: dict[int, int] = {}
        for pdf in batches:
            shards = pdf["shard"].astype("int64")
            items = pdf["user_id"].astype("int64")
            for shard, item in zip(shards, items):
                c = counters.setdefault(int(shard), {})
                spacesaving_update(c, int(item), k)
                seen[int(shard)] = seen.get(int(shard), 0) + 1
        for shard in sorted(counters):
            yield sketch_rows(shard, counters[shard], seen[shard])

    projected = events.select(
        F.pmod(F.col("user_id"), F.lit(n_shards)).cast("int").alias("shard"),
        "user_id",
        "ts",
        "event_id",
    )
    return (
        # RANGE partition the shard ids: hash-partitioning n_shards ids
        # into n_shards partitions can co-locate two shards (hash
        # collision) and idle others — correct (the kernel handles
        # multi-shard partitions) but loses parallelism (r11 ADVICE).
        # Range boundaries over 0..n_shards-1 give each shard its own
        # partition.
        projected.repartitionByRange(n_shards, "shard")
        .sortWithinPartitions("shard", "ts", "event_id")
        .mapInPandas(_kernel, SKETCH_SCHEMA)
        .orderBy("shard", "rank")
    )


#: Quantile-sketch per-level capacity and the query points (exact
#: integer fractions so the target rank never suffers float drift).
QUANTILE_K = 64
QUANTILE_PS = (("p50", 1, 2), ("p95", 19, 20))


class QuantileSketch:
    """Deterministic MRL/KLL-style mergeable quantile sketch (Manku,
    Rajagopalan, Lindsay 1998 / Karnin, Lang, Liberty 2016, public
    methodology — randomness replaced by an alternating per-level
    parity so results are reproducible bit-for-bit).

    State: ``levels[h]`` holds values of weight ``2**h``, capacity
    ``k`` each.  A full level sorts, leaves at most one odd leftover
    in place, and promotes every other element (offset alternating via
    ``parity[h]``) to level ``h+1`` — total weight is conserved
    exactly, so Σ|levels[h]|·2^h == n always.

    Error accounting is EXACT, not asymptotic: each compaction of
    level ``h`` can shift any rank by at most ``2**h``, so
    ``rank_err`` (the running sum of those bounds, additive across
    merges) is a hard deterministic envelope:

        |true_rank(query(q)) − ceil(q·n)| ≤ rank_err

    which tests assert against true ranks from the raw rows.  The
    class IS the stdlib twin: the pure-Python pipeline replay in tests
    uses these same methods outside Spark.
    """

    __slots__ = ("k", "levels", "parity", "n", "rank_err")

    def __init__(self, k: int = QUANTILE_K) -> None:
        self.k = k
        self.levels: list[list[float]] = [[]]
        self.parity: list[bool] = [False]
        self.n = 0
        self.rank_err = 0

    @classmethod
    def from_state(
        cls,
        k: int,
        levels: list[list[float]],
        parity: list[bool],
        n: int,
        rank_err: int,
    ) -> "QuantileSketch":
        sk = cls(k)
        sk.levels = [list(map(float, lvl)) for lvl in levels]
        sk.parity = [bool(p) for p in parity]
        sk.n = int(n)
        sk.rank_err = int(rank_err)
        return sk

    def add(self, value: float) -> None:
        self.levels[0].append(value)
        self.n += 1
        if len(self.levels[0]) > self.k:
            self._cascade()

    def _compact(self, h: int) -> None:
        items = sorted(self.levels[h])
        leftover: list[float] = []
        if len(items) % 2:
            leftover = [items[-1]]
            items = items[:-1]
        off = 1 if self.parity[h] else 0
        self.parity[h] = not self.parity[h]
        if h + 1 == len(self.levels):
            self.levels.append([])
            self.parity.append(False)
        self.levels[h + 1].extend(items[off::2])
        self.levels[h] = leftover
        self.rank_err += 1 << h

    def _cascade(self) -> None:
        h = 0
        while h < len(self.levels):
            if len(self.levels[h]) > self.k:
                self._compact(h)
            h += 1

    def merge(self, other: "QuantileSketch") -> None:
        """Merge ``other`` into ``self`` — deterministic given the
        caller's merge order (the rollup merges days ascending)."""
        for h, lvl in enumerate(other.levels):
            if h == len(self.levels):
                self.levels.append([])
                self.parity.append(False)
            self.levels[h].extend(lvl)
        self.n += other.n
        self.rank_err += other.rank_err
        self._cascade()

    def query(self, num: int, den: int) -> float | None:
        """Smallest stored value whose cumulative weight reaches
        ``ceil(num/den · n)`` (integer-exact target, never below 1)."""
        if self.n == 0:
            return None
        target = max(1, -(-(num * self.n) // den))
        cum = 0
        pairs = sorted(
            (v, 1 << h) for h, lvl in enumerate(self.levels) for v in lvl
        )
        for v, w in pairs:
            cum += w
            if cum >= target:
                return v
        return pairs[-1][0]


QUANTILE_STATE_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("day", DateType()),
        StructField("levels", ArrayType(ArrayType(DoubleType()))),
        StructField("parity", ArrayType(BooleanType())),
        StructField("n", LongType()),
        StructField("rank_err", LongType()),
    ]
)

QUANTILE_ROLLUP_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("month", DateType()),
        StructField("n_rows", LongType()),
        StructField("est_p50", DoubleType()),
        StructField("est_p95", DoubleType()),
        StructField("max_rank_error", LongType()),
    ]
)


def quantile_rollup_sketch(
    events: DataFrame, k: int = QUANTILE_K
) -> DataFrame:
    """Mergeable quantile rollup: daily KLL/MRL-style sketches of
    ``value`` merge into monthly p50/p95 WITHOUT re-touching the fact
    rows — the quantile half of the sketch-rollup story
    ``distinct_rollup_sketch`` opened (reference counterpart: the
    percentile columns of ``profile_columns_approx``,
    profiling.py:74).

    Shape (the spacesaving/mapInPandas precedent): ONE fact scan,
    one shuffle clustering (event_type, day) with rows sorted
    (ts, event_id) inside each group — the deterministic processing
    order — into an INCREMENTAL Arrow kernel holding one O(k·log(n/k))
    sketch per live group; then the monthly merge is an
    ``applyInPandas`` over the DAILY SKETCH FRAME (≤31 state rows per
    group — bytes, not fact rows), merging in ascending-day order so
    the result is reproducible.  At 100 TB the rollup shuffle moves
    only sketch state, and any coarser grain (quarter, year) unions
    the same dailies.

    Rows-only by the ``distinct_rollup_sketch`` precedent (sketch
    internals have no SQL twin); the deterministic rank-error envelope
    |true_rank(est) − ceil(q·n)| ≤ max_rank_error and exact stdlib
    pipeline-replay equality are pinned in tests.  The exact
    percentile columns ride along for observability (same adjudicated
    second-shuffle branch as distinct_rollup_sketch's exact column —
    production drops it).
    """
    from collections.abc import Iterator

    def _daily_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur: tuple | None = None
        sk: QuantileSketch | None = None
        done: list[tuple] = []

        def _flush() -> None:
            if cur is not None:
                done.append(
                    (cur[0], cur[1], sk.levels, sk.parity, sk.n, sk.rank_err)
                )

        for pdf in batches:
            for etype, day, value in zip(
                pdf["event_type"], pdf["day"], pdf["value"]
            ):
                key = (etype, day)
                if key != cur:
                    _flush()
                    cur = key
                    sk = QuantileSketch(k)
                sk.add(float(value))
        _flush()
        yield pd.DataFrame(
            done, columns=["event_type", "day", "levels", "parity", "n", "rank_err"]
        )

    def _merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        sk: QuantileSketch | None = None
        for levels, parity, n, rank_err in zip(
            pdf["levels"], pdf["parity"], pdf["n"], pdf["rank_err"]
        ):
            other = QuantileSketch.from_state(k, levels, parity, n, rank_err)
            if sk is None:
                sk = other
            else:
                sk.merge(other)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "month": [pdf["month"].iloc[0]],
                "n_rows": pd.array([sk.n], dtype="int64"),
                "est_p50": pd.array(
                    [sk.query(QUANTILE_PS[0][1], QUANTILE_PS[0][2])],
                    dtype="float64",
                ),
                "est_p95": pd.array(
                    [sk.query(QUANTILE_PS[1][1], QUANTILE_PS[1][2])],
                    dtype="float64",
                ),
                "max_rank_error": pd.array([sk.rank_err], dtype="int64"),
            }
        )

    fact = events.where(F.col("value").isNotNull()).select(
        "event_type", F.to_date("ts").alias("day"), "ts", "event_id", "value"
    )
    daily = (
        fact.repartition("event_type", "day")
        .sortWithinPartitions("event_type", "day", "ts", "event_id")
        .mapInPandas(_daily_kernel, QUANTILE_STATE_SCHEMA)
    )
    monthly = (
        daily.withColumn(
            "month", F.date_trunc("month", "day").cast("date")
        )
        .groupBy("event_type", "month")
        .applyInPandas(_merge_fn, QUANTILE_ROLLUP_SCHEMA)
    )
    exact = events.where(F.col("value").isNotNull()).groupBy(
        F.col("event_type").alias("e_type"),
        F.date_trunc("month", F.to_date("ts")).cast("date").alias("e_month"),
    ).agg(
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.expr("percentile(value, 0.95)").alias("exact_p95"),
    )
    return (
        monthly.join(
            exact,
            monthly["event_type"].eqNullSafe(exact["e_type"])
            & monthly["month"].eqNullSafe(exact["e_month"]),
        )
        .select(
            "event_type",
            "month",
            "n_rows",
            "est_p50",
            "est_p95",
            "exact_p50",
            "exact_p95",
            "max_rank_error",
        )
        .orderBy("event_type", "month")
    )


def distinct_rollup_sketch(events: DataFrame, lg_k: int = 12) -> DataFrame:
    """Mergeable distinct-user rollup: daily HLL sketches union into
    monthly estimates WITHOUT re-touching the fact rows.

    The at-scale pattern behind every "distinct users per <coarser
    grain>" dashboard: exact monthly recounts re-shuffle the raw fact
    per grain, while Datasketches HLL (Spark 4 built-ins
    ``hll_sketch_agg`` / ``hll_union_agg`` — JVM-side, map-side
    combinable) aggregates once at the finest grain and every coarser
    grain is a union over sketch BINARIES (bytes per group, not rows).
    The union-merge property (sketch(A ∪ B) == union(sketch(A),
    sketch(B)) — exactly, same binary state) is asserted in tests
    against directly-built monthly sketches, alongside the standard
    HLL error envelope vs exact counts.

    Rows-only: the estimate is Datasketches-internal (no DuckDB twin);
    the exact column rides along for observability and the error-ppm
    invariant.
    """
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sk"))
    monthly = daily.groupBy(
        "event_type", F.date_trunc("month", "day").cast("date").alias("month")
    ).agg(F.hll_union_agg("sk").alias("sk"))
    exact = events.groupBy(
        F.col("event_type").alias("e_type"),
        F.date_trunc("month", F.to_date("ts")).cast("date").alias("e_month"),
    ).agg(F.count_distinct("user_id").alias("exact_distinct"))
    # NULL-SAFE join keys: a feed with unparseable timestamps forms a
    # month=NULL group on BOTH sides — an inner equi-join would drop
    # it silently (the spine_fill null-passthrough lesson); eqNullSafe
    # keeps the null bucket visible.
    return (
        monthly.join(
            exact,
            monthly["event_type"].eqNullSafe(exact["e_type"])
            & monthly["month"].eqNullSafe(exact["e_month"]),
        )
        .select(
            "event_type",
            "month",
            F.hll_sketch_estimate("sk").cast("long").alias("est_distinct"),
            "exact_distinct",
        )
        .orderBy("event_type", "month")
    )


#: KMV candidate-set size.  Standard error ≈ 1/√(k−2) ≈ 18% at k=32 —
#: deliberately small so the SKETCH branch (not just the exact branch)
#: fires at sf0.01+ (150 distinct users per month > k) while sf0.001
#: exercises the exact branch (fewer than k distinct); both branches
#: are oracle-checked because the estimator is deterministic.
KMV_K = 32

#: The md5-int hash universe: ``_md5_int`` yields 60-bit integers in
#: [0, 2^60); the normalized draw is ``(h+1)/2^60 ∈ (0, 1]``.
KMV_UNIVERSE = float(1 << 60)


def kmv_hash_col() -> "F.Column":
    """The 60-bit md5 user hash as one Column — shared verbatim
    between the batch rollup and the streaming twin's pre-shuffle
    projection (set equality depends on both sides hashing
    identically)."""
    from .dedup import _md5_int

    return _md5_int(F.col("user_id").cast("string"))


def _kmv_est_expr(k: int) -> "F.Column":
    """The (k−1)/u_(k) estimate over (n_candidates, kth_h) columns —
    ONE definition so the tail and the rollup's rel_err agree on the
    exact double-op order the oracle mirrors."""
    return F.when(
        F.col("n_candidates") < k,
        F.col("n_candidates").cast("double"),
    ).otherwise(
        F.lit(float(k - 1))
        / ((F.col("kth_h").cast("double") + F.lit(1.0)) / F.lit(KMV_UNIVERSE))
    )


def kmv_sketch_tail(hashes: DataFrame, k: int = KMV_K) -> DataFrame:
    """Bottom-k → (k−1)/u_(k) estimate over any (event_type, month, h)
    frame — shared by the batch rollup and the streaming twin's
    drained-candidates fold (bottom-k of a set is a pure set
    function, so folding per-key candidate unions through this tail
    reproduces the batch sketch columns exactly)."""
    from pyspark.sql import Window

    from ..functions.columns import ratio

    month_w = Window.partitionBy("event_type", "month").orderBy("h")
    sketch = (
        hashes.select("event_type", "month", "h")
        .distinct()
        .withColumn("rn", F.row_number().over(month_w))
        .where(F.col("rn") <= k)
        .groupBy("event_type", "month")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max("h").alias("kth_h"),
        )
    )
    return sketch.select(
        "event_type",
        "month",
        F.col("n_candidates").cast("int").alias("n_candidates"),
        ratio(_kmv_est_expr(k)).alias("est_distinct"),
        "kth_h",
    )


def kmv_distinct_rollup(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """Mergeable distinct-user rollup via a DETERMINISTIC KMV
    (bottom-k / k-minimum-values) sketch — the fully oracle-paired
    complement of ``distinct_rollup_sketch``.

    Bar-Yossef et al. 2002 ("Counting distinct elements in a data
    stream", RANDOM) / Beyer et al. 2007 (the unbiased (k−1)/u_(k)
    KMV estimator, SIGMOD) — public methodology.  Each user hashes to
    the repo's deterministic 60-bit md5 integer; a group's sketch is
    the set of its k SMALLEST distinct normalized hashes.  With
    ``u_(k)`` the k-th smallest draw,

        D̂ = (k−1)/u_(k)          (when ≥ k distinct hashes exist)
        D̂ = |sketch| exactly      (when fewer than k — no truncation
                                    can have occurred anywhere below)

    Unlike Datasketches HLL the whole estimate is reproducible in ANSI
    SQL (md5 substring → bottom-k window → one IEEE division), so this
    entry is hash-checked end to end, estimator branch included.

    MERGEABILITY is the point: bottom-k(A ∪ B) == bottom-k(bottom-k(A)
    ∪ bottom-k(B)) — a pure set function, order- and
    partitioning-independent.  The plan stages daily bottom-k sets
    (k rows per (event_type, day)) and rolls them up to monthly
    WITHOUT re-touching fact rows: the monthly grain aggregates
    k·days candidate rows, not the raw feed.  Tests assert the merge
    identity against a direct monthly bottom-k and the realized error
    vs exact counts.

    Scale: ONE fact scan — the distinct (group, day, hash) frame is
    persisted and feeds both the sketch staging and the
    ``exact_distinct`` observability column (counted over distinct
    HASHES, identical to distinct users up to an md5 collision and
    mirrored verbatim in the oracle — production drops the column,
    as ``distinct_rollup_sketch`` documents); then one rank window
    per grain over k-bounded candidate sets.
    """
    from pyspark.sql import Window

    from ..functions.columns import ratio

    hashed = events.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.date_trunc("month", F.to_date("ts")).cast("date").alias("month"),
        kmv_hash_col().alias("h"),
    )
    # one map-side-combinable distinct on (group, day, hash); persisted
    # so the exact branch re-reads THIS frame, not the fact
    grp = persist(
        hashed.groupBy("event_type", "month", "day", "h").agg(
            F.count(F.lit(1)).alias("_n")
        )
    )
    # daily sketches: the k smallest hashes per (event_type, day)
    day_w = Window.partitionBy("event_type", "day").orderBy("h")
    daily = grp.withColumn("rn", F.row_number().over(day_w)).where(
        F.col("rn") <= k
    )
    # monthly rollup: union of daily sketches (≤ k·days candidate rows,
    # never fact rows) folded through the shared bottom-k → estimate
    # tail (also the streaming twin's fold)
    sketch = kmv_sketch_tail(daily.select("event_type", "month", "h"), k)
    est = _kmv_est_expr(k)
    exact = grp.groupBy(
        F.col("event_type").alias("e_type"),
        F.col("month").alias("e_month"),
    ).agg(F.count_distinct("h").alias("exact_distinct"))
    return (
        sketch.join(
            exact,
            sketch["event_type"].eqNullSafe(exact["e_type"])
            & sketch["month"].eqNullSafe(exact["e_month"]),
        )
        .select(
            "event_type",
            "month",
            "n_candidates",
            "est_distinct",
            "exact_distinct",
            ratio(
                F.abs(est - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct")
            ).alias("rel_err"),
        )
        .orderBy("event_type", "month")
    )
