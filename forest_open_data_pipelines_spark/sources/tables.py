"""Parquet star-schema source.

Analog of the reference's resource ingestion layer
(``src/forest_pipelines/datasets/*``, ``profiling.py:427-478``): the
reference downloads CSV/Excel/JSON/zip resources and profiles them;
here the canonical storage format is parquet (columnar, splittable,
predicate-pushdown-friendly) and ingestion is ``spark.read`` so scans
get column pruning and filter pushdown from Catalyst for free.

At 100 TB the fact tables (lineitem/orders/events/documents/embeddings)
are many-file parquet directories; ``spark.read.parquet`` parallelizes
by row-group. Dimension tables (region/nation) stay tiny and are
broadcast at join time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from forest_open_data_pipelines_spark.runtime import Memo, clear_memos

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Resolve a star-schema table as an analyzed, unevaluated frame.

    CONTRACT: the parquet directory is never rewritten mid-process
    (the memo below hands back the same plan object per (session,
    abspath, table, zone) for the life of the session). Harnesses that
    regenerate data in place must call ``clear_table_cache`` first.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Resolve-once memo of the ANALYZED (unevaluated) frame. Every
    # `spark.read.parquet` pays ~80-120 ms of driver work (file listing,
    # footer schema read, py4j chatter) and the bench/oracle harnesses
    # rebuild each query from load_table on every rep — ~100 ms x
    # hundreds of calls of pure fixed cost. The memo hands back the same
    # immutable plan object; every action still scans the parquet files
    # (no data or results are cached). Keyed on the session object (a
    # ``Memo`` stored ON the session, so lifetime tracks it — a
    # newSession() twin resolves its own entry) plus the session time
    # zone, because the events NTZ retag below bakes the zone into the
    # plan. The source files are never rewritten mid-process (the
    # _SPREAD_PROBE_CACHE contract).
    # events.parquet stores ts as INT64 TIMESTAMP(NANOS), which vanilla
    # Spark rejects (PARQUET_TYPE_ILLEGAL). The legacy conf is
    # runtime-settable, so set it here rather than relying on the
    # session builder — queries must work on any caller's session.
    # NOTE: this is a lasting session-level setting (scans are lazy, so
    # restoring it after read.parquet() would break later jobs on the
    # returned DataFrame); it only affects how nanos columns surface.
    # Set BEFORE the memo lookup (ADVICE r12): a cached events plan
    # built under the conf must not execute after a caller reset it —
    # the set is ~free next to even a memo hit.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except AnalysisException:
        pass  # conf marked non-modifiable on this deployment
    tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    cache = spark.__dict__.get("_fodp_table_cache")
    if cache is None:
        cache = spark.__dict__["_fodp_table_cache"] = Memo()
    key = (_memo_dir(sf_dir), name, tz)
    hit = cache.get(key)
    if hit is not None:
        return hit
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    # The events file stores ts as TIMESTAMP(NANOS); with
    # spark.sql.legacy.parquet.nanosAsLong it surfaces as a long of
    # nanoseconds — convert to a microsecond timestamp (flooring, the
    # same truncation DuckDB applies when it reads nanos).
    ts_field = next((f for f in df.schema.fields if f.name == "ts"), None)
    if ts_field is not None and ts_field.dataType.typeName() == "long":
        df = df.withColumn("ts", nanos_to_micros_ts(F.col("ts")))
    elif ts_field is not None and ts_field.dataType.typeName() == "timestamp_ntz":
        # timestamp[us] parquet surfaces as TIMESTAMP_NTZ, which the
        # epoch helpers (unix_micros) reject. The NTZ wall-clock IS the
        # UTC instant, so retag it timezone-independently: a bare
        # NTZ→LTZ cast reinterprets the wall-clock in the session zone,
        # which shifts the epoch instant on non-UTC sessions;
        # from_utc_timestamp undoes that session-zone interpretation so
        # the result is the same instant on any caller session.
        df = df.withColumn("ts", ntz_as_utc_instant(spark, F.col("ts")))
    cache[key] = df
    return df


def _memo_dir(sf_dir: str) -> str:
    """The ``load_table`` memo's directory key: local paths are
    abspath-normalized so relative and absolute spellings of one
    directory share an entry; a URI with a scheme (``s3a://``,
    ``hdfs://``) is kept as written, since abspath would collapse its
    ``//`` and prepend the working directory."""
    if "://" in sf_dir:
        return sf_dir.rstrip("/")
    return os.path.abspath(sf_dir)


def clear_table_cache(spark: SparkSession) -> int:
    """Drop the session's load_table memo (for harnesses that rewrite
    the parquet directories mid-process); returns entries released."""
    return clear_memos(spark.__dict__.get("_fodp_table_cache", {}))


def spread(df: DataFrame, max_target: int | None = None) -> DataFrame:
    """Fan a narrow source across all cores before per-row-heavy work.

    Small local parquet files arrive as ONE split (single row group), so
    the scan stage — where Catalyst evaluates every expensive per-row
    expression that sits before the first exchange (shingle hashing,
    signature folds, trigram explodes, cosine assignment) — runs on a
    single core of the 32 available. A RoundRobin repartition up to the
    cluster's default parallelism moves that work onto every core for
    the cost of shuffling the raw rows — bytes that are tiny exactly
    when the guard fires. On production inputs (100 TB → thousands of
    splits) the scan already has >= defaultParallelism partitions and
    this is a NO-OP, so plans keep their scale shape.

    Determinism note: callers only follow this with per-row expressions
    and exact-integer or per-row-fold aggregations, so results are
    partitioning-independent (no cross-row float accumulation order is
    exposed).
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if max_target is not None:
        target = min(target, max_target)
    # The partition probe (df.rdd.getNumPartitions) forces full physical
    # planning + RDD conversion — measurable when an operator calls
    # spread() several times per query (ADVICE r5). Callers apply spread
    # scan-adjacent (narrow projections/filters over one source), so the
    # split count is a property of the SOURCE FILES: memoize it per
    # input-file set and only pay the RDD conversion once per source.
    # inputFiles() needs just the analyzed plan + file listing.
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:  # pragma: no cover - e.g. streaming frames
        files = ()
    current = _SPREAD_PROBE_CACHE.get(files) if files else None
    if current is None:
        try:
            current = df.rdd.getNumPartitions()
        except Exception:  # pragma: no cover - e.g. streaming frames
            return df
        if files:
            _SPREAD_PROBE_CACHE[files] = current
    if current >= target:
        return df
    return df.repartition(target)


#: spread()'s memoized per-source partition probe (file set → scan
#: split count). Process-lifetime is correct: a parquet path's split
#: count only changes if the files are rewritten, which the test/bench
#: processes never do mid-run (``runtime.clear_memos`` empties it).
_SPREAD_PROBE_CACHE: dict[tuple[str, ...], int] = Memo()


def ntz_as_utc_instant(spark: SparkSession, ntz: F.Column) -> F.Column:
    """Retag a TIMESTAMP_NTZ column (wall-clock == UTC) as TIMESTAMP.

    ``cast('timestamp')`` yields the instant whose *session-zone*
    wall-clock equals the NTZ value; ``from_utc_timestamp`` then shifts
    by the session-zone offset so the UTC wall-clock equals the NTZ
    value — i.e. the instant the parquet writer meant. On a UTC session
    the shift is zero and this degenerates to the plain cast.

    DST-boundary caveat (ADVICE r4): the cast applies the offset in
    force at the session-zone WALL-CLOCK while ``from_utc_timestamp``
    applies the offset at the shifted INSTANT; for NTZ values falling
    inside a non-UTC session zone's DST transition window (the skipped
    or repeated hour) those two offsets differ and the retag is off by
    the DST delta (or ambiguous). Sessions built by ``get_spark`` pin
    ``spark.sql.session.timeZone=UTC``, which short-circuits above —
    only foreign non-UTC sessions reading timestamps that land in
    their own zone's transition hour are exposed. An offset-free
    arithmetic path would need ``unix_micros`` on NTZ, which Spark
    rejects; accepting the documented edge keeps the retag a pure
    in-codegen expression.
    """
    tz = spark.conf.get("spark.sql.session.timeZone")
    cast = ntz.cast("timestamp")
    if tz in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        return cast
    return F.from_utc_timestamp(cast, tz)


def nanos_to_micros_ts(nanos: F.Column) -> F.Column:
    """Nanosecond long → microsecond timestamp with true floor semantics.

    `div` truncates toward zero, which would round pre-epoch (negative)
    nanos UP by 1µs; subtract the non-negative remainder first (same
    scheme as asof._floor_bucket) so the result matches DuckDB's
    flooring. Stays integer throughout — double division loses precision
    at nanosecond epoch magnitudes (~1.7e18 > 2^53).
    """
    rem = (nanos % 1000 + 1000) % 1000
    # decimal division (exact — (nanos - rem) is a multiple of 1000);
    # Column `/` would go through double and lose ulps at ~1.7e18.
    micros = ((nanos - rem).cast("decimal(38,0)") / 1000).cast("long")
    return F.timestamp_micros(micros)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    picked = names or TABLES
    return {name: load_table(spark, sf_dir, name) for name in picked}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so operators can also be driven via spark.sql."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)
