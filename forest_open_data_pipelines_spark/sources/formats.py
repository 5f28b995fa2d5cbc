"""Delimited/JSON ingestion with format and delimiter detection.

Spark-first re-expression of the reference's resource profiling layer
(``profiling.py:230-298``): ``_format_from_filename``,
``_detect_delimiter`` (csv.Sniffer over ``;,|\\t`` with a
semicolon-vs-comma count fallback) and ``_profile_delimited`` /
``_hash_file`` (row/column counts, sha256, size).

Detection reads a bounded sample (first lines / head bytes) — a
metadata operation, not a data-path one — then hands the actual scan to
``spark.read`` so the 100 TB read is distributed, columnar where
possible, and benefits from pushdown. File hashing/profiling is
distributed via the ``binaryFile`` source (one task per file), never a
driver-side loop.
"""

from __future__ import annotations

import csv

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from forest_open_data_pipelines_spark.runtime import persist

SNIFF_DELIMITERS = ";,|\t"


def format_from_filename(filename: str) -> str:
    """profiling.py:230-232 — lowercase suffix or 'unknown'."""
    name = filename.rsplit("/", 1)[-1]
    suffix = name.rsplit(".", 1)[-1].lower() if "." in name else ""
    return suffix or "unknown"


def detect_delimiter(sample: str, suffix: str = "") -> str:
    """profiling.py:257-266 — tsv forces tab; csv.Sniffer over
    ``;,|\\t``; on sniff failure the semicolon/comma count heuristic."""
    if suffix.lstrip(".").lower() == "tsv":
        return "\t"
    try:
        dialect = csv.Sniffer().sniff(sample, delimiters=SNIFF_DELIMITERS)
        return dialect.delimiter
    except csv.Error:
        if sample.count(";") >= sample.count(","):
            return ";"
        return ","


def sample_lines(spark: SparkSession, path: str, n: int = 50) -> list[str]:
    """First n physical lines of the (possibly multi-file) text source.

    ``limit`` short-circuits the scan — Spark reads only the first
    partition(s), so this stays O(sample) no matter how large the
    dataset is."""
    return [r[0] for r in spark.read.text(path).limit(n).collect()]


def read_delimited(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    header: bool = True,
    delimiter: str | None = None,
) -> DataFrame:
    """CSV/TSV reader with reference-compatible delimiter detection.

    With an explicit ``schema`` the scan is single-pass; otherwise
    Spark's schema inference adds one bounded sampling pass. Pass the
    schema in production — inference at 100 TB is a full extra read
    unless samplingRatio is set.
    """
    if delimiter is None:
        lines = sample_lines(spark, path)
        delimiter = detect_delimiter("\n".join(lines), format_from_filename(path))
    reader = spark.read.option("header", header).option("sep", delimiter)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json_lines(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Newline-delimited JSON (the only JSON layout that splits across
    tasks; multiline JSON documents are one-task-per-file)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def profile_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed per-file profile: name, format, size, sha256,
    modification time.

    Reference: profiling.py:235-244 ``_hash_file`` streams each file
    through sha256 on the driver; here the ``binaryFile`` source gives
    one task per file so hashing parallelizes across the cluster.
    """
    bf = spark.read.format("binaryFile").load(path_glob)
    return bf.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.lower(F.element_at(F.split(F.col("path"), "\\."), -1)).alias("format"),
        F.col("length").alias("size_bytes"),
        F.sha2(F.col("content"), 256).alias("sha256"),
        F.col("modificationTime").alias("modified_at"),
    ).orderBy("file_name")


def profile_table_files(df: DataFrame) -> DataFrame:
    """Per-file row counts of a loaded table via input metadata —
    the 'how many rows did each synced resource contribute' audit
    (profiling.py row_count per resource), computed inside the scan."""
    return (
        df.groupBy(
            F.element_at(
                F.split(F.input_file_name(), "/"), -1
            ).alias("file_name")
        )
        .agg(F.count("*").alias("n_rows"))
        .orderBy("file_name")
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC reader — Spark's built-in vectorized ORC source, with the
    same predicate-pushdown/column-pruning contract as parquet (ORC is
    the other columnar interchange format a lake-side consumer hands
    us; PushedFilters reach the stripe level)."""
    return spark.read.orc(path)


def _quarantine_split(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    corrupt = F.col("_corrupt_record")
    # Spark refuses to filter on the corrupt column of a lazily-parsed
    # frame (AnalysisException: internal corrupt record column) — the
    # documented contract is to materialize first. At test/driver scale
    # persist() is that materialization; at 100 TB land the parsed
    # frame to parquet once and split from there (same two predicates).
    # Callers only receive the derived good/bad children, so the parent
    # is tracked by runtime and freed when the query scope ends.
    parsed = persist(parsed)
    good = parsed.where(corrupt.isNull()).drop("_corrupt_record")
    bad = parsed.where(corrupt.isNotNull()).select(
        corrupt.alias("raw_record")
    )
    return good, bad


def read_json_lines_quarantined(
    spark: SparkSession, path: str, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE JSON-lines read split into (good rows, quarantined
    raw lines). The production ingest contract at 100 TB: one
    malformed line must neither kill the job (FAILFAST) nor silently
    vanish (DROPMALFORMED) — it lands in a quarantine table with its
    raw text for inspection/replay, and the good rows keep flowing.
    """
    from pyspark.sql.types import StringType

    full = StructType(list(schema.fields)).add("_corrupt_record", StringType())
    parsed = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return _quarantine_split(parsed)


def read_delimited_quarantined(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    delimiter: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """CSV sibling of ``read_json_lines_quarantined``: rows whose cells
    fail the typed schema (bad casts, malformed quoting) quarantine
    with their raw line instead of aborting the scan or vanishing."""
    from pyspark.sql.types import StringType

    full = StructType(list(schema.fields)).add("_corrupt_record", StringType())
    parsed = (
        spark.read.schema(full)
        .option("header", header)
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return _quarantine_split(parsed)


def read_parquet_merged(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: union the schemas of every footer under
    ``path`` (``mergeSchema``), so files written before a column was
    added read as NULL in that column instead of failing or silently
    dropping it. Scale note: mergeSchema reads one footer per file —
    fine for a migration window, wrong as the steady state (keep the
    authoritative schema in a catalog and pass it explicitly once the
    backfill completes)."""
    return spark.read.option("mergeSchema", True).parquet(path)
