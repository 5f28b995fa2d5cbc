"""Incremental year-cache staleness decision.

Spark twin of the reference's nightly cache gate —
``reports/builders/bdqueimadas_incremental.py:319-392``:

- ``_build_signature`` (:319-341): sha256 over the canonical
  (sort_keys) JSON of {cache_schema_version, column candidate lists,
  the 8 aggregation names} — a new signature whenever the builder's
  schema or column detection changes, invalidating every year at once.
- ``_build_source_fingerprint`` (:343-357): the per-year zip identity
  (zip name/size + member name/CRC/sizes) that detects a re-downloaded
  or re-published source file.
- ``_is_valid_year_payload`` (:360-392): the reuse/rebuild decision —
  payload present, schema version match, signature match, fingerprint
  match, inferred year match, all 8 aggregation keys present, checked
  in exactly that order.
- ``_extract_manifest_files`` (:303-316): same schema-version +
  signature gate at the manifest level.

The reference decides per year-zip in a driver loop over local files;
here the SAME decision is one joined projection over a per-year
fingerprint frame, so a 1000-year (or 1000-shard) cache plan is a
broadcast-sized join, and the planner's output feeds
``sinks.writers.write_incremental_by_year`` — rebuild exactly the
years whose fingerprint or signature went stale, dynamic-overwrite
leaves the rest untouched (integration-tested in tests/test_io.py).

Inputs derive deterministically from the ``orders`` table (year =
order year; sizes/CRCs are md5-surrogate functions of the year's row
count and price-cents sum, standing in for the zip bytes this
container cannot fabricate) so the DuckDB oracle performs the
identical construction end-to-end. Cached-manifest degradations are
keyed on the year's rank so every rebuild reason is exercised:
rank 1 missing, 2 schema version, 3 signature, 4 fingerprint CRC,
5 inferred-year mismatch, 6 incomplete payload keys, 7+ valid.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from forest_open_data_pipelines_spark.runtime import persist

#: bdqueimadas_incremental.py:19
CACHE_SCHEMA_VERSION = 2

#: bdqueimadas_overview.py:36-55 default column candidates (the config
#: merge is identity when the report config adds none).
DATETIME_CANDIDATES = (
    "data_pas", "data_hora_gmt", "data_hora", "datahora", "data", "date",
)
STATE_CANDIDATES = ("estado", "uf", "estado_sigla", "state")
BIOME_CANDIDATES = ("bioma", "biome")

#: bdqueimadas_incremental.py:331-340 — the aggregation set baked into
#: the signature AND required of a valid year payload (:367-376).
AGGREGATION_KEYS = (
    "monthly_all",
    "monthly_by_biome",
    "annual_all",
    "annual_by_biome",
    "state_year_all",
    "state_year_by_biome",
    "state_month_all",
    "state_month_by_biome",
)


def build_signature_payload(
    datetime_candidates: tuple[str, ...] = DATETIME_CANDIDATES,
    state_candidates: tuple[str, ...] = STATE_CANDIDATES,
    biome_candidates: tuple[str, ...] = BIOME_CANDIDATES,
) -> str:
    """The canonical JSON payload ``_build_signature`` hashes —
    json.dumps(ensure_ascii=False, sort_keys=True), byte-identical to
    bdqueimadas_incremental.py:326-340."""
    return json.dumps(
        {
            "cache_schema_version": CACHE_SCHEMA_VERSION,
            "datetime_candidates": list(datetime_candidates),
            "state_candidates": list(state_candidates),
            "biome_candidates": list(biome_candidates),
            "aggregations": list(AGGREGATION_KEYS),
        },
        ensure_ascii=False,
        sort_keys=True,
    )


def build_signature_col(payload: str | None = None) -> Column:
    """sha256 hex of the canonical payload, computed IN-ENGINE (sha2 /
    DuckDB sha256) so the oracle checks both engines agree on the
    reference's exact hash construction."""
    return F.sha2(F.lit(payload or build_signature_payload()), 256)


def _crc_surrogate(col: Column) -> Column:
    """32-bit CRC stand-in: first 8 md5 hex digits as an integer (the
    repo's md5-int convention at CRC width — a real zipfile CRC is not
    reproducible from parquet rows, only its compare semantics are)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def year_source_fingerprints(orders: DataFrame) -> DataFrame:
    """Per-year source fingerprint frame — the
    ``_build_source_fingerprint`` dict (:350-357) as columns, one row
    per year-zip. Sizes derive from the year's row count and exact
    price-cents sum (integer arithmetic — associative, engine-stable);
    the CRC is the md5 surrogate of the member identity + cents."""
    per_year = orders.groupBy(
        F.year("o_orderdate").alias("year")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        # 2-dp pre-round then cents: o_totalprice is generated at 2 dp,
        # so round(x,2)*100 sits within 1e-6 of an integer and the
        # outer 0-dp round is tie-free on both engines (the
        # pt_numeric_parse cents convention)
        F.sum(
            F.round(F.round(F.col("o_totalprice"), 2) * 100, 0).cast("long")
        ).alias("cents"),
    )
    zip_name = F.concat(F.lit("focos_br_"), F.col("year"), F.lit(".zip"))
    member_name = F.concat(F.lit("focos_br_"), F.col("year"), F.lit(".csv"))
    member_file_size = F.col("n_rows") * 120 + (F.col("cents") % 997)
    member_compress_size = F.floor(member_file_size / 4).cast("long")
    return per_year.select(
        "year",
        zip_name.alias("zip_name"),
        (member_compress_size + F.lit(120)).alias("zip_size_bytes"),
        member_name.alias("member_name"),
        _crc_surrogate(
            F.concat(member_name, F.lit(":"), F.col("cents"))
        ).alias("member_crc"),
        member_file_size.cast("long").alias("member_file_size"),
        member_compress_size.alias("member_compress_size"),
    )


def cached_year_manifests(
    orders: DataFrame, fp: DataFrame | None = None
) -> DataFrame:
    """The 'existing cache' the nightly run compares against: the
    CURRENT fingerprints with rank-keyed degradations (module
    docstring) so each ``_is_valid_year_payload`` clause trips on
    exactly one year. Rank 1 is dropped entirely (missing payload).
    Pass ``fp`` to reuse an already-materialized fingerprint frame
    (``incremental_cache_plan`` persists it so the fact table is
    scanned ONCE, not once per comparison side)."""
    if fp is None:
        fp = year_source_fingerprints(orders)
    rank = F.row_number().over(Window.orderBy("year"))
    ranked = fp.withColumn("rank", rank)
    sig = build_signature_col()
    return ranked.where(F.col("rank") != 1).select(
        "year",
        F.when(
            F.col("rank") == 2, F.lit(CACHE_SCHEMA_VERSION - 1)
        ).otherwise(F.lit(CACHE_SCHEMA_VERSION)).alias("cache_schema_version"),
        F.when(F.col("rank") == 3, F.concat(F.lit("stale_"), sig))
        .otherwise(sig)
        .alias("build_signature"),
        "zip_name",
        "zip_size_bytes",
        "member_name",
        F.when(F.col("rank") == 4, F.col("member_crc") + 1)
        .otherwise(F.col("member_crc"))
        .alias("member_crc"),
        "member_file_size",
        "member_compress_size",
        F.when(F.col("rank") == 5, F.col("year") - 1)
        .otherwise(F.col("year"))
        .alias("inferred_year"),
        (F.col("rank") != 6).alias("has_all_aggregation_keys"),
    )


def incremental_cache_plan(orders: DataFrame) -> DataFrame:
    """The rebuild/reuse plan: current fingerprints LEFT-joined to the
    cached manifests, decided clause-for-clause in
    ``_is_valid_year_payload``'s order (payload present → schema
    version → build signature → fingerprint → inferred year →
    aggregation keys). One row per year: the action and the FIRST
    failing reason, plus the signature so the caller can stamp the
    rebuilt payloads.

    Scale: the year-grained fingerprint aggregate is computed ONCE and
    persisted (years-sized — metadata-weight), so the fact table is
    scanned once even though both comparison sides consume it (without
    the persist Catalyst re-runs the scan+groupBy under each branch);
    the decision join is years-sized — broadcast; the expensive half
    (rebuilding) is delegated to the partitioned writer for exactly
    the rebuild rows.
    """
    fp = persist(year_source_fingerprints(orders))
    mf = cached_year_manifests(orders, fp=fp).select(
        "year",
        "cache_schema_version",
        "build_signature",
        F.col("zip_name").alias("c_zip_name"),
        F.col("zip_size_bytes").alias("c_zip_size_bytes"),
        F.col("member_name").alias("c_member_name"),
        F.col("member_crc").alias("c_member_crc"),
        F.col("member_file_size").alias("c_member_file_size"),
        F.col("member_compress_size").alias("c_member_compress_size"),
        "inferred_year",
        "has_all_aggregation_keys",
    )
    sig = build_signature_col()
    fingerprint_match = (
        (F.col("c_zip_name") == F.col("zip_name"))
        & (F.col("c_zip_size_bytes") == F.col("zip_size_bytes"))
        & (F.col("c_member_name") == F.col("member_name"))
        & (F.col("c_member_crc") == F.col("member_crc"))
        & (F.col("c_member_file_size") == F.col("member_file_size"))
        & (F.col("c_member_compress_size") == F.col("member_compress_size"))
    )
    reason = (
        F.when(F.col("cache_schema_version").isNull(), F.lit("missing"))
        .when(
            F.col("cache_schema_version") != CACHE_SCHEMA_VERSION,
            F.lit("schema_version"),
        )
        .when(F.col("build_signature") != sig, F.lit("signature"))
        .when(~fingerprint_match, F.lit("fingerprint"))
        .when(F.col("inferred_year") != F.col("year"), F.lit("year_mismatch"))
        .when(~F.col("has_all_aggregation_keys"), F.lit("incomplete_payload"))
        .otherwise(F.lit("valid"))
    )
    return (
        fp.join(F.broadcast(mf), "year", "left")
        .select(
            "year",
            "zip_name",
            "member_crc",
            sig.alias("build_signature"),
            reason.alias("reason"),
            F.when(reason == "valid", F.lit("reuse"))
            .otherwise(F.lit("rebuild"))
            .alias("action"),
        )
        .orderBy("year")
    )
