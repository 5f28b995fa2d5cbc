"""Social/publication trend analytics.

Spark-first re-expression of the reference's social deck compute:
- ``social/research_trends/pipeline.py`` — per-year publication counts
  per source with growth metrics (the chart/deck rendering around it is
  presentation, not compute, and is out of scope).
- ``social/bdqueimadas_monthly_chart.py`` — current-year monthly series
  vs prior year with localized month labels (the chart-spec records).

Mapping onto the driver testdata: ``orders`` ≈ publications,
``o_orderpriority`` ≈ publication source, year(o_orderdate) ≈
publication year.

Scale notes: both operators aggregate the fact table FIRST (map-side
partial counts on a few hundred (source, year) / (month) groups); the
window functions run on the tiny post-aggregation frame only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from forest_open_data_pipelines_spark.functions.columns import (
    scaled_round,
    money,
    period_month,
    ratio,
    safe_pct_change,
)
from forest_open_data_pipelines_spark.runtime import checkpoint, persist

# Reference: social/bdqueimadas_monthly_chart.py MONTH_LABELS_PT.
MONTH_LABELS_PT = (
    "Jan", "Fev", "Mar", "Abr", "Mai", "Jun",
    "Jul", "Ago", "Set", "Out", "Nov", "Dez",
)


def research_trends(orders: DataFrame) -> DataFrame:
    """Per-source, per-year publication counts with growth metrics.

    Reference: social/research_trends/pipeline.py aggregates works into
    per-year counts (Counter over publication_year) and the charts
    module derives growth between consecutive years; here the same
    series carries year-over-year pct change and each year's share of
    its source's total.
    """
    per_year = orders.groupBy(
        F.col("o_orderpriority").alias("source"),
        F.year("o_orderdate").alias("year"),
    ).agg(F.count("*").alias("n_pubs"))
    w = Window.partitionBy("source").orderBy("year")
    totals = Window.partitionBy("source")
    prev = F.lag("n_pubs").over(w)
    return per_year.select(
        "source",
        "year",
        "n_pubs",
        safe_pct_change(F.col("n_pubs").cast("double"), prev.cast("double")).alias(
            "yoy_pct"
        ),
        ratio(F.col("n_pubs") / F.sum("n_pubs").over(totals) * 100.0).alias(
            "share_pct"
        ),
    ).orderBy("source", "year")


def research_trends_rollup(orders: DataFrame, limit: int = 10) -> DataFrame:
    """Top-N rollups across the institution/concept/venue dimensions in
    ONE scan.

    Reference: social/research_trends/pipeline.py:238-271 + 280-330
    (``_aggregate``) walks every work three times building
    ``top_institutions`` / ``top_concepts`` / ``top_venues`` Counters;
    here the three dimension counts are a single GROUPING SETS
    aggregation (mapping: customer ≈ institution, o_orderpriority ≈
    concept, o_orderstatus ≈ venue), then a per-dimension window rank
    keeps the top ``limit``. The window runs on the tiny post-agg frame
    (|custs|+|priorities|+|statuses| rows), never the fact table.
    """
    base = orders.select(
        F.concat(F.lit("cust-"), F.col("o_custkey").cast("string")).alias(
            "institution"
        ),
        F.col("o_orderpriority").alias("concept"),
        F.col("o_orderstatus").alias("venue"),
    )
    g = (
        base.groupingSets(
            [["institution"], ["concept"], ["venue"]],
            "institution",
            "concept",
            "venue",
        )
        .agg(
            F.count("*").alias("n_pubs"),
            F.grouping("institution").alias("g_inst"),
            F.grouping("concept").alias("g_concept"),
        )
        .select(
            F.when(F.col("g_inst") == 0, F.lit("institution"))
            .when(F.col("g_concept") == 0, F.lit("concept"))
            .otherwise(F.lit("venue"))
            .alias("dimension"),
            F.coalesce("institution", "concept", "venue").alias("label"),
            "n_pubs",
        )
    )
    w = Window.partitionBy("dimension").orderBy(F.desc("n_pubs"), "label")
    return (
        g.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= limit)
        .orderBy("dimension", "rank")
    )


def monthly_chart_spec(monthly: DataFrame) -> DataFrame:
    """Chart-spec records: per calendar month of the latest year —
    localized label, current value, prior-year value, pct change.

    Reference: social/bdqueimadas_monthly_chart.py builds chart_spec
    rows for 'ano civil atual vs ano anterior' with MONTH_LABELS_PT;
    input is the (tiny) national monthly series, so the self-comparison
    is a broadcast of one scalar latest-year row.
    """
    m = monthly.select(
        F.col("n_orders").cast("double").alias("value"),
        F.substring("period", 1, 4).cast("int").alias("year"),
        F.substring("period", 6, 2).cast("int").alias("month"),
    )
    latest = m.agg(F.max("year").alias("latest_year"))
    labels = F.array(*[F.lit(x) for x in MONTH_LABELS_PT])
    return (
        m.join(F.broadcast(latest))
        .where(F.col("year") >= F.col("latest_year") - 1)
        .groupBy("month")
        .agg(
            F.sum(F.when(F.col("year") == F.col("latest_year"), F.col("value"))).alias(
                "current_value"
            ),
            F.sum(
                F.when(F.col("year") == F.col("latest_year") - 1, F.col("value"))
            ).alias("previous_value"),
        )
        .select(
            "month",
            F.element_at(labels, F.col("month")).alias("month_label"),
            "current_value",
            "previous_value",
            safe_pct_change(F.col("current_value"), F.col("previous_value")).alias(
                "pct_change"
            ),
        )
        .orderBy("month")
    )


def top_n_with_other(
    enriched: DataFrame, dim: str = "n_name", top_n: int = 4
) -> DataFrame:
    """Top-N categories by count with the remainder collapsed into an
    'Outros' bucket.

    Reference: social/bdqueimadas_daily/pipeline.py ``top_n_with_other``
    (state/biome rank cards). Aggregate-first: the rank and the Outros
    collapse both run on the tiny per-category frame, never raw rows.
    'Outros' sorts last regardless of size (chart convention), matching
    the reference's append-at-end behavior.
    """
    per_cat = enriched.groupBy(F.col(dim).alias("label")).agg(
        F.count("*").alias("value")
    )
    w = Window.orderBy(F.desc("value"), "label")
    ranked = per_cat.withColumn("rank", F.row_number().over(w))
    return (
        ranked.select(
            F.when(F.col("rank") <= top_n, F.col("label"))
            .otherwise(F.lit("Outros"))
            .alias("label"),
            "value",
        )
        .groupBy("label")
        .agg(F.sum("value").alias("value"))
        .orderBy(F.when(F.col("label") == "Outros", 1).otherwise(0), F.desc("value"), "label")
    )


def series_alignment_metrics(
    events: DataFrame, type_a: str = "click", type_b: str = "view"
) -> DataFrame:
    """Latest common positive period of two daily series with
    period-over-period deltas for each.

    Reference: ``social/anp_producao/pipeline.py:293-326``
    (``latest_common_positive_metrics``) aligns the petroleum and gas
    national series, keeps periods where BOTH are positive, and reports
    the latest period's values with deltas vs the previous common
    period. Same shape here over two event-type daily value series.

    Scale: the fact scan collapses to (day, type) partial sums first;
    the alignment, lag and argmax all run on the tiny post-agg frame
    (an unpartitioned window over ~#days rows — driver-safe, documented
    as post-aggregation like rolling_12m).
    """
    daily = (
        events.where(F.col("event_type").isin(type_a, type_b))
        .groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            "event_type",
        )
        .agg(F.sum("value").alias("v"))
    )
    both = (
        daily.groupBy("day")
        .agg(
            F.sum(F.when(F.col("event_type") == type_a, F.col("v"))).alias("a_value"),
            F.sum(F.when(F.col("event_type") == type_b, F.col("v"))).alias("b_value"),
        )
        .where((F.col("a_value") > 0) & (F.col("b_value") > 0))
    )
    w = Window.orderBy("day")
    with_prev = both.select(
        "day",
        "a_value",
        "b_value",
        F.lag("a_value").over(w).alias("prev_a"),
        F.lag("b_value").over(w).alias("prev_b"),
    )
    latest = with_prev.agg(F.max("day").alias("latest_day"))
    return (
        with_prev.join(F.broadcast(latest), F.col("day") == F.col("latest_day"))
        .select(
            "day",
            ratio(F.col("a_value")).alias("a_value"),
            ratio(F.col("b_value")).alias("b_value"),
            safe_pct_change(F.col("a_value"), F.col("prev_a")).alias("a_delta_pct"),
            safe_pct_change(F.col("b_value"), F.col("prev_b")).alias("b_delta_pct"),
        )
    )


def daily_series(events: DataFrame, ref_type: str = "purchase") -> DataFrame:
    """Zero-filled daily count series for one reference event type.

    Reference: social/bdqueimadas_daily/pipeline.py
    ``filter_reference_satellite`` (:399-406 — keep only the reference
    satellite's rows, trimmed string equality) + ``build_daily_counts``
    (:409-418 — one row per resource date with 0 when that day's file
    contributed no rows). The calendar spine comes from the FULL event
    span (the resource list analog), not the filtered subset — days
    where the reference type never fired must appear as zeros.

    Scale: counts collapse map-side to one row per day before any join;
    the spine is a ``sequence`` explode of a two-scalar aggregate. Both
    sides of the final join are calendar-sized, so the join is a
    broadcast regardless of fact-table size.
    """
    span = events.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = span.select(F.explode(F.sequence("d0", "d1")).alias("date"))
    counts = (
        events.where(F.trim(F.col("event_type")) == ref_type)
        .groupBy(F.to_date("ts").alias("date"))
        .agg(F.count("*").alias("value"))
    )
    return (
        spine.join(F.broadcast(counts), "date", "left")
        .select("date", F.coalesce("value", F.lit(0)).alias("value"))
        .orderBy("date")
    )


def nation_share_latest(enriched: DataFrame, limit: int = 8) -> DataFrame:
    """Per-nation share of the national total at the latest month:
    positive totals only, share in percent, top ``limit`` by volume.

    Reference: social/anp_producao/pipeline.py:347-367
    (``state_share_rows``) — latest-period per-UF sums, drop
    non-positive, share_pct = value / total * 100 rounded to 2, head(8).
    ``n_name`` is the deterministic tie-break the reference's stable
    sort gets implicitly.

    Scale: the month filter collapses the fact scan to one latest-month
    aggregate (map-side partials per nation — bounded cardinality); the
    total is a window over that tiny frame.
    """
    nm = enriched.select(
        period_month(F.col("o_orderdate")).alias("period"),
        "n_name",
        "o_totalprice",
    )
    latest = nm.agg(F.max("period").alias("latest_period"))
    per_nation = (
        nm.join(F.broadcast(latest), nm.period == F.col("latest_period"))
        .groupBy("n_name", "period")
        .agg(money(F.sum("o_totalprice")).alias("value"))
        .where(F.col("value") > 0)
    )
    total = F.sum("value").over(Window.partitionBy())
    return (
        per_nation.select(
            "n_name",
            "period",
            "value",
            scaled_round(F.col("value") / total * 100.0, 2).alias("share_pct"),
        )
        .orderBy(F.desc("value"), "n_name")
        .limit(limit)
    )


def nation_series_with_other(
    enriched: DataFrame, recent_months: int = 6, top_n: int = 8
) -> DataFrame:
    """Monthly per-nation series over the recent window with every
    nation outside the latest month's top-N collapsed into 'OUTROS'.

    Reference: social/anp_producao/pipeline.py:328-345
    (``state_series_with_other``) — the top-N cohort is FIXED at the
    latest period (positive values only), then applied across the whole
    recent window, so a state that dropped out of the top recently
    still charts as itself, exactly like the reference's stacked-area
    input. Window start = latest - (recent_months - 1) months.

    Scale: one aggregate collapses the fact table to (month, nation)
    partials; cohort selection and the OUTROS re-grouping run on that
    tiny frame only.
    """
    # Persist the (month, nation) partials: the latest-month scalar,
    # the cohort rank and the recent-window filter all read nm, and
    # without the persist each re-runs the enriched fact scan +
    # aggregate (4 fact scans — round-8 scan audit).

    nm = persist(
        enriched.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
            "n_name",
        ).agg(money(F.sum("o_totalprice")).alias("value"))
    )
    latest = nm.agg(F.max("month").alias("latest_month"))
    w = Window.orderBy(F.desc("value"), "n_name")
    top = (
        nm.join(F.broadcast(latest), nm.month == F.col("latest_month"))
        .where(F.col("value") > 0)
        .select("n_name", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= top_n)
        .select("n_name", F.lit(True).alias("is_top"))
    )
    recent = nm.join(F.broadcast(latest)).where(
        F.col("month") >= F.add_months(F.col("latest_month"), -(recent_months - 1))
    )
    return (
        recent.join(F.broadcast(top), "n_name", "left")
        .select(
            F.date_format("month", "yyyy-MM").alias("period"),
            F.when(F.col("is_top"), F.col("n_name"))
            .otherwise(F.lit("OUTROS"))
            .alias("series"),
            "value",
        )
        .groupBy("period", "series")
        .agg(money(F.sum("value")).alias("value"))
        .orderBy("period", "series")
    )


# ── State → região mapping (bdqueimadas daily region rank) ──────────────────

# Reference: social/bdqueimadas_daily/pipeline.py:47-103. Both lookup
# tables are required-parity constants (the exact IBGE state→região
# assignment the reference ships); keys are pre-normalized (accentless
# UPPER) exactly as ``normalize_state_name`` produces them.
STATE_REGION_BY_NAME = {
    "ACRE": "Norte",
    "ALAGOAS": "Nordeste",
    "AMAPA": "Norte",
    "AMAZONAS": "Norte",
    "BAHIA": "Nordeste",
    "CEARA": "Nordeste",
    "DISTRITO FEDERAL": "Centro-Oeste",
    "ESPIRITO SANTO": "Sudeste",
    "GOIAS": "Centro-Oeste",
    "MARANHAO": "Nordeste",
    "MATO GROSSO": "Centro-Oeste",
    "MATO GROSSO DO SUL": "Centro-Oeste",
    "MINAS GERAIS": "Sudeste",
    "PARA": "Norte",
    "PARAIBA": "Nordeste",
    "PARANA": "Sul",
    "PERNAMBUCO": "Nordeste",
    "PIAUI": "Nordeste",
    "RIO DE JANEIRO": "Sudeste",
    "RIO GRANDE DO NORTE": "Nordeste",
    "RIO GRANDE DO SUL": "Sul",
    "RONDONIA": "Norte",
    "RORAIMA": "Norte",
    "SANTA CATARINA": "Sul",
    "SAO PAULO": "Sudeste",
    "SERGIPE": "Nordeste",
    "TOCANTINS": "Norte",
}
STATE_REGION_BY_UF = {
    "AC": "Norte",
    "AL": "Nordeste",
    "AP": "Norte",
    "AM": "Norte",
    "BA": "Nordeste",
    "CE": "Nordeste",
    "DF": "Centro-Oeste",
    "ES": "Sudeste",
    "GO": "Centro-Oeste",
    "MA": "Nordeste",
    "MT": "Centro-Oeste",
    "MS": "Centro-Oeste",
    "MG": "Sudeste",
    "PA": "Norte",
    "PB": "Nordeste",
    "PR": "Sul",
    "PE": "Nordeste",
    "PI": "Nordeste",
    "RJ": "Sudeste",
    "RN": "Nordeste",
    "RS": "Sul",
    "RO": "Norte",
    "RR": "Norte",
    "SC": "Sul",
    "SP": "Sudeste",
    "SE": "Nordeste",
    "TO": "Norte",
}
UNIDENTIFIED_REGION = "Não identificada"

# NFKD-combining-strip over the characters that actually occur in
# Brazilian state labels (both cases — normalization upper-cases AFTER
# the strip, like unicodedata.normalize('NFKD') before .upper() would
# fold either way). translate() stays inside whole-stage codegen.
_ACCENTED = "ÁÂÃÀÄÉÊËÈÍÎÏÌÓÔÕÖÒÚÛÜÙÇáâãàäéêëèíîïìóôõöòúûüùç"
_PLAIN = "AAAAAEEEEIIIIOOOOOUUUUCaaaaaeeeeiiiiooooouuuuc"

# Whitespace Python's str.split() folds but ASCII-only regex \s (Java
# and RE2 alike) does not: C1/NEL, NBSP-family, ogham, en/em/thin/hair
# spaces, line/paragraph separators, ideographic space, and the \x1c-\x1f
# separators (ADVICE r4 — NBSP-padded labels previously fell through to
# 'Não identificada'). Each folds to a plain space BEFORE the \s+
# collapse, keeping normalization inside one whole-stage-codegen
# translate on both engines.
_UNICODE_SPACES = (
    "\x1c\x1d\x1e\x1f\x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)
# Single source→dest translate pair shared verbatim by the Catalyst
# operator and the generated DuckDB oracle (__spark_entry__).
STATE_TRANSLATE_SRC = _ACCENTED + _UNICODE_SPACES
STATE_TRANSLATE_DST = _PLAIN + " " * len(_UNICODE_SPACES)

# Messy estado-label variants used to DERIVE a detections frame from the
# events table: UF codes in both cases, full names accented/unaccented/
# lower/padded/double-spaced, plus the reference's two unmatchable
# shapes (empty string and an unknown label). Indexed by event_id so the
# DuckDB oracle reproduces the derivation bit-for-bit.
ESTADO_VARIANTS = (
    "São Paulo",
    "SP",
    "sao paulo",
    "\xa0MINAS\xa0 GERAIS  ",
    "mg",
    "Pará",
    "PARÁ",
    "ceara",
    "Mato  Grosso do   Sul",
    "rj",
    "Rio Grande do Sul",
    "AMAZONAS",
    "goiás",
    "Espírito Santo",
    "",
    "Atlantis",
)


def normalize_state_label(col: Column) -> Column:
    """NFKD accent-strip → UPPER → trim → collapse internal whitespace.

    Reference: social/bdqueimadas_daily/pipeline.py:449-454
    (``normalize_state_name``). Pure Catalyst projection. Collapse
    BEFORE trim: ``F.trim`` strips spaces only, so a trailing tab
    would otherwise survive the collapse as a trailing space. Unicode
    whitespace (NBSP, thin space, …) folds to ' ' in the translate
    step because regex ``\\s`` is ASCII-only on both engines
    (property-tested against the reference's unicodedata
    normalization in tests/test_properties.py, NBSP in the alphabet).
    """
    stripped = F.translate(col, STATE_TRANSLATE_SRC, STATE_TRANSLATE_DST)
    return F.trim(F.regexp_replace(F.upper(stripped), r"\s+", " "))


def wrap_events_as_fire_detections(events: DataFrame) -> DataFrame:
    """Shape the events table as a fire-detections frame with a messy
    ``estado`` column (the reference ingests raw BDQueimadas CSVs whose
    state labels mix UF codes, accented names, stray case and padding).
    Deterministic: variant index = event_id mod len(ESTADO_VARIANTS)."""
    idx = (F.col("event_id") % len(ESTADO_VARIANTS)).cast("int")
    variants = F.array(*[F.lit(v) for v in ESTADO_VARIANTS])
    return events.select(
        F.col("event_id").alias("detection_id"),
        F.element_at(variants, idx + 1).alias("estado"),
    )


def region_rank(detections: DataFrame) -> DataFrame:
    """Detection counts per região with normalized-state lookup and the
    'Não identificada' fallback, ranked by count.

    Reference: social/bdqueimadas_daily/pipeline.py:433-454
    (``build_region_rank`` / ``region_for_state`` /
    ``normalize_state_name``): normalize the estado label (NFKD strip,
    upper, whitespace collapse), look it up first as a UF code then as a
    full state name, fall back to 'Não identificada', then rank regions
    by detection count. The reference's ``value_counts`` tie order is
    unstable; ``label`` is the deterministic tie-break.

    Scale: the lookup is a literal in-codegen map (54 entries — the two
    reference dicts have disjoint keys after normalization, so UF-first
    precedence collapses to one map), i.e. a pure projection with NO
    join and NO extra shuffle; the only shuffle is the final groupBy on
    ≤6 region keys, map-side combined.
    """
    lookup = {**STATE_REGION_BY_UF, **STATE_REGION_BY_NAME}
    mapping = F.create_map(
        *[F.lit(x) for kv in sorted(lookup.items()) for x in kv]
    )
    region = F.coalesce(
        mapping[normalize_state_label(F.col("estado"))],
        F.lit(UNIDENTIFIED_REGION),
    )
    w = Window.orderBy(F.desc("value"), "label")
    return (
        detections.select(region.alias("label"))
        .groupBy("label")
        .agg(F.count("*").alias("value"))
        .withColumn("rank", F.row_number().over(w))
        .orderBy("rank")
    )


# ── OpenAlex abstract reconstruction + topical post-filter ──────────────────

# Reference: social/research_trends/topics config — each topic carries
# required_terms the post-filter must see in title+abstract. The corpus
# vocabulary here is the synthetic documents table's; 'dup' is its rare
# topical marker, 'minhash' never occurs (exercises the any-of OR).
ABSTRACT_TOPIC_TERMS = ("dup", "minhash")


def wrap_documents_as_works(documents: DataFrame) -> DataFrame:
    """Shape documents as OpenAlex-like works: a title plus an
    ``abstract_inverted_index`` map (token → [first position]) built
    from the document text, entries ordered by first occurrence.

    OpenAlex stores every position per token; one (the first) is enough
    to carry the reconstruction semantics. The index is built in an
    Arrow-batched kernel (``mapInPandas``) — a python dict per doc, the
    literal insertion-order semantics of the reference's JSON index —
    because the pure-Catalyst formulation (array_distinct +
    array_position per distinct token) is an interpreted O(tokens ×
    distinct) walk per row that measured 5× slower at sf0.1. Map entry
    order survives Arrow and Spark's map type, so ``map_keys`` later
    replays the reference's ``" ".join(idx.keys())`` walk
    deterministically. One streaming pass, no shuffle.
    """
    from forest_open_data_pipelines_spark.operators.textops import clean_text

    shaped = documents.select("doc_id", clean_text(F.col("text")).alias("clean"))
    schema = (
        "doc_id bigint, title string, abstract_inverted_index map<string,array<int>>"
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            titles, maps = [], []
            for doc_id, clean in zip(pdf["doc_id"], pdf["clean"]):
                titles.append(f"Work {doc_id}: {clean[:40]}")
                idx: dict[str, list[int]] = {}
                for i, tok in enumerate(clean.lower().split(" ")):
                    if tok not in idx:
                        idx[tok] = [i]
                maps.append(idx)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "title": titles,
                    "abstract_inverted_index": maps,
                }
            )

    return shaped.mapInPandas(gen, schema)


def abstract_reconstruct(
    documents: DataFrame, required_terms: tuple[str, ...] = ABSTRACT_TOPIC_TERMS
) -> DataFrame:
    """Reconstruct abstracts from the inverted index and apply the
    topical safety-net filter.

    Reference: social/research_trends/pipeline.py:192-198
    (``_reconstruct_abstract`` — flat string from the index keys) and
    :201-236 (``_topical_filter`` — keep works whose lowercased
    title+abstract contains ANY required term, case-insensitive
    substring). Output keeps the matched terms for audit.

    Scale: zero shuffles — the index walk, join and term scan are all
    per-row Catalyst expressions inside whole-stage codegen; the only
    exchange is the final presentation sort.
    """
    works = wrap_documents_as_works(documents)
    abstract = F.array_join(F.map_keys("abstract_inverted_index"), " ")
    w = works.select(
        "doc_id",
        "title",
        abstract.alias("abstract"),
        F.size(F.map_keys("abstract_inverted_index")).alias("n_index_terms"),
    )
    hay = F.lower(F.concat(F.col("title"), F.lit(" "), F.col("abstract")))
    matched = F.filter(
        F.array(*[F.lit(t) for t in required_terms]),
        lambda t: hay.contains(t),
    )
    return (
        w.withColumn("matched_terms", F.array_join(matched, ","))
        .where(F.col("matched_terms") != "")
        .orderBy("doc_id")
    )


# ── Chart payload merge/trim family (bdqueimadas_monthly_chart) ─────────────

# Perturbation added to values in the duplicate "copy" payloads so
# keep-first semantics are observable (a copy winning the dedupe would
# shift every downstream value by this amount). Shared with the oracle.
PAYLOAD_COPY_PERTURBATION = 1000


def wrap_monthly_as_year_payloads(
    monthly: DataFrame, region_col: str | None = None
) -> DataFrame:
    """Derive per-year "payload file" rows from a monthly series — the
    shape ``_collect_year_payloads`` hands to the merge/trim steps
    (bdqueimadas_monthly_chart.py:204-239), reproduced deterministically
    so the DuckDB oracle derives the identical frame.

    Each (period, value) row fans out to three payload entries:

    1. its own year's file (``file_rank = 2·year``) — the clean row;
    2. a duplicate copy of that file (``file_rank = 2·year + 1``) with
       the value perturbed — the "two ZIPs for the same year" situation
       the reference's keep-first dedupe exists for;
    3. a spillover entry in the PREVIOUS year's file
       (``file_rank = 2·(year-1)``, ``inferred_year = year - 1``) —
       the cross-year rows ``_trim_payload_monthly_to_inferred_year``
       discards because the aggregate's calendar year does not match
       the file's inferred year.

    ``file_rank`` encodes ``_select_zip_files``' sorted filename order.
    With ``region_col`` the biome label is carried through with messy
    case/padding variants (even months lower-cased, odd months padded)
    to exercise the reference's ``strip().upper()`` match.
    """
    year = F.substring("period", 1, 4).cast("int")
    value = F.col("n_orders").cast("long")
    fields: list[Column] = []
    if region_col is not None:
        month = F.substring("period", 6, 2).cast("int")
        biome = F.when(
            month % 2 == 0, F.lower(F.col(region_col))
        ).otherwise(F.concat(F.lit("  "), F.col(region_col), F.lit(" ")))
        fields = [biome.alias("biome")]

    def entry(rank: Column, inferred: Column, v: Column) -> Column:
        return F.struct(
            rank.cast("int").alias("file_rank"),
            inferred.cast("int").alias("inferred_year"),
            v.alias("value"),
        )

    entries = F.array(
        entry(year * 2, year, value),
        entry(year * 2 + 1, year, value + PAYLOAD_COPY_PERTURBATION),
        entry((year - 1) * 2, year - 1, value),
    )
    return monthly.select(
        "period", year.alias("year"), *fields, F.explode(entries).alias("e")
    ).select(
        "period",
        "year",
        *(["biome"] if region_col is not None else []),
        F.col("e.file_rank").alias("file_rank"),
        F.col("e.inferred_year").alias("inferred_year"),
        F.col("e.value").alias("value"),
    )


def payload_merge_dedupe(monthly: DataFrame) -> DataFrame:
    """Merge per-year payloads into the national monthly series:
    inferred-year trim, then per-(period, year) keep-FIRST dedupe in
    file order.

    Reference: bdqueimadas_monthly_chart.py:143-179
    (``_trim_payload_monthly_to_inferred_year`` — drop rows whose
    calendar year differs from the file's inferred year — then
    ``_monthly_all_payloads_to_df_dedupe`` — concat payloads,
    ``drop_duplicates(subset=['period','year'], keep='first')`` in
    ``_select_zip_files`` order, sort by period). The reconstructed
    output must equal the clean input series — duplicates carry a
    perturbed value precisely so a keep-last or unordered dedupe fails
    the oracle.

    Scale: trim is a pushed-down filter on the exploded payload frame;
    keep-first is a rank window PARTITIONED by (period, year) — tiny
    per-key groups, one shuffle on the dedupe key, never a global sort.
    """
    p = wrap_monthly_as_year_payloads(monthly)
    w = Window.partitionBy("period", "year").orderBy("file_rank")
    return (
        p.where(F.col("year") == F.col("inferred_year"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("period", "year", "value")
        .orderBy("period", "year")
    )


def payload_merge_dedupe_by_region(
    monthly_by_region: DataFrame, target: str = "AMERICA"
) -> DataFrame:
    """By-biome sibling of ``payload_merge_dedupe``: biome-filtered
    merge WITHOUT the year trim.

    Reference: bdqueimadas_monthly_chart.py:182-201
    (``_monthly_by_biome_payloads_to_df_dedupe``): rows match the
    target on ``str(biome).strip().upper()``; the trim step does NOT
    apply (it touches ``monthly_all`` only), so cross-year spillover
    rows survive to the dedupe, where keep-first in file order picks
    the earliest occurrence per (period, year).
    """
    p = wrap_monthly_as_year_payloads(monthly_by_region, region_col="r_name")
    matched = p.where(F.trim(F.upper(F.col("biome"))) == target.strip().upper())
    w = Window.partitionBy("period", "year").orderBy("file_rank")
    return (
        matched.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("period", "year", "value")
        .orderBy("period", "year")
    )


# ── Carousel-scoped chart specs (bdqueimadas_monthly_chart carousel) ────────

# Reference: bdqueimadas_monthly_chart.py:64-78 BDQUEIMADAS_CAROUSEL_SCOPES
# (None = national + three biomes) and :116-141 carousel_scope_to_slug /
# carousel_biome_label_pt. Region ≈ biome in the testdata mapping; the
# label table is the BIOME_LABELS pt-localization analog.
CAROUSEL_SCOPES: tuple[str | None, ...] = (None, "AMERICA", "ASIA", "EUROPE")
NATIONAL_SLUG = "nacional"
NATIONAL_LABEL_PT = "Brasil"
REGION_LABEL_PT = {"AMERICA": "América", "ASIA": "Ásia", "EUROPE": "Europa"}


def _scope_slug(scope: str | None) -> str:
    """carousel_scope_to_slug semantics: fixed national slug, else the
    lower-cased space→dash filename slug."""
    if scope is None:
        return NATIONAL_SLUG
    return scope.lower().replace(" ", "-")


def _scope_label_pt(scope: str | None) -> str:
    """carousel_biome_label_pt semantics: 'Brasil' for the national
    scope, the pt label table when known, else the scope itself."""
    if scope is None:
        return NATIONAL_LABEL_PT
    return REGION_LABEL_PT.get(scope, scope)


def carousel_scope_aggregate(enriched: DataFrame) -> DataFrame:
    """The carousel's single GROUPING SETS fact aggregate — every
    scope's (year, month) counts in one pass (grouping(r_name)
    distinguishes the national rows). Split out of
    ``monthly_chart_spec_scoped`` so the plan guard can assert the
    Expand + single-fact-scan shape of the phase that the operator
    then localCheckpoints away from its consumers' lineage."""
    base = enriched.select(
        F.year("o_orderdate").alias("year"),
        F.month("o_orderdate").alias("month"),
        "r_name",
    )
    scope = F.when(F.grouping("r_name") == 1, F.lit(NATIONAL_SLUG)).otherwise(
        F.col("r_name")
    )
    wanted = [NATIONAL_SLUG] + [s for s in CAROUSEL_SCOPES if s is not None]
    return (
        base.groupingSets(
            [["year", "month"], ["r_name", "year", "month"]],
            "r_name",
            "year",
            "month",
        )
        .agg(F.count("*").alias("n"), scope.alias("scope"))
        .where(F.col("scope").isin(wanted))
        .select("scope", "year", "month", "n")
    )


def monthly_chart_spec_scoped(enriched: DataFrame) -> DataFrame:
    """Carousel chart-spec rows for every scope in ONE fact scan: per
    (scope_slug, month 1..12) the current-year value (NULL past the
    last closed month), previous-year value (0-filled), 5-year monthly
    average (0.0-filled), PT labels, and the published-at label.

    Reference: bdqueimadas_monthly_chart.py ``compute_chart_spec``
    (:312-418) run once per carousel scope over per-scope filtered
    frames; here the national + per-region grains come from one
    GROUPING SETS aggregation (grouping(r_name) distinguishes the
    national rows) instead of per-scope passes. Reference-date
    semantics: the reference passes a wall-clock ``reference_date``
    and raises when a closed month is missing from the mensal feed —
    here the reference point is the latest (year, month) WITH data, so
    last_closed = that month - 1 (the ``reference_date.year != year``
    branches of ``last_closed_month_for_calendar_year`` are moot by
    construction) and missing closed months 0-fill like the previous
    series, since a DataFrame op cannot raise per-row.

    Scale: the fact table collapses map-side to ≤ (regions+1)·months
    aggregate rows; the scalar reference point, the 48-row spine and
    the pivot all run on that tiny frame (broadcast joins only).
    """
    # localCheckpoint (≤ (scopes+1)·months·years rows, lazy): the
    # reference-point, pivot and spine branches all consume this
    # aggregate. A persist() is NOT enough here — the round-8 scan
    # audit found cache substitution hits only ONE of the three
    # consumers of this groupingSets plan (executed plan: 1
    # InMemoryTableScan, 0 ReusedExchange; the other two branches
    # re-ran the fact scan + expand). The checkpoint truncates
    # lineage, so every consumer reads the materialized rows by
    # construction — the dedup_clusters lesson applied to the report
    # chain.
    agg = checkpoint(carousel_scope_aggregate(enriched))
    ref = (
        agg.where(F.col("scope") == NATIONAL_SLUG)
        .agg(F.max(F.struct("year", "month")).alias("mx"))
        .select(
            F.col("mx.year").alias("current_year"),
            (F.col("mx.month") - 1).alias("last_closed"),
        )
    )
    pivot = (
        agg.join(F.broadcast(ref))
        .groupBy("scope", "month")
        .agg(
            F.sum(
                F.when(F.col("year") == F.col("current_year"), F.col("n"))
            ).alias("cur"),
            F.sum(
                F.when(F.col("year") == F.col("current_year") - 1, F.col("n"))
            ).alias("prev"),
            F.avg(
                F.when(
                    (F.col("year") >= F.col("current_year") - 5)
                    & (F.col("year") <= F.col("current_year") - 1),
                    F.col("n"),
                )
            ).alias("avg5"),
        )
    )
    scopes_arr = F.array(
        *[
            F.struct(
                F.lit(_scope_slug(s)).alias("scope_slug"),
                F.lit(_scope_label_pt(s)).alias("scope_label"),
                F.lit(NATIONAL_SLUG if s is None else s).alias("scope"),
            )
            for s in CAROUSEL_SCOPES
        ]
    )
    labels = F.array(*[F.lit(x) for x in MONTH_LABELS_PT])
    spine = (
        ref.select(
            "current_year",
            "last_closed",
            F.explode(scopes_arr).alias("sc"),
        )
        .select(
            "current_year",
            "last_closed",
            "sc.scope_slug",
            "sc.scope_label",
            "sc.scope",
            F.explode(F.sequence(F.lit(1), F.lit(12))).alias("month"),
        )
    )
    published = F.when(
        F.col("last_closed").between(1, 12),
        F.concat(
            F.element_at(labels, F.col("last_closed")),
            F.lit(" "),
            F.col("current_year").cast("string"),
        ),
    ).otherwise(F.col("current_year").cast("string"))
    return (
        spine.join(F.broadcast(pivot), ["scope", "month"], "left")
        .select(
            "scope_slug",
            "scope_label",
            "month",
            F.element_at(labels, F.col("month")).alias("month_label"),
            F.when(
                F.col("month") <= F.col("last_closed"),
                F.coalesce(F.col("cur"), F.lit(0)).cast("long"),
            ).alias("current_value"),
            F.coalesce(F.col("prev"), F.lit(0)).cast("long").alias("previous_value"),
            ratio(F.coalesce(F.col("avg5"), F.lit(0.0))).alias("avg_5y"),
            F.col("last_closed").alias("last_closed_month"),
            published.alias("published_at_label"),
        )
        .orderBy("scope_slug", "month")
    )


# ── ANP panel payloads + deterministic fallback text ────────────────────────

ANP_PANEL_TITLES = {
    "national": "Produção nacional",
    "petroleo_uf": "Petróleo por estado",
    "gas_uf": "Gás natural por estado",
}
ANP_PETRO_PRIORITY = "1-URGENT"
ANP_GAS_PRIORITY = "2-HIGH"


def _fmt1(x: Column) -> Column:
    """'%.1f' of a value PRE-ROUNDED to 1 dp — pre-rounding keeps the
    Java formatter (HALF_UP) and C printf (half-even) off tie inputs,
    so both engines print identical strings."""
    return F.format_string("%.1f", x)


def _fmt_pct(p: Column) -> Column:
    """``_format_pct`` twin (anp_producao/pipeline.py:369-372):
    'n/d' for NULL, else sign-prefixed '%+.1f%%'. Deviation: a pct in
    (-0.05, 0) renders '+0.0%' here (SQL -0.0 == 0), where Python's
    '%+.1f' of the same value gives '-0.0%'."""
    r = scaled_round(p, 1)
    return (
        F.when(p.isNull(), F.lit("n/d"))
        .when(r == 0, F.lit("+0.0%"))
        .when(r > 0, F.concat(F.lit("+"), _fmt1(r), F.lit("%")))
        .otherwise(F.concat(_fmt1(r), F.lit("%")))
    )


def _fmt_month_pt(d: Column) -> Column:
    """``_format_month`` twin: 'Abr 2026'."""
    labels = F.array(*[F.lit(x) for x in MONTH_LABELS_PT])
    return F.concat(
        F.element_at(labels, F.month(d)), F.lit(" "), F.year(d).cast("string")
    )


def _compact_value(v: Column, kind: str) -> Column:
    """``_compact_value`` twin: value/1e6 at 1 dp with the mi/bi m3
    unit suffix."""
    unit = " mi m3" if kind == "petroleo" else " bi m3"
    return F.concat(_fmt1(scaled_round(v / 1_000_000.0, 1)), F.lit(unit))


def _pct_delta(new: Column, old: Column) -> Column:
    """``pct_delta`` twin: round((new/old - 1)·100, 2), NULL on old=0.
    Scale-then-round at 2 dp (columns.ratio rationale)."""
    return F.when(old == 0, F.lit(None).cast("double")).otherwise(
        scaled_round((new / old - 1.0) * 100.0, 2)
    )


def anp_panel_payloads(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    petro_priority: str = ANP_PETRO_PRIORITY,
    gas_priority: str = ANP_GAS_PRIORITY,
) -> DataFrame:
    """The three ANP social-deck panel payload rows with deterministic
    fallback text — (panel, title, latest/previous/yoy periods,
    fallback_text).

    Reference: social/anp_producao/pipeline.py:385-453
    (``build_panel_payloads`` + ``fallback_text`` with the
    :369-383 formatting helpers): the national panel renders the
    latest-common-month metric sentence (compact values, MoM/YoY pct),
    the two per-UF panels render the leader/runner-up share sentences
    with the reference's 0/1/≥2-state branches. Metric semantics are
    ``latest_common_positive_metrics`` (:293-319) at the monthly grain:
    months where BOTH series are positive, MoM vs the previous common
    month, YoY vs the month 12 back — which must exist: the reference
    raises otherwise, here the inner join yields zero rows (the
    DataFrame analog of refusing to publish).

    Mapping: petróleo ≈ '1-URGENT' order revenue, gás ≈ '2-HIGH',
    UF ≈ nation. All money values pass through round-2 BEFORE any
    ratio so both engines derive pcts from identical doubles.

    Scale: one fact scan collapses to (month × 2) partial sums plus
    one latest-month per-nation aggregate per product; every
    subsequent join is a broadcast of a 1-row frame. The customer →
    nation dimension joins broadcast (the standard enrichment shape);
    ``orders_enriched`` is not reused because the panel needs
    ``o_orderpriority``, which that projection prunes.
    """
    enriched = (
        orders.select("o_custkey", "o_orderdate", "o_orderpriority", "o_totalprice")
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    price = F.col("o_totalprice")
    m = (
        enriched.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("period")
        )
        .agg(
            money(
                F.sum(F.when(F.col("o_orderpriority") == petro_priority, price))
            ).alias("a"),
            money(
                F.sum(F.when(F.col("o_orderpriority") == gas_priority, price))
            ).alias("b"),
        )
        .where((F.col("a") > 0) & (F.col("b") > 0))
    )
    # Persist the both-positive monthly frame (#months rows): combo,
    # the latest-month scalar and the YoY self-join all read it, and
    # without the persist each consumer re-runs the enriched fact
    # scan + monthly aggregate underneath (5 fact scans for a 3-row
    # result — round-8 scan audit). The latest-month share aggregate
    # still scans the fact table once itself (it needs order-level
    # rows), so the operator costs exactly two fact scans.

    m = persist(m)
    w = Window.orderBy("period")
    combo = m.select(
        "period",
        "a",
        "b",
        F.lag("period").over(w).alias("previous_period"),
        F.lag("a").over(w).alias("prev_a"),
        F.lag("b").over(w).alias("prev_b"),
    )
    latest = combo.agg(F.max("period").alias("latest_period"))
    cur = combo.join(F.broadcast(latest), F.col("period") == F.col("latest_period"))
    yoy = m.select(
        F.col("period").alias("yoy_period"),
        F.col("a").alias("yoy_a"),
        F.col("b").alias("yoy_b"),
    )
    metrics = cur.join(
        F.broadcast(yoy),
        F.add_months(F.col("period"), -12) == F.col("yoy_period"),
    ).select(
        "period",
        "previous_period",
        "yoy_period",
        "a",
        "b",
        _pct_delta(F.col("a"), F.col("prev_a")).alias("a_mom"),
        _pct_delta(F.col("b"), F.col("prev_b")).alias("b_mom"),
        _pct_delta(F.col("a"), F.col("yoy_a")).alias("a_yoy"),
        _pct_delta(F.col("b"), F.col("yoy_b")).alias("b_yoy"),
    )

    # Both products' share tables come from ONE latest-month aggregate
    # (grouped by priority) — a per-product filter chain would scan the
    # fact table twice for identical partial sums.
    per = (
        enriched.where(F.col("o_orderpriority").isin(petro_priority, gas_priority))
        .join(F.broadcast(latest))
        .where(
            F.date_trunc("month", F.col("o_orderdate")).cast("date")
            == F.col("latest_period")
        )
        .groupBy("o_orderpriority", "n_name")
        .agg(money(F.sum(price)).alias("value"))
        .where(F.col("value") > 0)
    )
    total = F.sum("value").over(Window.partitionBy("o_orderpriority"))
    rw = Window.partitionBy("o_orderpriority").orderBy(F.desc("value"), "n_name")
    ranked = per.select(
        "o_orderpriority",
        "n_name",
        F.round(F.col("value") / total * 100.0, 2).alias("share"),
        F.row_number().over(rw).alias("rank"),
    )

    def _agg_shares(prio: str, prefix: str) -> list[Column]:
        p = F.col("o_orderpriority") == prio
        return [
            F.sum(F.when(p, 1).otherwise(0)).alias(f"{prefix}_n"),
            F.max(F.when(p & (F.col("rank") == 1), F.col("n_name"))).alias(
                f"{prefix}_uf1"
            ),
            F.max(F.when(p & (F.col("rank") == 1), F.col("share"))).alias(
                f"{prefix}_p1"
            ),
            F.max(F.when(p & (F.col("rank") == 2), F.col("n_name"))).alias(
                f"{prefix}_uf2"
            ),
            F.max(F.when(p & (F.col("rank") == 2), F.col("share"))).alias(
                f"{prefix}_p2"
            ),
        ]

    share_summary = ranked.agg(
        *_agg_shares(petro_priority, "pa"), *_agg_shares(gas_priority, "ga")
    )

    national_text = F.concat(
        F.lit("Em "),
        _fmt_month_pt(F.col("period")),
        F.lit(", petróleo somou "),
        _compact_value(F.col("a"), "petroleo"),
        F.lit(" ("),
        _fmt_pct(F.col("a_mom")),
        F.lit(" MoM, "),
        _fmt_pct(F.col("a_yoy")),
        F.lit(" YoY). Gás natural atingiu "),
        _compact_value(F.col("b"), "gas"),
        F.lit(" ("),
        _fmt_pct(F.col("b_mom")),
        F.lit(" MoM, "),
        _fmt_pct(F.col("b_yoy")),
        F.lit(" YoY)."),
    )

    def uf_text(prefix: str) -> Column:
        n = F.col(f"{prefix}_n")
        uf1, p1 = F.col(f"{prefix}_uf1"), F.round(F.col(f"{prefix}_p1"), 1)
        uf2, p2 = F.col(f"{prefix}_uf2"), F.round(F.col(f"{prefix}_p2"), 1)
        return (
            F.when(
                n >= 2,
                F.concat(
                    uf1,
                    F.lit(" lidera o recorte com "),
                    _fmt1(p1),
                    F.lit("% do total. "),
                    uf2,
                    F.lit(" aparece em seguida, com "),
                    _fmt1(p2),
                    F.lit(
                        "%. A produção segue concentrada, com baixa dispersão "
                        "entre os demais estados."
                    ),
                ),
            )
            .when(
                n == 1,
                F.concat(
                    uf1,
                    F.lit(" concentra "),
                    _fmt1(p1),
                    F.lit("% do total no último mês disponível."),
                ),
            )
            .otherwise(
                F.lit("Sem dados estaduais positivos no último mês comum da série.")
            )
        )

    panels = F.array(
        F.struct(
            F.lit("national").alias("panel"),
            F.lit(ANP_PANEL_TITLES["national"]).alias("title"),
            national_text.alias("fallback_text"),
        ),
        F.struct(
            F.lit("petroleo_uf").alias("panel"),
            F.lit(ANP_PANEL_TITLES["petroleo_uf"]).alias("title"),
            uf_text("pa").alias("fallback_text"),
        ),
        F.struct(
            F.lit("gas_uf").alias("panel"),
            F.lit(ANP_PANEL_TITLES["gas_uf"]).alias("title"),
            uf_text("ga").alias("fallback_text"),
        ),
    )
    return (
        metrics.join(F.broadcast(share_summary))
        .select(
            F.explode(panels).alias("p"),
            F.date_format("period", "yyyy-MM-dd").alias("latest_period"),
            F.date_format("previous_period", "yyyy-MM-dd").alias("previous_period"),
            F.date_format("yoy_period", "yyyy-MM-dd").alias("yoy_period"),
        )
        .select(
            F.col("p.panel").alias("panel"),
            F.col("p.title").alias("title"),
            "latest_period",
            "previous_period",
            "yoy_period",
            F.col("p.fallback_text").alias("fallback_text"),
        )
        .orderBy("panel")
    )


def payload_merge_dedupe_scoped(
    monthly: DataFrame, monthly_by_region: DataFrame
) -> DataFrame:
    """Every carousel scope's payload merge in ONE pass: the national
    merge (inferred-year trim + keep-first dedupe) unioned with ALL
    carousel biomes' merges from a single windowed pass over the
    by-region payload frame — where the reference rebuilds the frame
    once per scope (``_monthly_by_biome_payloads_to_df_dedupe`` called
    per carousel entry, bdqueimadas_monthly_chart.py:182-201 with the
    scope loop at :312).

    Scale: the by-region side is one shuffle on (scope, period, year)
    covering every biome at once; adding scopes adds rows to the same
    window, not passes over the fact table.
    """
    nat = payload_merge_dedupe(monthly).select(
        F.lit(NATIONAL_SLUG).alias("scope_slug"), "period", "year", "value"
    )
    p = wrap_monthly_as_year_payloads(monthly_by_region, region_col="r_name")
    scopes = [s for s in CAROUSEL_SCOPES if s is not None]
    norm = F.trim(F.upper(F.col("biome")))
    matched = p.withColumn("scope", norm).where(F.col("scope").isin(*scopes))
    w = Window.partitionBy("scope", "period", "year").orderBy("file_rank")
    slug = F.replace(F.lower(F.col("scope")), F.lit(" "), F.lit("-"))
    reg = (
        matched.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(slug.alias("scope_slug"), "period", "year", "value")
    )
    return nat.unionByName(reg).orderBy("scope_slug", "period", "year")


# ── focos_incendio LLM payload (analytical, network-free) ───────────────────


def _round2(c: Column) -> Column:
    """2-dp scale-then-round: named alias for the reference's payload
    precision, delegating to the one canonical hardened formula."""
    return scaled_round(c, 2)


def focos_llm_payload(spec: DataFrame) -> DataFrame:
    """The focos-de-incêndio analytical LLM payload, one row per
    carousel scope, derived entirely from the chart-spec frame — the
    deterministic, network-free metric derivation the reference feeds
    its prompt builder.

    Reference: social/llm/payloads/focos_incendio.py:21
    (``build_focos_incendio_llm_payload``) + :110
    (``payload_to_prompt_block``), tests in
    tests/test_focos_incendio_llm_payload.py. Semantics mirrored:

    - mês vs mês: the LAST CLOSED month's current-year value vs the
      same month previous year, pct = round(100·(new−old)/old, 2)
      (the reference's ``_pct_delta`` formula verbatim, NULL on
      old = 0 or new NULL).
    - acumulado: Jan..last-closed sums of current (NULL months
      skipped), previous, and the 5-yr monthly averages (sum rounded
      2 dp for display, compared UNROUNDED for the pct — exactly the
      reference's ytd_avg_sum handling).
    - bioma display label = the scope's PT label (the reference's
      ``metadata.biome_label_pt`` / 'Brasil (Nacional)' fallback).
    - prompt_block: deterministic serialization of the payload
      (``payload_to_prompt_block`` is json.dumps(indent=2); here a
      compact one-line JSON with the same field ORDER and pct values
      rendered at fixed 2 dp — a documented rendering deviation, the
      CONTENT is field-for-field the reference payload).
    - deviations: latest_year derives from the spec's published-at
      label (the scoped spec does not carry a year column);
      reference_date is data-derived like the spec itself (the
      reference raises on last_closed_month < 1 — a DataFrame op
      cannot raise per row, so those rows carry NULL metrics).

    Scale: input is the ≤ scopes·12-row spec frame; one groupBy on it,
    then pure projections — every join upstream already collapsed in
    ``monthly_chart_spec_scoped``.
    """
    in_win = F.col("month") <= F.col("last_closed_month")
    at_last = F.col("month") == F.col("last_closed_month")
    agg = (
        spec.groupBy("scope_slug", "scope_label", "last_closed_month")
        .agg(
            F.max(F.when(at_last, F.col("month_label"))).alias("mes_rotulo"),
            F.max(F.when(at_last, F.col("current_value"))).alias("mom_cur"),
            F.max(F.when(at_last, F.col("previous_value"))).alias("mom_prev"),
            F.sum(F.when(in_win, F.col("current_value"))).alias("ytd_cur"),
            F.sum(F.when(in_win, F.col("previous_value"))).alias("ytd_prev"),
            # avg_5y is a 6-dp ratio(): sum it in EXACT integer
            # micro-units (long add is associative) so the result is
            # independent of partial-aggregation order, then rescale —
            # the embedding_label_stats micro-cosine pattern. A raw
            # double sum could land 1 ulp apart across engines and flip
            # the 2-dp display round at a half boundary.
            (
                F.sum(
                    F.when(
                        in_win,
                        F.round(F.col("avg_5y") * F.lit(1e6), 0).cast("long"),
                    )
                )
                / F.lit(1e6)
            ).alias("ytd_avg_raw"),
            F.max("published_at_label").alias("published_at_label"),
        )
    )
    year = F.element_at(F.split(F.col("published_at_label"), " "), -1).cast("int")
    # the reference's _pct_delta: round(100·(new−old)/old, 2), None on 0
    def pct_delta(new: Column, old: Column) -> Column:
        return F.when(old == 0, F.lit(None).cast("double")).otherwise(
            _round2(F.lit(100.0) * (new - old) / old)
        )

    cur_d = F.col("mom_cur").cast("double")
    prev_d = F.col("mom_prev").cast("double")
    ytd_cur_d = F.col("ytd_cur").cast("double")
    ytd_prev_d = F.col("ytd_prev").cast("double")
    s = lambda c: F.coalesce(c.cast("string"), F.lit("null"))
    # coalesce BEFORE formatting: Java's %.2f applied to a NULL arg
    # formats the string "null" at precision 2 -> "nu"
    f2 = lambda c: F.when(c.isNull(), F.lit("null")).otherwise(
        F.format_string("%.2f", _round2(c))
    )
    body = F.concat(
        F.lit('{"schema": "focos_incendio_br_v3", "bioma": "'),
        F.col("scope_label"),
        F.lit('", "ultimo_mes_fechado": {"mes": "'),
        F.coalesce(F.col("mes_rotulo"), F.lit("null")),
        F.lit('", "focos_ano_atual": '),
        s(F.col("mom_cur")),
        F.lit(', "focos_ano_anterior": '),
        s(F.col("mom_prev")),
        F.lit(', "variacao_pct": '),
        f2(pct_delta(cur_d, prev_d)),
        F.lit('}, "acumulado": {"soma_ano_atual": '),
        s(F.col("ytd_cur")),
        F.lit(', "soma_ano_anterior": '),
        s(F.col("ytd_prev")),
        F.lit(', "soma_medias_5y": '),
        f2(F.col("ytd_avg_raw")),
        F.lit(', "variacao_pct_vs_ano_anterior": '),
        f2(pct_delta(ytd_cur_d, ytd_prev_d)),
        F.lit(', "variacao_pct_vs_media_5y": '),
        f2(pct_delta(ytd_cur_d, F.col("ytd_avg_raw"))),
        F.lit("}}"),
    )
    return agg.select(
        "scope_slug",
        F.col("scope_label").alias("bioma"),
        year.alias("latest_year"),
        (year - 1).alias("previous_year"),
        "last_closed_month",
        "mes_rotulo",
        F.col("mom_cur").alias("focos_ano_atual"),
        F.col("mom_prev").alias("focos_ano_anterior"),
        pct_delta(cur_d, prev_d).alias("variacao_pct_mes"),
        F.col("ytd_cur").alias("soma_focos_ano_atual"),
        F.col("ytd_prev").alias("soma_focos_ano_anterior"),
        _round2(F.col("ytd_avg_raw")).alias("soma_medias_5y_acumulada"),
        pct_delta(ytd_cur_d, ytd_prev_d).alias("variacao_pct_acumulado"),
        pct_delta(ytd_cur_d, F.col("ytd_avg_raw")).alias(
            "variacao_pct_acumulado_vs_media_5y"
        ),
        body.alias("prompt_block"),
    ).orderBy("scope_slug")


# ── focos_incendio_br prompt builders ───────────────────────────────────────
# Verbatim prompt text from the reference's deterministic builders
# (social/llm/prompts/focos_incendio_br/graphic_text.py:5-41,
# post_description.py:7-34, carousel_post_description.py:8-29) — data
# constants required for semantic parity (the UF→região lookup-table
# precedent), not copied logic: the assembly below is Spark column
# concatenation, the reference's is Python f-strings.

FOCOS_SYSTEM_GRAPHIC_TEXT = (
    "Você é um analista de dados escrevendo para o público leigo no Brasil.\n"
    "Responda exclusivamente em português do Brasil (pt-BR).\n"
    "Produza um parágrafo curto (cerca de 3 a 6 frases) que acompanhe um "
    "gráfico de focos de queimada por mês.\n"
    "Baseie-se apenas nos números do JSON fornecido; não invente "
    "estatísticas.\n"
    "O escopo é mensal: os dados cobrem só meses civis já encerrados "
    "(último mês em destaque no JSON).\n"
    "Compare, quando possível: último mês fechado (mês vs mês) e o acumulado "
    "desde janeiro até esse mês contra o ano anterior e contra a soma das "
    "médias mensais da janela de 5 anos.\n"
    "Evite jargão excessivo; não use markdown nem emojis."
)
FOCOS_SYSTEM_POST_DESCRIPTION = (
    "Você é um assistente de comunicação científica para redes sociais no "
    "Brasil.\n"
    "Responda exclusivamente em português do Brasil (pt-BR).\n"
    "Gere uma única legenda para Instagram sobre focos de incêndio / "
    "queimadas no Brasil, com tom informativo e acessível, sem alarmismo "
    "indevido.\n"
    "A primeira linha da legenda DEVE começar exatamente com a data entre "
    "colchetes no formato [YYYY-MM-DD], usando a data de referência "
    "fornecida no pedido.\n"
    "Não use hashtags;.\n"
    "Máximo aproximado de 500 caracteres."
)
FOCOS_SYSTEM_CAROUSEL = (
    "Você é um assistente de comunicação científica para redes sociais no "
    "Brasil.\n"
    "Responda exclusivamente em português do Brasil (pt-BR).\n"
    "Gere uma única legenda curta para um carrossel sobre focos de incêndio "
    "/ queimadas.\n"
    "A primeira linha DEVE começar exatamente com a data entre colchetes "
    "[YYYY-MM-DD] usando a data fornecida.\n"
    "Não use hashtags. Máximo aproximado de 280 caracteres. Seja direto; "
    "não liste números por slide."
)
FOCOS_GT_TOM_NATIONAL = (
    ". Tom: visão do País (território nacional). Não compare nem mencione "
    "outros biomas ou a ausência de outros recortes."
)
FOCOS_GT_TOM_REGIONAL = (
    ". Tom: leitura regional desse bioma. Não mencione ausência de dados de "
    "outros biomas ou do território nacional."
)
FOCOS_GT_USER_MID = "\n\nDados para análise (JSON):\n"
FOCOS_GT_USER_TAIL = (
    "\n\nTarefa: escreva o texto explicativo do gráfico conforme as regras "
    "do sistema."
)
FOCOS_PD_USER_HEAD = (
    "Data de referência (use exatamente esta data no prefixo [YYYY-MM-DD]): "
)
FOCOS_PD_USER_MID = (
    "\n\nContexto numérico e metadados (JSON; pode citar tendências de alto "
    "nível, sem inventar números ausentes):\n"
)
FOCOS_PD_USER_TAIL_A = (
    "\n\nTarefa: escreva a legenda completa em pt-BR, começando a primeira "
    "linha exatamente com ["
)
FOCOS_PD_USER_TAIL_B = (
    "] seguido do restante do texto (pode quebrar linha após a data se "
    "quiser)."
)
FOCOS_CC_USER_HEAD = "Data (prefixo obrigatório na primeira linha): ["
FOCOS_CC_USER_TAIL = (
    "]\n\nO carrossel apresenta a série temporal no território nacional e "
    "recortes regionais (Amazônia, Cerrado e Pantanal).\n\n"
    "Tarefa: escreva uma legenda única e breve para o post, adequada a um "
    "carrossel, sem detalhar cada slide."
)


def focos_prompt_texts(spec: DataFrame) -> DataFrame:
    """The three focos-de-incêndio (system_prompt, user_prompt) pairs
    the reference assembles before its LLM call — the deterministic,
    network-free half of the social pipeline's prompt stage.

    Rows: ``graphic_text`` per carousel scope (national vs regional
    tone — graphic_text.py:24-36), ``post_description`` and
    ``carousel_caption`` anchored to the national scope
    (post_description.py:19-34, carousel_post_description.py:18-29).
    The reference passes the run date; the deterministic stand-in here
    is the first day of the last closed month — the latest date the
    payload itself certifies.

    ONE pass over the ``focos_llm_payload`` frame (the payload JSON
    rides in as ``prompt_block``): all three prompt kinds are built as
    an exploded struct array per payload row, with the national-only
    kinds NULLed out (→ array_compact) on regional rows — the
    round-8 scan audit found the former three-branch union re-ran the
    full enriched → chart-spec → payload chain once per branch (6
    fact scans for a 6-row result; union branches do not reliably hit
    a persisted subtree's cache). String assembly is literal
    concatenation, identical on both engines by construction.
    """
    p = focos_llm_payload(spec)
    d = F.date_format(
        F.make_date("latest_year", "last_closed_month", F.lit(1)), "yyyy-MM-dd"
    )
    is_nat = F.col("scope_slug") == NATIONAL_SLUG
    tom = F.when(
        is_nat,
        F.concat(F.lit("Recorte: "), F.col("bioma"), F.lit(FOCOS_GT_TOM_NATIONAL)),
    ).otherwise(
        F.concat(
            F.lit("Recorte regional: "),
            F.col("bioma"),
            F.lit(FOCOS_GT_TOM_REGIONAL),
        )
    )

    def _row(kind: str, system: str, user: Column) -> Column:
        return F.struct(
            F.lit(kind).alias("kind"),
            F.col("scope_slug").alias("scope_slug"),
            F.lit(system).alias("system_prompt"),
            user.alias("user_prompt"),
        )

    gt_user = F.concat(
        tom, F.lit(FOCOS_GT_USER_MID), F.col("prompt_block"), F.lit(FOCOS_GT_USER_TAIL)
    )
    pd_user = F.concat(
        F.lit(FOCOS_PD_USER_HEAD),
        d,
        F.lit(FOCOS_PD_USER_MID),
        F.col("prompt_block"),
        F.lit(FOCOS_PD_USER_TAIL_A),
        d,
        F.lit(FOCOS_PD_USER_TAIL_B),
    )
    cc_user = F.concat(F.lit(FOCOS_CC_USER_HEAD), d, F.lit(FOCOS_CC_USER_TAIL))
    rows = F.array_compact(
        F.array(
            _row("graphic_text", FOCOS_SYSTEM_GRAPHIC_TEXT, gt_user),
            F.when(is_nat, _row("post_description", FOCOS_SYSTEM_POST_DESCRIPTION, pd_user)),
            F.when(is_nat, _row("carousel_caption", FOCOS_SYSTEM_CAROUSEL, cc_user)),
        )
    )
    return (
        p.select(F.explode(rows).alias("r"))
        .select("r.kind", "r.scope_slug", "r.system_prompt", "r.user_prompt")
        .orderBy("kind", "scope_slug")
    )


# ── ANP produção prompt builders ────────────────────────────────────────────
# Verbatim prompt text from the reference's deterministic ANP builders
# (social/llm/prompts/anp_producao/graphic_text.py:5-24) — data
# constants required for semantic parity, not copied logic: assembly
# below is Spark column concatenation over the payload frame.

ANP_SOURCE_URL = (
    "https://www.gov.br/anp/pt-br/centrais-de-conteudo/dados-abertos/"
    "producao-de-petroleo-e-gas-natural-por-estado-e-localizacao"
)
ANP_SYSTEM_GRAPHIC_TEXT = (
    "Você é um analista financeiro escrevendo para um carrossel "
    "institucional do Instituto Forest. Use português brasileiro, tom "
    "conciso e objetivo. Faça análise descritiva, sem recomendação de "
    "investimento. Use apenas números presentes no JSON. Escreva no máximo "
    "2 frases curtas. Não use listas, Markdown, emojis ou caracteres "
    "tipográficos especiais. Use espaço normal entre números e unidades."
)
ANP_GT_USER_HEAD = "Escopo do slide: "
ANP_GT_USER_MID = (
    ".\nEscreva o texto do corpo do slide com base no JSON abaixo. "
    "Priorize MoM, YoY, concentração estadual e leitura de tendência "
    "quando existirem.\n\n"
)


def _json_escape(col: Column) -> Column:
    """Minimal JSON string escaping (backslash first, then quote) —
    the two characters the payload strings could legally contain;
    identical replace() chain on the DuckDB side."""
    return F.regexp_replace(
        F.regexp_replace(col, r"\\", r"\\\\"), '"', '\\\\"'
    )


def anp_prompt_texts(payloads: DataFrame) -> DataFrame:
    """The three ANP produção (system_prompt, user_prompt) pairs the
    reference assembles before its LLM call — the deterministic,
    network-free half of the anp_producao social pipeline's prompt
    stage, closing the social/llm family (the focos twin is
    ``focos_prompt_texts``).

    Reference: social/llm/prompts/anp_producao/graphic_text.py:5-24
    (``build_graphic_text_prompts`` — fixed system string; user prompt
    "Escopo do slide: {scope}.\\n…" + the payload JSON block),
    social/llm/payloads/anp_producao.py:9-10
    (``payload_to_prompt_block`` = json.dumps(indent=2, ensure_ascii
    False)), wired per scope key in pipeline.py:495-499
    (scope_slug = the panel key).

    The prompt block is the indent-2 JSON serialization of the payload
    frame's columns in the reference's common-fields-then-panel order
    (source, latest_period, previous_period, yoy_period, panel, title,
    fallback_text). Documented deviation mirroring
    ``focos_llm_payload``: the reference payload also nests the full
    metrics/top_states/profiles dicts the Spark frame pre-renders into
    ``fallback_text``; the block here carries the frame's columns —
    field-for-field what the frame publishes, same formatting contract
    (indent-2, ensure_ascii=False ≡ UTF-8 passthrough).

    Pure projection over ``anp_panel_payloads`` (≤3 rows); string
    assembly is literal concatenation, identical on both engines by
    construction.
    """
    nl = "\n"
    q = '"'

    def field(name: str, value: Column, last: bool = False) -> list[Column]:
        out = [
            F.lit(f'  "{name}": "'),
            value,
            F.lit(q + ("" if last else ",") + nl),
        ]
        return out

    block = F.concat(
        F.lit("{" + nl),
        *field("source", F.lit(ANP_SOURCE_URL)),
        *field("latest_period", F.col("latest_period")),
        *field("previous_period", F.col("previous_period")),
        *field("yoy_period", F.col("yoy_period")),
        *field("panel", F.col("panel")),
        *field("title", _json_escape(F.col("title"))),
        *field("fallback_text", _json_escape(F.col("fallback_text")), last=True),
        F.lit("}"),
    )
    return payloads.select(
        F.col("panel").alias("scope_slug"),
        F.lit(ANP_SYSTEM_GRAPHIC_TEXT).alias("system_prompt"),
        F.concat(
            F.lit(ANP_GT_USER_HEAD),
            F.col("panel"),
            F.lit(ANP_GT_USER_MID),
            block,
        ).alias("user_prompt"),
    ).orderBy("scope_slug")
