"""Freshness / cadence classification over an observation stream.

Spark-first re-expression of ``src/forest_pipelines/freshness/
classifier.py:80-154``: per watch (≈ ``user_id`` in the events table),
compute the intervals between consecutive observations, take the
median and the coefficient of variation (population stddev / mean),
and classify the cadence and a confidence grade with the reference's
exact thresholds.

Scale notes: the lag window partitions by the watch key, so interval
computation is a single shuffle on user_id; everything after operates
on one row per watch. At 100 TB of events this is the canonical
sessionize-shaped plan (shuffle once, window within partition,
aggregate down).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from forest_open_data_pipelines_spark.functions.columns import ratio


def _intervals(events: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "ts",
        (
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
            / F.lit(86400.0 * 1_000_000)
        ).alias("interval_days"),
    )


def cadence_label(
    observations: Column, changes: Column, center_days: Column, cv: Column
) -> Column:
    """The cadence bucket of classifier.py ``_cadence_for`` from the
    observation/change counts, the interval centre and the CV. The
    batch operator passes the interval median; the streaming monitor
    passes the mean, the centre it can keep in O(1) state."""
    return (
        F.when((observations >= 6) & (changes < 2), F.lit("ad_hoc"))
        .when(changes < 3, F.lit("insufficient_data"))
        .when(cv > 0.75, F.lit("irregular"))
        .when((observations >= 30) & (center_days <= 1.5), F.lit("daily"))
        .when(
            (observations >= 8) & (center_days >= 5) & (center_days <= 10),
            F.lit("weekly"),
        )
        .when((center_days >= 25) & (center_days <= 35), F.lit("monthly"))
        .otherwise(F.lit("irregular"))
    )


def freshness_cadence(events: DataFrame) -> DataFrame:
    """Per-user cadence classification.

    Thresholds mirror classifier.py:116-154 (``_cadence_for`` /
    ``_confidence_for``): observations/changes counts, median interval,
    CV buckets → {daily, weekly, monthly, irregular, ad_hoc,
    insufficient_data} and confidence {low, medium, high}.
    Every event counts as an observation; positive intervals count as
    "changes" (the testdata has no unchanged-probe notion).
    """
    per_user = (
        _intervals(events)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("observations"),
            F.count(F.when(F.col("interval_days") > 0, 1)).alias("changes"),
            F.median(F.when(F.col("interval_days") > 0, F.col("interval_days"))).alias(
                "median_interval_days"
            ),
            F.stddev_pop(
                F.when(F.col("interval_days") > 0, F.col("interval_days"))
            ).alias("sd"),
            F.avg(F.when(F.col("interval_days") > 0, F.col("interval_days"))).alias(
                "mean_interval"
            ),
            F.max("ts").alias("last_observed_at"),
        )
    )
    cv = F.when(
        (F.col("changes") >= 2) & (F.col("mean_interval") != 0),
        F.col("sd") / F.col("mean_interval"),
    )
    confidence = (
        F.when((F.col("changes") < 3) | (F.col("observations") < 6), F.lit("low"))
        .when((F.col("observations") >= 30) & (cv.isNull() | (cv <= 0.25)), F.lit("high"))
        .when(cv.isNull() | (cv <= 0.75), F.lit("medium"))
        .otherwise(F.lit("low"))
    )
    return per_user.select(
        "user_id",
        "observations",
        "changes",
        ratio(F.col("median_interval_days")).alias("median_interval_days"),
        ratio(cv).alias("cv"),
        cadence_label(
            F.col("observations"), F.col("changes"), F.col("median_interval_days"), cv
        ).alias("suggested_cadence"),
        confidence.alias("confidence"),
        "last_observed_at",
    ).orderBy("user_id")


def freshness_latest(events: DataFrame) -> DataFrame:
    """Per-user last observation + staleness vs the global max timestamp
    (freshness/report.py analog: 'which watches are stale')."""
    per_user = events.groupBy("user_id").agg(
        F.max("ts").alias("last_observed_at"), F.count("*").alias("observations")
    )
    latest = per_user.agg(F.max("last_observed_at").alias("as_of"))
    return (
        per_user.join(F.broadcast(latest))
        .select(
            "user_id",
            "observations",
            "last_observed_at",
            ratio(
                (F.unix_micros("as_of") - F.unix_micros("last_observed_at"))
                / F.lit(86400.0 * 1_000_000)
            ).alias("staleness_days"),
        )
        .orderBy("user_id")
    )


# ── gov.br page freshness labels (ANP landing pages) ────────────────────────

# Reference: datasets/anp/govbr.py:49-61 — required-parity regexes
# ((?i) replaces re.IGNORECASE; all RE2-compatible, shared with the
# DuckDB oracle).
GOVBR_DATE_LABEL_RE = (
    r"([0-9]{1,2})/([0-9]{1,2})/([0-9]{4})(?:\s+([0-9]{1,2})h([0-9]{2}))?"
)
GOVBR_PUBLISHED_RE = (
    r"(?i)publicado em\s+"
    r"([0-9]{1,2}/[0-9]{1,2}/[0-9]{4}(?:\s+[0-9]{1,2}h[0-9]{2})?)"
)
GOVBR_UPDATED_RE = (
    r"(?i)atualizado em\s+"
    r"([0-9]{1,2}/[0-9]{1,2}/[0-9]{4}(?:\s+[0-9]{1,2}h[0-9]{2})?)"
)

_GOVBR_PAGE_KINDS = 5


def wrap_documents_as_govbr_pages(documents: DataFrame) -> DataFrame:
    """Render documents as gov.br page text with Publicado/Atualizado
    labels cycled by doc_id: both with HhMM times, published-only
    date-precision, modified-only with time, neither, and both
    date-only — every branch of the label extractor and both
    precisions fire. Date parts derive from doc_id (day ≤ 27, so
    every rendered date is valid — invalid-date NULLs are
    pt_date_parse's domain)."""
    d = (F.col("doc_id") % 27 + 1).cast("string")
    d2 = (F.col("doc_id") % 27 + 2).cast("string")
    m = (F.col("doc_id") % 12 + 1).cast("string")
    y = (F.col("doc_id") % 4 + 2020).cast("string")
    hhmm = F.concat(
        (F.col("doc_id") % 23).cast("string"),
        F.lit("h"),
        F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
    )
    pub_dt = F.concat(F.lit("Publicado em "), d, F.lit("/"), m, F.lit("/"), y, F.lit(" "), hhmm)
    pub_d = F.concat(F.lit("Publicado em "), d, F.lit("/"), m, F.lit("/"), y)
    upd_dt = F.concat(F.lit("Atualizado em "), d2, F.lit("/"), m, F.lit("/"), y, F.lit(" "), hhmm)
    upd_d = F.concat(F.lit("Atualizado em "), d2, F.lit("/"), m, F.lit("/"), y)
    kinds = F.array(
        F.concat(F.lit("Conteúdo da página. "), pub_dt, F.lit(" "), upd_dt, F.lit(" rodapé")),
        F.concat(F.lit("Sobre o painel: "), pub_d, F.lit(" — dados ANP")),
        F.concat(F.lit("Série histórica. "), upd_dt),
        F.lit("Página sem datas de publicação no corpo."),
        F.concat(pub_d, F.lit(" "), upd_d),
    )
    return documents.select(
        "doc_id",
        F.element_at(
            kinds, (F.col("doc_id") % _GOVBR_PAGE_KINDS + 1).cast("int")
        ).alias("page_text"),
    )


def _govbr_signal(label):
    """``parse_govbr_freshness_label`` twin (govbr.py:160-184): label →
    (wall-clock timestamp, precision). The reference attaches the
    America/Sao_Paulo tzinfo to the WALL-CLOCK digits it parsed; the
    timestamp column carries those digits naively (the tz attach is a
    metadata tag, not an arithmetic conversion — ``to_iso8601_z`` in
    functions/dates.py is the conversion step when a pipeline wants
    UTC)."""
    part = lambda g: F.nullif(  # noqa: E731
        F.regexp_extract(label, GOVBR_DATE_LABEL_RE, g), F.lit("")
    ).cast("int")
    ts = F.try_make_timestamp(
        part(3), part(2), part(1), F.coalesce(part(4), F.lit(0)),
        F.coalesce(part(5), F.lit(0)), F.lit(0),
    )
    precision = F.when(
        part(4).isNotNull() & part(5).isNotNull(), F.lit("datetime")
    ).otherwise(F.lit("date"))
    return (
        F.when(label.isNotNull(), ts),
        F.when(label.isNotNull(), precision),
    )


def govbr_freshness_labels(documents: DataFrame) -> DataFrame:
    """Published/modified freshness signals per gov.br page.

    Reference: datasets/anp/govbr.py:160-217
    (``extract_page_freshness_labels`` text-fallback path — the
    PUBLISHED_RE / UPDATED_RE searches over the article text — and
    ``parse_govbr_freshness_label``: GOVBR_DATE_LABEL_RE digits →
    timestamp with 'datetime' precision when the HhMM part is present,
    'date' otherwise; absent labels yield no signal). The span-based
    extraction path is DOM plumbing around the same regexes; the
    labels here come straight from the rendered page text.

    Scale: pure Catalyst regexps over the document scan — no UDF, no
    shuffle except the final sort.
    """
    pages = wrap_documents_as_govbr_pages(documents)
    published = F.nullif(
        F.regexp_extract("page_text", GOVBR_PUBLISHED_RE, 1), F.lit("")
    )
    modified = F.nullif(
        F.regexp_extract("page_text", GOVBR_UPDATED_RE, 1), F.lit("")
    )
    labeled = pages.select(
        "doc_id",
        published.alias("published_label"),
        modified.alias("modified_label"),
    )
    pub_ts, pub_prec = _govbr_signal(F.col("published_label"))
    mod_ts, mod_prec = _govbr_signal(F.col("modified_label"))
    return labeled.select(
        "doc_id",
        "published_label",
        "modified_label",
        pub_ts.alias("published_at"),
        pub_prec.alias("published_precision"),
        mod_ts.alias("modified_at"),
        mod_prec.alias("modified_precision"),
    ).orderBy("doc_id")


# ── Watch signal normalization (freshness/watch.py twins) ────────────────────

# Reference: freshness/watch.py:194-209 (``_signal_from_http_last_modified``
# — RFC-2822 Last-Modified → UTC, naive values assumed UTC), :240-258
# (``_signal_from_iso`` — ISO-8601 with Z / ±HH:MM / naive → UTC), and
# :108-130 (the ANP chain: resource ``updated_label`` wins over the page
# ``modified_label``). The month-name table and the offset arithmetic are
# explicit so both engines compute the identical naive-UTC timestamp —
# no tz database is consulted (parsedate_to_datetime does the same pure
# offset math).
RFC2822_RE = (
    r"^[A-Za-z]{3}, ([0-9]{1,2}) ([A-Za-z]{3}) ([0-9]{4}) "
    r"([0-9]{2}):([0-9]{2}):([0-9]{2}) (GMT|[+-][0-9]{4})$"
)
ISO_SIGNAL_RE = (
    r"^([0-9]{4})-([0-9]{2})-([0-9]{2})T([0-9]{2}):([0-9]{2}):([0-9]{2})"
    r"(Z|[+-][0-9]{2}:[0-9]{2})?$"
)
RFC2822_MONTHS = (
    "Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
)

_WATCH_KINDS = 9


def wrap_documents_as_watch_observations(documents: DataFrame) -> DataFrame:
    """Render documents as one watch observation each, cycling through
    every signal source watch.py normalizes: HTTP Last-Modified in GMT
    / +HHMM / -HHMM, manifest ISO with Z / +HH:MM / naive, an ANP
    resource ``Atualizado em`` label, a page-label-only fallback row,
    and a signal-less row (the warning record). Day ≤ 28 and offset
    hours ≤ 3 keep every rendered value valid on both engines."""
    d = (F.col("doc_id") % 28 + 1).cast("string")
    d2 = F.lpad(d, 2, "0")
    mon_i = (F.col("doc_id") % 12 + 1).cast("int")
    mon = F.element_at(F.array(*[F.lit(m) for m in RFC2822_MONTHS]), mon_i)
    m2 = F.lpad(mon_i.cast("string"), 2, "0")
    y = (F.col("doc_id") % 6 + 2020).cast("string")
    hh = F.lpad((F.col("doc_id") % 24).cast("string"), 2, "0")
    mi = F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0")
    ss = F.lpad(((F.col("doc_id") * 7) % 60).cast("string"), 2, "0")
    offh = (F.col("doc_id") % 3 + 1).cast("string")
    rfc_base = F.concat(
        F.lit("Tue, "), d, F.lit(" "), mon, F.lit(" "), y,
        F.lit(" "), hh, F.lit(":"), mi, F.lit(":"), ss,
    )
    iso_base = F.concat(
        y, F.lit("-"), m2, F.lit("-"), d2, F.lit("T"),
        hh, F.lit(":"), mi, F.lit(":"), ss,
    )
    govbr = F.concat(
        F.lit("Atualizado em "), d, F.lit("/"), mon_i.cast("string"),
        F.lit("/"), y, F.lit(" "), (F.col("doc_id") % 23).cast("string"),
        F.lit("h"), mi,
    )
    govbr_page = F.concat(
        F.lit("Atualizado em "), d, F.lit("/"), mon_i.cast("string"),
        F.lit("/"), y,
    )
    kind = (F.col("doc_id") % _WATCH_KINDS).cast("int")
    return documents.select(
        "doc_id",
        F.when(kind == 0, F.concat(rfc_base, F.lit(" GMT")))
        .when(kind == 1, F.concat(rfc_base, F.lit(" +0"), offh, F.lit("00")))
        .when(kind == 2, F.concat(rfc_base, F.lit(" -0"), offh, F.lit("00")))
        .alias("last_modified_header"),
        F.when(kind == 3, F.concat(iso_base, F.lit("Z")))
        .when(kind == 4, F.concat(iso_base, F.lit("+0"), offh, F.lit(":00")))
        .when(kind == 5, iso_base)
        .alias("profiled_at"),
        F.when(kind == 6, govbr).alias("resource_updated_label"),
        F.when(kind.isin(6, 7), govbr_page).alias("page_modified_label"),
    )


def _utc_from_parts(y, mo, dd, hh, mi, ss, tz, *, gmt_token: str):
    """make_timestamp(wall parts) minus the ±HHMM offset — explicit
    micros arithmetic (identical on both engines), never a tz lookup."""
    ts = F.try_make_timestamp(y, mo, dd, hh, mi, ss)
    off_min = F.when(
        tz.isNull() | (tz == gmt_token) | (tz == ""), F.lit(0)
    ).otherwise(
        F.when(F.substring(tz, 1, 1) == "-", -1).otherwise(1)
        * (
            F.substring(tz, 2, 2).cast("int") * 60
            + F.substring(tz, 5 if gmt_token == "Z" else 4, 2).cast("int")
        )
    )
    return F.timestamp_micros(
        F.unix_micros(ts) - off_min.cast("long") * 60_000_000
    )


def freshness_watch_signals(
    documents: DataFrame, sorted_output: bool = True
) -> DataFrame:
    """Normalize every watch observation into ONE freshness signal with
    the reference's precedence: HTTP ``Last-Modified`` (RFC-2822 →
    UTC), else manifest ``profiled_at`` (ISO-8601 → UTC; naive assumed
    UTC), else the ANP resource ``Atualizado em`` label, else the page
    modified label (watch.py:118 — resource label wins over page), and
    a warning row when nothing parses. ``sorted_output=False`` drops
    the presentation sort — the whole derivation is a stateless
    projection, which is what lets ``streaming/watch.py`` run it
    verbatim on an unbounded observation stream.

    ``source_modified_at`` carries naive UTC for the HTTP/ISO methods
    (offset arithmetic applied in integer micros) and naive wall-clock
    for the gov.br labels (the reference tags those with the São Paulo
    zone as METADATA, not arithmetic — the NTZ convention documented at
    sources/tables.py).

    Scale: pure Catalyst regex + integer arithmetic over one scan; no
    UDF, no join, no shuffle except the presentation sort.
    """
    obs = wrap_documents_as_watch_observations(documents)
    hdr = F.col("last_modified_header")
    rfc = lambda g: F.nullif(F.regexp_extract(hdr, RFC2822_RE, g), F.lit(""))  # noqa: E731
    rfc_mon = F.array_position(
        F.array(*[F.lit(m) for m in RFC2822_MONTHS]), rfc(2)
    ).cast("int")
    rfc_ts = _utc_from_parts(
        rfc(3).cast("int"), rfc_mon, rfc(1).cast("int"),
        rfc(4).cast("int"), rfc(5).cast("int"), rfc(6).cast("int"),
        rfc(7), gmt_token="GMT",
    )
    iso_raw = F.col("profiled_at")
    iso = lambda g: F.nullif(F.regexp_extract(iso_raw, ISO_SIGNAL_RE, g), F.lit(""))  # noqa: E731
    iso_ts = _utc_from_parts(
        iso(1).cast("int"), iso(2).cast("int"), iso(3).cast("int"),
        iso(4).cast("int"), iso(5).cast("int"), iso(6).cast("int"),
        iso(7), gmt_token="Z",
    )
    res_ts, res_prec = _govbr_signal(F.col("resource_updated_label"))
    page_ts, page_prec = _govbr_signal(F.col("page_modified_label"))
    raw = F.coalesce(
        hdr, iso_raw, F.col("resource_updated_label"),
        F.col("page_modified_label"),
    )
    # The four parse trees are each consumed 3-4× below (method, signal,
    # precision, warning). Staging them as real columns keeps each codegen
    # method under janino's 64 KB limit (the single-projection form fell
    # back to interpreted evaluation) and evaluates each regex chain once;
    # CollapseProject leaves the split alone because the staged expressions
    # are non-cheap and multiply referenced.
    staged = obs.select(
        "doc_id",
        rfc_ts.alias("_rfc_ts"),
        iso_ts.alias("_iso_ts"),
        res_ts.alias("_res_ts"),
        res_prec.alias("_res_prec"),
        page_ts.alias("_page_ts"),
        page_prec.alias("_page_prec"),
        raw.alias("raw_label"),
    )
    s_rfc, s_iso = F.col("_rfc_ts"), F.col("_iso_ts")
    s_res, s_page = F.col("_res_ts"), F.col("_page_ts")
    method = (
        F.when(s_rfc.isNotNull(), F.lit("http_last_modified"))
        .when(s_iso.isNotNull(), F.lit("manifest_profiled_at"))
        .when(s_res.isNotNull(), F.lit("anp_resource_updated_label"))
        .when(s_page.isNotNull(), F.lit("anp_page_modified_label"))
    )
    signal = F.coalesce(s_rfc, s_iso, s_res, s_page)
    precision = (
        F.when(s_rfc.isNotNull() | s_iso.isNotNull(), F.lit("datetime"))
        .when(s_res.isNotNull(), F.col("_res_prec"))
        .when(s_page.isNotNull(), F.col("_page_prec"))
    )
    out = staged.select(
        "doc_id",
        method.alias("method"),
        signal.alias("source_modified_at"),
        precision.alias("precision"),
        "raw_label",
        F.when(signal.isNull(), F.lit("no freshness signal"))
        .otherwise(F.lit(""))
        .alias("warning"),
    )
    return out.orderBy("doc_id") if sorted_output else out


# ── Freshness markdown report (freshness/report.py twin) ────────────────────

FRESHNESS_REPORT_HEAD = (
    "# Freshness social cadence",
    "",
    "Relatorio deterministico gerado a partir do historico local de"
    " observacoes de freshness.",
    "",
    "| Preset | Watch IDs | Cadencia sugerida | Confianca |"
    " Ultima observacao | Mediana dias | Mudancas |",
    "| --- | --- | --- | --- | --- | --- | --- |",
)
FRESHNESS_REPORT_TAIL = (
    "",
    "## Leitura operacional",
    "",
    "- `daily`, `weekly` e `monthly` indicam cadencia provavel para"
    " revisar ou gerar presets sociais.",
    "- `ad_hoc` indica fonte estavel ou sem mudancas suficientes para"
    " agenda fixa.",
    "- `insufficient_data` indica que o watcher ainda precisa acumular"
    " historico.",
    "- Este relatorio nao dispara posts e nao chama LLM.",
)


def freshness_report_lines(events: DataFrame) -> DataFrame:
    """The cadence report rendered to the reference's markdown shape —
    freshness/report.py:24-66 ``render_markdown_report``: fixed header
    lines, one pipe-row per classification in watch order, the
    operational-reading trailer. Columns follow the testdata's
    cadence frame (the reference's per-watch signal metadata has no
    events-table analog; its row grammar and ordering do).

    The median cell renders through DECIMAL(18,2) on both engines —
    decimal-to-string is exact and identically formatted, where a
    double's repr is not.

    Output (seq, line); scale: cadence is the one aggregate, the
    render is a projection over ≤ |watches| rows.
    """
    cls = freshness_cadence(events)
    median_cell = F.coalesce(
        F.col("median_interval_days").cast("decimal(18,2)").cast("string"),
        F.lit(""),
    )
    preset = F.concat(F.lit("user-"), F.col("user_id").cast("string"))
    row_line = F.concat(
        F.lit("| "),
        F.concat_ws(
            " | ",
            preset,
            preset,
            F.col("suggested_cadence"),
            F.col("confidence"),
            F.date_format("last_observed_at", "yyyy-MM-dd'T'HH:mm:ss"),
            median_cell,
            F.col("changes").cast("string"),
        ),
        F.lit(" |"),
    )
    w = Window.orderBy("user_id")
    n_head = len(FRESHNESS_REPORT_HEAD)
    body = cls.select(
        (F.row_number().over(w) + n_head - 1).cast("long").alias("seq"),
        row_line.alias("line"),
    )
    spark = events.sparkSession
    head = spark.createDataFrame(
        list(enumerate(FRESHNESS_REPORT_HEAD)), "seq long, line string"
    )
    # trailer at a fixed high base (mirrored by the oracle) — a
    # contiguous seq would need a count() action for nothing: the
    # writer's array_join only needs the TOTAL order, not density
    tail = spark.createDataFrame(
        [(1_000_000 + i, t) for i, t in enumerate(FRESHNESS_REPORT_TAIL)],
        "seq long, line string",
    )
    return head.unionByName(body).unionByName(tail).orderBy("seq")


# ── Observation-store append semantics ──────────────────────────────────────

#: freshness/storage.py derivations keyed on the events table:
#: precision 'date' for every third watch, an error probe every 37th
#: event (its source timestamp is empty, exactly like a failed HTTP
#: HEAD), batch = the trailing window a nightly append would carry.
APPEND_BATCH_DAYS = 7
ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def observations_from_events(events: DataFrame) -> DataFrame:
    """Render events as the observation-store rows storage.py appends:
    watch_id = user, resource_key = event type, source_modified_at =
    the event timestamp as an ISO string ('' on error probes — the
    reference stores strings, empty meaning 'no signal'), precision
    date/second by watch residue."""
    return events.select(
        "event_id",
        "ts",
        F.col("user_id").alias("watch_id"),
        F.col("event_type").alias("resource_key"),
        F.when(F.col("event_id") % 37 == 0, F.lit("error"))
        .otherwise(F.lit("ok"))
        .alias("status"),
        F.when(F.col("event_id") % 37 == 0, F.lit("")).otherwise(
            F.date_format("ts", ISO_FMT)
        ).alias("source_modified_at"),
        F.when(F.col("user_id") % 3 == 0, F.lit("date"))
        .otherwise(F.lit("second"))
        .alias("precision"),
    )


def _lagged_observations(events: DataFrame) -> DataFrame:
    """Every observation row with its key's previous source timestamp
    (lag over the full history — the reference's forward-carried
    ``latest`` map) and the previous row's timestamp when that row was
    an OK probe (``prev_mod_ts``)."""
    obs = observations_from_events(events)
    w = Window.partitionBy("watch_id", "resource_key").orderBy(
        "ts", "event_id"
    )
    prev_str = F.lag("source_modified_at").over(w)
    prev_ts = F.lag(F.when(F.col("status") == "ok", F.col("ts"))).over(w)
    return obs.select(
        "*",
        F.coalesce(prev_str, F.lit("")).alias("previous_source_modified_at"),
        prev_ts.alias("prev_mod_ts"),
    )


def observation_changes(lagged: DataFrame) -> DataFrame:
    """The append fold's tail over lagged rows (``ts``, ``status``,
    ``precision``, ``source_modified_at``,
    ``previous_source_modified_at``, ``prev_mod_ts``): the
    precision-aware ``changed`` flag and exact integer-cents intervals
    (the micro_div convention: no double ever touches the .xx5
    boundary). The batch lag window and the streaming state fold both
    end here, so their rows agree by construction."""
    cur_ok = (F.col("status") == "ok") & (F.col("source_modified_at") != "")
    prev_ok = F.col("previous_source_modified_at") != ""
    same = F.when(
        F.col("precision") == "date",
        F.col("ts").cast("date") == F.col("prev_mod_ts").cast("date"),
    ).otherwise(
        F.col("source_modified_at") == F.col("previous_source_modified_at")
    )
    changed = cur_ok & prev_ok & ~same
    diff = F.unix_micros("ts") - F.unix_micros("prev_mod_ts")

    def _cents(per_unit_micros: int) -> Column:
        unit = F.lit(per_unit_micros)  # micros per 0.01 of the unit
        return (
            F.floor(diff / unit).cast("long")
            + F.when((diff % unit) * 2 >= unit, F.lit(1)).otherwise(F.lit(0))
        ) / 100.0

    return lagged.select(
        "*",
        changed.alias("changed"),
        F.when(changed, _cents(36_000_000)).alias("interval_hours"),
        F.when(changed, _cents(864_000_000)).alias("interval_days"),
    )


def _folded_observations(events: DataFrame) -> DataFrame:
    """The shared append fold, consumed by the batch append (batch
    rows only) and the latest-snapshot view (final row per key)."""
    return observation_changes(_lagged_observations(events))


def freshness_observations_append(
    events: DataFrame, batch_days: int = APPEND_BATCH_DAYS
) -> DataFrame:
    """The observation-store APPEND contract — freshness/storage.py:
    ``append_observations`` (:91-151) with ``_same_source_timestamp``
    (:63-72), ``_interval_values`` (:75-81) and ``_latest_by_key``
    (:84-88): for every observation in the appended batch (the last
    ``batch_days`` days of events), the previous source timestamp for
    its (watch, resource) key, the precision-aware ``changed`` flag,
    and the change interval.

    Semantics mirrored clause-for-clause:

    - previous = the key's latest PRIOR observation — including error
      probes (the reference's ``latest[key] = observation`` updates on
      every record regardless of status) and including EARLIER ROWS OF
      THE SAME BATCH (the reference folds ``latest`` forward while
      appending, so a batch with two probes of one key chains them);
      a lag window over the full history ordered (ts, event_id) IS
      that fold.
    - ``changed`` only when status == 'ok', the current timestamp is
      non-empty, AND the previous is non-empty — and then NOT
      ``_same_source_timestamp``: precision 'date' compares calendar
      dates (a same-day re-publish is NOT a change — the
      precision-aware same-source dedupe), 'second' compares the full
      strings.
    - intervals (hours, days at 2 dp) only on changed rows, from the
      previous source timestamp (NOT the previous probe time).
    - observed_at is the append call's clock — the batch max event
      time here (one scalar, broadcast), the reference's
      ``observed_at_iso`` for the whole batch.

    Deviation (documented): intervals are 2-dp DOUBLES, not the
    reference's f"{:.2f}" strings — same quantization, hash-stable.

    Scale: ONE shuffle on the (watch, resource) key for the lag
    window — the sessionize shape — then a pure projection; the batch
    filter prunes output, not the window input, exactly like the
    reference reading its full CSV before appending. At 100 TB the
    observation log is metadata-weight next to the fact tables.
    """
    cutoff = events.agg(
        F.date_sub(F.max("ts").cast("date"), batch_days).alias("cut_day"),
        F.date_format(F.max("ts"), ISO_FMT).alias("observed_at"),
    )
    return (
        _folded_observations(events)
        .join(F.broadcast(cutoff))
        .where(F.col("ts").cast("date") > F.col("cut_day"))
        .select(
            "observed_at",
            "watch_id",
            "resource_key",
            "source_modified_at",
            "precision",
            "status",
            "previous_source_modified_at",
            "changed",
            "interval_hours",
            "interval_days",
        )
        .orderBy("watch_id", "resource_key", "source_modified_at", "status")
    )


def freshness_latest_snapshot(events: DataFrame) -> DataFrame:
    """The latest-observation SNAPSHOT the reference writes after every
    append — freshness/storage.py:153-173 ``write_latest_snapshot`` +
    ``_latest_by_key`` (:84-88): per (watch_id, resource_key), the
    key's LAST observation with its fold columns (previous timestamp,
    precision-aware changed flag, change intervals), plus the per-key
    observation count and the snapshot's generated-at scalar (the
    reference stamps the write clock; here the max event time — the
    ``freshness_observations_append`` observed_at convention). The
    reference nests rows as watches[watch_id][resource_key]; the
    relational shape is the flattened (watch, resource) grain, one row
    per key.

    Scale: the same single keyed shuffle as the append fold (the lag
    window and the keep-latest row_number share one partitioning —
    Catalyst plans ONE exchange), then a count over ≤ |keys| rows.
    """
    w_desc = Window.partitionBy("watch_id", "resource_key").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    gen = events.agg(
        F.date_format(F.max("ts"), ISO_FMT).alias("generated_at")
    )
    folded = _folded_observations(events).select(
        "*",
        F.row_number().over(w_desc).alias("rn_desc"),
        F.count(F.lit(1)).over(
            Window.partitionBy("watch_id", "resource_key")
        ).alias("n_observations"),
    )
    return (
        folded.where(F.col("rn_desc") == 1)
        .join(F.broadcast(gen))
        .select(
            "generated_at",
            "watch_id",
            "resource_key",
            "n_observations",
            "source_modified_at",
            "precision",
            "status",
            "previous_source_modified_at",
            "changed",
            "interval_hours",
            "interval_days",
        )
        .orderBy("watch_id", "resource_key")
    )
