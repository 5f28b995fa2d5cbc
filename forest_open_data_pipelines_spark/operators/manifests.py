"""Feed validation, manifest status rollup, and catalog card shaping.

Spark twins of the reference's publish-gate layer:

- ``datasets/noticias_agricolas/validation.py:7-39`` — per-item field
  checks (``validate_feed_item``) and the stable-publish gate
  (``validate_feed_for_stable_publish``: min-item count + per-item
  error reasons, in index order).
- ``manifests/build_manifest.py:77-100`` — item ``source_url``
  normalization fallback chain (source_url → public_url → url) and
  ``_status_from_items`` (any partial/failed/skipped item downgrades a
  'success' run to 'success_partial_fallback').
- ``catalog/build.py:145-167`` — ``_clean_text`` (``\\s+`` collapse),
  ``_truncate_words`` (word-boundary truncation with a 48-char floor),
  and ``_localized_text`` (locale pick with pt fallback), applied to
  card excerpts at ``MAX_REPORT_EXCERPT_CHARS``.

The reference validates python dicts in a driver loop; here each gate
is a pure Catalyst expression over one pass of the items table — the
validation of a 100 TB feed is a projection plus one groupBy on the
feed key, nothing collects to the driver.

Feed items and card sources are derived deterministically from the
``documents`` table (field degradations keyed on ``doc_id`` residues)
so the DuckDB oracle can perform the identical construction and the
whole derive→validate round trip is value-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from forest_open_data_pipelines_spark.runtime import persist

MIN_FEED_ITEMS = 24  # validate_feed_for_stable_publish(min_items=...)
MAX_REPORT_EXCERPT_CHARS = 260  # catalog/build.py:23
MIN_TRUNCATED_HEAD_CHARS = 48  # catalog/build.py:157
INCOMPLETE_STATUSES = ("partial", "failed", "skipped")  # build_manifest.py:97


# ---------------------------------------------------------------------------
# Feed validation (validation.py twin)
# ---------------------------------------------------------------------------


def feed_items_from_documents(documents: DataFrame) -> DataFrame:
    """Derive a feed-items table (feed = source, ≤25 items each, in
    doc_id order) with deterministic field degradations: doc_id % 17
    blanks the title, % 19 makes it whitespace-only (strip() must catch
    it), % 23 blanks the url, % 29 blanks the category_slug, % 31 blanks
    published_at."""
    w = Window.partitionBy("source").orderBy("doc_id")
    d = documents.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 25)
    return d.select(
        F.col("source").alias("feed"),
        (F.col("rn") - 1).alias("idx"),
        F.when(F.col("doc_id") % 17 == 0, F.lit(""))
        .when(F.col("doc_id") % 19 == 0, F.lit("   "))
        .otherwise(F.substring("text", 1, 40))
        .alias("title"),
        F.when(F.col("doc_id") % 23 == 0, F.lit("")).otherwise(
            F.concat(F.lit("https://site/n/"), F.col("doc_id").cast("string"))
        )
        .alias("url"),
        F.when(F.col("doc_id") % 29 == 0, F.lit("")).otherwise(F.col("source")).alias(
            "category_slug"
        ),
        F.when(F.col("doc_id") % 31 == 0, F.lit("")).otherwise(
            F.lit("2024-03-15T10:30:00Z")
        )
        .alias("published_at"),
    )


def item_errors(items: DataFrame) -> DataFrame:
    """``validate_feed_item`` twin: append one error per blank (after
    strip) required field, in the reference's fixed check order."""
    errs = F.filter(
        F.array(
            F.when(F.trim("title") == "", F.lit("title vazio")),
            F.when(F.trim("url") == "", F.lit("url vazio")),
            F.when(F.trim("category_slug") == "", F.lit("category_slug vazio")),
            F.when(F.trim("published_at") == "", F.lit("published_at vazio")),
        ),
        lambda x: x.isNotNull(),
    )
    return items.withColumn("errs", errs)


def feed_publish_reasons(
    items: DataFrame, min_items: int = MIN_FEED_ITEMS
) -> DataFrame:
    """``validate_feed_for_stable_publish`` twin: per feed, a min-count
    reason (seq 0) followed by one ``item[i]: ...`` reason per invalid
    item, in item order. An empty result for a feed means publish-OK."""
    with_errs = item_errors(items)
    count_reasons = (
        items.groupBy("feed")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") < min_items)
        .select(
            "feed",
            F.lit(0).cast("long").alias("seq"),
            F.concat(
                F.lit("quantidade de itens ("),
                F.col("n").cast("string"),
                F.lit(f") abaixo do mínimo configurado ({min_items})"),
            ).alias("reason"),
        )
    )
    item_reasons = with_errs.filter(F.size("errs") > 0).select(
        "feed",
        (F.col("idx") + 1).cast("long").alias("seq"),
        F.concat(
            F.lit("item["),
            F.col("idx").cast("string"),
            F.lit("]: "),
            F.array_join("errs", "; "),
        ).alias("reason"),
    )
    return count_reasons.unionByName(item_reasons)


def feed_validate(documents: DataFrame) -> DataFrame:
    """Catalog query: derive feed items from documents, emit publish-block
    reasons per feed."""
    return feed_publish_reasons(feed_items_from_documents(documents)).orderBy(
        "feed", "seq"
    )


# ---------------------------------------------------------------------------
# Manifest status rollup (build_manifest.py twin)
# ---------------------------------------------------------------------------


def manifest_items_from_documents(documents: DataFrame) -> DataFrame:
    """Derive manifest items (dataset = source): profile_status is 'ok'
    except sparse residue classes (% 83 partial, % 97 failed, % 89
    skipped), and the source_url arrives through the legacy fallback
    chain — % 3 == 0 rows lack source_url, half of those carry
    public_url, the rest only url (``_normalize_item``)."""
    legacy = F.col("doc_id") % 3 == 0
    return documents.select(
        F.col("source").alias("dataset_id"),
        F.col("doc_id"),
        F.when(F.col("doc_id") % 83 == 0, F.lit("partial"))
        .when(F.col("doc_id") % 97 == 0, F.lit("failed"))
        .when(F.col("doc_id") % 89 == 0, F.lit("skipped"))
        .otherwise(F.lit("ok"))
        .alias("profile_status"),
        F.when(~legacy, F.concat(F.lit("https://a/"), F.col("doc_id").cast("string")))
        .alias("source_url"),
        F.when(
            legacy & (F.col("doc_id") % 2 == 0),
            F.concat(F.lit("https://p/"), F.col("doc_id").cast("string")),
        ).alias("public_url"),
        F.concat(F.lit("https://u/"), F.col("doc_id").cast("string")).alias("url"),
    )


def manifest_status(documents: DataFrame) -> DataFrame:
    """Catalog query: per-dataset manifest envelope fields — resolved
    source_url provenance counts (the ``_normalize_item`` fallback chain)
    and ``_status_from_items``: any incomplete item downgrades the run
    to 'success_partial_fallback'."""
    items = manifest_items_from_documents(documents)
    resolved_via = (
        F.when(F.col("source_url").isNotNull(), F.lit("source_url"))
        .when(F.col("public_url").isNotNull(), F.lit("public_url"))
        .otherwise(F.lit("url"))
    )
    incomplete = F.col("profile_status").isin(*INCOMPLETE_STATUSES)
    return (
        items.withColumn("resolved_via", resolved_via)
        .groupBy("dataset_id")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(incomplete.cast("long")).alias("n_incomplete"),
            F.sum((F.col("resolved_via") == "source_url").cast("long")).alias(
                "n_via_source_url"
            ),
            F.sum((F.col("resolved_via") == "public_url").cast("long")).alias(
                "n_via_public_url"
            ),
            F.sum((F.col("resolved_via") == "url").cast("long")).alias("n_via_url"),
        )
        .select(
            "dataset_id",
            F.lit("2.0").alias("schema_version"),
            "n_items",
            "n_incomplete",
            "n_via_source_url",
            "n_via_public_url",
            "n_via_url",
            F.when(
                F.col("n_incomplete") > 0, F.lit("success_partial_fallback")
            )
            .otherwise(F.lit("success"))
            .alias("generation_status"),
        )
        .orderBy("dataset_id")
    )


# ---------------------------------------------------------------------------
# Catalog card excerpt shaping (catalog/build.py twin)
# ---------------------------------------------------------------------------


def card_clean(text: Column) -> Column:
    """``_clean_text`` twin: collapse every whitespace run (incl.
    newlines — the card layer uses ``\\s+``, wider than the paragraph
    normalizer) and trim."""
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def truncate_words(text: Column, max_chars: int = MAX_REPORT_EXCERPT_CHARS) -> Column:
    """``_truncate_words`` twin: keep short text as-is; otherwise cut at
    ``max_chars``, back off to the last word boundary, and fall back to
    the hard cut when the boundary-trimmed head drops under 48 chars."""
    clean = card_clean(text)
    hard = F.substring(clean, 1, max_chars)
    head = F.trim(F.regexp_replace(hard, r" [^ ]*$", ""))
    return (
        F.when(F.length(clean) <= max_chars, clean)
        .when(F.length(head) >= MIN_TRUNCATED_HEAD_CHARS, head)
        .otherwise(F.trim(hard))
    )


def localized_text(pt: Column, en: Column, locale: str) -> Column:
    """``_localized_text`` twin for a {pt, en} value: preferred locale
    first, then pt, then en (blank counts as absent)."""
    pt_c, en_c = card_clean(pt), card_clean(en)
    preferred = en_c if locale == "en" else pt_c
    return F.coalesce(
        F.nullif(preferred, F.lit("")),
        F.nullif(pt_c, F.lit("")),
        F.nullif(en_c, F.lit("")),
    )


def catalog_cards(documents: DataFrame) -> DataFrame:
    """Catalog query: shape report-card excerpts from documents. The pt
    overview is the document text; an en variant exists only for
    doc_id % 3 == 0 (uppercased 200-char head), so the en excerpt
    exercises the locale fallback chain."""
    pt = F.col("text")
    en = F.when(
        F.col("doc_id") % 3 == 0, F.upper(F.substring("text", 1, 200))
    ).otherwise(F.lit(None))
    excerpt_pt = truncate_words(localized_text(pt, en, "pt"))
    excerpt_en = truncate_words(localized_text(pt, en, "en"))
    return documents.select(
        "doc_id",
        excerpt_pt.alias("excerpt"),
        excerpt_en.alias("excerpt_en"),
        F.length(excerpt_pt).alias("excerpt_chars"),
        (F.length(card_clean(pt)) > MAX_REPORT_EXCERPT_CHARS).alias("was_truncated"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Strict meta envelope (build_manifest.py:24-75 twin)
# ---------------------------------------------------------------------------

# build_manifest.py:11-17 _STRICT_META_KEYS: known keys stay top-level,
# everything else collapses into meta.custom_tags; a legacy
# file-descriptor meta (kind: meta|metadata + filename) promotes into
# metadata_file; metadata_file itself backfills source_url from
# public_url and DROPS public_url/storage_path (the url-only contract,
# tests/test_url_only_contract.py).
_META_KINDS = 6


def wrap_documents_as_manifest_meta(documents: DataFrame) -> DataFrame:
    """Render documents as one manifest ``meta`` argument each, cycling
    the shapes _normalize_meta tolerates: strict envelope, legacy
    file-descriptor meta, unknown keys, metadata_file carrying legacy
    storage URLs, None, and existing custom_tags merged with more
    unknown keys."""
    i = F.col("doc_id").cast("string")
    kind = (F.col("doc_id") % _META_KINDS).cast("int")
    return documents.select(
        "doc_id",
        kind.alias("kind"),
        F.when(kind.isin(0, 2), F.lit("ANP")).alias("in_agency"),
        F.when(kind == 0, F.concat(F.lit("notes "), i)).alias("in_notes"),
        F.when(kind.isin(1, 3), F.concat(F.lit("meta_"), i, F.lit(".txt"))).alias(
            "in_md_filename"
        ),
        F.when(
            kind.isin(1, 3), F.concat(F.lit("https://storage.example/m/"), i)
        ).alias("in_md_public_url"),
        F.when(kind.isin(1, 3), F.concat(F.lit("bucket/meta/"), i)).alias(
            "in_md_storage_path"
        ),
        F.when(kind == 2, F.concat(F.lit("team-"), i)).alias("in_owner"),
        F.when(kind == 5, F.lit("1")).alias("in_tag_a"),
        F.when(kind == 5, F.lit("2")).alias("in_extra_b"),
    )


def manifest_meta_envelope(documents: DataFrame) -> DataFrame:
    """Normalize every manifest ``meta`` into the strict envelope:
    known keys stay top-level, unknown keys collapse into
    ``custom_tags`` (rendered canonically as sorted ``k=v`` joined by
    '; '), a legacy file-descriptor meta promotes into
    ``metadata_file``, and metadata_file's ``source_url`` backfills
    from ``public_url`` with the legacy ``public_url``/``storage_path``
    DROPPED — ``dropped_legacy_urls`` counts the scrubbed fields so a
    url-only audit can sum it.

    Reference: manifests/build_manifest.py:24-75 (``_normalize_meta``,
    ``_normalize_metadata_file``) and tests/test_url_only_contract.py
    (the manifest must never republish storage URLs).

    Scale: pure Catalyst CASE expressions over one scan — the
    reference normalizes python dicts in a driver loop; here the same
    envelope is a projection.
    """
    m = wrap_documents_as_manifest_meta(documents)
    kind = F.col("kind")
    promoted = kind.isin(1)  # legacy descriptor meta → metadata_file
    has_md = kind.isin(1, 3)
    dropped = F.when(
        has_md,
        F.when(F.col("in_md_public_url").isNotNull(), 1).otherwise(0)
        + F.when(F.col("in_md_storage_path").isNotNull(), 1).otherwise(0),
    ).otherwise(F.lit(0))
    tags = F.array_join(
        F.array_sort(
            F.filter(
                F.array(
                    F.when(
                        F.col("in_owner").isNotNull(),
                        F.concat(F.lit("owner="), F.col("in_owner")),
                    ),
                    F.when(
                        F.col("in_tag_a").isNotNull(),
                        F.concat(F.lit("a="), F.col("in_tag_a")),
                    ),
                    F.when(
                        F.col("in_extra_b").isNotNull(),
                        F.concat(F.lit("b="), F.col("in_extra_b")),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ),
        "; ",
    )
    return m.select(
        "doc_id",
        F.col("in_agency").alias("source_agency"),
        F.col("in_notes").alias("notes"),
        F.when(has_md, F.col("in_md_filename")).alias("metadata_file_filename"),
        # source_url backfills from public_url; the legacy fields drop
        F.when(has_md, F.col("in_md_public_url")).alias(
            "metadata_file_source_url"
        ),
        tags.alias("custom_tags"),
        promoted.alias("promoted_legacy_descriptor"),
        dropped.cast("int").alias("dropped_legacy_urls"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Reports catalog shaping (catalog/build.py:203-339 twin)
# ---------------------------------------------------------------------------

#: Degradation cycle for the derived report documents — each residue
#: trips one branch of the reference's enrich/excerpt fallback chain.
_REPORT_DOC_KINDS = 5


def report_entries_from_documents(documents: DataFrame) -> DataFrame:
    """Derive one report config entry + its loaded report document per
    source (the reference's reports.yaml row + ManifestLoader result),
    with rank-keyed degradations: rank%5==0 loader failure, ==1
    bilingual analysis.overview, ==2 pt-only overview (the en excerpt
    exercises the pt fallback), ==3 no overview but a summary, ==4
    neither (the entry-description fallback). Coverage is absent when
    rank%4==1."""
    per_source = documents.groupBy("source").agg(
        F.expr("min_by(text, doc_id)").alias("first_text"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    rank = F.row_number().over(Window.orderBy("source"))
    r = per_source.withColumn("rank", rank)
    kind = F.col("rank") % _REPORT_DOC_KINDS
    has_cov = F.col("rank") % 4 != 1
    head = lambda n: F.substring("first_text", 1, n)
    return r.select(
        "source",
        "rank",
        F.concat(F.lit("report_"), F.col("source")).alias("report_id"),
        F.col("source").alias("slug"),
        F.concat(F.lit("Relatório "), F.col("source")).alias("title"),
        F.trim(head(300)).alias("description"),
        F.concat(F.lit("reports/"), F.col("source"), F.lit("/report.json")).alias(
            "stable_report_path"
        ),
        (kind != 0).alias("loader_ok"),
        F.when(kind.isin(1, 2), F.concat(F.lit("Visão geral: "), head(400))).alias(
            "overview_pt"
        ),
        F.when(kind == 1, F.concat(F.lit("Overview: "), F.upper(head(200)))).alias(
            "overview_en"
        ),
        F.when(kind == 3, F.concat(F.lit("Resumo: "), head(300))).alias(
            "summary_pt"
        ),
        F.when(kind == 3, F.concat(F.lit("Summary: "), F.upper(head(150)))).alias(
            "summary_en"
        ),
        F.when(
            kind != 0,
            F.concat(
                F.lit("2026-03-"),
                F.lpad((F.col("rank") % 28 + 1).cast("string"), 2, "0"),
                F.lit("T12:00:00Z"),
            ),
        ).alias("doc_generated_at"),
        F.when(has_cov, F.lit(2015) + F.col("min_doc") % 5).alias("first_year"),
        F.when(has_cov, F.lit(2020) + F.col("max_doc") % 5).alias("latest_year"),
        F.when(
            has_cov,
            F.concat(
                F.lit("2024-"),
                F.lpad((F.col("max_doc") % 12 + 1).cast("string"), 2, "0"),
            ),
        ).alias("latest_period"),
    )


def reports_catalog(documents: DataFrame) -> DataFrame:
    """The REPORT-side catalog shaping — catalog/build.py:203-339
    (``_report_entry``, ``_report_excerpt_from_document``,
    ``_compact_report_coverage``, ``_enrich_report_with_document``,
    ``build_reports_catalog``): per report entry, the validated card
    fields, the excerpt fallback chain (analysis.overview localized →
    summary localized → entry description, each word-truncated at 260
    chars with the pt-fallback locale pick), the compacted coverage
    (first/latest year, range, latest period), generated_at from the
    loaded document, and the envelope's generation_status downgrade to
    'success_partial_fallback' when any loader warning fired (the
    dataset-side twin of this shaping is ``catalog_cards``).

    Semantics mirrored: a loader FAILURE leaves the entry un-enriched
    (no excerpt/coverage/generated_at keys — NULLs here) and appends a
    warning; required-key validation surfaces as ``n_missing_required``
    (the reference raises — a per-row op reports instead);
    ``year_range`` = 'first-latest' only when coverage exists.

    Scale: one groupBy(source) over the documents scan, then pure
    projections on the reports-sized frame + one broadcast scalar for
    the envelope status; the shaped frame (≤ #sources rows) is
    PERSISTED because the status scalar is its second consumer —
    without it Catalyst re-runs the documents scan + groupBy under the
    broadcast branch. The reference's python loop over config entries,
    as one catalog-sized plan.
    """
    e = report_entries_from_documents(documents)
    required_missing = sum(
        F.when(
            F.coalesce(F.col(c).cast("string"), F.lit("")) == "", 1
        ).otherwise(0)
        for c in ("report_id", "slug", "title", "description", "stable_report_path")
    )
    ov = lambda loc: localized_text(
        F.col("overview_pt"), F.col("overview_en"), loc
    )
    sm = lambda loc: localized_text(F.col("summary_pt"), F.col("summary_en"), loc)
    exc = lambda loc: F.when(
        F.col("loader_ok"),
        truncate_words(
            F.coalesce(ov(loc), sm(loc), F.col("description"))
        ),
    )
    warning = F.when(
        ~F.col("loader_ok"),
        F.concat(
            F.lit("Falha ao carregar report '"),
            F.col("stable_report_path"),
            F.lit("' para enriquecer catalogo"),
        ),
    )
    shaped = persist(e.select(
        "report_id",
        "slug",
        "title",
        "description",
        required_missing.alias("n_missing_required"),
        exc("pt").alias("excerpt"),
        exc("en").alias("excerpt_en"),
        F.when(F.col("loader_ok"), F.col("doc_generated_at")).alias(
            "generated_at"
        ),
        F.when(F.col("loader_ok"), F.col("first_year")).alias("first_year"),
        F.when(F.col("loader_ok"), F.col("latest_year")).alias("latest_year"),
        F.when(
            F.col("loader_ok") & F.col("first_year").isNotNull(),
            F.concat_ws("-", "first_year", "latest_year"),
        ).alias("year_range"),
        F.when(F.col("loader_ok"), F.col("latest_period")).alias(
            "latest_period"
        ),
        warning.alias("warning"),
    ))
    status = shaped.agg(
        F.when(F.count("warning") > 0, F.lit("success_partial_fallback"))
        .otherwise(F.lit("success"))
        .alias("generation_status")
    )
    return (
        shaped.join(F.broadcast(status))
        .orderBy("report_id")
    )
