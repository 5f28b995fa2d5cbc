"""HTML → main-text extraction (SURVEY.md §2.D).

Spark twin of the reference's news-article parsing
(``datasets/noticias_agricolas/article_parser.py:1-127`` — h1.page-title
title, div.lead, div.materia paragraph blocks with CTA/boilerplate
paragraphs dropped, ws-normalized and joined with blank lines;
``text_cleanup.py:10-45`` — ``_CTA_LINE``, ``normalize_paragraph_text``,
``normalize_body_text``, ``first_useful_paragraph``).

The reference walks a BeautifulSoup DOM row-by-row in Python; here the
whole extraction is Catalyst regexp/array expressions (JVM, whole-stage
codegen, no Python in the path), which is what survives a 100 TB crawl
corpus: the operator is a pure projection — no shuffle, no UDF — so it
fuses into the scan stage.

Regex dialect note: every pattern must run identically under Java regex
(Spark) and RE2 (the DuckDB oracle) — no backreferences, no lookaround;
inline flags ``(?is)`` and lazy ``.*?`` only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from forest_open_data_pipelines_spark.runtime import persist

# CTA/boilerplate paragraph filter — text_cleanup.py:9-13 (_CTA_LINE),
# re-derived with the same markers.
CTA_PATTERN = (
    r"(?i)^(receba|cadastre|whatsapp|newsletter|"
    r"clique aqui para receber|siga nosso canal|termo de privacidade)\b"
)

_P_BLOCK = r"(?is)<p[^>]*>(.*?)</p>"
_H1_BLOCK = r"(?is)<h1[^>]*>(.*?)</h1>"
_LEAD_BLOCK = r'(?is)<div class="lead"[^>]*>(.*?)</div>'
_MATERIA_BLOCK = r'(?is)<div class="materia"[^>]*>(.*?)</div>'


def strip_script_style(html: Column) -> Column:
    """Remove <script>/<style> blocks wholesale (two passes — RE2 has no
    backreferences, so ``</\\1>`` is off the table)."""
    out = F.regexp_replace(html, r"(?is)<script[^>]*>.*?</script>", " ")
    return F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")


def strip_tags(fragment: Column) -> Column:
    return F.regexp_replace(fragment, r"(?s)<[^>]*>", " ")


def normalize_ws(text: Column) -> Column:
    """normalize_paragraph_text twin: NBSP → space, collapse blanks, trim."""
    out = F.replace(text, F.lit("\u00a0"), F.lit(" "))
    return F.trim(F.regexp_replace(out, r"[ \t\r\f\v]+", " "))


def _clean_fragment(fragment: Column) -> Column:
    return normalize_ws(strip_tags(fragment))


def extract_article(df: DataFrame, html_col: str = "html") -> DataFrame:
    """Parse an HTML column into (title, lead, body, n_paragraphs,
    first_paragraph) — the ArticleDetail fields that are pure text
    extraction (URL/date plumbing lives with the source, not the parser).

    body = div.materia paragraphs, ws-normalized, CTA paragraphs and
    empties dropped, joined with blank lines (normalize_body_text);
    first_paragraph = first block ≥40 chars, else first ≥15
    (first_useful_paragraph — CTA blocks are already gone).
    """
    html = strip_script_style(F.col(html_col))
    materia = F.regexp_extract(html, _MATERIA_BLOCK, 1)
    paragraphs = F.filter(
        F.transform(
            F.regexp_extract_all(materia, F.lit(_P_BLOCK), F.lit(1)),
            _clean_fragment,
        ),
        lambda p: (p != "") & ~p.rlike(CTA_PATTERN),
    )
    first_useful = F.coalesce(
        F.get(F.filter(paragraphs, lambda p: F.length(p) >= 40), 0),
        F.get(F.filter(paragraphs, lambda p: F.length(p) >= 15), 0),
    )
    return df.withColumns(
        {
            "title": _clean_fragment(F.regexp_extract(html, _H1_BLOCK, 1)),
            "lead": F.nullif(
                _clean_fragment(F.regexp_extract(html, _LEAD_BLOCK, 1)), F.lit("")
            ),
            "body": F.array_join(paragraphs, "\n\n"),
            "n_paragraphs": F.size(paragraphs).cast("long"),
            "first_paragraph": first_useful,
        }
    )


def wrap_documents_as_html(documents: DataFrame) -> DataFrame:
    """Deterministically wrap the synthetic documents table into article
    pages (title/lead/materia/CTA/script markup) so the extractor has
    real structure to strip — the same construction the DuckDB oracle
    performs, making the full wrap→extract round trip checkable."""
    text = F.col("text")
    page = F.concat(
        F.lit('<html><head><title>feed</title><style>p { margin: 0 }</style></head><body>'),
        F.lit('<h1 class="page-title"> '),
        F.col("source"),
        F.lit(" article "),
        F.col("doc_id").cast("string"),
        F.lit(" </h1>"),
        F.lit('<div class="datas">01/01/2024 10:30</div>'),
        F.lit('<div class="lead">'),
        F.substring(text, 1, 60),
        F.lit("</div>"),
        F.lit('<script type="text/javascript">var ads = "x < y";</script>'),
        F.lit('<div class="materia"><p>'),
        # paragraph boundaries at a frequent token so most docs become
        # multi-paragraph (both engines: plain string replace)
        F.replace(text, F.lit(" the "), F.lit("</p><p>")),
        F.lit("</p><p>Receba nossa newsletter diaria</p>"),
        F.lit("<p>WhatsApp: siga nosso canal</p></div>"),
        F.lit("</body></html>"),
    )
    return documents.select("doc_id", page.alias("html"))


def html_extract(documents: DataFrame) -> DataFrame:
    """Catalog query: wrap documents as article HTML, extract main text."""
    return (
        extract_article(wrap_documents_as_html(documents))
        .select(
            "doc_id",
            "title",
            "lead",
            F.substring("body", 1, 400).alias("body_prefix"),
            "n_paragraphs",
            "first_paragraph",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Category list-page parsing (list_parser.py twin)
# ---------------------------------------------------------------------------

LIST_BASE_URL = "https://www.noticiasagricolas.com.br"
LIST_LIMIT = 5  # parse_category_list_html(limit=5)

_LI_BLOCK = r'(?is)<li class="horizontal com-hora">.*?</li>'
_H3_BLOCK = r"(?is)<h3[^>]*>(.*?)</h3>"
_HREF = r'(?is)href="([^"]*)"'
_H2 = r"(?is)<h2[^>]*>(.*?)</h2>"
_HORA = r'(?is)<span class="hora">(.*?)</span>'


def _two(expr: Column) -> Column:
    return F.lpad(expr.cast("string"), 2, "0")


def wrap_documents_as_category_lists(documents: DataFrame) -> DataFrame:
    """Deterministically render documents as category list pages (one page
    per ``source``): two ``<h3>DD/MM/YYYY</h3>`` date headers, four
    ``li.horizontal.com-hora`` items under each, in doc_id order.

    Degradations exercised (mirroring what the reference's parser guards
    against, ``list_parser.py:28-41``): doc_id % 7 == 0 has no ``<h2>``
    (title falls back to ''), % 5 == 0 has no ``span.hora`` (time falls
    back to '00:00'), % 11 == 0 has no ``<a href>`` at all (item is
    skipped but still consumes its rank). The DuckDB oracle performs the
    identical construction, so the wrap→parse round trip is checkable.
    """
    w = Window.partitionBy("source").orderBy("doc_id")
    d = documents.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 8)
    title_html = F.when(F.col("doc_id") % 7 == 0, F.lit("")).otherwise(
        F.concat(F.lit("<h2>"), F.substring("text", 1, 50), F.lit("</h2>"))
    )
    hora_html = F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit('<span class="hora">'),
            _two(F.col("doc_id") % 24),
            F.lit(":"),
            _two(F.col("doc_id") % 60),
            F.lit("</span>"),
        )
    )
    a_html = F.when(F.col("doc_id") % 11 == 0, title_html).otherwise(
        F.concat(
            F.lit('<a href="/noticias/'),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
            F.lit('.htm">'),
            title_html,
            hora_html,
            F.lit("</a>"),
        )
    )
    li = F.concat(F.lit('<li class="horizontal com-hora">'), a_html, F.lit("</li>"))
    d = d.select("source", "rn", li.alias("li"))

    def _block(limit_lo: int, limit_hi: int) -> Column:
        items = F.array_sort(
            F.collect_list(
                F.when(
                    (F.col("rn") > limit_lo) & (F.col("rn") <= limit_hi),
                    F.struct(F.col("rn"), F.col("li")),
                )
            )
        )
        return F.array_join(F.transform(items, lambda x: x.li), "")

    return d.groupBy("source").agg(
        F.concat(
            F.lit("<h3>15/03/2024</h3>"),
            _block(0, 4),
            F.lit("<h3>14/03/2024</h3>"),
            _block(4, 8),
        ).alias("page")
    )


def parse_category_list(pages: DataFrame) -> DataFrame:
    """Parse category list pages into ranked NewsListItem rows
    (``list_parser.py:11-53``): first ``LIST_LIMIT`` li.horizontal.com-hora
    items, rank positional (items without a link keep consuming ranks),
    title from the ``h2`` inside the anchor, time from ``span.hora`` with
    '00:00' fallback, and the date from the nearest *preceding* ``h3``.

    The nearest-preceding lookup is pure Catalyst: each li is located in
    the page with ``instr`` (unique — the href carries doc_id), and the
    last ``<h3>`` match in the preceding prefix is taken. No lookbehind,
    so the same pattern runs under RE2 in the DuckDB oracle.
    """
    lis = F.regexp_extract_all(
        F.col("page"), F.lit(_LI_BLOCK), F.lit(0)
    )
    items = pages.select(
        "source", "page", F.posexplode(lis).alias("pos", "li")
    ).filter(F.col("pos") < LIST_LIMIT)
    href = F.regexp_extract("li", _HREF, 1)
    prefix = F.expr("substring(page, 1, instr(page, li) - 1)")
    dates = F.regexp_extract_all(prefix, F.lit(_H3_BLOCK), F.lit(1))
    time_raw = F.regexp_extract("li", _HORA, 1)
    return (
        items.withColumn("href", href)
        .filter(F.col("href") != "")
        .select(
            F.col("source").alias("category_slug"),
            F.upper("source").alias("category_label"),
            (F.col("pos") + 1).cast("int").alias("rank_within_category"),
            F.concat(F.lit(LIST_BASE_URL), F.col("href")).alias("url"),
            _clean_fragment(F.regexp_extract("li", _H2, 1)).alias("title"),
            F.coalesce(F.get(dates, F.size(dates) - 1), F.lit("")).alias(
                "listing_date"
            ),
            F.coalesce(F.nullif(time_raw, F.lit("")), F.lit("00:00")).alias(
                "listing_time"
            ),
        )
    )


def html_list_parse(documents: DataFrame) -> DataFrame:
    """Catalog query: wrap documents as category list pages, parse items."""
    return parse_category_list(wrap_documents_as_category_lists(documents)).orderBy(
        "category_slug", "rank_within_category"
    )


# ---------------------------------------------------------------------------
# Apache-style directory-listing parsing (coids_directory.py twin)
# ---------------------------------------------------------------------------

DIR_BASE_URL = "https://dataserver.example/coids"
# coids_directory.py:14-23 DOWNLOAD_SUFFIXES
DOWNLOAD_SUFFIXES = (
    ".csv", ".zip", ".pdf", ".txt", ".kml", ".kmz", ".json", ".geojson",
)
_SUFFIX_CYCLE = (".csv", ".zip", ".pdf", ".txt", ".kml", ".json", ".html", "")

_TR_BLOCK = r"(?is)<tr>.*?</tr>"
_A_LABEL = r"(?is)<a[^>]*>(.*?)</a>"
_TD_DATE = r'(?is)<td class="date">(.*?)</td>'
_TD_SIZE = r'(?is)<td class="size">(.*?)</td>'


def wrap_documents_as_dir_index(documents: DataFrame) -> DataFrame:
    """Render documents as Apache-fancy-index pages (one per ``source``):
    a boilerplate block (parent-dir link, ``?C=N;O=D`` sort links, mailto,
    fragment anchor — everything ``_keep_href`` must drop,
    ``coids_directory.py:130-142``) followed by one ``<tr>`` per doc with
    href, label, date cell, and size cell. Suffixes cycle through
    ``_SUFFIX_CYCLE`` so the allowlist filter, the ``.html`` rejection,
    and the suffix-less directory branch are all exercised; doc_id % 9 == 0
    gets a ``/`` label (name falls back to the filename,
    ``_entry_name``), and doc_id % 10 == 3 is emitted twice (URL dedupe).
    """
    w = Window.partitionBy("source").orderBy("doc_id")
    d = documents.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10)
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _SUFFIX_CYCLE]), (F.col("doc_id") % 8 + 1).cast("int")
    )
    stem = F.concat(F.lit("focos_"), F.col("doc_id").cast("string"))
    href = F.when(suffix == "", F.concat(F.lit("area_"), F.col("doc_id").cast("string"))).otherwise(
        F.concat(stem, suffix)
    )
    label = F.when(F.col("doc_id") % 9 == 0, F.lit("/")).otherwise(
        F.concat(F.lit("Focos "), F.col("doc_id").cast("string"), suffix)
    )
    row = F.concat(
        F.lit('<tr><td><a href="'),
        href,
        F.lit('">'),
        label,
        F.lit('</a></td><td class="date">2024-03-'),
        _two(F.col("doc_id") % 28 + 1),
        F.lit(" 10:"),
        _two(F.col("doc_id") % 60),
        F.lit('</td><td class="size">'),
        (F.col("doc_id") % 900 + 1).cast("string"),
        F.lit("K</td></tr>"),
    )
    row = F.when(F.col("doc_id") % 10 == 3, F.concat(row, row)).otherwise(row)
    d = d.select("source", "rn", row.alias("row"))
    boilerplate = (
        '<tr><td><a href="../">Parent Directory</a></td>'
        '<td class="date">-</td><td class="size">-</td></tr>'
        '<tr><td><a href="?C=N;O=D">Name</a></td>'
        '<td class="date">-</td><td class="size">-</td></tr>'
        '<tr><td><a href="?C=M;O=A">Last modified</a></td>'
        '<td class="date">-</td><td class="size">-</td></tr>'
        '<tr><td><a href="mailto:admin@example.test">contact</a></td>'
        '<td class="date">-</td><td class="size">-</td></tr>'
        '<tr><td><a href="#top">top</a></td>'
        '<td class="date">-</td><td class="size">-</td></tr>'
        '<tr><td><a href="sub/">sub/</a></td>'
        '<td class="date">2024-03-01 09:00</td><td class="size">-</td></tr>'
    )
    rows = F.array_sort(F.collect_list(F.struct(F.col("rn"), F.col("row"))))
    return d.groupBy("source").agg(
        F.concat(
            F.lit(boilerplate),
            F.array_join(F.transform(rows, lambda x: x.row), ""),
        ).alias("page")
    )


def parse_dir_listing(pages: DataFrame) -> DataFrame:
    """Parse directory-index pages into downloadable-file entries
    (``coids_directory.py:54-109``): keep anchors surviving ``_keep_href``
    (no parent/sort/mailto/fragment links), resolve against the page base
    URL, strip query+fragment (``_normalized_url``), classify directories
    (trailing slash or suffix-less path, ``_is_dir_href``), name from the
    label with filename fallback (``_entry_name``), keep files whose
    suffix is in ``DOWNLOAD_SUFFIXES``, dedupe by URL, sort by URL
    (``discover_files``). Size/date labels come from the entry's own row
    cells (``_metadata_near_label``'s nearby-lines window, row-scoped).
    """
    rows = F.regexp_extract_all(F.col("page"), F.lit(_TR_BLOCK), F.lit(0))
    r = pages.select("source", F.explode(rows).alias("row"))
    href = F.regexp_extract("row", _HREF, 1)
    label = _clean_fragment(F.regexp_extract("row", _A_LABEL, 1))
    r = r.select("source", "row", href.alias("href"), label.alias("label"))
    low = F.lower("href")
    keep = (
        (F.col("href") != "")
        & ~F.col("href").isin("../", "..", "/")
        & ~low.startswith("#")
        & ~low.startswith("mailto:")
        & ~low.startswith("javascript:")
        & ~F.lower("label").contains("parent directory")
        # sort-only query links (?C=..;O=..) — query-key-subset check
        # specialized to the href shapes this index emits
        & ~F.col("href").rlike(r"^[^?]*\?[CO]=")
    )
    url = F.concat(
        F.lit(DIR_BASE_URL), F.lit("/"), F.col("source"), F.lit("/"), F.col("href")
    )
    url = F.regexp_replace(url, r"[?#].*$", "")
    filename = F.regexp_extract(F.regexp_replace(url, "/+$", ""), r"([^/]+)$", 1)
    suffix = F.lower(F.regexp_extract(filename, r"(\.[A-Za-z0-9]+)$", 1))
    is_dir = F.col("href").endswith("/") | (suffix == "")
    date_raw = F.regexp_extract("row", _TD_DATE, 1)
    return (
        r.filter(keep)
        .select(
            "source",
            F.when(~F.col("label").isin("", "/", "Name"), F.col("label"))
            .otherwise(filename)
            .alias("name"),
            url.alias("url"),
            suffix.alias("suffix"),
            F.regexp_extract("row", _TD_SIZE, 1).alias("size_label"),
            F.try_to_timestamp(date_raw, F.lit("yyyy-MM-dd HH:mm")).alias(
                "last_modified"
            ),
            is_dir.alias("is_dir"),
        )
        .filter(~F.col("is_dir") & suffix.isin(*DOWNLOAD_SUFFIXES))
        .drop("is_dir")
        .distinct()
    )


def dir_listing_files(documents: DataFrame) -> DataFrame:
    """Catalog query: wrap documents as directory indexes, discover files."""
    return parse_dir_listing(wrap_documents_as_dir_index(documents)).orderBy("url")


# ── Painel-Fogo PDF-link parser ─────────────────────────────────────────────

PAINEL_BASE_URL = "https://dataserver.example/queimadas/Painel-Fogo/"
PAINEL_HOST = "https://dataserver.example"

# Reference: datasets/inpe/bdqueimadas_painel_fogo.py:17-21 — the two
# required-parity regexes. RE2 lacks nothing here; (?i) replaces
# re.IGNORECASE and the named groups become positional (1 = month,
# 2 = year).
RE_YEAR_DIR = r"^(19|20)\d{2}$"
RE_PAINEL_PDF = r"(?i)Painel_Qmd_(0[1-9]|1[0-2])_((?:19|20)\d{2})\.pdf$"

# href variants cycled by doc_id so every parser branch fires: plain
# relative, year-dir relative, root-relative with uppercase extension,
# absolute mirror with mixed case, invalid month (13), a bare year
# directory, an unrelated pdf, and a query-string download link (the
# filename must come from the query-stripped path, urlparse(url).path).
_PAINEL_HREF_KINDS = 8


def wrap_documents_as_painel_index(documents: DataFrame) -> DataFrame:
    """Render documents as (href) anchor rows of the Painel-Fogo index.

    The reference walks the root listing's year directories and each
    year page's anchors; flattened here to one href per document,
    deterministically derived from doc_id (month = doc_id % 12 + 1,
    year = 2019 + doc_id % 6, kind = doc_id % 8)."""
    mm = F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0")
    yyyy = (F.col("doc_id") % 6 + 2019).cast("string")
    pdf = F.concat(F.lit("Painel_Qmd_"), mm, F.lit("_"), yyyy, F.lit(".pdf"))
    kinds = F.array(
        pdf,
        F.concat(yyyy, F.lit("/"), pdf),
        F.concat(F.lit("/queimadas/portal/Painel_Qmd_"), mm, F.lit("_"), yyyy, F.lit(".PDF")),
        F.concat(F.lit("https://mirror.example/painel/Painel_qmd_"), mm, F.lit("_"), yyyy, F.lit(".pdf")),
        F.concat(F.lit("Painel_Qmd_13_"), yyyy, F.lit(".pdf")),
        F.concat(yyyy, F.lit("/")),
        F.lit("relatorio_anual.pdf"),
        F.concat(pdf, F.lit("?download=1")),
    )
    return documents.select(
        F.col("doc_id"),
        F.element_at(kinds, (F.col("doc_id") % _PAINEL_HREF_KINDS + 1).cast("int")).alias(
            "href"
        ),
    )


def parse_painel_pdf_links(anchors: DataFrame) -> DataFrame:
    """(period, year, month, filename, url) per Painel PDF anchor.

    Reference: datasets/inpe/bdqueimadas_painel_fogo.py:60-77
    (``parse_painel_pdf_link``): urljoin against the listing base,
    filename from the query/fragment-stripped URL path, RE_PAINEL_PDF
    match on the filename (non-matches dropped), period = 'YYYY-MM'.
    The urljoin is specialized to the href shapes a directory listing
    emits (absolute, root-relative, relative); duplicate URLs collapse
    (the reference's per-year walk revisits anchors). Pure Catalyst
    regexps — no UDFs, no shuffle except the final dedupe.

    Deliberate specialization vs the reference (ADVICE r4): the
    reference derives the filename via ``Path(unquote(urlparse(url)
    .path)).name`` — i.e. it percent-DECODES first — while this parser
    reads the filename straight off the query-stripped URL. A
    percent-encoded href (``Painel_Qmd_03%5F2024.pdf``) would therefore
    not match RE_PAINEL_PDF here. INPE's Apache autoindex emits plain
    hrefs (the '_' in these filenames is never escaped in the wild),
    so the decode step is dead weight in the hot path; if an encoded
    listing ever appears, insert ``F.url_decode(path)`` before the
    filename extract and mirror ``url_decode`` in the oracle SQL.
    """
    href = F.col("href")
    url = (
        F.when(href.rlike(r"^[a-z][a-z0-9+.-]*://"), href)
        .when(href.startswith("/"), F.concat(F.lit(PAINEL_HOST), href))
        .otherwise(F.concat(F.lit(PAINEL_BASE_URL), href))
    )
    path = F.regexp_replace(url, r"[?#].*$", "")
    filename = F.regexp_extract(path, r"([^/]+)$", 1)
    month = F.regexp_extract(filename, RE_PAINEL_PDF, 1)
    year = F.regexp_extract(filename, RE_PAINEL_PDF, 2)
    return (
        anchors.select(
            F.concat(year, F.lit("-"), month).alias("period"),
            year.alias("year"),
            month.alias("month"),
            filename.alias("filename"),
            url.alias("url"),
        )
        .where(F.col("month") != "")
        .distinct()
        .orderBy("url")
    )


def painel_pdf_links(documents: DataFrame) -> DataFrame:
    """Catalog query: wrap documents as Painel-Fogo anchors, parse links."""
    return parse_painel_pdf_links(wrap_documents_as_painel_index(documents))


# ── ANP landing-page resource-URL discovery ─────────────────────────────────

# Reference: social/anp_producao/pipeline.py:108-166 RESOURCE_DEFS —
# required-parity (key, match_token) pairs; every key has exactly one
# token and tokens are mutually exclusive substrings.
ANP_RESOURCE_TOKENS = (
    ("petroleo_m3", "producao-petroleo"),
    ("lgn_m3", "producao-lgn"),
    ("gas_natural_1000m3", "producao-gas-natural"),
    ("reinjecao_1000m3", "reinjecao-gn"),
    ("queima_perda_1000m3", "queima-e-perda"),
    ("consumo_proprio_1000m3", "consumo-proprio"),
    ("gn_disponivel_1000m3", "gn-disponivel"),
)
ANP_HOST = "https://dados.example/ppgn-el/ativos"


def wrap_documents_as_anp_landing(documents: DataFrame) -> DataFrame:
    """Render documents as ANP landing pages (one per ``source``): one
    anchor per doc cycling through the parser's branches — each resource
    token, an html-escaped query URL (&amp;), the malformed
    'http://=https://' prefix the real landing page ships, a metadados
    link (excluded), an off-site link (no ppgn-el), and a duplicate
    resource link later in the page (last occurrence wins)."""
    w = Window.partitionBy("source").orderBy("doc_id")
    d = documents.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 12)
    tok = F.element_at(
        F.array(*[F.lit(t) for _, t in ANP_RESOURCE_TOKENS]),
        (F.col("doc_id") % len(ANP_RESOURCE_TOKENS) + 1).cast("int"),
    )
    base = F.concat(F.lit(ANP_HOST), F.lit("/"), tok, F.lit("-"), F.col("doc_id").cast("string"), F.lit(".csv"))
    kind = F.col("doc_id") % 12
    href = (
        F.when(kind == 7, F.concat(F.lit(ANP_HOST), F.lit("/"), tok, F.lit(".csv&amp;v=2")))
        .when(kind == 8, F.concat(F.lit("http://="), base))
        .when(kind == 9, F.concat(F.lit(ANP_HOST), F.lit("/metadados/"), tok, F.lit(".pdf")))
        .when(kind == 10, F.lit("https://other.example/focos.csv"))
        .when(kind == 11, F.concat(base, F.lit("?rev=2")))  # later dup wins
        .otherwise(base)
    )
    row = F.concat(F.lit('<li><a href="'), href, F.lit('">'), tok, F.lit("</a></li>"))
    rows = F.array_sort(F.collect_list(F.struct(F.col("rn"), F.col("row"))))
    return (
        d.select("source", "rn", row.alias("row"))
        .groupBy("source")
        .agg(F.array_join(F.transform(rows, lambda x: x.row), "").alias("page"))
    )


def parse_anp_resource_urls(pages: DataFrame) -> DataFrame:
    """(source, key, url) — the resource-URL discovery of
    social/anp_producao/pipeline.py:168-188
    (``normalize_source_url`` + ``discover_resource_urls_from_html``):
    href scrape, HTML entity unescape (the entity set the landing page
    emits: &amp;), the 'http(s)://=https://' malformed-prefix fix, keep
    only ppgn-el non-metadados links, token-match to resource keys,
    LAST occurrence per key wins (dict-assignment order in the
    reference). Pure Catalyst regexps; the only shuffle is the per-key
    last-wins aggregate.
    """
    hrefs = F.regexp_extract_all(F.col("page"), F.lit(r'(?i)href=["\']([^"\']+)["\']'), F.lit(1))
    r = pages.select("source", F.posexplode(hrefs).alias("pos", "raw"))
    url = F.regexp_replace(F.col("raw"), "&amp;", "&")
    url = F.regexp_replace(url, r"^https?://=(https://)", r"$1")
    low = F.lower(url)
    keep = low.contains("ppgn-el") & ~low.contains("metadados")
    key = F.coalesce(
        *[F.when(low.contains(t), F.lit(k)) for k, t in ANP_RESOURCE_TOKENS]
    )
    scored = (
        r.select("source", "pos", url.alias("url"), key.alias("key"))
        .where(keep & F.col("key").isNotNull())
    )
    w = Window.partitionBy("source", "key").orderBy(F.desc("pos"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("source", "key", "url")
        .orderBy("source", "key")
    )


def anp_resource_urls(documents: DataFrame) -> DataFrame:
    """Catalog query: wrap documents as ANP landing pages, discover the
    per-resource download URLs."""
    return parse_anp_resource_urls(wrap_documents_as_anp_landing(documents))


# ── INPE mensal listing parser (focos_mensal_br_YYYYMM) ─────────────────────

MENSAL_BASE_URL = "https://dataserver.example/queimadas/focos/csv/mensal/Brasil/"

# Reference: datasets/inpe/bdqueimadas_mensal_listing.py:15 RE_MENSAL —
# required-parity regex ((?i) replaces re.IGNORECASE; groups: 1 =
# yyyymm, 2 = extension). Note \d{6} carries NO month validation: the
# reference accepts focos_mensal_br_202113.csv with yyyymm=202113, and
# so does this parser (a derivation variant pins that behavior).
RE_MENSAL = r"(?i)focos_mensal_br_(\d{6})\.(csv|zip)$"

_MENSAL_HREF_KINDS = 7


def wrap_documents_as_mensal_listing(documents: DataFrame) -> DataFrame:
    """Render documents as (doc_id, href) anchors of the INPE mensal
    directory listing. Variants cycled by doc_id so every parser
    branch fires: relative csv, relative zip, root-relative with
    uppercase extension, absolute mirror with uppercase name
    ((?i) path), a non-matching extension, a query-string link (the
    reference does NOT strip queries — ``href.split('/')[-1]`` keeps
    ``?download=1`` and the ``$``-anchored regex rejects it), and a
    month-13 yyyymm (accepted — no month validation). Many doc_ids
    share a yyyymm, so the keep-last-occurrence dedupe is exercised
    with observable (filename, url) differences."""
    yyyymm = F.concat(
        (F.col("doc_id") % 6 + 2019).cast("string"),
        F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
    )
    name_csv = F.concat(F.lit("focos_mensal_br_"), yyyymm, F.lit(".csv"))
    name_zip = F.concat(F.lit("focos_mensal_br_"), yyyymm, F.lit(".zip"))
    href13 = F.concat(
        F.lit("focos_mensal_br_"),
        (F.col("doc_id") % 6 + 2019).cast("string"),
        F.lit("13.csv"),
    )
    kinds = F.array(
        name_csv,
        name_zip,
        F.concat(F.lit("/queimadas/focos/mensal/focos_mensal_br_"), yyyymm, F.lit(".CSV")),
        F.concat(F.lit("https://mirror.example/mensal/FOCOS_MENSAL_BR_"), yyyymm, F.lit(".csv")),
        F.concat(F.lit("focos_mensal_br_"), yyyymm, F.lit(".txt")),
        F.concat(name_csv, F.lit("?download=1")),
        href13,
    )
    return documents.select(
        "doc_id",
        F.element_at(kinds, (F.col("doc_id") % _MENSAL_HREF_KINDS + 1).cast("int")).alias(
            "href"
        ),
    )


def parse_mensal_links(anchors: DataFrame) -> DataFrame:
    """(yyyymm, year, month, filename, url) per mensal listing anchor.

    Reference: datasets/inpe/bdqueimadas_mensal_listing.py:22-48
    (``extract_mensal_links`` + ``yyyymm_to_month``): filename =
    ``href.split('/')[-1]`` (raw href — queries are NOT stripped,
    unlike the painel parser), RE_MENSAL match, absolute url via
    urljoin (specialized to absolute / root-relative / relative), and
    the dict-overwrite dedupe keeps the LAST occurrence per yyyymm in
    anchor order; output sorted by yyyymm. ``year``/``month`` carry
    the ``t[0] // 100`` / ``yyyymm_to_month`` arithmetic.

    Scale: pure Catalyst regexps; the keep-last dedupe is a rank
    window partitioned by yyyymm (bounded keys), the only shuffle.
    """
    href = F.col("href")
    filename = F.element_at(F.split(href, "/"), -1)
    yyyymm_s = F.regexp_extract(filename, RE_MENSAL, 1)
    url = (
        F.when(href.rlike(r"^[a-z][a-z0-9+.-]*://"), href)
        .when(href.startswith("/"), F.concat(F.lit(PAINEL_HOST), href))
        .otherwise(F.concat(F.lit(MENSAL_BASE_URL), href))
    )
    matched = anchors.select(
        "doc_id",
        yyyymm_s.cast("int").alias("yyyymm"),
        filename.alias("filename"),
        url.alias("url"),
    ).where(yyyymm_s != "")
    w = Window.partitionBy("yyyymm").orderBy(F.desc("doc_id"))
    return (
        matched.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "yyyymm",
            (F.col("yyyymm") / 100).cast("int").alias("year"),
            (F.col("yyyymm") % 100).cast("int").alias("month"),
            "filename",
            "url",
        )
        .orderBy("yyyymm")
    )


def mensal_links(documents: DataFrame, year: int | None = None) -> DataFrame:
    """Catalog query: wrap documents as mensal listing anchors, parse
    links; ``year`` applies ``filter_by_calendar_year`` (t[0] // 100 ==
    year, bdqueimadas_mensal_listing.py:40-44)."""
    out = parse_mensal_links(wrap_documents_as_mensal_listing(documents))
    if year is not None:
        out = out.where(F.col("year") == year)
    return out


# ── gov.br resource classification + manifest split ─────────────────────────

# Reference: datasets/anp/govbr.py:29-48 — required-parity constants.
GOVBR_DOWNLOAD_SUFFIXES = (
    ".csv", ".zip", ".xls", ".xlsx", ".json", ".xml", ".txt", ".pdf",
    ".doc", ".docx", ".ods", ".odt", ".shp", ".geojson", ".gpkg", ".kml",
)
GOVBR_DATA_SUFFIXES = tuple(s for s in GOVBR_DOWNLOAD_SUFFIXES if s != ".pdf")
GOVBR_METADATA_RE = r"(?i)(meta|metadado|metadados|dicionario|dicionário|layout|readme)"
# The reference's DEFAULT_PERIOD_RE, shared by the gov.br, CKAN and
# supranational resource classifiers. The (?<!\d)/(?!\d) guards need
# Java regex (RE2 lacks lookaround) — the oracles therefore derive
# period expectations in closed form.
PERIOD_RE = r"(?<!\d)((?:19|20)\d{2})(?:[-_]?([01]\d))?(?!\d)"


def _period(text: Column) -> Column:
    """First PERIOD_RE hit in ``text`` as 'yyyy-mm' or 'yyyy'; NULL
    when nothing matches (each caller coalesces its own fallback)."""
    yr = F.regexp_extract(text, PERIOD_RE, 1)
    mo = F.regexp_extract(text, PERIOD_RE, 2)
    return F.when(
        yr != "", F.when(mo != "", F.concat(yr, F.lit("-"), mo)).otherwise(yr)
    )


_GOVBR_RESOURCE_KINDS = 8

GOVBR_RESOURCE_VARIANTS = (
    ("producao_petroleo_2021.csv", "Produção de petróleo 2021", "Dados mensais"),
    ("dicionario_dados.pdf", "Dicionário de dados", "Metadados"),
    ("relatorio_anual.pdf", "Relatório anual", "Documentos"),
    ("serie_2020_06.zip", "Série histórica 2020_06", "Dados"),
    ("consulta.html", "Página de consulta", ""),
    ("metadados_layout.xlsx", "Layout", "Metadados"),
    ("notas_2019-12.txt", "Notas 2019-12", ""),
    ("README.pdf", "readme", "Sobre"),
)


def wrap_documents_as_govbr_resources(documents: DataFrame) -> DataFrame:
    """Render documents as extracted resource-link rows (filename,
    label, section) cycled by doc_id — every classification branch
    fires: metadata hits in filename and in label (accented and
    case-insensitive), data suffixes, a non-metadata PDF, an unknown
    suffix, and YYYY / YYYY_MM / YYYY-MM / absent periods."""
    fn = F.array(*[F.lit(v[0]) for v in GOVBR_RESOURCE_VARIANTS])
    lb = F.array(*[F.lit(v[1]) for v in GOVBR_RESOURCE_VARIANTS])
    sec = F.array(*[F.lit(v[2]) for v in GOVBR_RESOURCE_VARIANTS])
    idx = (F.col("doc_id") % _GOVBR_RESOURCE_KINDS + 1).cast("int")
    return documents.select(
        "doc_id",
        F.element_at(fn, idx).alias("filename"),
        F.element_at(lb, idx).alias("label"),
        F.element_at(sec, idx).alias("section"),
    )


def _govbr_suffix(filename) -> "Column":
    """``_suffix`` twin (govbr.py:256-261): longest known download
    suffix by endswith, else the plain path suffix."""
    lower = F.lower(filename)
    out = F.regexp_extract(lower, r"(\.[^.]*)$", 1)
    for ext in sorted(GOVBR_DOWNLOAD_SUFFIXES, key=len):
        out = F.when(lower.endswith(ext), F.lit(ext)).otherwise(out)
    return out


def govbr_resource_classify(documents: DataFrame) -> DataFrame:
    """Classify gov.br resource links and assign manifest roles.

    Reference: datasets/anp/govbr.py:345-442 —
    ``_period_from_text`` (PERIOD_RE over filename+label+section:
    'YYYY', 'YYYY-MM' (folding '_' to '-'), else 'current'),
    ``_resource_kind`` (METADATA_RE over filename+label → metadata;
    data suffix → data; .pdf → documentation; else data),
    ``_suffix`` longest-match, direct_download = known suffix, and
    ``split_manifest_resources`` + ``_metadata_sort_key``: ONE
    metadata_file — the first PDF with kind metadata/documentation
    ordered by (metadata-regex miss, filename) — then every other
    metadata/documentation resource is 'documentation' and the rest
    'data'. The pick's tie-break across identical filenames is doc_id
    (the reference sorts a per-page list where ties can't arise).

    Scale: classification is a pure projection; the single manifest
    pick is a rank window over the (tiny) PDF-candidate subset only.
    """
    r = wrap_documents_as_govbr_resources(documents)
    target = F.concat(F.col("filename"), F.lit(" "), F.col("label"))
    meta_hit = target.rlike(GOVBR_METADATA_RE)
    suffix = _govbr_suffix(F.col("filename"))
    kind = (
        F.when(meta_hit, F.lit("metadata"))
        .when(suffix.isin(*GOVBR_DATA_SUFFIXES), F.lit("data"))
        .when(suffix == ".pdf", F.lit("documentation"))
        .otherwise(F.lit("data"))
    )
    period = F.coalesce(
        _period(F.concat_ws(" ", "filename", "label", "section")),
        F.lit("current"),
    )
    title = F.when(F.col("label") != "", F.col("label")).otherwise(F.col("filename"))
    classified = r.select(
        "doc_id",
        "filename",
        "label",
        "section",
        suffix.alias("suffix"),
        kind.alias("kind"),
        period.alias("period"),
        suffix.isin(*GOVBR_DOWNLOAD_SUFFIXES).alias("direct_download"),
        F.lower(F.concat(F.col("filename"), F.lit(" "), title))
        .rlike(GOVBR_METADATA_RE)
        .alias("_meta_sort_hit"),
    )
    is_candidate = (F.col("suffix") == ".pdf") & F.col("kind").isin(
        "metadata", "documentation"
    )
    pick_w = Window.orderBy(
        F.when(F.col("_meta_sort_hit"), 0).otherwise(1), "filename", "doc_id"
    )
    picked = (
        classified.where(is_candidate)
        .withColumn("rn", F.row_number().over(pick_w))
        .where(F.col("rn") == 1)
        .select(F.col("doc_id").alias("picked_doc_id"))
    )
    role = (
        F.when(F.col("picked_doc_id").isNotNull(), F.lit("metadata_file"))
        .when(
            F.col("kind").isin("metadata", "documentation"), F.lit("documentation")
        )
        .otherwise(F.lit("data"))
    )
    return (
        classified.join(
            F.broadcast(picked),
            classified.doc_id == F.col("picked_doc_id"),
            "left",
        )
        .select(
            "doc_id",
            "filename",
            "section",
            "suffix",
            "kind",
            "period",
            "direct_download",
            role.alias("manifest_role"),
        )
        .orderBy("doc_id")
    )


# ── CVM dataset resource selection (inf_diario latest months) ───────────────

CVM_BASE_URL = "https://data.example/cvm/"
# Reference: datasets/cvm/fi_inf_diario.py:16 — required-parity regex.
RE_CVM_ZIP = r"(?i)inf_diario_fi_(\d{6})\.zip$"
CVM_LATEST_MONTHS = 6

_CVM_URL_KINDS = 5


def wrap_documents_as_cvm_urls(documents: DataFrame) -> DataFrame:
    """Render documents as CKAN resource URLs cycled by doc_id: a
    lowercase monthly zip, an UPPERCASE variant ((?i) path), the meta
    .txt, a non-matching pdf, and a query-string zip (the reference's
    ``u.split('/')[-1]`` keeps the query, so ``.zip$`` rejects it)."""
    yyyymm = F.concat(
        (F.col("doc_id") % 6 + 2019).cast("string"),
        F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
    )
    kinds = F.array(
        F.concat(F.lit(CVM_BASE_URL), F.lit("inf_diario_fi_"), yyyymm, F.lit(".zip")),
        F.concat(F.lit(CVM_BASE_URL), F.lit("INF_DIARIO_FI_"), yyyymm, F.lit(".ZIP")),
        F.concat(F.lit(CVM_BASE_URL), F.lit("meta_inf_diario_fi.txt")),
        F.concat(F.lit(CVM_BASE_URL), F.lit("relatorio_"), yyyymm, F.lit(".pdf")),
        F.concat(
            F.lit(CVM_BASE_URL), F.lit("inf_diario_fi_"), yyyymm,
            F.lit(".zip?download=1"),
        ),
    )
    return documents.select(
        F.element_at(kinds, (F.col("doc_id") % _CVM_URL_KINDS + 1).cast("int")).alias(
            "url"
        )
    )


def cvm_latest_zips(
    documents: DataFrame, latest_months: int = CVM_LATEST_MONTHS
) -> DataFrame:
    """Latest-N monthly zips + the meta file from a CKAN resource list.

    Reference: datasets/cvm/fi_inf_diario.py:73-110
    (``extract_resource_urls`` dedupes + sorts the urls;
    ``pick_latest_zip_urls`` walks them keeping the LAST
    meta_inf_diario_fi .txt seen, parses RE_ZIP periods from the last
    path segment — query strings intact, so ``?download`` links are
    rejected — then sorts (period DESC, stable) and cuts to
    ``latest_months``). The stable cut within equal periods preserves
    the sorted-url order, reproduced here as (period DESC, url ASC)
    rank. Output: 'zip' rows (period, url) inside the cut plus one
    'meta' row (NULL period).

    Scale: url classification is a projection off the scan; the rank
    runs over ≤ #distinct-period·variants rows after a distinct.
    """
    urls = wrap_documents_as_cvm_urls(documents).distinct()
    name = F.element_at(F.split(F.col("url"), "/"), -1)
    yyyymm = F.regexp_extract(name, RE_CVM_ZIP, 1)
    period = F.concat(
        F.substring(yyyymm, 1, 4), F.lit("-"), F.substring(yyyymm, 5, 2)
    )
    is_meta = F.lower(name).endswith(".txt") & F.lower(name).contains(
        "meta_inf_diario_fi"
    )
    classified = urls.select(
        "url",
        is_meta.alias("is_meta"),
        F.when(yyyymm != "", period).alias("period"),
    )
    zips = classified.where(~F.col("is_meta") & F.col("period").isNotNull())
    w = Window.orderBy(F.desc("period"), "url")
    kept = (
        zips.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= latest_months)
        .select(F.lit("zip").alias("kind"), "period", "url")
    )
    # the reference keeps the LAST matching meta url in sorted order
    meta_w = Window.orderBy(F.desc("url"))
    meta = (
        classified.where(F.col("is_meta"))
        .withColumn("rn", F.row_number().over(meta_w))
        .where(F.col("rn") == 1)
        .select(F.lit("meta").alias("kind"), F.lit(None).cast("string").alias("period"), "url")
    )
    return kept.unionByName(meta).orderBy("kind", F.desc_nulls_last("period"), "url")


# ── Generic CVM CKAN dataset resource selection ─────────────────────────────

CKAN_ALLOWED_HOSTS = ("dados.cvm.gov.br", "www.gov.br", "portaldatransparencia.gov.br")
# Reference: datasets/cvm/ckan_dataset.py:21-22 — required-parity regexes.
CKAN_METADATA_HINT_RE = r"(?i)(meta|metadado|dicionario|dicionário|layout|readme)"
# The fixed DatasetCfg this operator instantiates (the reference loads
# per-dataset YAML; the classification math is identical for any cfg).
CKAN_INCLUDE_RE = r"(?i)inf_"
CKAN_EXCLUDE_RE = r"(?i)backup"
CKAN_LATEST = 6

_CKAN_KINDS = 8
_CKAN_BAD_NAMES = ("view", "baixar", "consulta")


def wrap_documents_as_ckan_resources(documents: DataFrame) -> DataFrame:
    """Render documents as CKAN resource records cycled by doc_id,
    exercising every branch of the reference's selection: a monthly
    zip, an annual zip, the metadata dictionary, a disallowed host, a
    '/view' URL whose filename falls back to _safe_filename(name,
    format), an include-hit zip excluded by pattern, a period-less csv
    dated by last_modified, and an include-miss csv.

    Fields are built as PER-FIELD 8-branch arrays (not an array of
    structs): downstream expressions re-reference these columns many
    times, and Catalyst's project-collapse/predicate-substitution
    inlines the referenced expression at every use — with an
    array-of-structs each field reference drags in EVERY field of all
    8 variants (measured: a 584 KB physical plan and ~6 s/run at
    sf0.1 for ckan_resource_select; ~0.5 s with per-field arrays)."""
    yyyy = (F.col("doc_id") % 6 + 2019).cast("string")
    mm = F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0")
    ym = F.concat(yyyy, mm)
    base = "https://dados.cvm.gov.br/data/"
    idx = (F.col("doc_id") % _CKAN_KINDS + 1).cast("int")

    def pick(*variants: Column) -> Column:
        return F.element_at(F.array(*variants), idx)

    url = pick(
        F.concat(F.lit(base), F.lit("inf_diario_fi_"), ym, F.lit(".zip")),
        F.concat(F.lit(base), F.lit("inf_anual_"), yyyy, F.lit(".zip")),
        F.lit("https://dados.cvm.gov.br/meta/dicionario_inf_diario.txt"),
        F.concat(F.lit("https://evil.example/inf_diario_fi_"), ym, F.lit(".zip")),
        F.lit("https://www.gov.br/view"),
        F.concat(F.lit(base), F.lit("inf_diario_fi_"), ym, F.lit("_backup.zip")),
        F.concat(F.lit(base), F.lit("inf_geral.csv")),
        F.concat(F.lit(base), F.lit("outros_dados.csv")),
    )
    name = pick(
        F.concat(F.lit("Informe diário "), ym),
        F.concat(F.lit("Informe anual "), yyyy),
        F.lit("Dicionário de dados"),
        F.lit("Fora do domínio"),
        F.concat(F.lit("Relatório Inf "), ym),
        F.lit("Backup"),
        F.lit("Informe geral"),
        F.lit("Outros dados"),
    )
    description = pick(
        F.lit(""), F.lit(""), F.lit("Layout do arquivo"), F.lit(""),
        F.lit(""), F.lit(""), F.lit(""), F.lit(""),
    )
    fmt = pick(
        F.lit("zip"), F.lit("zip"), F.lit("txt"), F.lit("zip"),
        F.lit("csv"), F.lit("zip"), F.lit("csv"), F.lit("csv"),
    )
    last_modified = pick(
        F.lit(""), F.lit(""), F.lit(""), F.lit(""),
        F.lit(""), F.lit(""), F.lit("2024-03-15T10:00:00"), F.lit(""),
    )
    return documents.select(
        "doc_id",
        url.alias("url"),
        name.alias("name"),
        description.alias("description"),
        fmt.alias("format"),
        last_modified.alias("last_modified"),
    )


def ckan_resource_select(
    documents: DataFrame, latest: int = CKAN_LATEST
) -> DataFrame:
    """Generic CVM CKAN dataset resource selection.

    Reference: datasets/cvm/ckan_dataset.py:185-277 —
    ``is_allowed_download_url`` (http/https + host allowlist),
    ``filename_from_resource`` (URL path basename if it has an
    extension and is not view/baixar/consulta, else
    ``_safe_filename(name or path or 'download', format)`` — the
    ``[^A-Za-z0-9._-]+ → _`` fold with '._-' strip and format-suffix
    append), ``resource_allowed`` (include/exclude regex over filename
    OR the filename+name+description+format target),
    ``is_metadata_resource`` (METADATA_HINT_RE over
    filename+name+description), ``period_from_resource``
    (DEFAULT_PERIOD_RE 'YYYY[-_]?MM' with digit-boundary lookarounds
    over filename+name, else a date-shaped last_modified prefix, else
    'current'), and ``select_resources`` (data sorted (period,
    filename) DESC — Python stable sort, so ties keep list order =
    doc_id — cut to the latest-N, metadata appended after).

    Output: one row per SELECTED resource: kind ('data'|'meta'),
    sel_rank within its kind, period, filename, url, doc_id.

    Scale: pure projection + one rank window over the (bounded)
    allowed subset; no joins. The lookaround regex runs JVM-side; the
    DuckDB oracle states the expectations in closed form from the
    wrapper's doc_id arithmetic (RE2 has no lookarounds — same
    approach as govbr_resource_classify).

    A persist barrier follows the filename derivation: the downstream
    classification re-references filename several times, and Catalyst's
    alias substitution inlines the referenced expression at every use —
    unbarriered, the tree multiplies to a ~584 KB physical plan whose
    per-invocation analysis+codegen cost (~6 s at sf0.1) dwarfs the
    actual row evaluation (~0.9 s with the barrier). The cache caps the
    visible tree at a narrow 8-column projection evaluated once; at
    cluster scale this is one extra in-memory materialization of the
    resource list, negligible next to any fact-table stage.
    """
    r = wrap_documents_as_ckan_resources(documents)
    scheme_host = F.regexp_extract(F.col("url"), r"^(https?)://([^/]+)", 2)
    allowed_host = (F.col("url") != "") & F.lower(scheme_host).isin(
        *CKAN_ALLOWED_HOSTS
    )
    path = F.regexp_replace(F.col("url"), r"^[a-z]+://[^/]+", "")
    path_name = F.element_at(F.split(path, "/"), -1)
    keep_path_name = (
        (path_name != "")
        & ~F.lower(path_name).isin(*_CKAN_BAD_NAMES)
        & path_name.contains(".")
    )
    fallback = F.when(F.col("name") != "", F.col("name")).otherwise(
        F.when(path_name != "", path_name).otherwise(F.lit("download"))
    )
    safe = F.regexp_replace(
        F.regexp_replace(F.trim(fallback), r"[^A-Za-z0-9._-]+", "_"),
        r"^[._-]+|[._-]+$",
        "",
    )
    safe = F.when(safe == "", F.lit("download")).otherwise(safe)
    fmt = F.lower(F.trim(F.col("format")))
    safe = F.when(
        (fmt != "") & ~F.lower(safe).endswith(F.concat(F.lit("."), fmt)),
        F.concat(safe, F.lit("."), fmt),
    ).otherwise(safe)
    filename = F.when(keep_path_name, path_name).otherwise(safe)
    named = persist(
        r.select(
            "doc_id",
            "url",
            "name",
            "description",
            "format",
            "last_modified",
            filename.alias("filename"),
            allowed_host.alias("allowed_host"),
        )
    )
    target = F.concat_ws(" ", "filename", "name", "description", "format")
    include_ok = F.col("filename").rlike(CKAN_INCLUDE_RE) | target.rlike(
        CKAN_INCLUDE_RE
    )
    exclude_hit = F.col("filename").rlike(CKAN_EXCLUDE_RE) | target.rlike(
        CKAN_EXCLUDE_RE
    )
    is_meta = F.concat_ws(" ", "filename", "name", "description").rlike(
        CKAN_METADATA_HINT_RE
    )
    modified = F.col("last_modified")
    period = F.coalesce(
        _period(F.concat_ws(" ", "filename", "name")),
        F.when(
            modified.rlike(r"^\d{4}-\d{2}-\d{2}"), F.substring(modified, 1, 10)
        ),
        F.lit("current"),
    )
    classified = named.where(
        F.col("allowed_host") & include_ok & ~exclude_hit
    ).select(
        "doc_id",
        "url",
        "filename",
        period.alias("period"),
        is_meta.alias("is_meta"),
    )
    data_w = Window.orderBy(F.desc("period"), F.desc("filename"), "doc_id")
    data = (
        classified.where(~F.col("is_meta"))
        .withColumn("sel_rank", F.row_number().over(data_w))
        .where(F.col("sel_rank") <= latest)
        .select(F.lit("data").alias("kind"), "sel_rank", "period", "filename", "url", "doc_id")
    )
    meta_w = Window.orderBy("doc_id")
    meta = (
        classified.where(F.col("is_meta"))
        .withColumn("sel_rank", F.row_number().over(meta_w))
        .select(F.lit("meta").alias("kind"), "sel_rank", "period", "filename", "url", "doc_id")
    )
    return data.unionByName(meta).orderBy("kind", "sel_rank")


# ── Supranational URL-only CKAN resource policy ─────────────────────────────

SUPRA_ALLOWED_HOSTS = ("data.worldbank.org", "files.fao.org")
# Reference: datasets/supranational/runner.py:41-67 — parity constants.
SUPRA_FILE_SUFFIX_RE = r"\.(csv|gz|geojson|json|kml|rds|tif|tiff|xls|xlsx|xml|zip)$"
SUPRA_FILE_FORMATS = (
    "CSV", "GEOJSON", "JSON", "KML", "RDS", "TIF", "TIFF", "XLS", "XLSX", "ZIP",
)
SUPRA_BLOCKED_MARKERS = (
    "datastore_search", "/api/3/action/datastore", "/vis?", "preview",
    "map_key", "token=", "signature=",
)
SUPRA_EXCLUDE_RE = r"(?i)archive"

_SUPRA_KINDS = 9


def wrap_documents_as_supra_resources(documents: DataFrame) -> DataFrame:
    """Render documents as supranational CKAN resources cycled by
    doc_id, one kind per policy branch: suffix-accepted csv, the
    .csv.gz special case, a /download/ endpoint with CKAN format, an
    inactive resource, a blocked-marker URL, an http URL, a foreign
    host, an exclude-pattern hit, and a /download/ endpoint whose
    format is not a file format (the format-gate failure)."""
    yyyy = (F.col("doc_id") % 6 + 2019).cast("string")
    mm = F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0")
    wb = "https://data.worldbank.org"
    fao = "https://files.fao.org"
    rows = F.array(
        F.struct(
            F.lit("active").alias("state"),
            F.concat(F.lit(f"{wb}/bulk/WDI_"), yyyy, F.lit(".csv")).alias("url"),
            F.concat(F.lit("WDI "), yyyy).alias("name"),
            F.lit("World Development Indicators bulk").alias("description"),
            F.lit("CSV").alias("format"),
        ),
        F.struct(
            F.lit("active").alias("state"),
            F.concat(F.lit(f"{fao}/prod/QCL_"), yyyy, mm, F.lit(".csv.gz")).alias("url"),
            F.lit("QCL bulk").alias("name"),
            F.lit("Crops and livestock products").alias("description"),
            F.lit("CSV").alias("format"),
        ),
        F.struct(
            F.lit("active").alias("state"),
            F.concat(F.lit(f"{wb}/download/wdi-extra-"), yyyy).alias("url"),
            F.lit("WDI extra").alias("name"),
            F.lit("").alias("description"),
            F.lit("ZIP").alias("format"),
        ),
        F.struct(
            F.lit("deleted").alias("state"),
            F.concat(F.lit(f"{wb}/bulk/WDI_old_"), yyyy, F.lit(".csv")).alias("url"),
            F.lit("WDI old").alias("name"),
            F.lit("").alias("description"),
            F.lit("CSV").alias("format"),
        ),
        F.struct(
            F.lit("active").alias("state"),
            F.concat(F.lit(f"{wb}/vis?id="), F.col("doc_id").cast("string")).alias("url"),
            F.lit("Visualização").alias("name"),
            F.lit("").alias("description"),
            F.lit("CSV").alias("format"),
        ),
        F.struct(
            F.lit("active").alias("state"),
            F.concat(F.lit("http://data.worldbank.org/bulk/WDI_"), yyyy, F.lit(".csv")).alias("url"),
            F.lit("WDI http").alias("name"),
            F.lit("").alias("description"),
            F.lit("CSV").alias("format"),
        ),
        F.struct(
            F.lit("active").alias("state"),
            F.concat(F.lit("https://example.org/data_"), yyyy, F.lit(".csv")).alias("url"),
            F.lit("Foreign host").alias("name"),
            F.lit("").alias("description"),
            F.lit("CSV").alias("format"),
        ),
        F.struct(
            F.lit("active").alias("state"),
            F.concat(F.lit(f"{fao}/prod/archive_"), yyyy, F.lit(".csv")).alias("url"),
            F.lit("Arquivo histórico").alias("name"),
            F.lit("").alias("description"),
            F.lit("CSV").alias("format"),
        ),
        F.struct(
            F.lit("active").alias("state"),
            F.lit(f"{wb}/download/wdi-notes").alias("url"),
            F.lit("WDI notes").alias("name"),
            F.lit("").alias("description"),
            F.lit("HTML").alias("format"),
        ),
    )
    picked = F.element_at(rows, (F.col("doc_id") % _SUPRA_KINDS + 1).cast("int"))
    return documents.select("doc_id", picked.alias("r")).select("doc_id", "r.*")


def supranational_items(documents: DataFrame) -> DataFrame:
    """Supranational URL-only CKAN policy classification + item rows.

    Reference: datasets/supranational/runner.py:396-421
    ``_ckan_resource_allowed`` (active state → ``_url_allowed`` with
    allow_download_endpoint — https, host allowlist, blocked-marker
    substring scan on the lowered URL, then /download/ path OR file
    suffix — → format gate (suffix OR /download/ + CKAN format in
    FILE_FORMATS) → include/exclude regex over the
    filename+name+description+format target), and :332-346
    ``_items_from_ckan`` item shaping (title = name or filename,
    filename = ``filename_from_url`` basename, period =
    ``_period_from_text(name + ' ' + url)`` with the 'Atual'
    fallback, format = ``_format_from_filename`` with the '.csv.gz'
    special case and 'unknown' for suffix-less names, :491-518).

    One row per resource with the FIRST failing policy stage as
    ``reason`` ('inactive', 'url_policy', 'format_gate',
    'exclude_hit') or 'accepted' with the item fields populated
    (blocked rows carry NULL item fields — the reference only counts
    them as omitted).

    Scale: pure projection, no joins/windows; the lookaround period
    regex runs JVM-side and the DuckDB oracle states expectations in
    closed form from the wrapper arithmetic.
    """
    r = wrap_documents_as_supra_resources(documents)
    url_l = F.lower(F.col("url"))
    scheme = F.regexp_extract(F.col("url"), r"^([a-z]+)://", 1)
    host = F.lower(F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1))
    path = F.regexp_replace(
        F.regexp_replace(F.col("url"), r"^[a-z]+://[^/]+", ""), r"[?#].*$", ""
    )
    marker_hit = F.lit(False)
    for m in SUPRA_BLOCKED_MARKERS:
        marker_hit = marker_hit | url_l.contains(m)
    suffix_ok = F.lower(path).rlike(SUPRA_FILE_SUFFIX_RE)
    download_ep = F.lower(path).contains("/download/")
    url_ok = (
        (scheme == "https")
        & (host != "")
        & host.isin(*SUPRA_ALLOWED_HOSTS)
        & ~marker_hit
        & (download_ep | suffix_ok)
    )
    fmt_ckan = F.upper(F.trim(F.col("format")))
    format_ok = suffix_ok | (
        url_l.contains("/download/") & fmt_ckan.isin(*SUPRA_FILE_FORMATS)
    )
    filename = F.element_at(F.split(path, "/"), -1)
    filename = F.when(filename == "", F.lit("download")).otherwise(filename)
    target = F.concat_ws(" ", filename, "name", "description", "format")
    exclude_hit = target.rlike(SUPRA_EXCLUDE_RE)
    reason = (
        F.when(F.lower(F.col("state")) != "active", F.lit("inactive"))
        .when(~url_ok, F.lit("url_policy"))
        .when(~format_ok, F.lit("format_gate"))
        .when(exclude_hit, F.lit("exclude_hit"))
        .otherwise(F.lit("accepted"))
    )
    period = F.coalesce(_period(F.concat_ws(" ", "name", "url")), F.lit("Atual"))
    fmt_file = F.when(
        F.lower(filename).endswith(".csv.gz"), F.lit("csv.gz")
    ).otherwise(
        F.when(
            F.lower(filename).rlike(r"\.[a-z0-9]+$"),
            F.regexp_extract(F.lower(filename), r"\.([a-z0-9]+)$", 1),
        ).otherwise(F.lit("unknown"))
    )
    title = F.when(F.col("name") != "", F.col("name")).otherwise(filename)
    acc = F.col("reason") == "accepted"
    ns = F.lit(None).cast("string")
    return (
        r.withColumn("reason", reason)
        .select(
            "doc_id",
            "url",
            "reason",
            F.when(acc, filename).otherwise(ns).alias("filename"),
            F.when(acc, title).otherwise(ns).alias("title"),
            F.when(acc, period).otherwise(ns).alias("period"),
            F.when(acc, fmt_file).otherwise(ns).alias("format"),
        )
        .orderBy("doc_id")
    )


# ── MMA CNUC CKAN manifest items ────────────────────────────────────────────

MMA_ALLOWED_NETLOC = "dados.mma.gov.br"

_MMA_KINDS = 7


def wrap_documents_as_mma_resources(documents: DataFrame) -> DataFrame:
    """Render documents as MMA CNUC CKAN resources cycled by doc_id:
    a month-stamped csv (filename period), a www-host csv dated by
    last_modified, the tabular dictionary PDF (the pick target), a
    shapefile dictionary PDF dated by created, a foreign-host row, a
    year-only zip, and an empty-URL row."""
    yyyy = (F.col("doc_id") % 6 + 2019).cast("string")
    mm = F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0")
    base = "https://dados.mma.gov.br"
    rows = F.array(
        F.struct(
            F.concat(F.lit(f"{base}/dataset/cnuc/cnuc_"), yyyy, F.lit("_"), mm, F.lit(".csv")).alias("url"),
            F.concat(F.lit("CNUC "), yyyy).alias("name"),
            F.lit("CSV").alias("format"),
            F.lit("").alias("last_modified"),
            F.lit("").alias("created"),
        ),
        F.struct(
            F.concat(F.lit("https://www.dados.mma.gov.br/dataset/cnuc/cadastro_"), yyyy, F.lit(".csv")).alias("url"),
            F.concat(F.lit("Cadastro "), yyyy).alias("name"),
            F.lit("CSV").alias("format"),
            F.concat(yyyy, F.lit("-07-01T12:00:00")).alias("last_modified"),
            F.lit("").alias("created"),
        ),
        F.struct(
            F.lit(f"{base}/docs/dicionario_de_dados_unidades_de_conservacao.pdf").alias("url"),
            F.lit("Dicionário de dados — Unidades de Conservação").alias("name"),
            F.lit("PDF").alias("format"),
            F.lit("").alias("last_modified"),
            F.lit("").alias("created"),
        ),
        F.struct(
            F.lit(f"{base}/docs/dicionario_shapefile.pdf").alias("url"),
            F.lit("Dicionário shapefile conservação").alias("name"),
            F.lit("PDF").alias("format"),
            F.lit("").alias("last_modified"),
            F.lit("2022-11-05T09:00:00").alias("created"),
        ),
        F.struct(
            F.lit("https://example.org/cnuc.csv").alias("url"),
            F.lit("Fora do domínio").alias("name"),
            F.lit("CSV").alias("format"),
            F.lit("").alias("last_modified"),
            F.lit("").alias("created"),
        ),
        F.struct(
            F.concat(F.lit(f"{base}/dataset/cnuc_"), yyyy, F.lit(".zip")).alias("url"),
            F.concat(F.lit("CNUC anual "), yyyy).alias("name"),
            F.lit("ZIP").alias("format"),
            F.lit("").alias("last_modified"),
            F.lit("").alias("created"),
        ),
        F.struct(
            F.lit("").alias("url"),
            F.lit("Sem URL").alias("name"),
            F.lit("CSV").alias("format"),
            F.lit("").alias("last_modified"),
            F.lit("").alias("created"),
        ),
    )
    picked = F.element_at(rows, (F.col("doc_id") % _MMA_KINDS + 1).cast("int"))
    return documents.select("doc_id", picked.alias("r")).select("doc_id", "r.*")


def mma_manifest_items(documents: DataFrame) -> DataFrame:
    """MMA CNUC manifest items + the tabular-dictionary PDF pick.

    Reference: datasets/mma/cnuc_unidades_conservacao.py:46-56
    (``_netloc_key`` www-strip + ``is_allowed_download_url``), :71-88
    (``period_from_resource``: date-shaped last_modified→created
    prefix, else filename 'YYYY[-_]MM' → 'YYYY-MM-15', else year →
    'YYYY-06-15', else the '2018-01-01' floor), :90-103
    (``pick_tabular_dictionary_pdf``: FIRST PDF in list order whose
    name is not shapefile-flavored and contains 'dicion'+'conserva'),
    and :105-133 (``build_manifest_items``: URL-gated items, basename
    filename with 'download' fallback, name-or-filename title, period
    DESC stable sort — ties keep list order, reproduced as doc_id).

    Scale: pure projection + one rank window; the pick is a min-doc_id
    window over the (tiny) PDF candidate subset.
    """
    r = wrap_documents_as_mma_resources(documents)
    host = F.lower(F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1))
    netloc_key = F.regexp_replace(host, r"^www\.", "")
    allowed = (F.col("url") != "") & (netloc_key == MMA_ALLOWED_NETLOC)
    path = F.regexp_replace(F.col("url"), r"^[a-z]+://[^/]+", "")
    filename = F.element_at(F.split(path, "/"), -1)
    filename = F.when(filename == "", F.lit("download")).otherwise(filename)
    fn_ym_y = F.regexp_extract(filename, r"(20\d{2})[-_](\d{2})", 1)
    fn_ym_m = F.regexp_extract(filename, r"(20\d{2})[-_](\d{2})", 2)
    fn_y = F.regexp_extract(filename, r"(20\d{2})", 1)
    date_re = r"^\d{4}-\d{2}-\d{2}"
    lm = F.trim(F.col("last_modified"))
    cr = F.trim(F.col("created"))
    period = (
        F.when(lm.rlike(date_re), F.substring(lm, 1, 10))
        .when(cr.rlike(date_re), F.substring(cr, 1, 10))
        .when(fn_ym_y != "", F.concat(fn_ym_y, F.lit("-"), fn_ym_m, F.lit("-15")))
        .when(fn_y != "", F.concat(fn_y, F.lit("-06-15")))
        .otherwise(F.lit("2018-01-01"))
    )
    name_l = F.lower(F.col("name"))
    dict_candidate = (
        (F.upper(F.col("format")) == "PDF")
        & ~name_l.contains("shapefile")
        & name_l.contains("dicion")
        & name_l.contains("conserva")
    )
    pick_w = Window.orderBy("doc_id")
    classified = r.select(
        "doc_id",
        "url",
        "name",
        filename.alias("filename"),
        period.alias("period"),
        allowed.alias("allowed"),
        dict_candidate.alias("dict_candidate"),
    )
    picked = (
        classified.where(F.col("dict_candidate"))
        .withColumn("rn", F.row_number().over(pick_w))
        .where(F.col("rn") == 1)
        .select(F.col("doc_id").alias("picked_doc_id"))
    )
    title = F.when(F.trim(F.col("name")) != "", F.trim(F.col("name"))).otherwise(
        F.col("filename")
    )
    items = classified.where(F.col("allowed"))
    rank_w = Window.orderBy(F.desc("period"), "doc_id")
    return (
        items.join(
            F.broadcast(picked),
            items["doc_id"] == F.col("picked_doc_id"),
            "left",
        )
        .select(
            F.row_number().over(rank_w).alias("rank"),
            "period",
            "filename",
            title.alias("title"),
            "url",
            "doc_id",
            F.col("picked_doc_id").isNotNull().alias("is_dict_pick"),
        )
        .orderBy("rank")
    )


# ── INPE COIDS directory entry period strategies ────────────────────────────

# Reference: datasets/inpe/bdqueimadas_focos_coids.py:15-21 — parity regexes.
COIDS_RE_YEAR = r"((?:19|20)\d{2})"
COIDS_RE_YYYYMM = r"((?:19|20)\d{2})(0[1-9]|1[0-2])"
COIDS_RE_YYYYMMDD = r"((?:19|20)\d{2})(0[1-9]|1[0-2])(0[1-9]|[12]\d|3[01])"
COIDS_RE_10MIN = r"((?:19|20)\d{6})_([0-2]\d[0-5]\d)"
COIDS_RE_STATE = r"(?i)/EstadosBr_sat_ref/([A-Z]{2})/"

_COIDS_NAME_KINDS = 6
_COIDS_LABEL_KINDS = 6


def wrap_documents_as_coids_entries(documents: DataFrame) -> DataFrame:
    """Render documents as COIDS directory entries cycled by doc_id:
    filenames exercising each period regex (annual, monthly, daily,
    ten-min, no-digit fallback, state-segment URL) crossed with
    last-modified labels covering all four accepted formats, the empty
    label, and an unparseable one."""
    yyyy = (F.col("doc_id") % 6 + 2019).cast("string")
    mm = F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0")
    dd = F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0")
    hh = F.lpad((F.col("doc_id") % 24).cast("string"), 2, "0")
    mi = F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0")
    uf = F.element_at(
        F.array(F.lit("SP"), F.lit("mg"), F.lit("BA"), F.lit("rj")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    nk = (F.col("doc_id") % _COIDS_NAME_KINDS + 1).cast("int")
    filename = F.element_at(
        F.array(
            F.concat(F.lit("focos_br_"), yyyy, F.lit(".zip")),
            F.concat(F.lit("focos_mensal_"), yyyy, mm, F.lit(".zip")),
            F.concat(F.lit("focos_diario_"), yyyy, mm, dd, F.lit(".csv")),
            F.concat(
                F.lit("focos_10min_"), yyyy, mm, dd, F.lit("_"), hh, mi,
                F.lit(".csv"),
            ),
            F.lit("documento_tecnico.pdf"),
            F.concat(F.lit("focos_"), yyyy, F.lit(".zip")),
        ),
        nk,
    )
    url = F.when(
        nk == 6,
        F.concat(
            F.lit("https://dataserver.example/queimadas/EstadosBr_sat_ref/"),
            uf,
            F.lit("/focos_"),
            yyyy,
            F.lit(".zip"),
        ),
    ).otherwise(
        F.concat(F.lit("https://dataserver.example/queimadas/"), filename)
    )
    label = F.element_at(
        F.array(
            F.lit(""),
            F.concat(yyyy, F.lit("-"), mm, F.lit("-10 12:34")),
            F.concat(yyyy, F.lit("-"), mm, F.lit("-10 12:34:56")),
            F.concat(F.lit("10/"), mm, F.lit("/"), yyyy, F.lit(" 08:15:30")),
            F.concat(F.lit("10/"), mm, F.lit("/"), yyyy, F.lit(" 08:15")),
            F.lit("ontem às 10h"),
        ),
        (F.col("doc_id") % _COIDS_LABEL_KINDS + 1).cast("int"),
    )
    return documents.select(
        "doc_id",
        filename.alias("filename"),
        url.alias("url"),
        label.alias("last_modified_label"),
    )


def coids_entry_periods(documents: DataFrame) -> DataFrame:
    """INPE COIDS period strategies, every strategy per entry.

    Reference: datasets/inpe/bdqueimadas_focos_coids.py:145-201
    ``entry_period`` — annual (first (19|20)dd year in the filename,
    else the Path stem), monthly (YYYYMM → 'YYYY-MM'), daily
    (YYYYMMDD → 'YYYY-MM-DD'), ten_min (8-digit date + '_' + HHMM →
    'YYYY-MM-DD HHMM', falling back to the daily parse then the
    stem), annual_state ('UF/year' when the URL carries the
    case-insensitive /EstadosBr_sat_ref/<uf>/ segment), and
    modified_or_name (``parse_last_modified``'s four strptime formats
    in order, formatted '%Y-%m-%d %H:%M:%S', else the stem;
    coids_directory.py:112-127). One output row carries ALL six
    strategies — the reference picks one per dataset config, so the
    row is the whole strategy table for that entry.

    Every regex here is RE2-compatible and the label parse is a
    try_to_timestamp chain, so the DuckDB oracle runs the IDENTICAL
    logic (no closed-form needed). Pure projection — no joins, no
    shuffles beyond the presentation sort.
    """
    r = wrap_documents_as_coids_entries(documents)
    stem = F.regexp_replace(F.col("filename"), r"\.[^.]*$", "")
    y = F.regexp_extract(F.col("filename"), COIDS_RE_YEAR, 1)
    annual = F.when(y != "", y).otherwise(stem)
    ym_y = F.regexp_extract(F.col("filename"), COIDS_RE_YYYYMM, 1)
    ym_m = F.regexp_extract(F.col("filename"), COIDS_RE_YYYYMM, 2)
    monthly = F.when(
        ym_y != "", F.concat(ym_y, F.lit("-"), ym_m)
    ).otherwise(stem)
    d_y = F.regexp_extract(F.col("filename"), COIDS_RE_YYYYMMDD, 1)
    d_m = F.regexp_extract(F.col("filename"), COIDS_RE_YYYYMMDD, 2)
    d_d = F.regexp_extract(F.col("filename"), COIDS_RE_YYYYMMDD, 3)
    daily = F.when(
        d_y != "", F.concat(d_y, F.lit("-"), d_m, F.lit("-"), d_d)
    ).otherwise(stem)
    t_date = F.regexp_extract(F.col("filename"), COIDS_RE_10MIN, 1)
    t_hour = F.regexp_extract(F.col("filename"), COIDS_RE_10MIN, 2)
    ten_min = F.when(
        t_date != "",
        F.concat(
            F.substring(t_date, 1, 4), F.lit("-"),
            F.substring(t_date, 5, 2), F.lit("-"),
            F.substring(t_date, 7, 2), F.lit(" "), t_hour,
        ),
    ).otherwise(daily)
    state = F.upper(F.regexp_extract(F.col("url"), COIDS_RE_STATE, 1))
    annual_state = F.when(
        state != "", F.concat(state, F.lit("/"), annual)
    ).otherwise(annual)
    label = F.trim(F.col("last_modified_label"))
    parsed = F.coalesce(
        F.try_to_timestamp(label, F.lit("yyyy-MM-dd HH:mm")),
        F.try_to_timestamp(label, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(label, F.lit("dd/MM/yyyy HH:mm:ss")),
        F.try_to_timestamp(label, F.lit("dd/MM/yyyy HH:mm")),
    )
    modified = F.when(
        parsed.isNotNull(), F.date_format(parsed, "yyyy-MM-dd HH:mm:ss")
    ).otherwise(stem)
    return r.select(
        "doc_id",
        "filename",
        annual.alias("period_annual"),
        monthly.alias("period_monthly"),
        daily.alias("period_daily"),
        ten_min.alias("period_ten_min"),
        annual_state.alias("period_annual_state"),
        modified.alias("period_modified"),
    ).orderBy("doc_id")


# ── INPE Boletins-Integrados PDF listing parser ─────────────────────────────

BOLETINS_HOST = "https://dataserver-coids.example"
BOLETINS_BASE_URL = (
    "https://dataserver-coids.example/queimadas/queimadas/Boletins-Integrados/"
)
# Reference: datasets/inpe/bdqueimadas_boletins_integrados.py:18
# RE_BOLETIM_PDF — month-FIRST 'MM_YYYY.pdf' grammar (the painel
# sibling anchors on the 'Painel_Qmd_' prefix instead), re.search so a
# prefixed filename still matches, IGNORECASE.
RE_BOLETIM_PDF = r"(?i)(0[1-9]|1[0-2])_((?:19|20)\d{2})\.pdf$"

_BOLETIM_HREF_KINDS = 9


def wrap_documents_as_boletins_index(documents: DataFrame) -> DataFrame:
    """Render documents as (href, base) anchor rows of the
    Boletins-Integrados listing. The reference walks the root page's
    year directories (RE_YEAR_DIR) and parses each year page's
    anchors; flattened here to one anchor per document with the year
    page as its base (kind = doc_id % 9 cycles every parser branch:
    relative, root-page year-dir-relative, root-relative uppercase
    ext, absolute mirror, invalid month 13, percent-encoded '_'
    (the reference's unquote step), non-PDF, query-string download,
    and a prefixed filename that re.search still matches)."""
    mm = F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0")
    yyyy = (F.col("doc_id") % 6 + 2019).cast("string")
    pdf = F.concat(mm, F.lit("_"), yyyy, F.lit(".pdf"))
    year_base = F.concat(F.lit(BOLETINS_BASE_URL), yyyy, F.lit("/"))
    kinds = F.array(
        pdf,
        F.concat(yyyy, F.lit("/"), pdf),
        F.concat(
            F.lit("/queimadas/queimadas/Boletins-Integrados/"),
            yyyy, F.lit("/"), mm, F.lit("_"), yyyy, F.lit(".PDF"),
        ),
        F.concat(F.lit("https://mirror.example/Boletins-Integrados/"), yyyy, F.lit("/"), pdf),
        F.concat(F.lit("13_"), yyyy, F.lit(".pdf")),
        F.concat(mm, F.lit("%5F"), yyyy, F.lit(".pdf")),
        F.lit("not-a-boletim.txt"),
        F.concat(pdf, F.lit("?download=1")),
        F.concat(F.lit("boletim_"), pdf),
    )
    kind = (F.col("doc_id") % _BOLETIM_HREF_KINDS + 1).cast("int")
    # kind 2 is the root-page anchor (year-dir-relative); all others
    # sit on the year page
    base = F.when(kind == 2, F.lit(BOLETINS_BASE_URL)).otherwise(year_base)
    return documents.select(
        "doc_id",
        F.element_at(kinds, kind).alias("href"),
        base.alias("base"),
    )


def parse_boletins_integrados(anchors: DataFrame) -> DataFrame:
    """(period, year, month, filename, url) per Boletim-Integrado PDF
    anchor — the month-first sibling of ``parse_painel_pdf_links``.

    Reference: datasets/inpe/bdqueimadas_boletins_integrados.py
    ``parse_boletim_pdf_link`` (:55-69, urljoin + filename from the
    unquoted URL path + RE_BOLETIM_PDF.search) and
    ``extract_pdf_urls`` (:96-107, year-dir walk, URL-keyed dedupe,
    period-DESC sort; reference test
    tests/test_inpe_boletins_integrados.py pins the walk order and the
    relative-href resolution). urljoin is specialized to the listing's
    href shapes (absolute / root-relative / relative against the
    year-page base). The reference's ``unquote`` percent-decode is
    mirrored for the encoding the listing actually emits (%5F — the
    underscore inside the filename grammar); a full url_decode twin is
    out of the RE2-safe oracle's reach and Apache autoindex hrefs are
    otherwise plain. Sort is (period DESC, url ASC) — the reference's
    period-DESC sort stabilized with the url tiebreak.

    Scale: pure Catalyst regexps off the scan; the only shuffle is the
    URL dedupe + presentation sort.
    """
    href = F.col("href")
    url = (
        F.when(href.rlike(r"^[a-z][a-z0-9+.-]*://"), href)
        .when(href.startswith("/"), F.concat(F.lit(BOLETINS_HOST), href))
        .otherwise(F.concat(F.col("base"), href))
    )
    path = F.regexp_replace(url, r"[?#].*$", "")
    filename = F.replace(
        F.regexp_extract(path, r"([^/]+)$", 1), F.lit("%5F"), F.lit("_")
    )
    month = F.regexp_extract(filename, RE_BOLETIM_PDF, 1)
    year = F.regexp_extract(filename, RE_BOLETIM_PDF, 2)
    return (
        anchors.select(
            F.concat(year, F.lit("-"), month).alias("period"),
            year.alias("year"),
            month.alias("month"),
            filename.alias("filename"),
            url.alias("url"),
        )
        .where(F.col("month") != "")
        .distinct()
        .orderBy(F.desc("period"), "url")
    )


def boletins_integrados_links(documents: DataFrame) -> DataFrame:
    """Catalog query: wrap documents as Boletins-Integrados anchors,
    parse + dedupe + period-DESC sort."""
    return parse_boletins_integrados(wrap_documents_as_boletins_index(documents))


# ── CVM fi_doc_extrato yearly CSV selection ─────────────────────────────────

# Reference: datasets/cvm/fi_doc_extrato.py:16 RE_YEAR_CSV — the
# ANNUAL sibling of fi_inf_diario's monthly RE_ZIP grammar.
RE_CVM_YEAR_CSV = r"(?i)extrato_fi_(\d{4})\.csv$"
CVM_LATEST_YEARS = 5

_CVM_YEARLY_KINDS = 8


def wrap_documents_as_cvm_yearly_urls(documents: DataFrame) -> DataFrame:
    """Render documents as fi_doc_extrato resource URLs cycled by
    doc_id: a yearly csv, the year-less current csv, the meta txt, a
    query-string yearly csv (MATCHES here — this dataset strips the
    query before parsing, unlike fi_inf_diario), an uppercase yearly
    csv, a zip (no match), an unrelated csv, and a second meta variant
    (the keep-LAST-in-sorted-order pick)."""
    yyyy = (F.col("doc_id") % 6 + 2019).cast("string")
    base = "https://dados.cvm.example/dados/FI/DOC/EXTRATO/DADOS/"
    kinds = F.array(
        F.concat(F.lit(base), F.lit("extrato_fi_"), yyyy, F.lit(".csv")),
        F.lit(f"{base}extrato_fi.csv"),
        F.lit(f"{base}meta_extrato_fi.txt"),
        F.concat(F.lit(base), F.lit("extrato_fi_"), yyyy, F.lit(".csv?download=1")),
        F.concat(F.lit(base), F.lit("EXTRATO_FI_"), yyyy, F.lit(".CSV")),
        F.concat(F.lit(base), F.lit("extrato_fi_"), yyyy, F.lit(".zip")),
        F.lit(f"{base}outros_dados.csv"),
        F.lit(f"{base}meta_extrato_fi_v2.txt"),
    )
    return documents.select(
        F.element_at(kinds, (F.col("doc_id") % _CVM_YEARLY_KINDS + 1).cast("int")).alias(
            "url"
        )
    )


def cvm_latest_yearly_csvs(
    documents: DataFrame,
    latest_years: int = CVM_LATEST_YEARS,
    include_current: bool = True,
) -> DataFrame:
    """Latest-N yearly extrato CSVs + the 'Atual' current file + the
    meta file from a CKAN resource list — the ANNUAL sibling of
    ``cvm_latest_zips``.

    Reference: datasets/cvm/fi_doc_extrato.py:80-113 (``pick_urls``):
    the filename is the last path segment with the QUERY STRIPPED
    (``split('?')[0]`` — fi_inf_diario keeps queries and so rejects
    ``?download`` links; this dataset accepts them, pinned by a
    query-string variant), meta = last '.txt' containing
    'meta_extrato_fi' in sorted-url order, current = the exact
    'extrato_fi.csv' name, yearly = RE_YEAR_CSV matches sorted
    (year DESC, url ASC — Python's stable sort over the url-sorted
    input) and cut to ``max(1, latest_years)``; items are 'Atual'
    first (when ``include_current`` and present), then the yearly cut.

    Output: 'data' rows (item_rank, period, filename, url) in item
    order plus one 'meta' row (NULL rank/period).

    Contract note: with ``include_current=True`` the yearly ranks
    start at 2 on the assumption the current file exists (it always
    does on this dataset — and in the synthetic wrapper); a feed that
    drops ``extrato_fi.csv`` would leave rank 1 vacant rather than
    renumber, keeping ranks stable across snapshots.

    Scale: url classification is a projection; ranks run over the
    tiny distinct-url set.
    """
    urls = wrap_documents_as_cvm_yearly_urls(documents).distinct()
    name = F.element_at(
        F.split(F.element_at(F.split(F.col("url"), "/"), -1), r"\?"), 1
    )
    year = F.regexp_extract(name, RE_CVM_YEAR_CSV, 1)
    low = F.lower(name)
    classified = urls.select(
        "url",
        name.alias("filename"),
        (low.endswith(".txt") & low.contains("meta_extrato_fi")).alias("is_meta"),
        (low == "extrato_fi.csv").alias("is_current"),
        F.when(year != "", year).alias("year"),
    )
    yearly_w = Window.orderBy(F.desc("year"), "url")
    yearly = (
        classified.where(F.col("year").isNotNull())
        .withColumn("rn", F.row_number().over(yearly_w))
        .where(F.col("rn") <= F.greatest(F.lit(1), F.lit(latest_years)))
        .select(
            (F.col("rn") + F.lit(1 if include_current else 0)).alias("item_rank"),
            F.col("year").alias("period"),
            "filename",
            "url",
        )
    )
    current = (
        classified.where(F.col("is_current"))
        .withColumn("rn", F.row_number().over(Window.orderBy(F.desc("url"))))
        .where(F.col("rn") == 1)
        .select(
            F.lit(1).alias("item_rank"),
            F.lit("Atual").alias("period"),
            "filename",
            "url",
        )
    )
    data = yearly if not include_current else current.unionByName(yearly)
    data = data.select(F.lit("data").alias("kind"), "item_rank", "period", "filename", "url")
    meta = (
        classified.where(F.col("is_meta"))
        .withColumn("rn", F.row_number().over(Window.orderBy(F.desc("url"))))
        .where(F.col("rn") == 1)
        .select(
            F.lit("meta").alias("kind"),
            F.lit(None).cast("int").alias("item_rank"),
            F.lit(None).cast("string").alias("period"),
            "filename",
            "url",
        )
    )
    return data.unionByName(meta).orderBy("kind", "item_rank")


# ── INMET dados históricos yearly-zip indexing ──────────────────────────────

INMET_SOURCE_URL = "https://portal.inmet.example/dadoshistoricos"
INMET_BASE_DIR = "https://portal.inmet.example/"
_INMET_HREF_KINDS = 8


def wrap_documents_as_inmet_hrefs(documents: DataFrame) -> DataFrame:
    """Render documents as INMET listing hrefs cycled by doc_id: a
    relative yearly zip, an absolute yearly zip, an UPPERCASE
    extension (matches — re.IGNORECASE), a year-less zip (no match),
    a yearly csv (no match), a nested relative path, a query-suffixed
    zip (NO match — the reference does not strip queries, the ``$``
    anchor rejects it), and a prefixed filename (matches — the
    reference uses ``search``, not ``fullmatch``)."""
    yyyy = (F.col("doc_id") % 6 + 2015).cast("string")
    kinds = F.array(
        F.concat(yyyy, F.lit(".zip")),
        F.concat(F.lit("https://files.inmet.example/uploads/"), yyyy, F.lit(".zip")),
        F.concat(yyyy, F.lit(".ZIP")),
        F.lit("dados.zip"),
        F.concat(yyyy, F.lit(".csv")),
        F.concat(F.lit("uploads/normais/"), yyyy, F.lit(".zip")),
        F.concat(yyyy, F.lit(".zip?x=1")),
        F.concat(F.lit("INMET_"), yyyy, F.lit(".zip")),
    )
    return documents.select(
        F.element_at(
            kinds, (F.col("doc_id") % _INMET_HREF_KINDS + 1).cast("int")
        ).alias("href")
    )


def inmet_yearly_zips(documents: DataFrame) -> DataFrame:
    """INMET dados-históricos yearly zip indexing — the reference's
    listing walk minus the network.

    Reference: datasets/inmet/dados_historicos.py:17 (``RE_ZIP_YEAR =
    (\\d{4})\\.zip$`` with ``re.IGNORECASE``, applied with ``search``
    to the LAST path segment of each href — queries are NOT stripped,
    so ``2016.zip?x=1`` is rejected by the ``$`` anchor) and :82-83
    (items sorted newest-first by the extracted year). Absolute hrefs
    pass through; relative hrefs join onto the site root the way
    ``urljoin(source_url, href)`` resolves them against the
    single-segment ``/dadoshistoricos`` listing page.

    Output: ``item_rank, period, filename, url`` — year DESC with the
    url ASC tie-break (the deterministic stand-in for the reference's
    stable sort over listing encounter order, the
    ``cvm_latest_yearly_csvs`` convention).

    Scale: pure projection over the distinct href set; the rank
    window runs over the tiny matched subset.
    """
    hrefs = wrap_documents_as_inmet_hrefs(documents).distinct()
    filename = F.element_at(F.split(F.col("href"), "/"), -1)
    classified = hrefs.select(
        "href",
        filename.alias("filename"),
        F.regexp_extract(F.lower(filename), r"(\d{4})\.zip$", 1).alias("year"),
    )
    url = F.when(F.col("href").startswith("http"), F.col("href")).otherwise(
        F.concat(F.lit(INMET_BASE_DIR), F.col("href"))
    )
    return (
        classified.where(F.col("year") != "")
        .select(
            F.col("year").alias("period"),
            "filename",
            url.alias("url"),
        )
        .withColumn(
            "item_rank",
            F.row_number().over(Window.orderBy(F.desc("period"), "url")).cast("int"),
        )
        .select("item_rank", "period", "filename", "url")
        .orderBy("item_rank")
    )


# ── EIA listing selection (petroleum_monthly + heating_oil_propane) ─────────

EIA_BASE_URL = "https://www.eia.example/petroleum/supply/monthly/"

_EIA_PAGE_KINDS = 6


def wrap_documents_as_eia_subpages(documents: DataFrame) -> DataFrame:
    """Render documents as EIA sub-page anchor sets (one page per doc,
    one row per anchor): kinds cycle the reference's pick branches — a
    'crumb' anchor with the 'Download Series History' text, a crumb
    anchor matched by '.xls' in its href, a fallback-only page (no
    crumb, plain .XLS anchor — the (?i)\\.xls$ regex), a page with NO
    xls at all (dropped, drives the partial flag), an absolute-href
    crumb, and a page where a non-matching crumb LOSES to the
    fallback anchor."""
    d = F.col("doc_id").cast("string")
    kind = (F.col("doc_id") % _EIA_PAGE_KINDS).cast("int")
    title = F.concat(F.lit("Series "), d)
    page = F.concat(F.lit(EIA_BASE_URL), F.lit("dnav/pet/page_"), d, F.lit(".htm"))
    crumb_text = F.when(kind == 0, F.lit("Download Series History")).when(
        kind.isin(1, 4), F.lit("History")
    ).when(kind == 5, F.lit("Other crumb"))
    crumb_href = (
        F.when(kind == 0, F.concat(F.lit("data/file_"), d, F.lit(".xls")))
        .when(kind == 1, F.concat(F.lit("hist/file_"), d, F.lit(".xls")))
        .when(kind == 4, F.concat(F.lit("https://cdn.example/eia/file_"), d, F.lit(".xls")))
        .when(kind == 5, F.lit("about.htm"))
    )
    fallback_href = F.when(kind.isin(2, 5), F.concat(F.lit("hist/FILE_"), d, F.lit(".XLS")))
    anchors = F.array_compact(
        F.array(
            F.when(
                crumb_text.isNotNull(),
                F.struct(
                    F.lit(0).alias("pos"),
                    F.lit("crumb").alias("cls"),
                    crumb_text.alias("text"),
                    crumb_href.alias("href"),
                ),
            ),
            F.when(
                fallback_href.isNotNull(),
                F.struct(
                    F.lit(1).alias("pos"),
                    F.lit("").alias("cls"),
                    F.lit("download").alias("text"),
                    fallback_href.alias("href"),
                ),
            ),
            F.struct(
                F.lit(2).alias("pos"),
                F.lit("").alias("cls"),
                F.lit("definitions").alias("text"),
                F.lit("TblDefs/pet_defs.htm").alias("href"),
            ),
        )
    )
    return documents.select(
        "doc_id", title.alias("title"), page.alias("page_url"), anchors.alias("anchors")
    )


def eia_xls_picks(documents: DataFrame) -> DataFrame:
    """Per EIA sub-page, the direct-XLS pick with the reference's
    priority rule — one 'data' row per page that yields a link plus a
    one-row summary carrying the partial flag.

    Reference: datasets/eia/petroleum_monthly.py:70-90
    (``extract_xls_link``): priority 1 is the first anchor with class
    'crumb' whose text contains 'Download Series History' OR whose
    href contains '.xls'; priority 2 is the first anchor whose href
    matches (?i)\\.xls$; pages yielding neither are skipped and the
    manifest downgrades to success_partial_fallback when any page
    dropped (sync :137-141). urljoin against the sub-page; filename =
    last URL segment; period is the literal 'current'.

    Scale: explode → one map-side-combinable min(struct) per page —
    no window over the whole anchor set; the summary row is a global
    two-count aggregate.
    """
    pages = wrap_documents_as_eia_subpages(documents)
    a = pages.select(
        "doc_id", "title", "page_url", F.explode("anchors").alias("a")
    )
    is_crumb_pick = (F.col("a.cls") == "crumb") & (
        F.col("a.text").contains("Download Series History")
        | F.col("a.href").contains(".xls")
    )
    is_fallback = F.col("a.href").rlike(r"(?i)\.xls$")
    priority = (
        F.when(is_crumb_pick, 1).when(is_fallback, 2).otherwise(F.lit(None))
    )
    picked = (
        a.where(priority.isNotNull())
        .groupBy("doc_id", "title", "page_url")
        .agg(
            F.min(
                F.struct(
                    priority.alias("p"),
                    F.col("a.pos").alias("pos"),
                    F.col("a.href").alias("href"),
                )
            ).alias("pick")
        )
    )
    href = F.col("pick.href")
    url = F.when(href.rlike(r"^[a-z][a-z0-9+.-]*://"), href).otherwise(
        F.concat(F.col("page_url").substr(F.lit(1), F.length("page_url") - F.length(F.element_at(F.split("page_url", "/"), -1))), href)
    )
    data = picked.select(
        F.lit("data").alias("kind"),
        "doc_id",
        "title",
        F.lit("current").alias("period"),
        F.element_at(F.split(url, "/"), -1).alias("filename"),
        url.alias("direct_url"),
        F.when(F.col("pick.p") == 1, F.lit("crumb")).otherwise(F.lit("fallback")).alias("via"),
    )
    # picked has exactly one row per page that yielded a link, so
    # n_items = count(picked) directly — the former
    # pages ⋉ picked → count re-scanned the pages projection twice
    # (round-8 scan audit); only the n_links total still reads pages.
    summary = (
        picked.agg(F.count(F.lit(1)).alias("n_items"))
        .join(pages.agg(F.count(F.lit(1)).alias("n_links")))
        .select(
            F.lit("summary").alias("kind"),
            F.lit(None).cast("long").alias("doc_id"),
            F.lit(None).cast("string").alias("title"),
            F.lit(None).cast("string").alias("period"),
            F.lit(None).cast("string").alias("filename"),
            F.lit(None).cast("string").alias("direct_url"),
            F.when(
                F.col("n_items") != F.col("n_links"),
                F.lit("success_partial_fallback"),
            )
            .otherwise(F.lit("success"))
            .alias("via"),
        )
    )
    return data.unionByName(summary).orderBy("kind", "doc_id")


_EIA_SERIES_KINDS = 5


def wrap_documents_as_eia_options(documents: DataFrame) -> DataFrame:
    """Render documents as Drop1 <option> rows: series display names
    cycling slugify branches (spaces, punctuation runs, parenthetical,
    leading/trailing symbols, digits) over weekly/monthly base hrefs."""
    d = F.col("doc_id").cast("string")
    kind = (F.col("doc_id") % _EIA_SERIES_KINDS).cast("int")
    name = (
        F.when(kind == 0, F.concat(F.lit("Residential Heating Oil "), d))
        .when(kind == 1, F.concat(F.lit("U.S. Propane (Wholesale) "), d))
        .when(kind == 2, F.concat(F.lit("  #2 Diesel -- Retail "), d))
        .when(kind == 3, F.concat(F.lit("Kerosene/Jet A "), d))
        .otherwise(F.concat(F.lit("No. 6 Residual Fuel "), d))
    )
    value = F.concat(
        F.lit("pet_pri_wfr_a_EP"),
        d,
        F.lit("_PRS_dpgal_"),
        F.when(kind.isin(0, 2, 4), F.lit("w")).otherwise(F.lit("m")),
        F.lit(".htm"),
    )
    update_text = F.concat(
        F.lit("Release Date: "),
        (F.col("doc_id") % 12 + 1).cast("string"),
        F.lit("/"),
        (F.col("doc_id") % 27 + 1).cast("string"),
        F.lit("/2025"),
    )
    return documents.select(
        "doc_id", name.alias("series_name"), value.alias("value"),
        update_text.alias("update_text"),
    )


def eia_series_combinations(documents: DataFrame) -> DataFrame:
    """The weekly+monthly series-combination fan-out of the EIA
    heating-oil/propane selector, plus the release-date parse.

    Reference: datasets/eia/heating_oil_propane.py:53-85
    (``get_combinations``): per Drop1 option, slugify the display name
    ('[^a-z0-9]+' → '_' on the lowercase, strip '_'), then for BOTH
    frequency suffixes rewrite the option value's trailing
    '_[wm].htm' ((?i)) and emit filename '{slug}_{freq}.xls', the
    joined URL and 'Name (Freq)' display; :25-31 ``parse_iso_date``
    converts the page's 'Release Date: M/D/YYYY' to ISO (unparseable
    input passes through verbatim).

    Scale: a 2-element explode off a pure projection — no shuffle but
    the presentation sort.
    """
    slug = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("series_name")), "[^a-z0-9]+", "_"),
        "^_+|_+$",
        "",
    )
    date_raw = F.regexp_extract(
        F.col("update_text"), r"(\d{1,2}/\d{1,2}/\d{4})", 1
    )
    parts = F.split(date_raw, "/")
    release_iso = F.when(
        date_raw != "",
        F.concat(
            F.element_at(parts, 3),
            F.lit("-"),
            F.lpad(F.element_at(parts, 1), 2, "0"),
            F.lit("-"),
            F.lpad(F.element_at(parts, 2), 2, "0"),
        ),
    ).otherwise(F.col("update_text"))
    opts = wrap_documents_as_eia_options(documents).select(
        "doc_id",
        "series_name",
        "value",
        slug.alias("slug"),
        release_iso.alias("release_date"),
        F.explode(
            F.array(
                F.struct(F.lit("w").alias("sfx"), F.lit("weekly").alias("freq"), F.lit("Weekly").alias("cap")),
                F.struct(F.lit("m").alias("sfx"), F.lit("monthly").alias("freq"), F.lit("Monthly").alias("cap")),
            )
        ).alias("f"),
    )
    url_part = F.regexp_replace(
        F.col("value"), r"(?i)_[wm]\.htm$", F.concat(F.lit("_"), F.col("f.sfx"), F.lit(".htm"))
    )
    return opts.select(
        "doc_id",
        F.concat(F.col("slug"), F.lit("_"), F.col("f.freq"), F.lit(".xls")).alias(
            "filename"
        ),
        F.concat(F.lit(EIA_BASE_URL), url_part).alias("url"),
        F.concat(
            F.col("series_name"), F.lit(" ("), F.col("f.cap"), F.lit(")")
        ).alias("display_name"),
        "release_date",
    ).orderBy("doc_id", "filename")


# ── CVM fund-document family selection (the four remaining grammars) ─────────

# Reference grammars + cut rules (datasets/cvm/*.py, each module's
# RE_ZIP / pick_latest_zip_urls + its load_dataset_cfg default):
#   fi_doc_entrega.py:18,81-105   fi_entrega_documento_(\d{6})\.zip$
#       name keeps the QUERY (split('/')[-1]) → ?download rejected;
#       meta = .txt containing meta_fi_entrega_documento; period
#       YYYY-MM; cut latest_months (cfg default 12)
#   fii_doc_inf_anual.py:18,76-100   inf_anual_fii_(\d{4})\.zip$
#       meta = name contains meta_inf_anual_fii (a .zip — checked
#       BEFORE the data regex, no suffix requirement); cut 10
#   fii_doc_inf_mensal.py:18,76-100  inf_mensal_fii_(\d{4})\.zip$
#       (a YEARLY grammar despite the module name); meta contains
#       meta_inf_mensal_fii; cut 5
#   fii_doc_inf_trimestral.py:14,77-96  inf_trimestral_fii_(\d{4})\.zip$
#       name STRIPS the query (split('?')[0]) → ?download ACCEPTED —
#       the one family member that diverges; meta = .zip containing
#       meta_inf_trimestral_fii; cut max(1, latest_years) (cfg 5)
RE_CVM_ENTREGA = r"(?i)fi_entrega_documento_(\d{6})\.zip$"
RE_CVM_FII_ANUAL = r"(?i)inf_anual_fii_(\d{4})\.zip$"
RE_CVM_FII_MENSAL = r"(?i)inf_mensal_fii_(\d{4})\.zip$"
RE_CVM_FII_TRIMESTRAL = r"(?i)inf_trimestral_fii_(\d{4})\.zip$"
CVM_FUND_CUTS = {"entrega": 12, "anual": 10, "mensal": 5, "trimestral": 5}

_CVM_FUND_KINDS = 12
_CVM_FUND_BASE = "https://dados.cvm.example/dados/"


def wrap_documents_as_cvm_fund_urls(documents: DataFrame) -> DataFrame:
    """Render documents as resource URLs across the four fund-document
    datasets, cycled by doc_id: data/meta/query variants pinning each
    module's divergence — entrega REJECTS a query-string zip while
    trimestral ACCEPTS one, uppercase names hit the (?i) grammars, and
    a pdf matches nothing."""
    # moduli COPRIME to the 12-way kind cycle (5, 11, 7) — sharing a
    # factor with 12 would alias each kind to a tiny period subset
    # (e.g. %6 years on kind 0 = always 2019) and the cuts never bind
    yyyymm = F.concat(
        (F.col("doc_id") % 5 + 2019).cast("string"),
        F.lpad((F.col("doc_id") % 11 + 1).cast("string"), 2, "0"),
    )
    yyyy = (F.col("doc_id") % 7 + 2017).cast("string")
    b = _CVM_FUND_BASE
    kinds = F.array(
        F.concat(F.lit(f"{b}FI/DOC/ENTREGA/DADOS/fi_entrega_documento_"), yyyymm, F.lit(".zip")),
        F.lit(f"{b}FI/DOC/ENTREGA/DADOS/meta_fi_entrega_documento.txt"),
        F.concat(F.lit(f"{b}FI/DOC/ENTREGA/DADOS/fi_entrega_documento_"), yyyymm, F.lit(".zip?download=1")),
        F.concat(F.lit(f"{b}FII/DOC/INF_ANUAL/DADOS/inf_anual_fii_"), yyyy, F.lit(".zip")),
        F.lit(f"{b}FII/DOC/INF_ANUAL/DADOS/meta_inf_anual_fii.zip"),
        F.concat(F.lit(f"{b}FII/DOC/INF_MENSAL/DADOS/inf_mensal_fii_"), yyyy, F.lit(".zip")),
        F.lit(f"{b}FII/DOC/INF_MENSAL/DADOS/meta_inf_mensal_fii.zip"),
        F.concat(F.lit(f"{b}FII/DOC/INF_TRIMESTRAL/DADOS/inf_trimestral_fii_"), yyyy, F.lit(".zip?download=1")),
        F.lit(f"{b}FII/DOC/INF_TRIMESTRAL/DADOS/meta_inf_trimestral_fii.zip"),
        F.concat(F.lit(f"{b}FII/DOC/INF_TRIMESTRAL/DADOS/INF_TRIMESTRAL_FII_"), yyyy, F.lit(".ZIP")),
        F.concat(F.lit(f"{b}FI/DOC/ENTREGA/DADOS/FI_ENTREGA_DOCUMENTO_"), yyyymm, F.lit(".ZIP")),
        F.concat(F.lit(f"{b}FI/DOC/ENTREGA/DADOS/relatorio_"), yyyy, F.lit(".pdf")),
    )
    return documents.select(
        F.element_at(
            kinds, (F.col("doc_id") % _CVM_FUND_KINDS + 1).cast("int")
        ).alias("url")
    )


def cvm_fund_picks(documents: DataFrame) -> DataFrame:
    """Latest-N picks + the meta file for all four fund-document
    datasets in ONE pass — each dataset classified by ITS OWN module's
    rules (grammar, query handling, meta hint, cut size; reference
    lines in the constants block above). Meta = the LAST matching url
    in sorted order (the reference reassigns in a sorted loop); data
    cut = (period DESC, url ASC) rank, the stable-sort equivalent.

    Scale: classification is a projection off the scan; ranks run
    per-dataset over the ≤ |distinct periods|·variants survivors.
    """
    urls = wrap_documents_as_cvm_fund_urls(documents).distinct()
    dataset = (
        F.when(F.col("url").contains("/FI/DOC/ENTREGA/"), "entrega")
        .when(F.col("url").contains("/FII/DOC/INF_ANUAL/"), "anual")
        .when(F.col("url").contains("/FII/DOC/INF_MENSAL/"), "mensal")
        .when(F.col("url").contains("/FII/DOC/INF_TRIMESTRAL/"), "trimestral")
    )
    raw_name = F.element_at(F.split(F.col("url"), "/"), -1)
    # trimestral strips the query before matching; everyone else keeps it
    name = F.when(
        F.col("dataset") == "trimestral",
        F.element_at(F.split(raw_name, r"\?"), 1),
    ).otherwise(raw_name)
    rows = urls.select("url", dataset.alias("dataset")).where(
        F.col("dataset").isNotNull()
    ).select("url", "dataset", name.alias("name"))
    low = F.lower(F.col("name"))
    is_meta = (
        F.when(
            F.col("dataset") == "entrega",
            low.endswith(".txt") & low.contains("meta_fi_entrega_documento"),
        )
        .when(F.col("dataset") == "anual", low.contains("meta_inf_anual_fii"))
        .when(F.col("dataset") == "mensal", low.contains("meta_inf_mensal_fii"))
        .otherwise(
            low.endswith(".zip") & low.contains("meta_inf_trimestral_fii")
        )
    )
    yyyymm = F.regexp_extract(F.col("name"), RE_CVM_ENTREGA, 1)
    period = (
        F.when(
            F.col("dataset") == "entrega",
            F.when(
                yyyymm != "",
                F.concat(
                    F.substring(yyyymm, 1, 4), F.lit("-"), F.substring(yyyymm, 5, 2)
                ),
            ),
        )
        .when(
            F.col("dataset") == "anual",
            F.nullif(F.regexp_extract(F.col("name"), RE_CVM_FII_ANUAL, 1), F.lit("")),
        )
        .when(
            F.col("dataset") == "mensal",
            F.nullif(F.regexp_extract(F.col("name"), RE_CVM_FII_MENSAL, 1), F.lit("")),
        )
        .otherwise(
            F.nullif(
                F.regexp_extract(F.col("name"), RE_CVM_FII_TRIMESTRAL, 1), F.lit("")
            )
        )
    )

    # persist: the data-cut and meta branches both read this frame —
    # without the barrier the union recomputes the distinct + the
    # 12-branch classification per branch (measured 2.2 → 1.3 s at
    # sf0.1); the table is bounded by |distinct urls|
    classified = persist(
        rows.select(
            "dataset", "url", is_meta.alias("is_meta"), period.alias("period")
        )
    )
    cut = F.create_map(
        *[F.lit(x) for kv in CVM_FUND_CUTS.items() for x in kv]
    )
    w = Window.partitionBy("dataset").orderBy(F.desc("period"), "url")
    kept = (
        classified.where(~F.col("is_meta") & F.col("period").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= cut[F.col("dataset")])
        .select("dataset", F.lit("data").alias("kind"), "period", "url")
    )
    meta_w = Window.partitionBy("dataset").orderBy(F.desc("url"))
    meta = (
        classified.where(F.col("is_meta"))
        .withColumn("rn", F.row_number().over(meta_w))
        .where(F.col("rn") == 1)
        .select(
            "dataset",
            F.lit("meta").alias("kind"),
            F.lit(None).cast("string").alias("period"),
            "url",
        )
    )
    return kept.unionByName(meta).orderBy(
        "dataset", "kind", F.desc_nulls_last("period"), "url"
    )


# ── INPE area_queimada focos1km TIF index ────────────────────────────────────

# Reference: datasets/inpe/area_queimada_focos1km.py:18 RE_TIF_PERIOD —
# focos1km_YYYYMM.tif anchors on the COIDS dataserver listing, period
# "YYYY-MM", every match indexed (no cut), sorted period DESC.
RE_FOCOS1KM_TIF = r"(?i)focos1km_(\d{4})(\d{2})\.tif$"
FOCOS1KM_BASE_URL = "https://dataserver.example/queimadas/focos1km/"

_FOCOS1KM_KINDS = 6


def wrap_documents_as_focos1km_anchors(documents: DataFrame) -> DataFrame:
    """Render documents as dataserver anchors cycled by doc_id: a
    relative tif, an absolute tif, an UPPERCASE tif, a 13th-month tif
    (regex matches — the reference applies no calendar validation), a
    .tif.aux sidecar (rejected by the $ anchor), and an unrelated
    html link."""
    ym = F.concat(
        (F.col("doc_id") % 5 + 2020).cast("string"),
        F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
    )
    y13 = F.concat((F.col("doc_id") % 5 + 2020).cast("string"), F.lit("13"))
    kinds = F.array(
        F.concat(F.lit("focos1km_"), ym, F.lit(".tif")),
        F.concat(F.lit(FOCOS1KM_BASE_URL), F.lit("focos1km_"), ym, F.lit(".tif")),
        F.concat(F.lit("FOCOS1KM_"), ym, F.lit(".TIF")),
        F.concat(F.lit("focos1km_"), y13, F.lit(".tif")),
        F.concat(F.lit("focos1km_"), ym, F.lit(".tif.aux")),
        F.lit("index.html"),
    )
    return documents.select(
        F.element_at(
            kinds, (F.col("doc_id") % _FOCOS1KM_KINDS + 1).cast("int")
        ).alias("href")
    )


def focos1km_tifs(documents: DataFrame) -> DataFrame:
    """Index every focos1km monthly TIF from the dataserver listing:
    RE_TIF_PERIOD on the href's last segment, period "YYYY-MM",
    urljoin against the listing base, dedupe by period keeping the
    first full url in sorted order (the reference's per-period
    manifest item), sorted period DESC.

    Scale: projection + one ≤|periods| aggregate; no fan-out.
    """
    anchors = wrap_documents_as_focos1km_anchors(documents).distinct()
    fname = F.element_at(F.split(F.col("href"), "/"), -1)
    yyyy = F.regexp_extract(fname, RE_FOCOS1KM_TIF, 1)
    mm = F.regexp_extract(fname, RE_FOCOS1KM_TIF, 2)
    full_url = F.when(
        F.col("href").startswith("http"), F.col("href")
    ).otherwise(F.concat(F.lit(FOCOS1KM_BASE_URL), F.col("href")))
    parsed = anchors.select(
        F.when(yyyy != "", F.concat(yyyy, F.lit("-"), mm)).alias("period"),
        full_url.alias("url"),
        fname.alias("filename"),
    ).where(F.col("period").isNotNull())
    # One ANCHOR per period, not independent column minima: min over
    # the (url, filename) struct keeps the emitted filename the one
    # that actually belongs to the emitted url (independent min(url)/
    # min(filename) could chimera two different anchors when a period
    # lists several files).
    best = F.min(F.struct("url", "filename")).alias("best")
    return (
        parsed.groupBy("period")
        .agg(best)
        .select(
            "period",
            F.col("best.url").alias("url"),
            F.col("best.filename").alias("filename"),
        )
        .orderBy(F.desc("period"))
    )


# ── EIA Weekly Petroleum Status Report selection grammar ────────────────────

EIA_WEEKLY_SOURCE_URL = "https://www.eia.example/petroleum/supply/weekly/"
EIA_WEEKLY_HOST = "https://www.eia.example"
_EIA_WEEKLY_ROW_KINDS = 6
_EIA_MONTH_ABBRS = (
    "Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
)


def eia_slugify(col: Column) -> Column:
    """Spark twin of the reference's ``slugify`` (datasets/eia/
    petroleum_weekly.py:26-30): NFKD → ascii-ignore (here: translate
    the synthesized accent set to its base letters, then drop any
    remaining non-ASCII — em-dashes etc., exactly what encode-ignore
    does), strip ``[^\\w\\s-]``, trim + lower, collapse ``[-\\s]+``
    to '_'. 'U.S. Petroleum Balance Sheet' → 'us_petroleum_balance_sheet'.
    """
    ascii_ish = F.regexp_replace(
        F.translate(col, "çãõáéíóúâêà", "caoaeiouaea"), r"[^\x00-\x7F]", ""
    )
    cleaned = F.lower(F.trim(F.regexp_replace(ascii_ish, r"[^\w\s-]", "")))
    return F.regexp_replace(cleaned, r"[-\s]+", "_")


def parse_eia_date(col: Column) -> Column:
    """Spark twin of ``parse_eia_date`` (petroleum_weekly.py:32-39):
    strip ALL dots, trim, try '%b %d, %Y' ("Dec 31, 2025" →
    '2025-12-31'); on parse failure (wrong shape OR an invalid
    calendar day — strptime raises on 'Feb 30') return the ORIGINAL
    string verbatim, dots and all. try_to_date gives the same
    day-validity semantics JVM-side."""
    clean = F.trim(F.regexp_replace(col, r"\.", ""))
    iso = F.try_to_date(clean, "MMM d, yyyy")
    return F.when(iso.isNotNull(), F.date_format(iso, "yyyy-MM-dd")).otherwise(
        col
    )


def wrap_documents_as_eia_weekly_rows(documents: DataFrame) -> DataFrame:
    """Render documents as WPSR basic-table rows (one table row per
    doc): titles cycle the slugify branches (dotted acronym,
    parenthetical, accented + em-dash, hyphen-run + padding), kind 4
    carries the 'terminated' row class, kind 5 is a short (<5 cols)
    row — both skipped by the selector. The three link columns are
    independently present/absent and cycle relative, root-relative,
    absolute and query-string hrefs."""
    d = F.col("doc_id").cast("string")
    kind = (F.col("doc_id") % _EIA_WEEKLY_ROW_KINDS).cast("int")
    title = (
        F.when(kind == 0, F.concat(F.lit("U.S. Petroleum Balance Sheet "), d))
        .when(kind == 1, F.concat(F.lit("Crude Oil Production (Monthly) "), d))
        .when(kind == 2, F.concat(F.lit("Estoques — Região São Paulo "), d))
        .otherwise(F.concat(F.lit("  Days of Supply -- Total "), d, F.lit("  ")))
    )
    href2 = (
        F.when(F.col("doc_id") % 3 == 1, F.concat(F.lit("wpsrall"), d, F.lit(".csv")))
        .when(
            F.col("doc_id") % 3 == 2,
            F.concat(F.lit("/petroleum/supply/weekly/csv/table"), d, F.lit(".csv")),
        )
    )
    href3 = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("https://cdn.example/eia/xls/table"), d, F.lit(".xls")),
    )
    href4 = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("summary"), d, F.lit(".php?f=w")))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("wpsr_publication"), d, F.lit(".pdf")))
        .when(F.col("doc_id") % 4 == 3, F.concat(F.lit("archive/"), d, F.lit("/wpsr.xls")))
    )
    return documents.select(
        "doc_id",
        title.alias("raw_title"),
        (kind == 4).alias("terminated"),
        F.when(kind == 5, 3).otherwise(5).alias("n_cols"),
        href2.alias("href2"),
        href3.alias("href3"),
        href4.alias("href4"),
    )


def eia_petroleum_weekly_files(documents: DataFrame) -> DataFrame:
    """The WPSR selection grammar — the last uncovered EIA dataset
    module, sibling of ``eia_xls_picks`` / ``eia_series_combinations``.

    Reference: datasets/eia/petroleum_weekly.py:54-111
    (``scrape_eia_content``) + :113-135 (``sync`` item assembly):

    - release-dates header triple → three 'meta' rows: the raw
      week-ending text kept VERBATIM, release / next-release parsed
      through ``parse_eia_date`` ('%b %d, %Y' after dot-strip,
      verbatim fallback).
    - basic-table rows: skip rows with <5 cols or the 'terminated'
      class (:83-85); slugified FIXED name '{slug}.{ext}' where ext is
      the url's last dot-segment query-stripped (:92, :104); link
      columns 2-3 are the 10:30 release, column 4 is 13:00
      (:89-109); hrefs urljoin against the source page.
    - item period = release_date_iso or 'current' (sync :127).

    Scale: pure per-row projection + a 3-element explode; the header
    metadata is ONE global max aggregate broadcast onto the items —
    no shuffle beyond the presentation sort at any corpus size.
    """
    rows = wrap_documents_as_eia_weekly_rows(documents)
    # header metadata derived deterministically from the corpus (one
    # bounded aggregate — the page publishes exactly one header)
    mx = F.max("doc_id").alias("mx")
    month_expr = lambda off: F.element_at(
        F.array(*[F.lit(m) for m in _EIA_MONTH_ABBRS]),
        ((F.col("mx") + off) % 12 + 1).cast("int"),
    )
    day_expr = lambda off: ((F.col("mx") + off) % 28 + 1).cast("string")
    hdr = documents.agg(mx).select(
        F.concat(month_expr(0), F.lit(". "), day_expr(0), F.lit(", 2025")).alias(
            "week_ending_raw"
        ),
        parse_eia_date(
            F.concat(month_expr(1), F.lit(". "), day_expr(3), F.lit(", 2025"))
        ).alias("release_date_iso"),
        parse_eia_date(
            F.concat(month_expr(2), F.lit(". "), day_expr(5), F.lit(", 2026"))
        ).alias("next_release_date_iso"),
    )
    live = rows.where((~F.col("terminated")) & (F.col("n_cols") >= 5))
    links = live.select(
        "doc_id",
        F.col("raw_title"),
        eia_slugify(F.col("raw_title")).alias("slug"),
        F.explode(
            F.array_compact(
                F.array(
                    F.when(
                        F.col("href2").isNotNull(),
                        F.struct(
                            F.col("href2").alias("href"), F.lit("10:30").alias("t")
                        ),
                    ),
                    F.when(
                        F.col("href3").isNotNull(),
                        F.struct(
                            F.col("href3").alias("href"), F.lit("10:30").alias("t")
                        ),
                    ),
                    F.when(
                        F.col("href4").isNotNull(),
                        F.struct(
                            F.col("href4").alias("href"), F.lit("13:00").alias("t")
                        ),
                    ),
                )
            )
        ).alias("l"),
    )
    href = F.col("l.href")
    url = (
        F.when(href.rlike(r"^[a-z][a-z0-9+.-]*://"), href)
        .when(href.startswith("/"), F.concat(F.lit(EIA_WEEKLY_HOST), href))
        .otherwise(F.concat(F.lit(EIA_WEEKLY_SOURCE_URL), href))
    )
    ext = F.element_at(
        F.split(F.element_at(F.split(url, r"\."), -1), r"\?"), 1
    )
    period = F.when(
        F.coalesce(F.col("release_date_iso"), F.lit("")) == "", F.lit("current")
    ).otherwise(F.col("release_date_iso"))
    data = links.join(F.broadcast(hdr)).select(
        F.lit("data").alias("kind"),
        F.col("doc_id"),
        # reference strips the cell text for display_title
        # (eia_weekly.py cols[1].get_text().strip()); the slug path
        # already trims, so only the display column needed this
        F.trim(F.col("raw_title")).alias("title"),
        period.alias("period"),
        F.concat(F.col("slug"), F.lit("."), ext).alias("filename"),
        url.alias("url"),
        F.col("l.t").alias("release_time"),
    )
    meta = hdr.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("week_ending_raw").alias("field"),
                    F.col("week_ending_raw").alias("value"),
                ),
                F.struct(
                    F.lit("release_date_iso").alias("field"),
                    F.col("release_date_iso").alias("value"),
                ),
                F.struct(
                    F.lit("next_release_date_iso").alias("field"),
                    F.col("next_release_date_iso").alias("value"),
                ),
            )
        ).alias("m")
    ).select(
        F.lit("meta").alias("kind"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("m.field").alias("title"),
        F.col("m.value").alias("period"),
        F.lit(None).cast("string").alias("filename"),
        F.lit(None).cast("string").alias("url"),
        F.lit(None).cast("string").alias("release_time"),
    )
    return data.unionByName(meta).orderBy(
        "kind", "doc_id", "release_time", "url", "title"
    )
