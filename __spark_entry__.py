"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()``
exposes the SURVEY.md §2 inventory (one callable per operator);
``oracle_sql()`` gives the DuckDB-dialect twin of every
SQL-expressible query with identical aliases, rounding, and
tie-breaks. Hash-dependent operators (minhash/simhash/LSH) use
md5-derived integers specifically so the oracle can reproduce them
bit-for-bit; their SQL is generated programmatically below from the
same parameters as the Spark operators.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from forest_open_data_pipelines_spark.operators.textops import (
    EN_STOPWORDS,
    GOPHER_MAX_BULLET_LINE_FRAC,
    GOPHER_MAX_ELLIPSIS_LINE_FRAC,
    GOPHER_MAX_MEAN_WORD_LEN,
    GOPHER_MAX_SYMBOL_WORD_RATIO,
    GOPHER_MAX_WORDS,
    GOPHER_MIN_ALPHA_WORD_FRAC,
    GOPHER_MIN_MEAN_WORD_LEN,
    GOPHER_MIN_STOPWORDS_PRESENT,
    GOPHER_MIN_WORDS,
    GOPHER_STOPWORDS,
    C4_MIN_SENTENCES,
    C4_MIN_WORDS_PER_LINE,
    C4_SENTENCEIFY_WORDS_PER_LINE,
    LANG_MARKERS,
    PT_ACCENT_REPLACEMENTS,
)
from forest_open_data_pipelines_spark.plans.catalog import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: top nations by latest-year order volume with YoY
    comparison (the reference's headline top-states fire table)."""
    return QUERIES["top_nations_yoy"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


# --------------------------------------------------------------------------
# Shared SQL fragments (DuckDB dialect)
# --------------------------------------------------------------------------

# orders ⋈ customer ⋈ nation ⋈ region (the enriched fact view).
ENRICHED = """
enriched AS (
  SELECT o_orderkey, o_orderdate, o_totalprice, n_name, r_name
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
)
"""

MONTHLY = """
monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS period,
         count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_price
  FROM enriched GROUP BY 1
)
"""

# Whitespace-normalized document text (textops.clean_text twin).
CLEAN = (
    "trim(regexp_replace(replace(text, chr(160), ' '), "
    "'[ \\t\\r\\f]+', ' ', 'g'))"
)
LCLEAN = f"lower({CLEAN})"

# Word-3-gram distinct shingles of the lowercased clean text.
SHINGLES = f"""
shingled AS (
  SELECT doc_id, list_distinct(
    CASE WHEN len(t) >= 3
         THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]
         ELSE [list_aggregate(t, 'string_agg', ' ')]
    END) AS shingles
  FROM (SELECT doc_id, string_split({LCLEAN}, ' ') AS t FROM documents)
)
"""

_MD5_INT = "('0x' || substr(md5({expr}), 1, 15))::BIGINT"

# html.py twins: strip tags → NBSP → collapse ws → trim, and the CTA
# paragraph filter (RE2-compatible — same pattern Spark runs).
_CTA_RE = (
    r"(?i)^(receba|cadastre|whatsapp|newsletter|"
    r"clique aqui para receber|siga nosso canal|termo de privacidade)\b"
)


def _html_clean(expr: str) -> str:
    return (
        "trim(regexp_replace(replace(regexp_replace(" + expr + ", "
        "'(?s)<[^>]*>', ' ', 'g'), chr(160), ' '), '[ \\t\\r\\f\\v]+', ' ', 'g'))"
    )


def _truncwords_sql(expr: str) -> str:
    """catalog/build.py:152-157 ``_truncate_words`` at 260 chars: word-
    boundary back-off with the 48-char floor (manifests.truncate_words
    twin). ``expr`` must already be whitespace-collapsed."""
    hard = f"substr({expr}, 1, 260)"
    head = f"trim(regexp_replace({hard}, ' [^ ]*$', ''))"
    return (
        f"CASE WHEN length({expr}) <= 260 THEN {expr} "
        f"WHEN length({head}) >= 48 THEN {head} "
        f"ELSE trim({hard}) END"
    )


_HTML_TITLE = _html_clean("regexp_extract(html, '(?is)<h1[^>]*>(.*?)</h1>', 1)")
_HTML_LEAD = _html_clean(
    "regexp_extract(html, '(?is)<div class=\"lead\"[^>]*>(.*?)</div>', 1)"
)
_HTML_PARA = _html_clean("x")


def _yoy_sql(dim: str, limit: int) -> str:
    return f"""
WITH {ENRICHED},
by_year AS (
  SELECT {dim}, year(o_orderdate)::INTEGER AS year, count(*) AS n
  FROM enriched GROUP BY 1, 2
),
latest AS (SELECT max(year) AS latest_year FROM by_year)
SELECT {dim},
       latest_year,
       coalesce(sum(n) FILTER (WHERE year = latest_year), 0)::BIGINT AS current_year_total,
       coalesce(sum(n) FILTER (WHERE year = latest_year - 1), 0)::BIGINT AS previous_year_total,
       round(CASE WHEN coalesce(sum(n) FILTER (WHERE year = latest_year - 1), 0) <> 0
             THEN (coalesce(sum(n) FILTER (WHERE year = latest_year), 0)
                   - coalesce(sum(n) FILTER (WHERE year = latest_year - 1), 0))
                  / coalesce(sum(n) FILTER (WHERE year = latest_year - 1), 0)::DOUBLE * 100.0
             END, 6) AS pct_change
FROM by_year, latest
GROUP BY {dim}, latest_year
ORDER BY current_year_total DESC, {dim}
LIMIT {limit}
"""


def _profile_columns_sql() -> str:
    numeric = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax",
    ]
    other = ["l_returnflag", "l_linestatus", "l_shipdate"]
    parts = []
    for c in numeric:
        parts.append(
            f"SELECT '{c}' AS column_name, count({c}) AS non_null_count, "
            f"(count(*) - count({c}))::BIGINT AS null_count, "
            f"count(DISTINCT {c}) AS distinct_count, "
            f"min({c})::DOUBLE AS min_value, max({c})::DOUBLE AS max_value, "
            f"round(avg({c}), 6) AS mean_value FROM lineitem"
        )
    for c in other:
        parts.append(
            f"SELECT '{c}' AS column_name, count({c}) AS non_null_count, "
            f"(count(*) - count({c}))::BIGINT AS null_count, "
            f"count(DISTINCT {c}) AS distinct_count, "
            f"CAST(NULL AS DOUBLE) AS min_value, CAST(NULL AS DOUBLE) AS max_value, "
            f"CAST(NULL AS DOUBLE) AS mean_value FROM lineitem"
        )
    return " UNION ALL ".join(parts)


def _minhash_sql(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    candidates_only: bool = False,
) -> str:
    from forest_open_data_pipelines_spark.operators.dedup import (
        MINHASH_P,
        minhash_coeffs,
    )

    rows = num_hashes // bands
    base = _MD5_INT.format(expr="s") + f" % {MINHASH_P}"
    mins = ", ".join(
        f"list_min([({a} * x + {b}) % {MINHASH_P} for x in bases])"
        for a, b in minhash_coeffs(num_hashes)
    )
    band_exprs = ", ".join(
        "STRUCT_PACK(band_id := {b}, band_hash := md5(list_aggregate("
        "[sig[j]::VARCHAR for j in range({lo}, {hi})], 'string_agg', ',')))".format(
            b=b, lo=b * rows + 1, hi=(b + 1) * rows + 1
        )
        for b in range(bands)
    )
    return f"""
WITH {SHINGLES},
based AS (
  SELECT doc_id, shingles, [{base} for s in shingles] AS bases FROM shingled
),
sigs AS (
  SELECT doc_id, shingles, [{mins}] AS sig FROM based
),
banded AS (
  SELECT doc_id, shingles, unnest([{band_exprs}], recursive := true)
  FROM sigs
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM banded x JOIN banded y
    ON x.band_id = y.band_id AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
),
verified AS (
  SELECT doc_a, doc_b,
         round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
               / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
  FROM cand
  JOIN shingled a ON a.doc_id = doc_a
  JOIN shingled b ON b.doc_id = doc_b
)
SELECT doc_a, doc_b{", jaccard" if not candidates_only else ""}
FROM {"cand" if candidates_only else "verified"}
{f"WHERE jaccard >= {threshold}" if not candidates_only else ""}
ORDER BY doc_a, doc_b
"""


def _dedup_incremental_sql(
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    mod: int = 13,
) -> str:
    """DuckDB twin of dedup.dedup_incremental over the doc_id % mod
    split: same fingerprint join, same MinHash band candidates (new
    side × base side), same Jaccard verify and best-match tie-break."""
    from forest_open_data_pipelines_spark.operators.dedup import (
        MINHASH_P,
        minhash_coeffs,
    )

    rows = num_hashes // bands
    base = _MD5_INT.format(expr="s") + f" % {MINHASH_P}"
    mins = ", ".join(
        f"list_min([({a} * x + {b}) % {MINHASH_P} for x in bases])"
        for a, b in minhash_coeffs(num_hashes)
    )
    band_exprs = ", ".join(
        "STRUCT_PACK(band_id := {b}, band_hash := md5(list_aggregate("
        "[sig[j]::VARCHAR for j in range({lo}, {hi})], 'string_agg', ',')))".format(
            b=b, lo=b * rows + 1, hi=(b + 1) * rows + 1
        )
        for b in range(bands)
    )
    return f"""
WITH {SHINGLES},
fp AS (SELECT doc_id, md5({LCLEAN}) AS f FROM documents),
fp_base AS (SELECT DISTINCT f FROM fp WHERE doc_id % {mod} <> 0),
exact AS (
  SELECT n.doc_id, (b.f IS NOT NULL) AS exact_dup
  FROM fp n LEFT JOIN fp_base b ON n.f = b.f
  WHERE n.doc_id % {mod} = 0
),
based AS (
  SELECT doc_id, shingles, [{base} for s in shingles] AS bases FROM shingled
),
sigs AS (SELECT doc_id, shingles, [{mins}] AS sig FROM based),
banded AS (
  SELECT doc_id, unnest([{band_exprs}], recursive := true) FROM sigs
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS base_id
  FROM banded x JOIN banded y
    ON x.band_id = y.band_id AND x.band_hash = y.band_hash
  WHERE x.doc_id % {mod} = 0 AND y.doc_id % {mod} <> 0
),
verified AS (
  SELECT cand.doc_id, base_id,
         round(len(list_intersect(a.shingles, b.shingles))::DOUBLE
               / len(list_distinct(list_concat(a.shingles, b.shingles))), 6)
           AS jaccard
  FROM cand
  JOIN shingled a ON a.doc_id = cand.doc_id
  JOIN shingled b ON b.doc_id = cand.base_id
),
best AS (
  SELECT doc_id, base_id, jaccard FROM (
    SELECT doc_id, base_id, jaccard,
           row_number() OVER (
             PARTITION BY doc_id ORDER BY jaccard DESC, base_id) AS rn
    FROM verified WHERE jaccard >= {threshold}
  ) WHERE rn = 1
)
SELECT e.doc_id, exact_dup,
       (m.base_id IS NOT NULL) AS near_dup,
       m.base_id AS matched_base_id,
       m.jaccard AS best_jaccard,
       CASE WHEN exact_dup THEN 'exact_dup'
            WHEN m.base_id IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS status
FROM exact e LEFT JOIN best m ON e.doc_id = m.doc_id
ORDER BY e.doc_id"""


def _ngram_exact_sql(threshold: float = 0.8) -> str:
    """GROUND-TRUTH oracle for dedup_ngram_ppjoin: stop-list-free
    all-shared-shingle candidates + exact Jaccard. Deliberately NOT a
    mirror of the prefix filter — an oracle replicating the candidate
    scheme would be blind to prefix-recall holes; the ppjoin theorem
    says the outputs must coincide, and this checks exactly that."""
    return f"""
WITH {SHINGLES},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM shingled),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b,
         round(len(list_intersect(x.shingles, y.shingles))::DOUBLE
               / len(list_distinct(list_concat(x.shingles, y.shingles))), 6)
           AS jaccard
  FROM cand
  JOIN shingled x ON x.doc_id = cand.doc_a
  JOIN shingled y ON y.doc_id = cand.doc_b
)
SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= {threshold}
ORDER BY doc_a, doc_b"""


def _coids_entry_periods_sql() -> str:
    """coids_entry_periods oracle: the wrapper's entry synthesis is
    restated from the doc_id arithmetic, but the period logic itself —
    every regex (RE2-compatible) and the strptime chain — runs for
    real on DuckDB, mirroring entry_period/parse_last_modified."""
    return r"""
WITH base AS (
  SELECT doc_id,
         (doc_id % 6 + 2019)::VARCHAR AS yyyy,
         lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') AS mm,
         lpad((doc_id % 28 + 1)::VARCHAR, 2, '0') AS dd,
         lpad((doc_id % 24)::VARCHAR, 2, '0') AS hh,
         lpad((doc_id % 60)::VARCHAR, 2, '0') AS mi,
         ['SP', 'mg', 'BA', 'rj'][(doc_id % 4 + 1)::INT] AS uf,
         (doc_id % 6 + 1)::INT AS nk,
         (doc_id % 6 + 1)::INT AS lk
  FROM documents
),
entries AS (
  SELECT doc_id, nk, lk, uf, yyyy,
    CASE nk
      WHEN 1 THEN 'focos_br_' || yyyy || '.zip'
      WHEN 2 THEN 'focos_mensal_' || yyyy || mm || '.zip'
      WHEN 3 THEN 'focos_diario_' || yyyy || mm || dd || '.csv'
      WHEN 4 THEN 'focos_10min_' || yyyy || mm || dd || '_' || hh || mi || '.csv'
      WHEN 5 THEN 'documento_tecnico.pdf'
      WHEN 6 THEN 'focos_' || yyyy || '.zip' END AS filename,
    CASE lk
      WHEN 1 THEN ''
      WHEN 2 THEN yyyy || '-' || mm || '-10 12:34'
      WHEN 3 THEN yyyy || '-' || mm || '-10 12:34:56'
      WHEN 4 THEN '10/' || mm || '/' || yyyy || ' 08:15:30'
      WHEN 5 THEN '10/' || mm || '/' || yyyy || ' 08:15'
      WHEN 6 THEN 'ontem às 10h' END AS label
  FROM base
),
withurl AS (
  SELECT *,
    CASE WHEN nk = 6
         THEN 'https://dataserver.example/queimadas/EstadosBr_sat_ref/'
              || uf || '/focos_' || yyyy || '.zip'
         ELSE 'https://dataserver.example/queimadas/' || filename END AS url
  FROM entries
),
p AS (
  SELECT doc_id, filename, url, label,
    regexp_replace(filename, '\.[^.]*$', '') AS stem,
    regexp_extract(filename, '((?:19|20)\d{2})', 1) AS y,
    regexp_extract(filename, '((?:19|20)\d{2})(0[1-9]|1[0-2])', 1) AS ym_y,
    regexp_extract(filename, '((?:19|20)\d{2})(0[1-9]|1[0-2])', 2) AS ym_m,
    regexp_extract(filename,
      '((?:19|20)\d{2})(0[1-9]|1[0-2])(0[1-9]|[12]\d|3[01])', 1) AS d_y,
    regexp_extract(filename,
      '((?:19|20)\d{2})(0[1-9]|1[0-2])(0[1-9]|[12]\d|3[01])', 2) AS d_m,
    regexp_extract(filename,
      '((?:19|20)\d{2})(0[1-9]|1[0-2])(0[1-9]|[12]\d|3[01])', 3) AS d_d,
    regexp_extract(filename, '((?:19|20)\d{6})_([0-2]\d[0-5]\d)', 1) AS t_date,
    regexp_extract(filename, '((?:19|20)\d{6})_([0-2]\d[0-5]\d)', 2) AS t_hour,
    upper(regexp_extract(url, '(?i)/EstadosBr_sat_ref/([A-Z]{2})/', 1)) AS st,
    coalesce(
      try_strptime(trim(label), '%Y-%m-%d %H:%M'),
      try_strptime(trim(label), '%Y-%m-%d %H:%M:%S'),
      try_strptime(trim(label), '%d/%m/%Y %H:%M:%S'),
      try_strptime(trim(label), '%d/%m/%Y %H:%M')
    ) AS parsed
  FROM withurl
)
SELECT doc_id, filename,
  CASE WHEN y <> '' THEN y ELSE stem END AS period_annual,
  CASE WHEN ym_y <> '' THEN ym_y || '-' || ym_m ELSE stem END AS period_monthly,
  CASE WHEN d_y <> '' THEN d_y || '-' || d_m || '-' || d_d
       ELSE stem END AS period_daily,
  CASE WHEN t_date <> ''
       THEN substr(t_date, 1, 4) || '-' || substr(t_date, 5, 2) || '-'
            || substr(t_date, 7, 2) || ' ' || t_hour
       WHEN d_y <> '' THEN d_y || '-' || d_m || '-' || d_d
       ELSE stem END AS period_ten_min,
  CASE WHEN st <> ''
       THEN st || '/' || (CASE WHEN y <> '' THEN y ELSE stem END)
       ELSE (CASE WHEN y <> '' THEN y ELSE stem END) END AS period_annual_state,
  CASE WHEN parsed IS NOT NULL THEN strftime(parsed, '%Y-%m-%d %H:%M:%S')
       ELSE stem END AS period_modified
FROM p ORDER BY doc_id"""


def _mma_manifest_items_sql() -> str:
    """mma_manifest_items oracle in closed form from the wrapper's
    doc_id arithmetic: kinds 0/1/2/3/5 pass the host gate (4 foreign,
    6 empty URL); periods follow the reference's fallback chain and the
    dictionary pick is the min doc_id of kind 2."""
    return """
WITH base AS (
  SELECT doc_id, doc_id % 7 AS k,
         (doc_id % 6 + 2019)::VARCHAR AS yyyy,
         lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') AS mm
  FROM documents
),
items AS (
  SELECT doc_id,
    CASE k
      WHEN 0 THEN yyyy || '-' || mm || '-15'
      WHEN 1 THEN yyyy || '-07-01'
      WHEN 2 THEN '2018-01-01'
      WHEN 3 THEN '2022-11-05'
      WHEN 5 THEN yyyy || '-06-15' END AS period,
    CASE k
      WHEN 0 THEN 'cnuc_' || yyyy || '_' || mm || '.csv'
      WHEN 1 THEN 'cadastro_' || yyyy || '.csv'
      WHEN 2 THEN 'dicionario_de_dados_unidades_de_conservacao.pdf'
      WHEN 3 THEN 'dicionario_shapefile.pdf'
      WHEN 5 THEN 'cnuc_' || yyyy || '.zip' END AS filename,
    CASE k
      WHEN 0 THEN 'CNUC ' || yyyy
      WHEN 1 THEN 'Cadastro ' || yyyy
      WHEN 2 THEN 'Dicionário de dados — Unidades de Conservação'
      WHEN 3 THEN 'Dicionário shapefile conservação'
      WHEN 5 THEN 'CNUC anual ' || yyyy END AS title,
    CASE k
      WHEN 0 THEN 'https://dados.mma.gov.br/dataset/cnuc/cnuc_' || yyyy || '_' || mm || '.csv'
      WHEN 1 THEN 'https://www.dados.mma.gov.br/dataset/cnuc/cadastro_' || yyyy || '.csv'
      WHEN 2 THEN 'https://dados.mma.gov.br/docs/dicionario_de_dados_unidades_de_conservacao.pdf'
      WHEN 3 THEN 'https://dados.mma.gov.br/docs/dicionario_shapefile.pdf'
      WHEN 5 THEN 'https://dados.mma.gov.br/dataset/cnuc_' || yyyy || '.zip' END AS url,
    doc_id = (SELECT min(doc_id) FROM base WHERE k = 2) AS is_dict_pick
  FROM base WHERE k IN (0, 1, 2, 3, 5)
)
SELECT row_number() OVER (ORDER BY period DESC, doc_id) AS rank,
       period, filename, title, url, doc_id, is_dict_pick
FROM items ORDER BY rank"""


def _supranational_items_sql() -> str:
    """supranational_items oracle in closed form from the wrapper's
    doc_id arithmetic (kinds 0-8 map 1:1 to policy branches); RE2 has
    no lookarounds, so period expectations are stated, not re-derived."""
    return """
WITH base AS (
  SELECT doc_id, doc_id % 9 AS k,
         (doc_id % 6 + 2019)::VARCHAR AS yyyy,
         lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') AS mm
  FROM documents
)
SELECT doc_id,
  CASE k
    WHEN 0 THEN 'https://data.worldbank.org/bulk/WDI_' || yyyy || '.csv'
    WHEN 1 THEN 'https://files.fao.org/prod/QCL_' || yyyy || mm || '.csv.gz'
    WHEN 2 THEN 'https://data.worldbank.org/download/wdi-extra-' || yyyy
    WHEN 3 THEN 'https://data.worldbank.org/bulk/WDI_old_' || yyyy || '.csv'
    WHEN 4 THEN 'https://data.worldbank.org/vis?id=' || doc_id::VARCHAR
    WHEN 5 THEN 'http://data.worldbank.org/bulk/WDI_' || yyyy || '.csv'
    WHEN 6 THEN 'https://example.org/data_' || yyyy || '.csv'
    WHEN 7 THEN 'https://files.fao.org/prod/archive_' || yyyy || '.csv'
    WHEN 8 THEN 'https://data.worldbank.org/download/wdi-notes' END AS url,
  CASE k
    WHEN 0 THEN 'accepted' WHEN 1 THEN 'accepted' WHEN 2 THEN 'accepted'
    WHEN 3 THEN 'inactive'
    WHEN 4 THEN 'url_policy' WHEN 5 THEN 'url_policy' WHEN 6 THEN 'url_policy'
    WHEN 7 THEN 'exclude_hit'
    WHEN 8 THEN 'format_gate' END AS reason,
  CASE k
    WHEN 0 THEN 'WDI_' || yyyy || '.csv'
    WHEN 1 THEN 'QCL_' || yyyy || mm || '.csv.gz'
    WHEN 2 THEN 'wdi-extra-' || yyyy END AS filename,
  CASE k
    WHEN 0 THEN 'WDI ' || yyyy
    WHEN 1 THEN 'QCL bulk'
    WHEN 2 THEN 'WDI extra' END AS title,
  CASE k
    WHEN 0 THEN yyyy
    WHEN 1 THEN yyyy || '-' || mm
    WHEN 2 THEN yyyy END AS period,
  CASE k
    WHEN 0 THEN 'csv'
    WHEN 1 THEN 'csv.gz'
    WHEN 2 THEN 'unknown' END AS format
FROM base ORDER BY doc_id"""


def _ckan_resource_select_sql(latest: int = 6) -> str:
    """ckan_resource_select oracle in CLOSED FORM from the wrapper's
    doc_id arithmetic (kinds 0/1/4/6 are data, 2 is the metadata
    dictionary, 3/5/7 are dropped by host/exclude/include): RE2 has no
    lookarounds, so the oracle states what DEFAULT_PERIOD_RE and
    _safe_filename must produce instead of re-running them — the same
    approach govbr_resource_classify uses."""
    return f"""
WITH base AS (
  SELECT doc_id, doc_id % 8 AS k,
         (doc_id % 6 + 2019)::VARCHAR AS yyyy,
         lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') AS mm
  FROM documents
),
rows_ AS (
  SELECT doc_id,
    CASE WHEN k = 2 THEN 'meta' ELSE 'data' END AS kind,
    CASE k
      WHEN 0 THEN 'inf_diario_fi_' || yyyy || mm || '.zip'
      WHEN 1 THEN 'inf_anual_' || yyyy || '.zip'
      WHEN 2 THEN 'dicionario_inf_diario.txt'
      WHEN 4 THEN 'Relat_rio_Inf_' || yyyy || mm || '.csv'
      WHEN 6 THEN 'inf_geral.csv' END AS filename,
    CASE k
      WHEN 0 THEN yyyy || '-' || mm
      WHEN 1 THEN yyyy
      WHEN 2 THEN 'current'
      WHEN 4 THEN yyyy || '-' || mm
      WHEN 6 THEN '2024-03-15' END AS period,
    CASE k
      WHEN 0 THEN 'https://dados.cvm.gov.br/data/inf_diario_fi_' || yyyy || mm || '.zip'
      WHEN 1 THEN 'https://dados.cvm.gov.br/data/inf_anual_' || yyyy || '.zip'
      WHEN 2 THEN 'https://dados.cvm.gov.br/meta/dicionario_inf_diario.txt'
      WHEN 4 THEN 'https://www.gov.br/view'
      WHEN 6 THEN 'https://dados.cvm.gov.br/data/inf_geral.csv' END AS url
  FROM base WHERE k IN (0, 1, 2, 4, 6)
),
data_ AS (
  SELECT 'data' AS kind,
         row_number() OVER (ORDER BY period DESC, filename DESC, doc_id)
           AS sel_rank,
         period, filename, url, doc_id
  FROM rows_ WHERE kind = 'data'
  QUALIFY sel_rank <= {latest}
),
meta_ AS (
  SELECT 'meta' AS kind, row_number() OVER (ORDER BY doc_id) AS sel_rank,
         period, filename, url, doc_id
  FROM rows_ WHERE kind = 'meta'
)
SELECT * FROM data_ UNION ALL SELECT * FROM meta_ ORDER BY kind, sel_rank"""


def _pack_sequences_sql(budget: int = 256) -> str:
    """pack_sequences oracle: the greedy per-stream walk expressed as a
    DuckDB recursive CTE that advances every source's stream one row
    per iteration (breadth across sources, depth = max docs/source) —
    a declarative twin that cannot share a state bug with the Arrow
    kernel."""
    return f"""
WITH RECURSIVE d AS (
  SELECT source, doc_id,
         len(string_split({CLEAN}, ' '))::BIGINT AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
walk(source, rn, doc_id, n_tokens, seq_id, off) AS (
  SELECT source, rn, doc_id, n_tokens, 0::BIGINT, 0::BIGINT
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.source, d.rn, d.doc_id, d.n_tokens,
         CASE WHEN w.off + w.n_tokens + d.n_tokens <= {budget}
              THEN w.seq_id ELSE w.seq_id + 1 END,
         CASE WHEN w.off + w.n_tokens + d.n_tokens <= {budget}
              THEN w.off + w.n_tokens ELSE 0::BIGINT END
  FROM walk w JOIN d ON d.source = w.source AND d.rn = w.rn + 1
)
SELECT source, doc_id, n_tokens, seq_id, off AS offset_in_seq
FROM walk ORDER BY doc_id"""


def _canonical_corpus_sql(threshold: float = 0.8) -> str:
    """dedup_canonical_corpus oracle: the clusters closure filtered to
    canonical rows, joined back to the documents attributes."""
    return f"""
WITH RECURSIVE {SHINGLES},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM shingled),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN shingled x ON x.doc_id = cand.doc_a
  JOIN shingled y ON y.doc_id = cand.doc_b
  WHERE round(len(list_intersect(x.shingles, y.shingles))::DOUBLE
              / len(list_distinct(list_concat(x.shingles, y.shingles))), 6)
        >= {threshold}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
lab AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
SELECT d.doc_id, d.lang, d.source, d.n_chars, s.cluster_size
FROM lab l
JOIN sz s USING (cluster_id)
JOIN documents d ON d.doc_id = l.doc_id
WHERE l.doc_id = l.cluster_id
ORDER BY d.doc_id"""


def _quality_repetition_sql() -> str:
    """quality_repetition oracle: the same tagged gram streams built
    with DuckDB list comprehensions instead of Catalyst transform();
    the pass gate compares the ROUNDED ratios on both engines."""
    return f"""
WITH tok AS (SELECT doc_id, string_split({LCLEAN}, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, 1 AS k, unnest(t) AS g FROM tok
  UNION ALL
  SELECT doc_id, 2 AS k,
         unnest(CASE WHEN len(t) >= 2
                     THEN [t[i] || ' ' || t[i+1] for i in range(1, len(t))]
                     ELSE [] END) AS g
  FROM tok
  UNION ALL
  SELECT doc_id, 3 AS k,
         unnest(CASE WHEN len(t) >= 3
                     THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                           for i in range(1, len(t) - 1)]
                     ELSE [] END) AS g
  FROM tok
),
counts AS (SELECT doc_id, k, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
per_k AS (
  SELECT doc_id, k, max(c) AS max_c, count(*) AS n_distinct, sum(c) AS total
  FROM counts GROUP BY 1, 2
),
m AS (
  SELECT doc_id,
    max(CASE WHEN k = 1 THEN total END)::BIGINT AS n_tokens,
    round(max(CASE WHEN k = 1 THEN n_distinct END)::DOUBLE
          / max(CASE WHEN k = 1 THEN total END), 6) AS distinct_ratio,
    round(max(CASE WHEN k = 1 THEN max_c END)::DOUBLE
          / max(CASE WHEN k = 1 THEN total END), 6) AS top_unigram_frac,
    round(max(CASE WHEN k = 2 THEN max_c END)::DOUBLE
          / max(CASE WHEN k = 2 THEN total END), 6) AS top_bigram_frac,
    round(1 - max(CASE WHEN k = 3 THEN n_distinct END)::DOUBLE
          / max(CASE WHEN k = 3 THEN total END), 6) AS dup_trigram_frac
  FROM per_k GROUP BY doc_id
)
SELECT *,
       (distinct_ratio >= 0.35 AND top_unigram_frac <= 0.12
        AND coalesce(top_bigram_frac, 0) <= 0.08
        AND coalesce(dup_trigram_frac, 0) <= 0.25) AS passes_repetition
FROM m ORDER BY doc_id"""


def _bpe_sqls(n_merges: int) -> tuple[str, str]:
    """bpe_train + bpe_encode oracles (r12 — the r11 VERDICT item 5):
    the full training loop unrolled as ``n_merges`` chained CTE rounds
    (the part_pagerank unrolled-CTE precedent).

    Each word's symbolization is ONE STRING of chr(2)…chr(3)-wrapped
    symbols — symbols are substrings of whitespace-split words, so the
    control delimiters cannot collide with symbol content — and one
    greedy left-to-right non-overlapping merge pass (textops._bpe_apply)
    is exactly one ``replace()`` of '<STX>l<ETX><STX>r<ETX>' with
    '<STX>lr<ETX>': both engines scan left to right and resume AFTER
    the replacement, which reproduces the fold's overlap resolution.
    Per round: a pair-count aggregate over the re-split symbol lists,
    the (freq DESC, l, r) 1-row argmax — binary string collation on
    both engines — and a LEFT JOIN ON TRUE apply step that no-ops when
    no pair remains (bpe_train's early break)."""
    B, E = "chr(2)", "chr(3)"
    ctes = [
        f"""words AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split({LCLEAN}, ' ')) AS w
        FROM documents)
  WHERE w != ''
)""",
        "wc AS (SELECT w, count(*) AS n FROM words GROUP BY w)",
        f"""s0 AS (
  SELECT w, n,
         {B} || array_to_string(string_split(w, ''), {E} || {B}) || {E}
           AS enc
  FROM wc
)""",
    ]
    for r in range(1, n_merges + 1):
        prev = f"s{r - 1}"
        ctes.append(f"""p{r} AS (
  SELECT ss[i] AS l, ss[i + 1] AS r2, sum(n)::BIGINT AS freq
  FROM (SELECT n, ss, unnest(range(1, len(ss))) AS i
        FROM (SELECT n, string_split(trim(enc, {B} || {E}), {E} || {B})
                     AS ss
              FROM {prev}))
  GROUP BY 1, 2
)""")
        ctes.append(
            f"t{r} AS (SELECT l, r2, l || r2 AS merged, freq FROM p{r} "
            "ORDER BY freq DESC, l, r2 LIMIT 1)"
        )
        ctes.append(f"""s{r} AS (
  SELECT s.w, s.n,
         CASE WHEN t.l IS NULL THEN s.enc
              ELSE replace(s.enc, {B} || t.l || {E} || {B} || t.r2 || {E},
                           {B} || t.merged || {E}) END AS enc
  FROM {prev} s LEFT JOIN t{r} t ON TRUE
)""")
    with_body = ",\n".join(ctes)
    train = (
        "WITH " + with_body + ",\nm AS (\n"
        + "\n  UNION ALL\n".join(
            f'  SELECT {r} AS merge_rank, l AS "left", r2 AS "right",'
            f" merged, freq FROM t{r}"
            for r in range(1, n_merges + 1)
        )
        + '\n)\nSELECT merge_rank::INT AS merge_rank, "left", "right",'
        " merged, freq\nFROM m ORDER BY merge_rank"
    )
    encode = (
        "WITH " + with_body + f""",
v AS (
  SELECT w, length(w) AS n_chars,
         length(enc) - length(replace(enc, {B}, '')) AS ntok
  FROM s{n_merges}
)
SELECT doc_id,
       count(*)::BIGINT AS n_words,
       sum(n_chars)::BIGINT AS n_chars,
       sum(ntok)::BIGINT AS n_bpe_tokens,
       round(sum(n_chars)::DOUBLE / sum(ntok), 6) AS chars_per_token
FROM words JOIN v USING (w)
GROUP BY doc_id ORDER BY doc_id"""
    )
    return train, encode


def _reptext_sql() -> str:
    """repetition_textify twin (textops.py): the closed-form
    multi-line/multi-paragraph variant — 6-word lines, j%4==3 repeats
    the previous line, 3-line paragraphs, doc_id%5==2 appends a copy
    of paragraph 0."""
    from forest_open_data_pipelines_spark.operators.textops import (
        REPTEXT_LINES_PER_PARA as P,
        REPTEXT_WORDS_PER_LINE as N,
    )

    return f"""
SELECT doc_id,
       array_to_string(
         list_concat(paras,
           CASE WHEN doc_id % 5 = 2 AND len(paras) > 0
                THEN [paras[1]] ELSE [] END),
         chr(10) || chr(10)) AS text
FROM (
  SELECT doc_id,
         CASE WHEN len(ls) = 0 THEN []
         ELSE list_transform(range(0, ((len(ls) + {P - 1}) // {P})::BIGINT),
           q -> array_to_string(
                  list_slice(ls, (q * {P} + 1)::INT, (q * {P} + {P})::INT),
                  chr(10))) END AS paras
  FROM (
    SELECT doc_id,
           CASE WHEN len(w) = 0 THEN []
           ELSE list_transform(range(0, ((len(w) + {N - 1}) // {N})::BIGINT),
             j -> array_to_string(
                    list_slice(w,
                      ((CASE WHEN j % 4 = 3 THEN j - 1 ELSE j END) * {N}
                       + 1)::INT,
                      ((CASE WHEN j % 4 = 3 THEN j - 1 ELSE j END) * {N}
                       + {N})::INT), ' ')) END AS ls
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x != '') AS w
          FROM documents)
  )
)"""


def _gopher_repetition_rules_sql(src: str) -> str:
    """gopher_repetition_rules oracle over an arbitrary (doc_id, text)
    relation ``src`` — the same 11 tagged streams (lines, paragraphs,
    word n-grams 2..10), the same beyond-first duplicate convention
    (dup mass = Σ (c−1)·len over values with c ≥ 2), the same
    longest-among-most-frequent top-gram tie-break, thresholds
    interpolated from the single-sourced GOPHER_* constants."""
    from forest_open_data_pipelines_spark.operators.textops import (
        GOPHER_DUP_NGRAM_THRESHOLDS,
        GOPHER_MAX_DUP_LINE_CHAR_FRAC,
        GOPHER_MAX_DUP_LINE_FRAC,
        GOPHER_MAX_DUP_PARA_CHAR_FRAC,
        GOPHER_MAX_DUP_PARA_FRAC,
        GOPHER_TOP_NGRAM_THRESHOLDS,
    )

    ngram_streams = "\n  UNION ALL\n".join(
        f"""  SELECT doc_id, {n} AS k,
         unnest(list_transform(range(1, len(words) - {n} + 2),
           i -> array_to_string(
                  list_slice(words, i::INT, (i + {n - 1})::INT), ' '))) AS g
  FROM ws WHERE len(words) >= {n}"""
        for n in (*GOPHER_TOP_NGRAM_THRESHOLDS, *GOPHER_DUP_NGRAM_THRESHOLDS)
    )
    metric_sql = [
        ("dup_line_frac",
         "round(max(CASE WHEN p.k = 0 THEN p.dupocc::DOUBLE / p.total END),"
         " 6)"),
        ("dup_line_char_frac",
         "round(max(CASE WHEN p.k = 0 THEN p.dupchar::DOUBLE / p.charmass"
         " END), 6)"),
        ("dup_para_frac",
         "round(max(CASE WHEN p.k = 1 THEN p.dupocc::DOUBLE / p.total END),"
         " 6)"),
        ("dup_para_char_frac",
         "round(max(CASE WHEN p.k = 1 THEN p.dupchar::DOUBLE / p.charmass"
         " END), 6)"),
    ]
    for n in GOPHER_TOP_NGRAM_THRESHOLDS:
        metric_sql.append(
            (f"top_{n}gram_char_frac",
             f"round(max(CASE WHEN p.k = {n} THEN t.topmass::DOUBLE"
             " / p.charmass END), 6)")
        )
    for n in GOPHER_DUP_NGRAM_THRESHOLDS:
        metric_sql.append(
            (f"dup_{n}gram_char_frac",
             f"round(max(CASE WHEN p.k = {n} THEN p.dupchar::DOUBLE"
             " / p.charmass END), 6)")
        )
    gate_sql = [
        ("rule_dup_line_frac",
         f"dup_line_frac <= {GOPHER_MAX_DUP_LINE_FRAC}"),
        ("rule_dup_line_char_frac",
         f"dup_line_char_frac <= {GOPHER_MAX_DUP_LINE_CHAR_FRAC}"),
        ("rule_dup_para_frac",
         f"dup_para_frac <= {GOPHER_MAX_DUP_PARA_FRAC}"),
        ("rule_dup_para_char_frac",
         f"dup_para_char_frac <= {GOPHER_MAX_DUP_PARA_CHAR_FRAC}"),
    ]
    for n, thr in GOPHER_TOP_NGRAM_THRESHOLDS.items():
        gate_sql.append((f"rule_top_{n}gram", f"top_{n}gram_char_frac <= {thr}"))
    for n, thr in GOPHER_DUP_NGRAM_THRESHOLDS.items():
        gate_sql.append((f"rule_dup_{n}gram", f"dup_{n}gram_char_frac <= {thr}"))
    metrics = ",\n    ".join(f"{expr} AS {name}" for name, expr in metric_sql)
    gates = ",\n       ".join(
        f"coalesce({expr}, TRUE) AS {name}" for name, expr in gate_sql
    )
    passes = " AND ".join(f"coalesce({expr}, TRUE)" for _, expr in gate_sql)
    return f"""
WITH src AS ({src}),
ws AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), w -> w != '')
           AS words
  FROM src
),
grams AS (
  SELECT doc_id, 0 AS k,
         unnest(list_filter(string_split(text, chr(10)), l -> l != '')) AS g
  FROM src
  UNION ALL
  SELECT doc_id, 1 AS k,
         unnest(list_filter(regexp_split_to_array(text, '\\n{{2,}}'),
                            p -> trim(p) != '')) AS g
  FROM src
  UNION ALL
{ngram_streams}
),
cnt AS (
  SELECT doc_id, k, g, count(*) AS c, length(g) AS L
  FROM grams GROUP BY doc_id, k, g
),
per AS (
  SELECT doc_id, k, sum(c) AS total, sum(c * L) AS charmass,
         sum(CASE WHEN c >= 2 THEN (c - 1) * L ELSE 0 END) AS dupchar,
         sum(CASE WHEN c >= 2 THEN c - 1 ELSE 0 END) AS dupocc,
         max(c) AS maxc
  FROM cnt GROUP BY doc_id, k
),
top AS (
  SELECT c.doc_id, c.k, max(c.c * c.L) AS topmass
  FROM cnt c JOIN per ON per.doc_id = c.doc_id AND per.k = c.k
  WHERE c.c = per.maxc GROUP BY c.doc_id, c.k
),
piv AS (
  SELECT p.doc_id,
    {metrics}
  FROM per p LEFT JOIN top t ON t.doc_id = p.doc_id AND t.k = p.k
  GROUP BY p.doc_id
)
SELECT s.doc_id,
       {', '.join(name for name, _ in metric_sql)},
       {gates},
       ({passes}) AS passes_repetition_rules
FROM (SELECT doc_id FROM src) s LEFT JOIN piv USING (doc_id)
ORDER BY s.doc_id"""


def _clusters_sql(threshold: float = 0.8) -> str:
    """dedup_clusters oracle: transitive closure (WITH RECURSIVE
    min-label reachability) over the stop-list-free exact near-dup
    pair graph — the declarative ground truth for the Spark side's
    iterative pointer-jumping label propagation. Deliberately a
    different algorithm: closure-by-recursion cannot share a
    convergence bug with closure-by-doubling."""
    return f"""
WITH RECURSIVE {SHINGLES},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM shingled),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b
  FROM cand
  JOIN shingled x ON x.doc_id = cand.doc_a
  JOIN shingled y ON y.doc_id = cand.doc_b
  WHERE round(len(list_intersect(x.shingles, y.shingles))::DOUBLE
              / len(list_distinct(list_concat(x.shingles, y.shingles))), 6)
        >= {threshold}
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
lab AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       l.doc_id = l.cluster_id AS is_canonical
FROM lab l JOIN sz s USING (cluster_id)
ORDER BY l.doc_id"""


def _simhash_sql(bits: int = 32, max_hamming: int = 3) -> str:
    """GROUND-TRUTH oracle: all-pairs hamming filter (no bucketing).

    Deliberately NOT a mirror of the Spark operator's pigeonhole-block
    LSH — an oracle that replicates the candidate generation would be
    tautological and blind to recall holes. All-pairs is exact and fine
    at sf0.01 in DuckDB; the Spark side's block scheme has provable
    full recall (max_hamming+1 disjoint blocks), so the two agree."""
    h = _MD5_INT.format(expr="s")
    return f"""
WITH {SHINGLES},
sigs AS (
  SELECT doc_id,
         (SELECT coalesce(sum(CASE WHEN bitsum > 0 THEN (1::BIGINT << j) ELSE 0 END), 0)
          FROM (
            SELECT j, list_sum([CASE WHEN (({h}) & (1::BIGINT << j)) > 0
                                     THEN 1 ELSE -1 END for s in shingles]) AS bitsum
            FROM range(0, {bits}) r(j)
          )
         )::BIGINT AS simhash
  FROM shingled
)
SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       bit_count(xor(x.simhash, y.simhash))::INTEGER AS hamming
FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
ORDER BY doc_a, doc_b
"""


def _cvm_latest_zips_sql() -> str:
    """DuckDB twin of html.cvm_latest_zips: identical url derivation,
    last-path-segment name (query intact), RE_ZIP period parse,
    (period DESC, url) stable cut, last-meta-in-sorted-order pick."""
    from forest_open_data_pipelines_spark.operators.html import (
        _CVM_URL_KINDS,
        CVM_BASE_URL,
        CVM_LATEST_MONTHS,
    )

    re_zip = r"(?i)inf_diario_fi_(\d{6})\.zip$"
    return f"""
WITH seeds AS (
  SELECT doc_id, (doc_id % 6 + 2019)::VARCHAR
           || lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') AS ym
  FROM documents
),
urls AS (
  SELECT DISTINCT
    (['{CVM_BASE_URL}inf_diario_fi_' || ym || '.zip',
      '{CVM_BASE_URL}INF_DIARIO_FI_' || ym || '.ZIP',
      '{CVM_BASE_URL}meta_inf_diario_fi.txt',
      '{CVM_BASE_URL}relatorio_' || ym || '.pdf',
      '{CVM_BASE_URL}inf_diario_fi_' || ym || '.zip?download=1'
     ])[(doc_id % {_CVM_URL_KINDS})::INT + 1] AS url
  FROM seeds
),
named AS (SELECT url, string_split(url, '/')[-1] AS name FROM urls),
classified AS (
  SELECT url,
         (lower(name) LIKE '%.txt'
          AND contains(lower(name), 'meta_inf_diario_fi')) AS is_meta,
         nullif(regexp_extract(name, '{re_zip}', 1), '') AS ym
  FROM named
),
zips AS (
  SELECT url, substr(ym, 1, 4) || '-' || substr(ym, 5, 2) AS period
  FROM classified WHERE NOT is_meta AND ym IS NOT NULL
),
kept AS (
  SELECT 'zip' AS kind, period, url,
         row_number() OVER (ORDER BY period DESC, url) AS rn
  FROM zips
),
meta AS (
  SELECT 'meta' AS kind, NULL::VARCHAR AS period, url,
         row_number() OVER (ORDER BY url DESC) AS rn
  FROM classified WHERE is_meta
)
SELECT kind, period, url FROM kept WHERE rn <= {CVM_LATEST_MONTHS}
UNION ALL
SELECT kind, period, url FROM meta WHERE rn = 1
ORDER BY kind, period DESC NULLS LAST, url"""


def _govbr_resource_classify_sql() -> str:
    """DuckDB twin of html.govbr_resource_classify with per-variant
    expectations stated in CLOSED FORM (suffix, kind, period, direct,
    metadata-sort hit) — PERIOD_RE's lookaround guards don't exist in
    RE2, so the oracle never runs the regexes; only the single
    manifest pick is computed structurally (rank window over the PDF
    candidates), mirroring split_manifest_resources."""
    from forest_open_data_pipelines_spark.operators.html import (
        _GOVBR_RESOURCE_KINDS,
        GOVBR_RESOURCE_VARIANTS,
    )

    # (suffix, kind, period, direct, meta_sort_hit) per variant —
    # derived by hand from the reference semantics; a classification
    # change on the Spark side must break the hash compare.
    expect = [
        ("Dados mensais", ".csv", "data", "2021", True, False),
        ("Metadados", ".pdf", "metadata", "current", True, True),
        ("Documentos", ".pdf", "documentation", "current", True, False),
        ("Dados", ".zip", "data", "2020-06", True, False),
        ("", ".html", "data", "current", False, False),
        ("Metadados", ".xlsx", "metadata", "current", True, True),
        ("", ".txt", "data", "2019-12", True, False),
        ("Sobre", ".pdf", "metadata", "current", True, True),
    ]
    rows = ", ".join(
        f"({i}, '{GOVBR_RESOURCE_VARIANTS[i][0]}', '{sec}', '{suf}', '{kind}', "
        f"'{per}', {str(direct).lower()}, {str(hit).lower()})"
        for i, (sec, suf, kind, per, direct, hit) in enumerate(expect)
    )
    return f"""
WITH variants(v, filename, section, suffix, kind, period, direct_download,
              meta_hit) AS (VALUES {rows}),
classified AS (
  SELECT doc_id, filename, section, suffix, kind, period, direct_download,
         meta_hit
  FROM documents
  JOIN variants ON v = (doc_id % {_GOVBR_RESOURCE_KINDS})::INT
),
picked AS (
  SELECT doc_id AS picked_doc_id
  FROM classified
  WHERE suffix = '.pdf' AND kind IN ('metadata', 'documentation')
  ORDER BY CASE WHEN meta_hit THEN 0 ELSE 1 END, filename, doc_id
  LIMIT 1
)
SELECT doc_id, filename, section, suffix, kind, period, direct_download,
       CASE WHEN doc_id = (SELECT picked_doc_id FROM picked)
              THEN 'metadata_file'
            WHEN kind IN ('metadata', 'documentation') THEN 'documentation'
            ELSE 'data' END AS manifest_role
FROM classified ORDER BY doc_id"""


def _curation_sql(tq_sql: str, li_sql: str) -> str:
    """DuckDB twin of curation.corpus_curation, composed from the
    text_quality and lang_id oracle entries verbatim (wrapped as
    subqueries) plus the dedup_exact fingerprint and the
    dedup_embedding cosine — the oracle composes the SAME pieces the
    Spark pipeline composes. The near-dup stage mirrors the operator's
    uncapped banded-LSH candidate generation (the _dedup_embedding_lsh
    precedent: the banding IS the shipped semantics)."""
    from forest_open_data_pipelines_spark.operators.curation import (
        CURATION_COS_THRESHOLD,
        CURATION_MIN_QUALITY,
        CURATION_MIN_TOKENS,
    )
    from forest_open_data_pipelines_spark.operators.dedup import (
        EMB_LSH_BANDS,
        EMB_LSH_PLANES,
    )

    per_band = EMB_LSH_PLANES // EMB_LSH_BANDS
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, "
        f"{_lsh_sig_sql(list(range(b * per_band, (b + 1) * per_band)), 'embedding')}"
        f" AS key FROM pool"
        for b in range(EMB_LSH_BANDS)
    )
    near = f"""banded AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
),
near AS (
  SELECT DISTINCT doc_b AS near_id
  FROM cand JOIN pool a ON a.doc_id = doc_a JOIN pool b ON b.doc_id = doc_b
  WHERE round(list_dot_product(a.emb, b.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(b.emb, b.emb))), 6)
        >= {CURATION_COS_THRESHOLD}
)"""
    return f"""
WITH tq AS (SELECT doc_id, n_tokens, quality_score FROM ({tq_sql})),
li AS (SELECT doc_id, predicted_lang FROM ({li_sql})),
fp AS (SELECT doc_id, md5({LCLEAN}) AS content_fingerprint FROM documents),
base AS (
  SELECT tq.doc_id, n_tokens, quality_score, predicted_lang, content_fingerprint,
         (n_tokens >= {CURATION_MIN_TOKENS}
          AND quality_score >= {CURATION_MIN_QUALITY}) AS quality_ok,
         (predicted_lang != 'unknown') AS lang_ok
  FROM tq JOIN li USING (doc_id) JOIN fp USING (doc_id)
),
canon AS (
  SELECT *, min(CASE WHEN quality_ok AND lang_ok THEN doc_id END)
              OVER (PARTITION BY content_fingerprint) AS canonical_doc_id
  FROM base
),
pool AS (
  SELECT doc_id, embedding, embedding::DOUBLE[] AS emb
  FROM canon JOIN embeddings ON vec_id = doc_id
  WHERE quality_ok AND lang_ok AND doc_id = canonical_doc_id
),
{near}
SELECT doc_id, n_tokens, quality_score, predicted_lang, content_fingerprint,
       CASE WHEN NOT quality_ok THEN 'quality'
            WHEN NOT lang_ok THEN 'lang'
            WHEN doc_id != canonical_doc_id THEN 'exact_dup'
            WHEN near_id IS NOT NULL THEN 'near_dup'
            ELSE 'kept' END AS status
FROM canon LEFT JOIN near ON near_id = doc_id
ORDER BY doc_id"""


def _govbr_freshness_sql() -> str:
    """DuckDB twin of freshness.govbr_freshness_labels with the
    expectations DERIVED INDEPENDENTLY from the doc_id arithmetic (no
    regex re-run): labels, wall-clock timestamps and precisions are
    stated directly per page kind, so the Spark regex pipeline is
    checked against a closed-form derivation."""
    return """
WITH seeds AS (
  SELECT doc_id,
         (doc_id % 27 + 1)::VARCHAR AS d, (doc_id % 27 + 2)::VARCHAR AS d2,
         (doc_id % 12 + 1)::VARCHAR AS m, (doc_id % 4 + 2020)::VARCHAR AS y,
         (doc_id % 23)::VARCHAR AS hh, lpad((doc_id % 60)::VARCHAR, 2, '0') AS mi,
         (doc_id % 5)::INT AS kind
  FROM documents
)
SELECT doc_id,
  CASE WHEN kind = 0 THEN d || '/' || m || '/' || y || ' ' || hh || 'h' || mi
       WHEN kind IN (1, 4) THEN d || '/' || m || '/' || y END AS published_label,
  CASE WHEN kind IN (0, 2) THEN d2 || '/' || m || '/' || y || ' ' || hh || 'h' || mi
       WHEN kind = 4 THEN d2 || '/' || m || '/' || y END AS modified_label,
  CASE WHEN kind = 0 THEN make_timestamp(y::INT, m::INT, d::INT, hh::INT, mi::INT, 0)
       WHEN kind IN (1, 4) THEN make_timestamp(y::INT, m::INT, d::INT, 0, 0, 0)
  END AS published_at,
  CASE WHEN kind = 0 THEN 'datetime' WHEN kind IN (1, 4) THEN 'date'
  END AS published_precision,
  CASE WHEN kind IN (0, 2) THEN make_timestamp(y::INT, m::INT, d2::INT, hh::INT, mi::INT, 0)
       WHEN kind = 4 THEN make_timestamp(y::INT, m::INT, d2::INT, 0, 0, 0)
  END AS modified_at,
  CASE WHEN kind IN (0, 2) THEN 'datetime' WHEN kind = 4 THEN 'date'
  END AS modified_precision
FROM seeds ORDER BY doc_id"""


def _route_nearest_query_sql() -> str:
    """DuckDB twin of similarity.route_nearest_query — argmax over
    integer micro-cosines (0-dp round, the boundary-safe class),
    lowest query_id on ties, no best query when every cosine is NULL
    (a zero-norm vector); the query-set size and threshold import
    from the operator module so the twins cannot desynchronize."""
    from forest_open_data_pipelines_spark.operators.similarity import (
        ROUTE_N_QUERIES,
        ROUTE_THRESHOLD_MICRO,
    )

    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS q_norm
  FROM embeddings WHERE vec_id < {ROUTE_N_QUERIES}
),
c AS (
  SELECT vec_id, embedding::DOUBLE[] AS c_emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS c_norm
  FROM embeddings WHERE vec_id >= {ROUTE_N_QUERIES}
),
scored AS (
  SELECT c.vec_id, q.query_id,
         round(list_dot_product(c.c_emb, q.q_emb)
               / (c.c_norm * q.q_norm) * 1000000.0, 0)::BIGINT AS cm
  FROM c CROSS JOIN q
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY vec_id ORDER BY cm DESC, query_id) AS rnk
  FROM scored
)
SELECT s.vec_id,
       max(CASE WHEN rnk = 1 AND cm IS NOT NULL THEN query_id END)::INT
         AS best_query_id,
       max(CASE WHEN rnk = 1 THEN cm END) / 1000000.0 AS best_cosine,
       sum(CASE WHEN cm >= {ROUTE_THRESHOLD_MICRO} THEN 1 ELSE 0 END)::INT
         AS n_above_threshold
FROM ranked s GROUP BY s.vec_id ORDER BY s.vec_id"""


def _freshness_watch_signals_sql() -> str:
    """DuckDB twin of freshness.freshness_watch_signals, CLOSED FORM:
    methods, UTC timestamps (offset arithmetic in integer micros, no
    tz database) and precisions are derived directly from the doc_id
    residues per kind — the Spark regex/coalesce chain is checked
    against an independent derivation, the _govbr_freshness_sql
    convention."""
    return """
WITH seeds AS (
  SELECT doc_id,
         (doc_id % 28 + 1)::INT AS d, (doc_id % 12 + 1)::INT AS mo,
         (doc_id % 6 + 2020)::INT AS y,
         (doc_id % 24)::INT AS hh, (doc_id % 60)::INT AS mi,
         ((doc_id * 7) % 60)::INT AS ss,
         (doc_id % 3 + 1)::INT AS offh, (doc_id % 23)::INT AS gh,
         (doc_id % 9)::INT AS kind,
         (['Jan','Feb','Mar','Apr','May','Jun',
           'Jul','Aug','Sep','Oct','Nov','Dec'])[(doc_id % 12 + 1)::INT]
           AS mon
  FROM documents
),
built AS (
  SELECT *,
    make_timestamp(y, mo, d, hh, mi, ss) AS base,
    'Tue, ' || d || ' ' || mon || ' ' || y || ' '
      || lpad(hh::VARCHAR, 2, '0') || ':' || lpad(mi::VARCHAR, 2, '0')
      || ':' || lpad(ss::VARCHAR, 2, '0') AS rfc,
    y || '-' || lpad(mo::VARCHAR, 2, '0') || '-' || lpad(d::VARCHAR, 2, '0')
      || 'T' || lpad(hh::VARCHAR, 2, '0') || ':' || lpad(mi::VARCHAR, 2, '0')
      || ':' || lpad(ss::VARCHAR, 2, '0') AS iso,
    'Atualizado em ' || d || '/' || mo || '/' || y AS page_label
  FROM seeds
)
SELECT doc_id,
  CASE WHEN kind <= 2 THEN 'http_last_modified'
       WHEN kind <= 5 THEN 'manifest_profiled_at'
       WHEN kind = 6 THEN 'anp_resource_updated_label'
       WHEN kind = 7 THEN 'anp_page_modified_label' END AS method,
  CASE WHEN kind = 0 OR kind = 3 OR kind = 5 THEN base
       WHEN kind = 1 OR kind = 4
         THEN make_timestamp(epoch_us(base) - offh::BIGINT * 3600000000)
       WHEN kind = 2
         THEN make_timestamp(epoch_us(base) + offh::BIGINT * 3600000000)
       WHEN kind = 6 THEN make_timestamp(y, mo, d, gh, mi, 0)
       WHEN kind = 7 THEN make_timestamp(y, mo, d, 0, 0, 0) END
    AS source_modified_at,
  CASE WHEN kind <= 5 THEN 'datetime'
       WHEN kind = 6 THEN 'datetime'
       WHEN kind = 7 THEN 'date' END AS precision,
  CASE WHEN kind = 0 THEN rfc || ' GMT'
       WHEN kind = 1 THEN rfc || ' +0' || offh || '00'
       WHEN kind = 2 THEN rfc || ' -0' || offh || '00'
       WHEN kind = 3 THEN iso || 'Z'
       WHEN kind = 4 THEN iso || '+0' || offh || ':00'
       WHEN kind = 5 THEN iso
       WHEN kind = 6 THEN page_label || ' ' || gh || 'h'
                          || lpad(mi::VARCHAR, 2, '0')
       WHEN kind = 7 THEN page_label END AS raw_label,
  CASE WHEN kind = 8 THEN 'no freshness signal' ELSE '' END AS warning
FROM built ORDER BY doc_id"""


def _mensal_links_sql() -> str:
    """DuckDB twin of html.mensal_links: identical anchor derivation,
    raw-href filename (queries NOT stripped), RE_MENSAL parse, urljoin
    specialization, keep-LAST-per-yyyymm dedupe, yyyymm sort."""
    from forest_open_data_pipelines_spark.operators.html import (
        MENSAL_BASE_URL,
        PAINEL_HOST,
        RE_MENSAL,
    )

    return f"""
WITH seeds AS (
  SELECT doc_id, (doc_id % 6 + 2019)::VARCHAR AS yyyy,
         (doc_id % 6 + 2019)::VARCHAR || lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') AS ym
  FROM documents
),
anchors AS (
  SELECT doc_id,
    ([ 'focos_mensal_br_' || ym || '.csv',
       'focos_mensal_br_' || ym || '.zip',
       '/queimadas/focos/mensal/focos_mensal_br_' || ym || '.CSV',
       'https://mirror.example/mensal/FOCOS_MENSAL_BR_' || ym || '.csv',
       'focos_mensal_br_' || ym || '.txt',
       'focos_mensal_br_' || ym || '.csv?download=1',
       'focos_mensal_br_' || yyyy || '13.csv'
     ])[(doc_id % 7)::INT + 1] AS href
  FROM seeds
),
named AS (
  SELECT doc_id, href, string_split(href, '/')[-1] AS fname FROM anchors
),
matched AS (
  SELECT doc_id,
         nullif(regexp_extract(fname, '{RE_MENSAL}', 1), '')::INT AS yyyymm,
         fname AS filename,
         CASE WHEN regexp_matches(href, '^[a-z][a-z0-9+.-]*://') THEN href
              WHEN starts_with(href, '/') THEN '{PAINEL_HOST}' || href
              ELSE '{MENSAL_BASE_URL}' || href END AS url
  FROM named
  WHERE nullif(regexp_extract(fname, '{RE_MENSAL}', 1), '') IS NOT NULL
),
deduped AS (
  SELECT *, row_number() OVER (PARTITION BY yyyymm ORDER BY doc_id DESC) AS rn
  FROM matched
)
SELECT yyyymm, (yyyymm // 100)::INT AS year, (yyyymm % 100)::INT AS month,
       filename, url
FROM deduped WHERE rn = 1 ORDER BY yyyymm"""


def _anp_panel_payloads_sql() -> str:
    """DuckDB twin of social.anp_panel_payloads: identical monthly
    both-positive metric derivation (round-2 before every ratio),
    latest-month per-nation shares, and the fallback-text string
    assembly (printf of pre-rounded 1-dp values — pre-rounding keeps
    C printf and the Java formatter off tie inputs)."""
    from forest_open_data_pipelines_spark.operators.social import (
        ANP_GAS_PRIORITY,
        ANP_PANEL_TITLES,
        ANP_PETRO_PRIORITY,
        MONTH_LABELS_PT,
    )

    labels = "[" + ", ".join(f"'{x}'" for x in MONTH_LABELS_PT) + "]"

    def pct(new: str, old: str) -> str:
        return (
            f"CASE WHEN {old} = 0 THEN NULL "
            f"ELSE round(({new} / {old} - 1.0) * 100.0, 2) END"
        )

    def fp(col: str) -> str:
        r = f"round({col}, 1)"
        return (
            f"CASE WHEN {col} IS NULL THEN 'n/d' "
            f"WHEN {r} = 0 THEN '+0.0%' "
            f"WHEN {r} > 0 THEN '+' || printf('%.1f', {r}) || '%' "
            f"ELSE printf('%.1f', {r}) || '%' END"
        )

    def compact(col: str, unit: str) -> str:
        return f"printf('%.1f', round({col} / 1000000.0, 1)) || ' {unit}'"

    def share_ctes(prio: str, pre: str) -> str:
        return f"""
sh_{pre} AS (
  SELECT n_name, round(sum(o_totalprice), 2) AS value
  FROM enriched, latest
  WHERE o_orderpriority = '{prio}'
    AND date_trunc('month', o_orderdate)::DATE = latest_period
  GROUP BY n_name HAVING round(sum(o_totalprice), 2) > 0
),
ranked_{pre} AS (
  SELECT n_name, round(value / sum(value) OVER () * 100.0, 2) AS share,
         row_number() OVER (ORDER BY value DESC, n_name) AS rank
  FROM sh_{pre}
),
sum_{pre} AS (
  SELECT count(*) AS {pre}_n,
         max(CASE WHEN rank = 1 THEN n_name END) AS {pre}_uf1,
         max(CASE WHEN rank = 1 THEN share END) AS {pre}_p1,
         max(CASE WHEN rank = 2 THEN n_name END) AS {pre}_uf2,
         max(CASE WHEN rank = 2 THEN share END) AS {pre}_p2
  FROM ranked_{pre}
)"""

    def uft(pre: str) -> str:
        p1 = f"printf('%.1f', round({pre}_p1, 1))"
        p2 = f"printf('%.1f', round({pre}_p2, 1))"
        return (
            f"CASE WHEN {pre}_n >= 2 THEN {pre}_uf1 || ' lidera o recorte com ' "
            f"|| {p1} || '% do total. ' || {pre}_uf2 "
            f"|| ' aparece em seguida, com ' || {p2} "
            f"|| '%. A produção segue concentrada, com baixa dispersão "
            f"entre os demais estados.' "
            f"WHEN {pre}_n = 1 THEN {pre}_uf1 || ' concentra ' || {p1} "
            f"|| '% do total no último mês disponível.' "
            f"ELSE 'Sem dados estaduais positivos no último mês comum da série.' "
            f"END"
        )

    national = (
        f"'Em ' || {labels}[month(period)] || ' ' || year(period)::VARCHAR "
        f"|| ', petróleo somou ' || {compact('a', 'mi m3')} "
        f"|| ' (' || {fp('a_mom')} || ' MoM, ' || {fp('a_yoy')} "
        f"|| ' YoY). Gás natural atingiu ' || {compact('b', 'bi m3')} "
        f"|| ' (' || {fp('b_mom')} || ' MoM, ' || {fp('b_yoy')} || ' YoY).'"
    )
    t = ANP_PANEL_TITLES
    return f"""
WITH enriched AS (
  SELECT o_orderdate, o_orderpriority, o_totalprice, n_name
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
),
m AS (
  SELECT date_trunc('month', o_orderdate)::DATE AS period,
         round(sum(CASE WHEN o_orderpriority = '{ANP_PETRO_PRIORITY}'
                        THEN o_totalprice END), 2) AS a,
         round(sum(CASE WHEN o_orderpriority = '{ANP_GAS_PRIORITY}'
                        THEN o_totalprice END), 2) AS b
  FROM enriched GROUP BY 1
),
pos AS (SELECT * FROM m WHERE a > 0 AND b > 0),
combo AS (
  SELECT period, a, b,
         lag(period) OVER (ORDER BY period) AS previous_period,
         lag(a) OVER (ORDER BY period) AS prev_a,
         lag(b) OVER (ORDER BY period) AS prev_b
  FROM pos
),
latest AS (SELECT max(period) AS latest_period FROM combo),
cur AS (SELECT combo.* FROM combo, latest WHERE period = latest_period),
metrics AS (
  SELECT cur.period, cur.previous_period, y.period AS yoy_period,
         cur.a, cur.b,
         {pct('cur.a', 'cur.prev_a')} AS a_mom,
         {pct('cur.b', 'cur.prev_b')} AS b_mom,
         {pct('cur.a', 'y.a')} AS a_yoy,
         {pct('cur.b', 'y.b')} AS b_yoy
  FROM cur JOIN pos y ON (cur.period - INTERVAL 12 MONTH)::DATE = y.period
),{share_ctes(ANP_PETRO_PRIORITY, 'pa')},{share_ctes(ANP_GAS_PRIORITY, 'ga')},
base AS (SELECT * FROM metrics, sum_pa, sum_ga)
SELECT panel, title,
       strftime(period, '%Y-%m-%d') AS latest_period,
       strftime(previous_period, '%Y-%m-%d') AS previous_period,
       strftime(yoy_period, '%Y-%m-%d') AS yoy_period,
       fallback_text
FROM (
  SELECT 'national' AS panel, '{t["national"]}' AS title,
         period, previous_period, yoy_period, {national} AS fallback_text
  FROM base
  UNION ALL
  SELECT 'petroleo_uf', '{t["petroleo_uf"]}',
         period, previous_period, yoy_period, {uft('pa')} FROM base
  UNION ALL
  SELECT 'gas_uf', '{t["gas_uf"]}',
         period, previous_period, yoy_period, {uft('ga')} FROM base
)
ORDER BY panel"""


def _anp_prompt_texts_sql() -> str:
    """DuckDB twin of social.anp_prompt_texts: the payload frame (the
    ``anp_panel_payloads`` oracle verbatim as a CTE) projected through
    the reference's graphic-text prompt template — fixed system
    string, "Escopo do slide: {scope}." user head, indent-2 JSON block
    over the frame's columns in common-fields-then-panel order, same
    minimal backslash-then-quote escape chain as the Spark side."""
    from forest_open_data_pipelines_spark.operators.social import (
        ANP_GT_USER_HEAD,
        ANP_GT_USER_MID,
        ANP_SOURCE_URL,
        ANP_SYSTEM_GRAPHIC_TEXT,
    )

    def esc(col: str) -> str:
        # DuckDB single-quoted literals are escape-blind: '\' is one
        # backslash, '\\' two, '\"' backslash+quote.
        return f"replace(replace({col}, '\\', '\\\\'), '\"', '\\\"')"

    nl = "chr(10)"
    parts: list[str] = [f"'{{' || {nl}"]
    fields = [
        ("source", f"'{ANP_SOURCE_URL}'"),
        ("latest_period", "latest_period"),
        ("previous_period", "previous_period"),
        ("yoy_period", "yoy_period"),
        ("panel", "panel"),
        ("title", esc("title")),
        ("fallback_text", esc("fallback_text")),
    ]
    for i, (name, value) in enumerate(fields):
        comma = "" if i == len(fields) - 1 else ","
        parts.append(
            f"'  \"{name}\": \"' || {value} || '\"{comma}' || {nl}"
        )
    parts.append("'}'")
    block = " || ".join(parts)
    system_lit = ANP_SYSTEM_GRAPHIC_TEXT.replace("'", "''")
    head_lit = ANP_GT_USER_HEAD.replace("'", "''")
    mid_lit = ANP_GT_USER_MID.replace("'", "''").replace("\n", "' || chr(10) || '")
    return f"""
WITH payloads AS ({_anp_panel_payloads_sql()})
SELECT panel AS scope_slug,
       '{system_lit}' AS system_prompt,
       '{head_lit}' || panel || '{mid_lit}' || {block} AS user_prompt
FROM payloads
ORDER BY scope_slug"""


def _chart_spec_scoped_sql() -> str:
    """DuckDB twin of social.monthly_chart_spec_scoped: one GROUPING
    SETS aggregation for the national + per-region grains, latest
    (year, month) reference point, 48-row scope×month spine, NULL
    current values past the last closed month."""
    from forest_open_data_pipelines_spark.operators.social import (
        CAROUSEL_SCOPES,
        MONTH_LABELS_PT,
        NATIONAL_SLUG,
        _scope_label_pt,
        _scope_slug,
    )

    scope_rows = ", ".join(
        f"('{_scope_slug(s)}', '{_scope_label_pt(s)}', "
        f"'{NATIONAL_SLUG if s is None else s}')"
        for s in CAROUSEL_SCOPES
    )
    wanted = ", ".join(
        f"'{NATIONAL_SLUG if s is None else s}'" for s in CAROUSEL_SCOPES
    )
    labels = "[" + ", ".join(f"'{x}'" for x in MONTH_LABELS_PT) + "]"
    return f"""
WITH {ENRICHED},
agg AS (
  SELECT CASE WHEN GROUPING(r_name) = 1 THEN '{NATIONAL_SLUG}' ELSE r_name END AS scope,
         year(o_orderdate)::INT AS year, month(o_orderdate)::INT AS month,
         count(*) AS n
  FROM enriched
  GROUP BY GROUPING SETS ((year, month), (r_name, year, month))
),
wanted AS (SELECT * FROM agg WHERE scope IN ({wanted})),
ref AS (
  SELECT year AS current_year, month - 1 AS last_closed
  FROM wanted WHERE scope = '{NATIONAL_SLUG}'
  ORDER BY year DESC, month DESC LIMIT 1
),
piv AS (
  SELECT scope, month,
         sum(CASE WHEN year = current_year THEN n END) AS cur,
         sum(CASE WHEN year = current_year - 1 THEN n END) AS prev,
         avg(CASE WHEN year BETWEEN current_year - 5 AND current_year - 1
                  THEN n END) AS avg5
  FROM wanted, ref GROUP BY scope, month
),
scopes(scope_slug, scope_label, scope) AS (VALUES {scope_rows}),
spine AS (
  SELECT scope_slug, scope_label, scope, r.j::INT AS month,
         current_year, last_closed
  FROM scopes, range(1, 13) r(j), ref
)
SELECT scope_slug, scope_label, month,
       {labels}[month] AS month_label,
       CASE WHEN month <= last_closed THEN coalesce(cur, 0)::BIGINT END
         AS current_value,
       coalesce(prev, 0)::BIGINT AS previous_value,
       round(coalesce(avg5, 0.0), 6) AS avg_5y,
       last_closed::INT AS last_closed_month,
       CASE WHEN last_closed BETWEEN 1 AND 12
            THEN {labels}[last_closed] || ' ' || current_year::VARCHAR
            ELSE current_year::VARCHAR END AS published_at_label
FROM spine LEFT JOIN piv USING (scope, month)
ORDER BY scope_slug, month"""


def _payload_merge_sql(by_region: bool = False) -> str:
    """DuckDB twin of social.payload_merge_dedupe (and its by-region
    sibling): identical three-way payload fan-out (own file, perturbed
    duplicate copy, previous-year spillover), inferred-year trim
    (national path only — the reference trims monthly_all, not
    monthly_by_biome), keep-first rank dedupe in file order."""
    from forest_open_data_pipelines_spark.operators.social import (
        PAYLOAD_COPY_PERTURBATION as PERT,
    )

    if by_region:
        base = """
byregion AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS period, r_name, count(*) AS n_orders
  FROM enriched GROUP BY 1, 2
),
base AS (
  SELECT period, substr(period, 1, 4)::INT AS year,
         CASE WHEN substr(period, 6, 2)::INT % 2 = 0 THEN lower(r_name)
              ELSE '  ' || r_name || ' ' END AS biome,
         n_orders::BIGINT AS value
  FROM byregion
)"""
        carry, trim, match = (
            "biome, ",
            "",
            "WHERE trim(upper(biome)) = 'AMERICA'",
        )
        prelude = f"WITH {ENRICHED}, {base}"
    else:
        base = """
base AS (
  SELECT period, substr(period, 1, 4)::INT AS year, n_orders::BIGINT AS value
  FROM monthly
)"""
        carry, trim, match = "", "WHERE year = inferred_year", ""
        prelude = f"WITH {ENRICHED}, {MONTHLY}, {base}"
    return f"""
{prelude},
payloads AS (
  SELECT period, year, {carry}year * 2 AS file_rank, year AS inferred_year, value
  FROM base
  UNION ALL
  SELECT period, year, {carry}year * 2 + 1, year, value + {PERT} FROM base
  UNION ALL
  SELECT period, year, {carry}(year - 1) * 2, year - 1, value FROM base
),
deduped AS (
  SELECT period, year, value,
         row_number() OVER (PARTITION BY period, year ORDER BY file_rank) AS rn
  FROM payloads {match or trim}
)
SELECT period, year, value FROM deduped WHERE rn = 1 ORDER BY period, year"""


def _payload_merge_scoped_sql() -> str:
    """payload_merge_dedupe_scoped oracle: the national merge (with
    trim) unioned with every carousel biome's merge, dedupe partitioned
    by (scope, period, year)."""
    from forest_open_data_pipelines_spark.operators.social import (
        PAYLOAD_COPY_PERTURBATION as PERT,
    )

    return f"""
WITH {ENRICHED}, {MONTHLY},
basenat AS (
  SELECT period, substr(period, 1, 4)::INT AS year, n_orders::BIGINT AS value
  FROM monthly
),
paynat AS (
  SELECT period, year, year * 2 AS file_rank, year AS inferred_year, value
  FROM basenat
  UNION ALL
  SELECT period, year, year * 2 + 1, year, value + {PERT} FROM basenat
  UNION ALL
  SELECT period, year, (year - 1) * 2, year - 1, value FROM basenat
),
nat AS (
  SELECT 'nacional' AS scope_slug, period, year, value,
         row_number() OVER (PARTITION BY period, year ORDER BY file_rank) AS rn
  FROM paynat WHERE year = inferred_year
),
byregion AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS period, r_name, count(*) AS n_orders
  FROM enriched GROUP BY 1, 2
),
basereg AS (
  SELECT period, substr(period, 1, 4)::INT AS year,
         CASE WHEN substr(period, 6, 2)::INT % 2 = 0 THEN lower(r_name)
              ELSE '  ' || r_name || ' ' END AS biome,
         n_orders::BIGINT AS value
  FROM byregion
),
payreg AS (
  SELECT period, year, biome, year * 2 AS file_rank, value FROM basereg
  UNION ALL
  SELECT period, year, biome, year * 2 + 1, value + {PERT} FROM basereg
  UNION ALL
  SELECT period, year, biome, (year - 1) * 2, value FROM basereg
),
reg AS (
  SELECT replace(lower(trim(upper(biome))), ' ', '-') AS scope_slug,
         period, year, value,
         row_number() OVER (
           PARTITION BY trim(upper(biome)), period, year ORDER BY file_rank
         ) AS rn
  FROM payreg
  WHERE trim(upper(biome)) IN ('AMERICA', 'ASIA', 'EUROPE')
)
SELECT scope_slug, period, year, value FROM nat WHERE rn = 1
UNION ALL
SELECT scope_slug, period, year, value FROM reg WHERE rn = 1
ORDER BY scope_slug, period, year"""


def _simhash64_sql(max_hamming: int | None = None) -> str:
    """GROUND-TRUTH oracle for the 64-bit simhash variant: all-pairs
    hamming filter (no bucketing — same rationale as ``_simhash_sql``).
    Default budget follows the operator's promoted
    SIMHASH64_MAX_HAMMING (h=7, the measured-P/R round-6 promotion).
    Bit j < 32 tests bit j of md5(s); bit j ≥ 32 tests bit j-32 of the
    independent md5('#' || s) stream. Signature-bit values come from a
    VALUES table of precomputed decimal literals because DuckDB's
    ``1::BIGINT << 63`` raises Out of Range — bit 63 is the min-long
    two's-complement literal, exactly the signed value Spark sums."""
    from forest_open_data_pipelines_spark.operators.dedup import (
        SIMHASH64_MAX_HAMMING,
        _simhash_bit_value,
    )

    if max_hamming is None:
        max_hamming = SIMHASH64_MAX_HAMMING
    h1 = _MD5_INT.format(expr="s")
    h2 = _MD5_INT.format(expr="'#' || s")
    def lit(v: int) -> str:
        # min long must be written value-safe: '-9223372036854775808'
        # parses as unary-minus applied AFTER the (overflowing) cast
        return f"({v + 1}::BIGINT - 1)" if v == -(1 << 63) else f"{v}::BIGINT"

    rows = ", ".join(
        f"({j}, {lit(_simhash_bit_value(j))}, "
        f"{1 << (j if j < 32 else j - 32)}::BIGINT, {str(j >= 32).lower()})"
        for j in range(64)
    )
    return f"""
WITH {SHINGLES},
bits(j, bitval, checkmask, use2) AS (VALUES {rows}),
sigs AS (
  SELECT doc_id,
         (SELECT coalesce(sum(CASE WHEN bitsum > 0 THEN bitval ELSE 0 END), 0)
          FROM (
            SELECT bitval,
                   list_sum([CASE WHEN (((CASE WHEN use2 THEN {h2} ELSE {h1} END)
                                         & checkmask)) > 0
                                  THEN 1 ELSE -1 END for s in shingles]) AS bitsum
            FROM bits
          )
         )::BIGINT AS simhash
  FROM shingled
)
SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       bit_count(xor(x.simhash, y.simhash))::INTEGER AS hamming
FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
ORDER BY doc_a, doc_b
"""


def _lsh_plane_sql(p: int, emb: str, dim: int = 64) -> str:
    w = _MD5_INT.format(expr=f"'plane{p}#' || i::VARCHAR")
    return (
        f"list_sum([{emb}[i+1]::DOUBLE * ((({w}) % 2001 - 1000) / 1000.0) "
        f"for i in range(0, {dim})])"
    )


def _lsh_sig_sql(planes: list[int], emb: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN ({_lsh_plane_sql(p, emb)}) > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    return f"({terms})"


def _dedup_embedding_lsh_sql(threshold: float = 0.45, n_planes: int | None = None, bands: int | None = None) -> str:
    """LSH-bucketed embedding dedup twin: same deterministic hyperplane
    band signatures as the Spark operator (the banding IS the operator's
    semantics; recall vs the exact all-pairs variant is pytest-asserted),
    including the over-full-bucket stop-list (anti-join against buckets
    past EMB_LSH_MAX_BUCKET — binds only on duplicate-heavy input)."""
    from forest_open_data_pipelines_spark.operators.dedup import (
        EMB_LSH_BANDS,
        EMB_LSH_MAX_BUCKET,
        EMB_LSH_PLANES,
    )

    n_planes = EMB_LSH_PLANES if n_planes is None else n_planes
    bands = EMB_LSH_BANDS if bands is None else bands
    per_band = n_planes // bands
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band, "
        f"{_lsh_sig_sql(list(range(b * per_band, (b + 1) * per_band)), 'embedding')} AS key "
        f"FROM embeddings"
        for b in range(bands)
    )
    return f"""
WITH banded0 AS (
{band_selects}
),
hot AS (
  SELECT band, key FROM banded0 GROUP BY band, key
  HAVING count(*) > {EMB_LSH_MAX_BUCKET}
),
banded AS (
  SELECT b.* FROM banded0 b ANTI JOIN hot h
    ON b.band = h.band AND b.key = h.key
),
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
scored AS (
  SELECT vec_a, vec_b,
         round(list_dot_product(a.emb, b.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
  FROM cand JOIN e a ON a.vec_id = vec_a JOIN e b ON b.vec_id = vec_b
)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= {threshold}
ORDER BY vec_a, vec_b
"""


def _ann_lsh_sql(n_queries: int = 8, k: int = 10, n_planes: int | None = None, bands: int | None = None) -> str:
    from forest_open_data_pipelines_spark.operators.similarity import (
        ANN_LSH_BANDS,
        ANN_LSH_PLANES,
    )

    n_planes = ANN_LSH_PLANES if n_planes is None else n_planes
    bands = ANN_LSH_BANDS if bands is None else bands
    per_band = n_planes // bands
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, embedding, {b} AS band, "
        f"{_lsh_sig_sql(list(range(b * per_band, (b + 1) * per_band)), 'embedding')} AS key "
        f"FROM embeddings"
        for b in range(bands)
    )
    return f"""
WITH banded AS (
{band_selects}
),
scored AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id,
         round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6)
           AS cosine
  FROM banded q JOIN banded c ON q.band = c.band AND q.key = c.key
  WHERE q.vec_id < {n_queries} AND c.vec_id <> q.vec_id
)
SELECT query_id, cand_id, cosine,
       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id)::INTEGER AS rank
FROM scored
QUALIFY rank <= {k}
ORDER BY query_id, rank
"""


def _stop_list() -> str:
    return ", ".join(f"'{w}'" for w in EN_STOPWORDS)


def _social_text_normalize_sql() -> str:
    """normalize_visible_text twin, generated from the SAME accent map
    the Spark operator chains (textops.PT_ACCENT_REPLACEMENTS). RE2 has
    no \\p{{Cs}} class; well-formed UTF-8 has no lone surrogates, so
    dropping it from the oracle pattern cannot change the output."""
    expr = (
        "'\U0001f525 Analise diaria – regiao: ' || '12.5% ' || " + CLEAN
    )
    expr = (
        r"regexp_replace(" + expr + r", "
        r"'[\p{So}\p{Sk}\x{1F300}-\x{1FAFF}]', '', 'g')"
    )
    expr = r"trim(regexp_replace(" + expr + r", '\s{2,}', ' ', 'g'))"
    for src, dst in PT_ACCENT_REPLACEMENTS:
        expr = (
            "regexp_replace(" + expr + ", '(?i)\\b" + src + "\\b', '"
            + dst + "', 'g')"
        )
    expr = r"regexp_replace(" + expr + r", '\s*[–—]\s*', ': ', 'g')"
    expr = r"regexp_replace(" + expr + r", '(\d+)\.(\d+)%', '\1,\2%', 'g')"
    return (
        "SELECT doc_id, " + expr + " AS normalized FROM documents ORDER BY doc_id"
    )


def _ivf_seed_cte(n_cells: int, name: str = "cent") -> str:
    """The IVF seed-centroid CTE every IVF twin shares: the first
    ``n_cells`` non-zero vectors by vec_id as cells keyed by their
    vec_id (similarity._train_ivf_centroids). Reads ``e(vec_id, emb)``."""
    return (
        f"{name} AS (SELECT vec_id AS cell_id, emb AS cent FROM e"
        f" WHERE list_dot_product(emb, emb) > 0 ORDER BY vec_id LIMIT {n_cells})"
    )


def _ann_ivf_sql(
    n_queries: int = 8,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    dim: int = 64,
    kmeans_iters: int = 0,
) -> str:
    """DuckDB twin of similarity.ann_topk_ivf with the k-means-trained
    coarse quantizer: the same fixed IVF_KMEANS_ITERS Lloyd passes
    (cosine assignment with lowest-cell-id tie-break, per-dimension
    means rounded to 6 decimals, empty cells keep the prior centroid),
    then the probe/score/rank pipeline. Cell-assignment cosines round
    to 9 dp before the argmax on both engines (ADVICE r4: an unrounded
    ~1e-16 near-tie between the Catalyst fold and list_dot_product
    would flip an assignment and cascade through training)."""
    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))"
        )

    def acos(a: str, b: str) -> str:
        return f"round({cos(a, b)}, 9)"

    iters = []
    for i in range(1, kmeans_iters + 1):
        prev, cur = f"cent{i - 1}", f"cent{i}"
        iters.append(f"""
a{i} AS (
  SELECT vec_id, emb, cell_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY {acos("emb", "cent")} DESC, cell_id) AS rnk
  FROM e CROSS JOIN {prev}
),
m{i} AS (
  SELECT cell_id, r.j AS pos, round(avg(emb[r.j + 1]), 6) AS m
  FROM (SELECT * FROM a{i} WHERE rnk = 1) x, range({dim}) r(j)
  GROUP BY cell_id, r.j
),
v{i} AS (SELECT cell_id, list(m ORDER BY pos) AS cent FROM m{i} GROUP BY cell_id),
{cur} AS (
  SELECT p.cell_id, coalesce(v.cent, p.cent) AS cent
  FROM {prev} p LEFT JOIN v{i} v USING (cell_id)
)""")
    final = f"cent{kmeans_iters}"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
{_ivf_seed_cte(n_cells, "cent0")}{"," + ",".join(iters) + "," if iters else ","}
assign AS (
  SELECT vec_id, emb, cell_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY {acos("emb", "cent")} DESC, cell_id) AS cell_rank
  FROM e CROSS JOIN {final}
),
cands AS (SELECT vec_id AS cand_id, emb AS c_emb, cell_id FROM assign WHERE cell_rank = 1),
probes AS (
  SELECT vec_id AS query_id, emb AS q_emb, cell_id
  FROM assign WHERE vec_id < {n_queries} AND cell_rank <= {n_probe}
),
scored AS (
  SELECT DISTINCT query_id, cand_id,
         round({cos("q_emb", "c_emb")}, 6) AS cosine
  FROM probes JOIN cands USING (cell_id)
  WHERE cand_id <> query_id
)
SELECT query_id, cand_id, cosine,
       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id)::INTEGER
         AS rank
FROM scored QUALIFY rank <= {k} ORDER BY query_id, rank"""


def _ngram_containment_sql(threshold: float = 0.9) -> str:
    """DuckDB twin of dedup.dedup_containment: candidates from shared
    COLD shingles (the identical greatest(2, max_df·n_docs) stop-list),
    exact verify over the FULL shingle sets, scored as
    |A∩B| / min(|A|, |B|)."""
    from forest_open_data_pipelines_spark.operators.dedup import NGRAM_MAX_DF

    return f"""
WITH {SHINGLES},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM shingled),
nd AS (SELECT count(*) AS n_docs FROM shingled),
cold AS (
  SELECT s FROM ex, nd GROUP BY s, n_docs
  HAVING count(*) <= greatest(2.0, {NGRAM_MAX_DF} * n_docs)
),
colded AS (SELECT doc_id, s FROM ex JOIN cold USING (s)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM colded a JOIN colded b ON a.s = b.s AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT doc_a, doc_b,
         len(list_intersect(x.shingles, y.shingles)) AS common,
         len(x.shingles) AS n_a, len(y.shingles) AS n_b
  FROM cand
  JOIN shingled x ON x.doc_id = cand.doc_a
  JOIN shingled y ON y.doc_id = cand.doc_b
)
SELECT doc_a, doc_b,
       round(common::DOUBLE / least(n_a, n_b), 6) AS containment
FROM pairs
WHERE round(common::DOUBLE / least(n_a, n_b), 6) >= {threshold}
ORDER BY doc_a, doc_b"""


def _region_rank_sql() -> str:
    """DuckDB twin of social.region_rank: identical estado-variant
    derivation, translate-based accent strip, UF∪name lookup table,
    'Não identificada' fallback, count-desc/label rank."""
    from forest_open_data_pipelines_spark.operators.social import (
        ESTADO_VARIANTS,
        STATE_REGION_BY_NAME,
        STATE_REGION_BY_UF,
        STATE_TRANSLATE_DST,
        STATE_TRANSLATE_SRC,
        UNIDENTIFIED_REGION,
    )

    lookup = {**STATE_REGION_BY_UF, **STATE_REGION_BY_NAME}
    lookup_rows = ", ".join(f"('{k}', '{v}')" for k, v in sorted(lookup.items()))
    variants = ", ".join("'" + v.replace("'", "''") + "'" for v in ESTADO_VARIANTS)
    return f"""
WITH detections AS (
  SELECT ([{variants}])[(event_id % {len(ESTADO_VARIANTS)})::INT + 1] AS estado
  FROM events
), lookup(k, region) AS (VALUES {lookup_rows}),
labeled AS (
  SELECT coalesce(region, '{UNIDENTIFIED_REGION}') AS label
  FROM detections LEFT JOIN lookup
    ON trim(regexp_replace(upper(translate(estado, '{STATE_TRANSLATE_SRC}', '{STATE_TRANSLATE_DST}')),
                           '\\s+', ' ', 'g')) = k
)
SELECT label, count(*) AS value,
       row_number() OVER (ORDER BY count(*) DESC, label) AS rank
FROM labeled GROUP BY label ORDER BY rank"""


def _painel_pdf_links_sql() -> str:
    """DuckDB twin of html.painel_pdf_links: identical href-variant
    derivation, urljoin specialization, query-strip filename, and the
    reference's RE_PAINEL_PDF groups (1 = month, 2 = year)."""
    from forest_open_data_pipelines_spark.operators.html import (
        PAINEL_BASE_URL,
        PAINEL_HOST,
    )

    pat = r"(?i)Painel_Qmd_(0[1-9]|1[0-2])_((?:19|20)\d{2})\.pdf$"
    month = f"regexp_extract(filename, '{pat}', 1)"
    year = f"regexp_extract(filename, '{pat}', 2)"
    return f"""
WITH anchors AS (
  SELECT doc_id,
    ([ 'Painel_Qmd_' || mm || '_' || yyyy || '.pdf',
       yyyy || '/Painel_Qmd_' || mm || '_' || yyyy || '.pdf',
       '/queimadas/portal/Painel_Qmd_' || mm || '_' || yyyy || '.PDF',
       'https://mirror.example/painel/Painel_qmd_' || mm || '_' || yyyy || '.pdf',
       'Painel_Qmd_13_' || yyyy || '.pdf',
       yyyy || '/',
       'relatorio_anual.pdf',
       'Painel_Qmd_' || mm || '_' || yyyy || '.pdf?download=1'
     ])[(doc_id % 8)::INT + 1] AS href
  FROM (SELECT doc_id, lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') AS mm,
               (doc_id % 6 + 2019)::VARCHAR AS yyyy FROM documents)
), resolved AS (
  SELECT CASE WHEN regexp_matches(href, '^[a-z][a-z0-9+.-]*://') THEN href
              WHEN href LIKE '/%' THEN '{PAINEL_HOST}' || href
              ELSE '{PAINEL_BASE_URL}' || href END AS url
  FROM anchors
), named AS (
  SELECT url,
    regexp_extract(regexp_replace(url, '[?#].*$', ''), '([^/]+)$', 1) AS filename
  FROM resolved
)
SELECT DISTINCT {year} || '-' || {month} AS period,
       {year} AS year, {month} AS month, filename, url
FROM named WHERE {month} != ''
ORDER BY url"""


def _sanitize_slide_text_sql() -> str:
    """DuckDB twin of textops.sanitize_slide_text: identical decoration,
    unicode space/hyphen folds, unit rewrite, whitespace collapse, and
    the reference's clip → sentence-boundary backoff (0-based rfind ≥
    max//2) → punctuation-strip + '.' fallback."""
    from forest_open_data_pipelines_spark.operators.textops import (
        SLIDE_DASH_CHARS,
        SLIDE_DECORATION,
        SLIDE_MAX_CHARS,
        SLIDE_SPACE_CHARS,
    )

    mx = SLIDE_MAX_CHARS
    deco = SLIDE_DECORATION.replace("'", "''")
    return f"""
WITH folded AS (
  SELECT doc_id,
    trim(regexp_replace(
      regexp_replace(
        translate(translate('{deco}' || text,
                            '{SLIDE_SPACE_CHARS}', '    '),
                  '{SLIDE_DASH_CHARS}', '-----'),
        '1000 ?m3', 'mil m3', 'g'),
      '\\s+', ' ', 'g')) AS v
  FROM documents
), clipped AS (
  SELECT doc_id, v, rtrim(substr(v, 1, {mx}), ' ') AS clip FROM folded
), pos AS (
  SELECT doc_id, v, clip,
    CASE WHEN strpos(clip, '.') > 0
         THEN len(clip) - strpos(reverse(clip), '.') + 1 ELSE 0 END AS lp
  FROM clipped
)
SELECT doc_id,
  CASE WHEN len(v) <= {mx} THEN v
       WHEN lp - 1 >= {mx // 2} THEN substr(clip, 1, lp)
       ELSE regexp_replace(clip, '[ ,.;:]+$', '') || '.'
  END AS slide_text
FROM pos ORDER BY doc_id"""


def _anp_resource_urls_sql() -> str:
    """DuckDB twin of html.anp_resource_urls: identical per-source
    anchor derivation (each doc is one href, page position == rn), the
    same unescape / malformed-prefix / ppgn-el / metadados rules, token
    matching in ANP_RESOURCE_TOKENS order, last occurrence per key."""
    from forest_open_data_pipelines_spark.operators.html import (
        ANP_HOST,
        ANP_RESOURCE_TOKENS,
    )

    toks = ", ".join(f"({i}, '{t}')" for i, (_, t) in enumerate(ANP_RESOURCE_TOKENS))
    key_case = " ".join(
        f"WHEN contains(lower(url), '{t}') THEN '{k}'" for k, t in ANP_RESOURCE_TOKENS
    )
    h = ANP_HOST
    return f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
lim AS (SELECT doc_id, source, rn FROM ranked WHERE rn <= 12),
toks(i, tok) AS (VALUES {toks}),
anchors AS (
  SELECT l.source, l.rn,
    CASE (l.doc_id % 12)
      WHEN 7 THEN '{h}/' || t.tok || '.csv&amp;v=2'
      WHEN 8 THEN 'http://=' || '{h}/' || t.tok || '-' || l.doc_id || '.csv'
      WHEN 9 THEN '{h}/metadados/' || t.tok || '.pdf'
      WHEN 10 THEN 'https://other.example/focos.csv'
      WHEN 11 THEN '{h}/' || t.tok || '-' || l.doc_id || '.csv?rev=2'
      ELSE '{h}/' || t.tok || '-' || l.doc_id || '.csv'
    END AS href
  FROM lim l JOIN toks t ON (l.doc_id % {len(ANP_RESOURCE_TOKENS)}) = t.i
),
parsed AS (
  SELECT source, rn,
    regexp_replace(replace(href, '&amp;', '&'), '^https?://=(https://)', '\\1') AS url
  FROM anchors
),
kept AS (
  SELECT source, rn, url, CASE {key_case} END AS key
  FROM parsed
  WHERE contains(lower(url), 'ppgn-el') AND NOT contains(lower(url), 'metadados')
)
SELECT source, key, url FROM (
  SELECT source, key, url,
         row_number() OVER (PARTITION BY source, key ORDER BY rn DESC) AS rk
  FROM kept WHERE key IS NOT NULL
) WHERE rk = 1 ORDER BY source, key"""


def _abstract_reconstruct_sql() -> str:
    """DuckDB twin of social.abstract_reconstruct: tokens deduped to
    first occurrence (min position), rebuilt in that order — the
    insertion-order walk of the Spark side's map_from_entries — then the
    any-of topical substring filter."""
    from forest_open_data_pipelines_spark.operators.social import (
        ABSTRACT_TOPIC_TERMS,
    )

    terms = ", ".join(f"'{t}'" for t in ABSTRACT_TOPIC_TERMS)
    return f"""
WITH cleaned AS (
  SELECT doc_id,
         'Work ' || doc_id || ': ' || substr({CLEAN}, 1, 40) AS title,
         string_split({LCLEAN}, ' ') AS toks
  FROM documents
), exploded AS (
  SELECT doc_id, unnest(list_transform(toks, (t, i) -> {{'tok': t, 'i': i}})) AS e
  FROM cleaned
), pos AS (
  SELECT doc_id, e.tok AS tok, min(e.i) AS first_pos
  FROM exploded GROUP BY doc_id, e.tok
), rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY first_pos) AS abstract,
         count(*) AS n_index_terms
  FROM pos GROUP BY doc_id
), joined AS (
  SELECT c.doc_id, c.title, r.abstract, r.n_index_terms,
         array_to_string(list_filter([{terms}],
            t -> contains(lower(c.title || ' ' || r.abstract), t)), ',') AS matched_terms
  FROM cleaned c JOIN rebuilt r USING (doc_id)
)
SELECT doc_id, title, abstract, n_index_terms, matched_terms
FROM joined WHERE matched_terms != '' ORDER BY doc_id"""


# Shared CTE text: the effective (truncate-then-substitute) national
# monthly series — consumed by its own entry and by the metrics row
# built on top of it.
_EFFECTIVE_SERIES_SQL = f"""
WITH {ENRICHED},
zip AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS period,
         count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_price
  FROM enriched GROUP BY 1
),
ref AS (
  SELECT year(max(ts))::INT AS cal_year, month(max(ts))::INT AS ref_month
  FROM events
),
mensal AS (
  SELECT strftime(ts, '%Y-%m') AS period,
         count(*) AS n_orders,
         round(sum(value), 2) AS total_price
  FROM events, ref
  WHERE year(ts) = cal_year AND month(ts) <= ref_month
  GROUP BY 1
),
zl AS (SELECT max(substr(period, 1, 4)::INT) AS zip_latest_year FROM zip),
flags AS (
  SELECT ((SELECT count(*) FROM mensal) > 0
          AND (SELECT cal_year FROM ref)
              > (SELECT zip_latest_year FROM zl)) AS is_cur
)
SELECT z.period, z.n_orders, z.total_price, 'zip' AS source
FROM zip z, flags
WHERE NOT is_cur OR z.period NOT IN (SELECT period FROM mensal)
UNION ALL
SELECT period, n_orders, total_price, 'mensal' AS source
FROM mensal, flags WHERE is_cur
ORDER BY period"""

MENSAL_AUGMENTED_SQL = """
WITH enriched AS (
  SELECT o_orderdate, o_totalprice, n_name
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
),
matrix AS (
  SELECT n_name, strftime(o_orderdate, '%Y-%m') AS period,
         count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
  FROM enriched GROUP BY 1, 2
),
mensal AS (
  SELECT n_name, count(*) AS n_orders, round(sum(value), 2) AS total_price
  FROM events JOIN customer ON user_id = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1
),
cur AS (SELECT max(period) AS cur_period FROM matrix),
feed AS (SELECT count(*) AS n_mensal FROM mensal)
SELECT n_name, period, n_orders, total_price
FROM matrix, cur, feed WHERE period != cur_period OR n_mensal = 0
UNION ALL
SELECT n_name, cur_period AS period, n_orders, total_price
FROM mensal, cur, feed WHERE n_mensal > 0
ORDER BY n_name, period"""


MENSAL_BY_REGION_AUGMENTED_SQL = """
WITH enriched AS (
  SELECT o_orderdate, o_totalprice, r_name
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
matrix AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS period, r_name,
         count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
  FROM enriched GROUP BY 1, 2
),
mensal AS (
  SELECT r_name, count(*) AS n_orders, round(sum(value), 2) AS total_price
  FROM events JOIN customer ON user_id = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1
),
cur AS (SELECT max(period) AS cur_period FROM matrix),
feed AS (SELECT count(*) AS n_mensal FROM mensal)
SELECT period, r_name, n_orders, total_price
FROM matrix, cur, feed WHERE period != cur_period OR n_mensal = 0
UNION ALL
SELECT cur_period AS period, r_name, n_orders, total_price
FROM mensal, cur, feed WHERE n_mensal > 0
ORDER BY r_name, period"""


def _numeric_correlations_sql() -> str:
    """DuckDB twin of profiling.numeric_correlations: identical exact
    decimal moments, identical Pearson-from-moments double formula."""
    from forest_open_data_pipelines_spark.operators.profiling import (
        CORRELATION_COLS,
    )

    cols = CORRELATION_COLS
    # (20,6): width > 18 pushes DuckDB onto the int128 decimal path —
    # an (18,6) square overflows its int64 multiply (values ~1e5 at
    # scale 6 → internal products ~1e22); Spark-side (18,6) is exact
    # already, and both sides stay exact rationals so parity holds
    d = lambda c: f"{c}::DECIMAL(20,6)"
    moments = ["count(*) AS n"]
    for c in cols:
        moments.append(f"sum({d(c)}) AS s_{c}")
        moments.append(f"sum({d(c)} * {d(c)}) AS ss_{c}")
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            moments.append(f"sum({d(a)} * {d(b)}) AS sp_{a}_{b}")
    rows = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            rows.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"round((n::DOUBLE * sp_{a}_{b}::DOUBLE - s_{a}::DOUBLE * s_{b}::DOUBLE) "
                f"/ sqrt((n::DOUBLE * ss_{a}::DOUBLE - s_{a}::DOUBLE * s_{a}::DOUBLE) "
                f"* (n::DOUBLE * ss_{b}::DOUBLE - s_{b}::DOUBLE * s_{b}::DOUBLE)), 6) "
                f"AS pearson_r, n AS n_rows FROM m"
            )
    union = "\nUNION ALL\n".join(rows)
    return f"""
WITH m AS (SELECT {', '.join(moments)} FROM lineitem)
{union}
ORDER BY col_a, col_b"""


def _pii_scrub_sql() -> str:
    """DuckDB twin of curation.pii_scrub: identical RE2∩Java pattern
    strings, counts on the original text, sequential email→IP→phone
    redaction."""
    from forest_open_data_pipelines_spark.operators.curation import (
        PII_EMAIL_RE,
        PII_IP_RE,
        PII_PHONE_RE,
    )

    return f"""
WITH base AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{PII_EMAIL_RE}'))::BIGINT AS n_emails,
         len(regexp_extract_all(text, '{PII_IP_RE}'))::BIGINT AS n_ips,
         len(regexp_extract_all(text, '{PII_PHONE_RE}'))::BIGINT AS n_phones,
         regexp_replace(regexp_replace(regexp_replace(text,
           '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
           '{PII_IP_RE}', '[IP]', 'g'),
           '{PII_PHONE_RE}', '[PHONE]', 'g') AS redacted_text
  FROM documents
)
SELECT doc_id, n_emails, n_ips, n_phones, redacted_text,
       (n_emails + n_ips + n_phones) = 0 AS pii_free
FROM base ORDER BY doc_id"""


def _decontaminate_sql() -> str:
    """DuckDB twin of curation.decontaminate_ngram: same 8-gram set
    with the whole-text fallback for short docs (gram STRINGS here,
    60-bit md5 ints on the Spark side — identical value sets up to md5
    collisions, the dedup-family convention)."""
    from forest_open_data_pipelines_spark.operators.curation import (
        DECONTAM_BENCH_MOD as MOD,
        DECONTAM_NGRAM as N,
    )

    terms = " || ' ' || ".join(f"t[i+{k}]" for k in range(N))
    return f"""
WITH toks AS (SELECT doc_id, string_split({LCLEAN}, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= {N}
         THEN [{terms} for i in range(1, len(t) - {N - 2})]
         ELSE [list_aggregate(t, 'string_agg', ' ')] END)) AS s
  FROM toks
),
bench AS (SELECT DISTINCT s FROM g WHERE doc_id % {MOD} = 0),
corpus AS (SELECT doc_id, s FROM g WHERE doc_id % {MOD} <> 0)
SELECT c.doc_id, count(*) AS n_grams, count(b.s) AS n_shared,
       count(b.s) > 0 AS contaminated
FROM corpus c LEFT JOIN bench b ON c.s = b.s
GROUP BY c.doc_id ORDER BY c.doc_id"""


def _dsir_importance_sql() -> str:
    """DuckDB twin of curation.dsir_importance_weights: same md5-int
    feature hashing, add-one smoothed bucket distributions, micro-bit
    quantized log-ratios, exact per-doc BIGINT sums."""
    from forest_open_data_pipelines_spark.operators.curation import (
        DSIR_BUCKETS as B,
        DSIR_TARGET_LANG as TL,
    )

    h = _MD5_INT.format(expr="term")
    return f"""
WITH tok AS (
  SELECT doc_id, lang, {h} % {B} AS bucket
  FROM (SELECT doc_id, lang,
               unnest(string_split({LCLEAN}, ' ')) AS term
        FROM documents)
  WHERE term != ''
),
hist AS (
  SELECT bucket, count(*) AS r_cnt,
         sum(CASE WHEN lang = '{TL}' THEN 1 ELSE 0 END)::BIGINT AS t_cnt
  FROM tok GROUP BY bucket
),
tot AS (SELECT sum(r_cnt)::BIGINT AS r_tot, sum(t_cnt)::BIGINT AS t_tot
        FROM hist),
lr AS (
  SELECT bucket,
         round(log2(((t_cnt + 1)::DOUBLE / (t_tot + {B}))
                    / ((r_cnt + 1)::DOUBLE / (r_tot + {B})))
               * 1000000.0, 0)::BIGINT AS lr_micro
  FROM hist CROSS JOIN tot
),
scores AS (
  SELECT doc_id, count(*) AS n_tokens, sum(lr_micro)::BIGINT AS s_micro
  FROM tok JOIN lr USING (bucket)
  GROUP BY doc_id
)
SELECT d.doc_id, d.lang,
       coalesce(n_tokens, 0)::BIGINT AS n_tokens,
       round(coalesce(s_micro, 0) / 1000000.0, 6) AS log_importance,
       coalesce(s_micro, 0) > 0 AS target_like
FROM documents d LEFT JOIN scores s ON d.doc_id = s.doc_id
ORDER BY d.doc_id"""


def _decontaminate_embedding_sql() -> str:
    """DuckDB twin of curation.decontaminate_embedding: same bench
    split (vec_id % mod), list_dot_product cosine at 6 dp (the
    dedup_embedding fold convention — both engines sum dims in order),
    and the identical max(struct(cos, -bench_id)) nearest tie-break."""
    from forest_open_data_pipelines_spark.operators.curation import (
        DECONTAM_BENCH_MOD as MOD,
        DECONTAM_EMB_THRESHOLD as THR,
    )

    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS embedding,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS norm
  FROM embeddings
),
b AS (SELECT vec_id AS bench_id, embedding AS b_emb, norm AS b_norm
      FROM e WHERE vec_id % {MOD} = 0),
c AS (SELECT vec_id, embedding, norm FROM e WHERE vec_id % {MOD} <> 0),
s AS (
  SELECT c.vec_id, bench_id,
         round(list_dot_product(c.embedding, b_emb) / (norm * b_norm), 6)
           AS cos
  FROM c, b
),
g AS (
  SELECT vec_id,
         sum(CASE WHEN cos >= {THR} THEN 1 ELSE 0 END)::BIGINT
           AS n_bench_hits,
         max(struct_pack(c := cos, nb := -bench_id))
           FILTER (WHERE cos IS NOT NULL) AS best
  FROM s GROUP BY vec_id
)
SELECT vec_id, n_bench_hits, (best).c AS max_cosine,
       -(best).nb AS nearest_bench_id, n_bench_hits > 0 AS contaminated
FROM g ORDER BY vec_id"""


def _chunk_dedup_sql() -> str:
    """DuckDB twin of curation.chunk_dedup: same non-overlapping token
    chunks, keep-first by (doc_id, idx) per chunk (string key here,
    md5-int key on the Spark side), same rebuild with '' for fully
    dropped docs."""
    from forest_open_data_pipelines_spark.operators.curation import CHUNK_TOKENS as C

    return f"""
WITH toks AS (SELECT doc_id, string_split({LCLEAN}, ' ') AS t FROM documents),
ch AS (
  SELECT doc_id, i - 1 AS idx,
         list_aggregate(list_slice(t, (i-1)*{C} + 1, least(i*{C}, len(t))),
                        'string_agg', ' ') AS chunk_text
  FROM (SELECT doc_id, t,
               unnest(range(1, ((len(t) + {C} - 1) // {C}) + 1)) AS i
        FROM toks)
),
ranked AS (
  SELECT doc_id, idx, chunk_text,
         row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, idx) AS rn
  FROM ch
)
SELECT doc_id, count(*) AS n_chunks,
       count(*) FILTER (WHERE rn = 1) AS n_kept,
       count(*) - count(*) FILTER (WHERE rn = 1) AS n_dropped,
       coalesce(string_agg(chunk_text, ' ' ORDER BY idx) FILTER (WHERE rn = 1),
                '') AS kept_text
FROM ranked GROUP BY doc_id ORDER BY doc_id"""


def _mixture_sql_parts() -> tuple[str, str]:
    """(weights VALUES rows, shared per-lang/total/alloc CTE prefix) for
    the two mixture oracles — mirrors curation._mixture_rates."""
    from forest_open_data_pipelines_spark.operators.curation import (
        MIXTURE_BUDGET_FRAC,
        MIXTURE_WEIGHTS,
    )

    w_rows = ", ".join(
        f"('{lang}', {wgt})" for lang, wgt in sorted(MIXTURE_WEIGHTS.items())
    )
    prefix = f"""
per_lang AS (
  SELECT lang, count(*) AS n_docs,
         sum(len(string_split({LCLEAN}, ' ')))::BIGINT AS n_tokens
  FROM documents GROUP BY lang
),
tot AS (SELECT sum(n_tokens) AS total_tokens FROM per_lang),
w(lang, weight) AS (VALUES {w_rows}),
alloc AS (
  SELECT p.lang, coalesce(w.weight, 0.0)::DOUBLE AS weight, n_docs, n_tokens,
         floor(floor(total_tokens * {MIXTURE_BUDGET_FRAC})
               * coalesce(w.weight, 0.0)::DOUBLE)::BIGINT AS target_tokens
  FROM per_lang p CROSS JOIN tot LEFT JOIN w ON p.lang = w.lang
)"""
    return w_rows, prefix


def _mixture_plan_sql() -> str:
    """DuckDB twin of curation.dataset_mixture_plan (integer token
    arithmetic, 6-dp capped rate)."""
    _, prefix = _mixture_sql_parts()
    return f"""
WITH {prefix},
r AS (
  SELECT lang, weight, n_docs, n_tokens, target_tokens,
         least(1.0, round(target_tokens::DOUBLE / n_tokens, 6)) AS sampling_rate
  FROM alloc
)
SELECT lang, weight, n_docs, n_tokens, target_tokens, sampling_rate,
       floor(n_tokens * sampling_rate)::BIGINT AS projected_tokens
FROM r ORDER BY lang"""


def _corpus_shard_plan_sql() -> str:
    """DuckDB twin of curation.corpus_shard_plan: identical md5 shard
    assignment, cleaned-whitespace token counts, octet sizes, and the
    half-up micro_div token share."""
    from forest_open_data_pipelines_spark.operators.curation import (
        SHARD_PLAN_DEFAULT,
    )

    n = SHARD_PLAN_DEFAULT
    key = _MD5_INT.format(expr="'shard-' || doc_id")
    return f"""
WITH per AS (
  SELECT ({key}) % {n} AS shard_id,
         len(string_split({LCLEAN}, ' '))::BIGINT AS n_toks,
         octet_length(encode(text))::BIGINT AS n_bytes
  FROM documents
),
agg AS (
  SELECT shard_id, count(*)::BIGINT AS n_docs,
         sum(n_toks)::BIGINT AS n_tokens, sum(n_bytes)::BIGINT AS n_bytes
  FROM per GROUP BY shard_id
),
tot AS (SELECT sum(n_tokens)::BIGINT AS total_tokens FROM agg)
SELECT shard_id, n_docs, n_tokens, n_bytes,
       (n_tokens * 1000000 // total_tokens
        + CASE WHEN (n_tokens * 1000000 % total_tokens) * 2 >= total_tokens
               THEN 1 ELSE 0 END)::BIGINT AS token_share_ppm
FROM agg, tot ORDER BY shard_id"""


def _overview_metric_ctes() -> str:
    """The m/base/scal/fin/ex CTE chain — the DuckDB twin of
    timeseries.overview_metric_frame, shared by the
    report_fallback_blocks and report_prompts oracles (expects a
    ``monthly`` CTE in scope)."""
    from forest_open_data_pipelines_spark.operators.timeseries import (
        REPORT_RECENT_MONTHS,
    )

    # Every stage joins the one-row scalar frame to m with LEFT JOIN ON
    # TRUE (not an inner comma join): the Spark twin deliberately
    # produces its one-row fallback on an EMPTY monthly series
    # (timeseries.py overview_metric_frame left-join note), and the
    # inner join would collapse the oracle to 0 rows there. coalesce
    # placement mirrors the Spark frame field-for-field.
    return f"""m AS (
  SELECT period, n_orders::BIGINT AS value,
         substr(period, 1, 4)::INTEGER AS year,
         substr(period, 6, 2)::INTEGER AS month,
         row_number() OVER (ORDER BY period) AS rn
  FROM monthly
),
base AS (
  SELECT max(period) AS latest_period, max(year) AS latest_year,
         min(year) AS first_year,
         coalesce(sum(value), 0)::BIGINT AS total_rows_processed,
         count(DISTINCT year)::BIGINT AS file_count_used, count(*) AS n_periods
  FROM m
),
scal AS (
  SELECT latest_period, latest_year, first_year, total_rows_processed,
         file_count_used, n_periods,
         coalesce(sum(value) FILTER (WHERE year = latest_year), 0)::BIGINT
           AS current_year_total,
         max(year) FILTER (WHERE year < latest_year) AS previous_year,
         coalesce(sum(value) FILTER (WHERE rn > n_periods - 12), 0)::BIGINT
           AS recent_12m_total,
         sum(value) FILTER (WHERE rn > n_periods - 24 AND rn <= n_periods - 12)::BIGINT
           AS prior_12m_sum,
         count(*) FILTER (WHERE rn > n_periods - 24 AND rn <= n_periods - 12)
           AS prior_12m_n
  FROM base LEFT JOIN m ON TRUE
  GROUP BY 1, 2, 3, 4, 5, 6
),
fin AS (
  SELECT s.latest_period, s.latest_year, s.first_year,
         s.total_rows_processed, s.file_count_used, s.n_periods,
         s.current_year_total, s.previous_year, s.recent_12m_total,
         s.prior_12m_sum, s.prior_12m_n,
         coalesce(sum(m.value) FILTER (WHERE m.year = s.previous_year), 0)::BIGINT
           AS previous_year_total,
         CASE WHEN s.prior_12m_n = 12 THEN s.prior_12m_sum ELSE 0 END::BIGINT
           AS prior_12m_total
  FROM scal s LEFT JOIN m ON TRUE
  GROUP BY ALL
),
ex AS (
  SELECT f.latest_period, f.latest_year, f.first_year,
         f.total_rows_processed, f.file_count_used, f.n_periods,
         f.current_year_total, f.previous_year, f.recent_12m_total,
         f.prior_12m_sum, f.prior_12m_n, f.previous_year_total,
         f.prior_12m_total,
    coalesce(sum(m.value) FILTER (WHERE m.period = f.latest_period), 0)::BIGINT
      AS latest_month_total,
    coalesce(sum(m.value) FILTER (
      WHERE m.period = f.previous_year::VARCHAR || '-' || substr(f.latest_period, 6, 2)
    ), 0)::BIGINT AS same_month_prev_year_total,
    coalesce(sum(m.value) FILTER (
      WHERE m.year = f.latest_year AND m.month <= substr(f.latest_period, 6, 2)::INT
    ), 0)::BIGINT AS ytd_current_year,
    coalesce(sum(m.value) FILTER (
      WHERE m.year = f.previous_year AND m.month <= substr(f.latest_period, 6, 2)::INT
    ), 0)::BIGINT AS ytd_previous_year,
    min(m.period) FILTER (WHERE m.rn > f.n_periods - {REPORT_RECENT_MONTHS})
      AS analysis_window_start,
    max(m.period) AS analysis_window_end
  FROM fin f LEFT JOIN m ON TRUE
  GROUP BY ALL
)"""


def _incremental_cache_plan_sql() -> str:
    """DuckDB twin of caching.incremental_cache_plan: identical
    fingerprint derivation (cents convention, md5 CRC surrogate),
    rank-keyed manifest degradations, the _is_valid_year_payload
    CASE chain, in-engine sha256 of the canonical signature payload
    (embedded as a literal — it contains no single quotes)."""
    from forest_open_data_pipelines_spark.operators.caching import (
        CACHE_SCHEMA_VERSION,
        build_signature_payload,
    )

    payload = build_signature_payload()
    assert "'" not in payload
    sig = f"sha256('{payload}')"
    return f"""
WITH py AS (
  SELECT year(o_orderdate)::INT AS year, count(*) AS n_rows,
         sum(round(round(o_totalprice, 2) * 100, 0)::BIGINT) AS cents
  FROM orders GROUP BY 1
),
fp AS (
  SELECT year,
         'focos_br_' || year || '.zip' AS zip_name,
         'focos_br_' || year || '.csv' AS member_name,
         (n_rows * 120 + cents % 997)::BIGINT AS member_file_size,
         ((n_rows * 120 + cents % 997) // 4)::BIGINT AS member_compress_size,
         ((n_rows * 120 + cents % 997) // 4 + 120)::BIGINT AS zip_size_bytes,
         ('0x' || substr(md5('focos_br_' || year || '.csv' || ':' || cents), 1, 8))::BIGINT
           AS member_crc
  FROM py
),
rk AS (SELECT *, row_number() OVER (ORDER BY year) AS rank FROM fp),
mf AS (
  SELECT year,
         CASE WHEN rank = 2 THEN {CACHE_SCHEMA_VERSION - 1}
              ELSE {CACHE_SCHEMA_VERSION} END AS cache_schema_version,
         CASE WHEN rank = 3 THEN 'stale_' || {sig} ELSE {sig} END AS build_signature,
         zip_name AS c_zip_name, zip_size_bytes AS c_zip_size_bytes,
         member_name AS c_member_name,
         CASE WHEN rank = 4 THEN member_crc + 1 ELSE member_crc END AS c_member_crc,
         member_file_size AS c_member_file_size,
         member_compress_size AS c_member_compress_size,
         CASE WHEN rank = 5 THEN year - 1 ELSE year END AS inferred_year,
         (rank <> 6) AS has_all_aggregation_keys
  FROM rk WHERE rank <> 1
),
plan AS (
  SELECT f.year, f.zip_name, f.member_crc, {sig} AS build_signature,
    CASE WHEN m.cache_schema_version IS NULL THEN 'missing'
         WHEN m.cache_schema_version <> {CACHE_SCHEMA_VERSION} THEN 'schema_version'
         WHEN m.build_signature <> {sig} THEN 'signature'
         WHEN NOT (m.c_zip_name = f.zip_name AND m.c_zip_size_bytes = f.zip_size_bytes
                   AND m.c_member_name = f.member_name AND m.c_member_crc = f.member_crc
                   AND m.c_member_file_size = f.member_file_size
                   AND m.c_member_compress_size = f.member_compress_size)
           THEN 'fingerprint'
         WHEN m.inferred_year <> f.year THEN 'year_mismatch'
         WHEN NOT m.has_all_aggregation_keys THEN 'incomplete_payload'
         ELSE 'valid' END AS reason
  FROM fp f LEFT JOIN mf m USING (year)
)
SELECT year, zip_name, member_crc, build_signature, reason,
       CASE WHEN reason = 'valid' THEN 'reuse' ELSE 'rebuild' END AS action
FROM plan ORDER BY year"""


def _observation_fold_ctes(extra_window_cols: str = "") -> str:
    """Shared ev/lagged/dec CTE chain — the DuckDB twin of
    freshness._folded_observations, used by BOTH freshness-store
    oracles so the derivation (the %37 error probe, the lag fold, the
    precision-aware changed clause) cannot desync between them.
    ``extra_window_cols`` splices additional window columns into the
    lagged stage (the snapshot's keep-latest rank + per-key count)."""
    iso = "%Y-%m-%dT%H:%M:%S.%f"
    return f"""ev AS (
  SELECT event_id, ts,
         user_id AS watch_id, event_type AS resource_key,
         CASE WHEN event_id % 37 = 0 THEN 'error' ELSE 'ok' END AS status,
         CASE WHEN event_id % 37 = 0 THEN ''
              ELSE strftime(ts, '{iso}') END AS source_modified_at,
         CASE WHEN user_id % 3 = 0 THEN 'date' ELSE 'second' END AS precision
  FROM events
),
lagged AS (
  SELECT *,
         coalesce(lag(source_modified_at) OVER w, '') AS previous_source_modified_at,
         lag(CASE WHEN status = 'ok' THEN ts END) OVER w AS prev_ts{extra_window_cols}
  FROM ev
  WINDOW w AS (PARTITION BY watch_id, resource_key ORDER BY ts, event_id)
),
dec AS (
  SELECT *,
    (status = 'ok' AND source_modified_at <> ''
     AND previous_source_modified_at <> ''
     AND NOT (CASE WHEN precision = 'date' THEN ts::DATE = prev_ts::DATE
              ELSE source_modified_at = previous_source_modified_at END))
      AS changed
  FROM lagged
)"""


def _interval_cents_sql(unit: int) -> str:
    """Exact integer half-up 2-dp interval from the micros diff — the
    micro_div convention shared with the Spark fold."""
    d = "(epoch_us(ts) - epoch_us(prev_ts))"
    return (
        f"(({d} // {unit}) + CASE WHEN ({d} % {unit}) * 2 >= {unit} "
        f"THEN 1 ELSE 0 END) / 100.0"
    )


def _freshness_append_sql() -> str:
    """DuckDB twin of freshness.freshness_observations_append: the
    shared observation-fold CTEs, exact integer-cents intervals,
    batch = last 7 days."""
    iso = "%Y-%m-%dT%H:%M:%S.%f"
    return f"""
WITH {_observation_fold_ctes()},
cut AS (
  SELECT (max(ts)::DATE - 7) AS cut_day,
         strftime(max(ts), '{iso}') AS observed_at
  FROM events
)
SELECT c.observed_at, watch_id, resource_key, source_modified_at, precision,
       status, previous_source_modified_at, changed,
       CASE WHEN changed THEN {_interval_cents_sql(36_000_000)} END AS interval_hours,
       CASE WHEN changed THEN {_interval_cents_sql(864_000_000)} END AS interval_days
FROM dec, cut c
WHERE ts::DATE > c.cut_day
ORDER BY watch_id, resource_key, source_modified_at, status"""


def _freshness_latest_snapshot_sql() -> str:
    """DuckDB twin of freshness.freshness_latest_snapshot: the shared
    observation-fold CTEs with the keep-latest rank + per-key count
    spliced into the window stage, generated_at = the max event time."""
    iso = "%Y-%m-%dT%H:%M:%S.%f"
    extra = """,
         row_number() OVER (PARTITION BY watch_id, resource_key
                            ORDER BY ts DESC, event_id DESC) AS rn_desc,
         count(*) OVER (PARTITION BY watch_id, resource_key) AS n_observations"""
    return f"""
WITH {_observation_fold_ctes(extra)},
gen AS (SELECT strftime(max(ts), '{iso}') AS generated_at FROM events)
SELECT g.generated_at, watch_id, resource_key, n_observations,
       source_modified_at, precision, status, previous_source_modified_at,
       changed,
       CASE WHEN changed THEN {_interval_cents_sql(36_000_000)} END AS interval_hours,
       CASE WHEN changed THEN {_interval_cents_sql(864_000_000)} END AS interval_days
FROM dec, gen g
WHERE rn_desc = 1
ORDER BY watch_id, resource_key"""


def _reports_catalog_sql() -> str:
    """DuckDB twin of manifests.reports_catalog: identical per-source
    report derivation (rank-keyed degradations), the excerpt fallback
    chain (overview localized -> summary localized -> description)
    word-truncated at 260 with the pt-fallback locale pick, compacted
    coverage, loader-failure warnings, envelope status downgrade."""

    def clean(x: str) -> str:
        return f"trim(regexp_replace({x}, '\\s+', ' ', 'g'))"

    warn_lit = (
        "'Falha ao carregar report ' || chr(39) || path || chr(39)"
        " || ' para enriquecer catalogo'"
    )
    return f"""
WITH per AS (
  SELECT source, arg_min(text, doc_id) AS first_text,
         min(doc_id) AS min_doc, max(doc_id) AS max_doc
  FROM documents GROUP BY source
),
rk AS (SELECT *, row_number() OVER (ORDER BY source) AS rank FROM per),
e AS (
  SELECT source, rank,
    'report_' || source AS report_id,
    source AS slug,
    'Relatório ' || source AS title,
    trim(substr(first_text, 1, 300)) AS description,
    'reports/' || source || '/report.json' AS path,
    (rank % 5 <> 0) AS loader_ok,
    CASE WHEN rank % 5 IN (1, 2)
         THEN 'Visão geral: ' || substr(first_text, 1, 400) END AS ov_pt,
    CASE WHEN rank % 5 = 1
         THEN 'Overview: ' || upper(substr(first_text, 1, 200)) END AS ov_en,
    CASE WHEN rank % 5 = 3
         THEN 'Resumo: ' || substr(first_text, 1, 300) END AS sm_pt,
    CASE WHEN rank % 5 = 3
         THEN 'Summary: ' || upper(substr(first_text, 1, 150)) END AS sm_en,
    CASE WHEN rank % 5 <> 0
         THEN '2026-03-' || lpad((rank % 28 + 1)::VARCHAR, 2, '0') || 'T12:00:00Z'
         END AS doc_generated_at,
    CASE WHEN rank % 4 <> 1 THEN (2015 + min_doc % 5)::INT END AS first_year0,
    CASE WHEN rank % 4 <> 1 THEN (2020 + max_doc % 5)::INT END AS latest_year0,
    CASE WHEN rank % 4 <> 1
         THEN '2024-' || lpad((max_doc % 12 + 1)::VARCHAR, 2, '0') END AS latest_period0
  FROM rk
),
loc AS (
  SELECT *,
    coalesce(nullif({clean('ov_pt')}, ''), nullif({clean('ov_en')}, '')) AS ov_lpt,
    coalesce(nullif({clean('ov_en')}, ''), nullif({clean('ov_pt')}, '')) AS ov_len,
    coalesce(nullif({clean('sm_pt')}, ''), nullif({clean('sm_en')}, '')) AS sm_lpt,
    coalesce(nullif({clean('sm_en')}, ''), nullif({clean('sm_pt')}, '')) AS sm_len
  FROM e
),
cand AS (
  SELECT *,
    {clean("coalesce(ov_lpt, sm_lpt, description)")} AS cand_pt,
    {clean("coalesce(ov_len, sm_len, description)")} AS cand_en
  FROM loc
),
shaped AS (
  SELECT report_id, slug, title, description,
    (CASE WHEN coalesce(report_id, '') = '' THEN 1 ELSE 0 END
     + CASE WHEN coalesce(slug, '') = '' THEN 1 ELSE 0 END
     + CASE WHEN coalesce(title, '') = '' THEN 1 ELSE 0 END
     + CASE WHEN coalesce(description, '') = '' THEN 1 ELSE 0 END
     + CASE WHEN coalesce(path, '') = '' THEN 1 ELSE 0 END)::INT
      AS n_missing_required,
    CASE WHEN loader_ok THEN {_truncwords_sql('cand_pt')} END AS excerpt,
    CASE WHEN loader_ok THEN {_truncwords_sql('cand_en')} END AS excerpt_en,
    CASE WHEN loader_ok THEN doc_generated_at END AS generated_at,
    CASE WHEN loader_ok THEN first_year0 END AS first_year,
    CASE WHEN loader_ok THEN latest_year0 END AS latest_year,
    CASE WHEN loader_ok AND first_year0 IS NOT NULL
         THEN first_year0::VARCHAR || '-' || latest_year0::VARCHAR END AS year_range,
    CASE WHEN loader_ok THEN latest_period0 END AS latest_period,
    CASE WHEN NOT loader_ok THEN {warn_lit} END AS warning
  FROM cand
),
st AS (
  SELECT CASE WHEN count(warning) > 0 THEN 'success_partial_fallback'
              ELSE 'success' END AS generation_status
  FROM shaped
)
SELECT shaped.*, st.generation_status FROM shaped, st ORDER BY report_id"""


def _report_prompts_sql() -> str:
    """DuckDB twin of timeseries.report_prompts: the shared overview
    metric CTE renders the indent-2 context_json by literal
    concatenation (integer-cents 2-dp pcts), wrapped in the verbatim
    _build_prompts head/tail/system constants (single quotes
    SQL-escaped, newlines via chr(10) splice)."""
    from forest_open_data_pipelines_spark.operators.timeseries import (
        REPORT_RECENT_MONTHS,
        REPORT_SYSTEM_EN,
        REPORT_SYSTEM_PT,
        REPORT_USER_HEAD_EN,
        REPORT_USER_HEAD_PT,
        REPORT_USER_TAIL_EN,
        REPORT_USER_TAIL_PT,
    )

    def lit(s: str) -> str:
        body = s.replace("'", "''").replace("\n", "' || chr(10) || '")
        return "('" + body + "')"

    def ji(x: str) -> str:
        return f"coalesce(({x})::BIGINT::VARCHAR, 'null')"

    def jp(x: str) -> str:
        r = f"(round({x}, 2) + 0.0)"
        cents = f"round(abs({r}) * 100)::BIGINT"
        return (
            f"CASE WHEN ({x}) IS NULL THEN 'null' ELSE "
            f"(CASE WHEN {r} < 0 THEN '-' ELSE '' END"
            f" || ({cents} // 100)::VARCHAR || '.'"
            f" || lpad(({cents} % 100)::VARCHAR, 2, '0')) END"
        )

    def pct(new: str, old: str) -> str:
        return (
            f"round(CASE WHEN ({old}) IS NOT NULL AND ({old}) <> 0 "
            f"THEN (({new}) - ({old}))::DOUBLE / ({old}) * 100.0 END, 6)"
        )

    prior_zeroed = "CASE WHEN ex.prior_12m_n = 12 THEN ex.prior_12m_sum ELSE 0 END"
    r12 = pct("ex.recent_12m_total", prior_zeroed)
    mom = pct("ex.latest_month_total", "ex.same_month_prev_year_total")
    ytd = pct("ex.ytd_current_year", "ex.ytd_previous_year")

    def qs(x: str) -> str:
        return f"coalesce('\"' || ({x}) || '\"', 'null')"

    nl = "chr(10)"

    def key(indent: int, name: str, first: bool = False) -> str:
        lead = "'{'" if first else "','"
        return f"{lead} || {nl} || '{' ' * indent}\"{name}\": '"

    def keyfirst(indent: int, name: str) -> str:
        # first key after a nested opening brace: newline, no comma
        return f"{nl} || '{' ' * indent}\"{name}\": '"

    parts = [
        key(2, "coverage_first_year", first=True),
        ji("ex.first_year"),
        key(2, "coverage_latest_year"),
        ji("ex.latest_year"),
        key(2, "coverage_year_range"),
        qs("ex.first_year::VARCHAR || '-' || ex.latest_year::VARCHAR"),
        key(2, "coverage_latest_period"),
        qs("ex.latest_period"),
        key(2, "analysis_window_months"),
        f"'{REPORT_RECENT_MONTHS}'",
        key(2, "analysis_window_start_period"),
        qs("ex.analysis_window_start"),
        key(2, "analysis_window_end_period"),
        qs("ex.analysis_window_end"),
        key(2, "latest_year"),
        ji("ex.latest_year"),
        key(2, "previous_year"),
        ji("ex.previous_year"),
        key(2, "latest_period"),
        qs("ex.latest_period"),
        key(2, "current_year_total"),
        ji("ex.current_year_total"),
        key(2, "previous_year_total"),
        ji("ex.previous_year_total"),
        key(2, "recent_12m_total"),
        ji("ex.recent_12m_total"),
        key(2, "prior_12m_total"),
        ji("ex.prior_12m_sum"),
        key(2, "rolling_12m_pct_change"),
        jp(r12),
        key(2, "total_rows_processed"),
        ji("ex.total_rows_processed"),
        key(2, "file_count_used"),
        ji("ex.file_count_used"),
        key(2, "monthly_analysis") + " || '{'",
        keyfirst(4, "latest_period"),
        qs("ex.latest_period"),
        key(4, "latest_month_total"),
        ji("ex.latest_month_total"),
        key(4, "same_month_prev_year_total"),
        ji("ex.same_month_prev_year_total"),
        key(4, "latest_month_pct_change_vs_prev_year"),
        jp(mom),
        key(4, "ytd_current_year"),
        ji("ex.ytd_current_year"),
        key(4, "ytd_previous_year"),
        ji("ex.ytd_previous_year"),
        key(4, "ytd_pct_change"),
        jp(ytd),
        key(4, "rolling_12_months") + " || '{'",
        keyfirst(6, "window_end_period"),
        qs("ex.latest_period"),
        key(6, "recent_total"),
        ji("ex.recent_12m_total"),
        key(6, "prior_total"),
        ji(prior_zeroed),
        key(6, "pct_change"),
        jp(r12),
        key(6, "has_full_prior_window"),
        "CASE WHEN ex.prior_12m_n = 12 THEN 'true' ELSE 'false' END",
        f"{nl} || '    }}' || {nl} || '  }}' || {nl} || '}}'",
    ]
    # n-ary concat, NOT a ||-chain: DuckDB binds || recursively and
    # ~70 chained parts blow its 128-frame binder recursion limit
    ctx = "concat(" + ", ".join(parts) + ")"
    return f"""
WITH {ENRICHED}, {MONTHLY},
{_overview_metric_ctes()},
ctx AS (SELECT ({ctx}) AS context_json FROM ex)
SELECT locale, system_prompt, user_prompt, context_json FROM (
  SELECT 'pt' AS locale, {lit(REPORT_SYSTEM_PT)} AS system_prompt,
         concat({lit(REPORT_USER_HEAD_PT)}, context_json,
                {lit(REPORT_USER_TAIL_PT)}) AS user_prompt,
         context_json
  FROM ctx
  UNION ALL
  SELECT 'en', {lit(REPORT_SYSTEM_EN)},
         concat({lit(REPORT_USER_HEAD_EN)}, context_json,
                {lit(REPORT_USER_TAIL_EN)}),
         context_json
  FROM ctx
)
ORDER BY locale"""


def _report_fallback_blocks_sql() -> str:
    """DuckDB twin of timeseries.report_fallback_blocks: the highlights
    metric chain + latest-month/same-month/YTD/window aggregates, then
    the reference's bilingual fallback templates with the same grouped
    int formatting, 2-dp pre-rounded pct formatting (pt comma-decimal
    swap via simultaneous translate) and abbr/year month labels."""
    from forest_open_data_pipelines_spark.operators.timeseries import (
        EN_MONTH_ABBR,
        PT_MONTH_ABBR,
        REPORT_RECENT_MONTHS,
    )

    pt_abbr = "[" + ", ".join(f"'{a}'" for a in PT_MONTH_ABBR) + "]"
    en_abbr = "[" + ", ".join(f"'{a}'" for a in EN_MONTH_ABBR) + "]"

    def fi_en(x: str) -> str:
        return f"format('{{:,}}', ({x})::BIGINT)"

    def fi_pt(x: str) -> str:
        return f"replace({fi_en(x)}, ',', '.')"

    def _fp_core(p: str) -> str:
        # duckdb's fmt rejects thousand separators on floats, so the
        # grouped 2-dp rendering is rebuilt from integer CENTS of the
        # 2-dp pre-round ("+ 0.0" normalizes -0.0 so a tiny negative
        # pct rounding to zero renders unsigned on both engines — the
        # Spark side adds the same + 0.0)
        r = f"(round({p}, 2) + 0.0)"
        cents = f"round(abs({r}) * 100)::BIGINT"
        return (
            f"(CASE WHEN {r} < 0 THEN '-' ELSE '' END"
            f" || format('{{:,}}', {cents} // 100)"
            f" || '.' || lpad(({cents} % 100)::VARCHAR, 2, '0'))"
        )

    def fp_en(p: str) -> str:
        return (
            f"CASE WHEN ({p}) IS NULL THEN 'no comparable base' "
            f"ELSE {_fp_core(p)} || '%' END"
        )

    def fp_pt(p: str) -> str:
        return (
            f"CASE WHEN ({p}) IS NULL THEN 'sem base comparável' "
            f"ELSE translate({_fp_core(p)}, ',.', '.,') || '%' END"
        )

    def ml(period: str, abbr: str) -> str:
        return (
            f"({abbr})[substr({period}, 6, 2)::INT] || '/' || substr({period}, 1, 4)"
        )

    def pct(new: str, old: str) -> str:
        return (
            f"round(CASE WHEN ({old}) IS NOT NULL AND ({old}) <> 0 "
            f"THEN (({new}) - ({old}))::DOUBLE / ({old}) * 100.0 END, 6)"
        )

    prev_s = "ex.previous_year::VARCHAR"
    latest_s = "ex.latest_year::VARCHAR"
    yoy = pct("ex.current_year_total", "ex.previous_year_total")
    r12 = pct("ex.recent_12m_total", "ex.prior_12m_total")
    mom = pct("ex.latest_month_total", "ex.same_month_prev_year_total")
    ytd = pct("ex.ytd_current_year", "ex.ytd_previous_year")
    lm_pt = ml("ex.latest_period", pt_abbr)
    lm_en = ml("ex.latest_period", en_abbr)
    pm = f"{prev_s} || '-' || substr(ex.latest_period, 6, 2)"
    pm_pt = ml(f"({pm})", pt_abbr)
    pm_en = ml(f"({pm})", en_abbr)

    headline_pt = f"""CASE WHEN ex.previous_year IS NULL THEN
      'A base processada cobre ' || ex.first_year::VARCHAR || '-' || {latest_s}
      || ' e o período mais recente vai até ' || ex.latest_period || ', com '
      || {fi_pt('ex.current_year_total')} || ' focos em ' || {latest_s} || '.'
    ELSE {lm_pt} || ': ' || {fi_pt('ex.latest_month_total')} || ' focos ('
      || {fp_pt(mom)} || ' vs ' || {pm_pt} || ').' END"""
    headline_en = f"""CASE WHEN ex.previous_year IS NULL THEN
      'The processed dataset covers ' || ex.first_year::VARCHAR || '-' || {latest_s}
      || ' and the most recent period reaches ' || ex.latest_period || ', with '
      || {fi_en('ex.current_year_total')} || ' hotspots in ' || {latest_s} || '.'
    ELSE {lm_en} || ': ' || {fi_en('ex.latest_month_total')} || ' hotspots ('
      || {fp_en(mom)} || ' vs ' || {pm_en} || ').' END"""
    comparison_pt = f"""CASE WHEN ex.previous_year IS NULL THEN
      'Ainda não há ano anterior processado no escopo atual para comparação anual direta.'
    ELSE 'Comparação mensal (' || {lm_pt} || '): '
      || {fi_pt('ex.latest_month_total')} || ' focos vs '
      || {fi_pt('ex.same_month_prev_year_total')} || ' no mesmo mês de '
      || {prev_s} || ' (' || {fp_pt(mom)} || '). Acumulado jan–' || {lm_pt}
      || ': ' || {fi_pt('ex.ytd_current_year')} || ' vs '
      || {fi_pt('ex.ytd_previous_year')} || ' em ' || {prev_s}
      || ' (' || {fp_pt(ytd)} || '). No total anual: '
      || {fi_pt('ex.current_year_total')} || ' em ' || {latest_s} || ' vs '
      || {fi_pt('ex.previous_year_total')} || ' em ' || {prev_s}
      || ' (' || {fp_pt(yoy)} || ').' END"""
    comparison_en = f"""CASE WHEN ex.previous_year IS NULL THEN
      'There is not yet a previous processed year within the current scope for a direct annual comparison.'
    ELSE 'Monthly comparison (' || {lm_en} || '): '
      || {fi_en('ex.latest_month_total')} || ' hotspots vs '
      || {fi_en('ex.same_month_prev_year_total')} || ' in the same month of '
      || {prev_s} || ' (' || {fp_en(mom)} || '). YTD Jan–' || {lm_en}
      || ': ' || {fi_en('ex.ytd_current_year')} || ' vs '
      || {fi_en('ex.ytd_previous_year')} || ' in ' || {prev_s}
      || ' (' || {fp_en(ytd)} || '). Annual total: '
      || {fi_en('ex.current_year_total')} || ' in ' || {latest_s} || ' vs '
      || {fi_en('ex.previous_year_total')} || ' in ' || {prev_s}
      || ' (' || {fp_en(yoy)} || ').' END"""
    overview_pt = f"""'Foram processadas ' || {fi_pt('ex.total_rows_processed')}
      || ' linhas distribuídas em ' || ex.file_count_used::VARCHAR
      || ' arquivos anuais. Na janela editorial recente de '
      || ex.analysis_window_start || ' a ' || ex.analysis_window_end
      || ', os 12 meses mais recentes somam ' || {fi_pt('ex.recent_12m_total')}
      || ' focos, contra ' || {fi_pt('ex.prior_12m_total')}
      || ' nos 12 meses imediatamente anteriores, o que corresponde a '
      || {fp_pt(r12)} || '.'"""
    overview_en = f"""{fi_en('ex.total_rows_processed')}
      || ' rows were processed across ' || ex.file_count_used::VARCHAR
      || ' annual files. In the recent editorial window from '
      || ex.analysis_window_start || ' to ' || ex.analysis_window_end
      || ', the latest 12 months total ' || {fi_en('ex.recent_12m_total')}
      || ' hotspots, versus ' || {fi_en('ex.prior_12m_total')}
      || ' in the immediately previous 12 months, which corresponds to '
      || {fp_en(r12)} || '.'"""
    limitations_pt = (
        "'O texto é descritivo e não estabelece causalidade. "
        "A leitura editorial permanece concentrada na janela recente, "
        "embora as visualizações publiquem o histórico disponível. "
        "O ano corrente pode estar incompleto.'"
    )
    limitations_en = (
        "'This text is descriptive and does not establish causality. "
        "The editorial reading remains focused on the recent window, "
        "although the visualizations publish the available history. "
        "The current year may be incomplete.'"
    )

    return f"""
WITH {ENRICHED}, {MONTHLY},
{_overview_metric_ctes()}
SELECT block, locale, text FROM (
  SELECT 'headline' AS block, 'pt' AS locale, {headline_pt} AS text FROM ex
  UNION ALL SELECT 'headline', 'en', {headline_en} FROM ex
  UNION ALL SELECT 'overview', 'pt', {overview_pt} FROM ex
  UNION ALL SELECT 'overview', 'en', {overview_en} FROM ex
  UNION ALL SELECT 'comparison', 'pt', {comparison_pt} FROM ex
  UNION ALL SELECT 'comparison', 'en', {comparison_en} FROM ex
  UNION ALL SELECT 'limitations', 'pt', {limitations_pt} FROM ex
  UNION ALL SELECT 'limitations', 'en', {limitations_en} FROM ex
)
ORDER BY block, locale"""


def _stratified_token_sample_sql() -> str:
    """DuckDB twin of curation.stratified_token_sample: md5-ordered
    cumulative token window per language, integer-exact budget cut."""
    _, prefix = _mixture_sql_parts()
    return f"""
WITH {prefix},
drawn AS (
  SELECT doc_id, lang, source,
         len(string_split({LCLEAN}, ' '))::BIGINT AS n_toks,
         ({_MD5_INT.format(expr="'strat-' || doc_id")}) % 1000000
           AS sample_u_micro
  FROM documents
),
cum AS (
  SELECT doc_id, lang, source, n_toks, sample_u_micro,
         coalesce(sum(n_toks) OVER (
           PARTITION BY lang ORDER BY sample_u_micro, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS tokens_before
  FROM drawn
)
SELECT doc_id, c.lang, source, n_toks, sample_u_micro
FROM cum c JOIN alloc r ON c.lang = r.lang
WHERE tokens_before < r.target_tokens
ORDER BY doc_id"""


def _ann_method_eval_sql(bruteforce_sql: str) -> str:
    """DuckDB twin of similarity.ann_method_eval: the
    dedup_method_eval composition pattern over the five verified ANN
    oracle constructions, hits joined on (query_id, cand_id)."""
    methods = {
        "ivf": _ann_ivf_sql(),
        "ivfpq": _ann_topk_ivfpq_sql(),
        "lsh": _ann_lsh_sql(),
        "pq": _ann_topk_pq_sql(),
        "sq8": _ann_topk_sq8_sql(),
    }
    ctes = ",\n".join(
        f"m_{name} AS (SELECT query_id, cand_id FROM ({sql}))"
        for name, sql in methods.items()
    )
    unions = "\n  UNION ALL\n".join(
        f"""  SELECT '{name}' AS method,
         (SELECT count(*) FROM m_{name}) AS n_results,
         (SELECT n_truth FROM t) AS n_truth,
         (SELECT count(*) FROM m_{name} JOIN truth USING (query_id, cand_id))
           AS n_hit"""
        for name in methods
    )
    return f"""
WITH truth AS (SELECT query_id, cand_id FROM ({bruteforce_sql})),
{ctes},
t AS (SELECT count(*) AS n_truth FROM truth),
stats AS (
{unions}
)
SELECT method, n_results, n_truth, n_hit,
       round(n_hit::DOUBLE / nullif(n_results, 0), 6) AS precision,
       round(n_hit::DOUBLE / nullif(n_truth, 0), 6) AS recall
FROM stats ORDER BY method"""


def _priority_sample_sql() -> str:
    """DuckDB twin of curation.priority_sample: identical md5
    micro-draw, the same two exactly-rounded IEEE divisions for the
    priority key, top-(n+1) with the (priority DESC, doc_id)
    tie-break, τ as the (n+1)-th priority (0 when the corpus fits)."""
    from forest_open_data_pipelines_spark.operators.curation import (
        PRIORITY_SAMPLE_N as N,
    )

    draw = _MD5_INT.format(expr="'prio-' || doc_id")
    return f"""
WITH scored AS (
  SELECT doc_id, lang, source,
         n_chars::BIGINT AS weight,
         n_chars::DOUBLE / ((({draw}) % 1000000 + 1) / 1000000.0)
           AS priority
  FROM documents
),
top AS (SELECT * FROM scored ORDER BY priority DESC, doc_id LIMIT {N + 1}),
tau AS (
  SELECT CASE WHEN count(*) > {N} THEN min(priority) ELSE 0.0 END AS tau
  FROM top
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id)::INT AS rank
  FROM top
)
SELECT doc_id, lang, source, weight,
       round(priority, 6) AS priority, rank,
       round(tau, 6) AS tau,
       round(greatest(weight::DOUBLE, tau), 6) AS est_weight
FROM ranked CROSS JOIN tau
WHERE rank <= {N} ORDER BY rank"""


def _markov_next_event_sql() -> str:
    """DuckDB twin of sessionize.markov_next_event_eval: identical
    (ts, event_id)-ordered per-user transition stream, temporal
    split, add-one model with micro-bit log-probs, argmax prediction
    with the (count DESC, type ASC) tie-break, and both unseen-pair /
    unseen-cur backoff branches."""
    from forest_open_data_pipelines_spark.operators.sessionize import (
        MARKOV_TEST_DAYS as TEST,
    )

    return f"""
WITH bigrams AS (
  SELECT cur_type, next_type, day FROM (
    SELECT event_type AS next_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS cur_type,
           ts::DATE AS day
    FROM events
  ) WHERE cur_type IS NOT NULL
),
split AS (SELECT max(day) - {TEST} AS split_day FROM bigrams),
train AS (SELECT b.* FROM bigrams b, split WHERE day <= split_day),
test AS (SELECT b.* FROM bigrams b, split WHERE day > split_day),
pairs AS (
  SELECT cur_type, next_type, count(*)::BIGINT AS n_pair
  FROM train GROUP BY 1, 2
),
cur_tot AS (
  SELECT cur_type, sum(n_pair)::BIGINT AS n_cur FROM pairs GROUP BY 1
),
kk AS (SELECT count(DISTINCT next_type)::BIGINT AS k FROM train),
model AS (
  SELECT p.cur_type, p.next_type,
         round(log2((n_pair + 1)::DOUBLE / (n_cur + k))
               * 1000000)::BIGINT AS lp_micro
  FROM pairs p JOIN cur_tot USING (cur_type) CROSS JOIN kk
),
pred AS (
  SELECT cur_type, next_type AS predicted_next FROM (
    SELECT *, row_number() OVER (PARTITION BY cur_type
                                 ORDER BY n_pair DESC, next_type) AS rn
    FROM pairs
  ) WHERE rn = 1
),
scored AS (
  SELECT t.cur_type, t.next_type,
         coalesce(m.lp_micro,
                  round(log2(1.0 / (c_k.n_cur + c_k.k)) * 1000000)::BIGINT,
                  round(log2(1.0 / ka.k) * 1000000)::BIGINT) AS lp,
         coalesce(p.predicted_next = t.next_type, false) AS correct
  FROM test t
  LEFT JOIN model m
    ON m.cur_type = t.cur_type AND m.next_type = t.next_type
  LEFT JOIN (SELECT c.*, kk.k FROM cur_tot c CROSS JOIN kk) AS c_k(cur_type, n_cur, k)
    ON c_k.cur_type = t.cur_type
  CROSS JOIN kk ka
  LEFT JOIN pred p ON p.cur_type = t.cur_type
),
agg AS (
  SELECT cur_type, count(*)::BIGINT AS n_test,
         count(*) FILTER (correct)::BIGINT AS n_correct,
         round(count(*) FILTER (correct) / count(*), 6) AS accuracy,
         round(-sum(lp) / (count(*) * 1000000.0), 6) AS avg_bits
  FROM scored GROUP BY 1
)
SELECT a.cur_type, p.predicted_next, a.n_test, a.n_correct,
       a.accuracy, a.avg_bits
FROM agg a LEFT JOIN pred p USING (cur_type)
ORDER BY a.cur_type"""


def _conformal_forecast_sql() -> str:
    """DuckDB twin of sessionize.conformal_forecast_intervals: the
    identical micro-quantized daily totals, lag-7 seasonal-naive
    forecast, integer-exact calibration rank, order-statistic q̂, and
    int64 interval/coverage arithmetic."""
    from forest_open_data_pipelines_spark.operators.sessionize import (
        CONF_ALPHA_DEN as DEN,
        CONF_ALPHA_NUM as NUM,
        CONF_SEASON_LAG as LAG,
        CONF_TEST_DAYS as TEST,
    )

    keep = DEN - NUM
    return f"""
WITH daily AS (
  SELECT event_type, ts::DATE AS day,
         sum(round(value * 1000000.0, 0)::BIGINT)::BIGINT AS actual_micro
  FROM events GROUP BY 1, 2
),
pred AS (
  SELECT *,
         lag(actual_micro, {LAG})
           OVER (PARTITION BY event_type ORDER BY day) AS pred_micro,
         max(day) OVER (PARTITION BY event_type) AS max_day
  FROM daily
),
scored AS (
  SELECT *, (max_day - day) < {TEST} AS is_test
  FROM pred WHERE pred_micro IS NOT NULL
),
cal AS (
  SELECT *, abs(actual_micro - pred_micro) AS r_micro
  FROM scored WHERE NOT is_test
),
n AS (SELECT event_type, count(*)::BIGINT AS n_cal FROM cal GROUP BY 1),
qh AS (
  SELECT event_type, r_micro AS q_micro, n_cal
  FROM (
    SELECT c.*, n.n_cal,
           row_number() OVER (PARTITION BY c.event_type
                              ORDER BY r_micro, day) AS rn
    FROM cal c JOIN n USING (event_type)
  )
  WHERE rn = ((n_cal + 1) * {keep} + {DEN} - 1) // {DEN}
),
test AS (
  SELECT s.event_type, s.day, s.actual_micro, s.pred_micro,
         q.q_micro, q.n_cal,
         s.pred_micro - q.q_micro AS lo_micro,
         s.pred_micro + q.q_micro AS hi_micro,
         s.actual_micro >= s.pred_micro - q.q_micro
           AND s.actual_micro <= s.pred_micro + q.q_micro AS covered
  FROM scored s JOIN qh q USING (event_type) WHERE s.is_test
),
cov AS (
  SELECT event_type,
         round(count(*) FILTER (covered) / count(*), 6) AS coverage_rate
  FROM test GROUP BY 1
)
SELECT t.event_type, t.day,
       round(actual_micro / 1000000.0, 6) AS actual,
       round(pred_micro / 1000000.0, 6) AS predicted,
       round(q_micro / 1000000.0, 6) AS q_hat,
       round(lo_micro / 1000000.0, 6) AS lo,
       round(hi_micro / 1000000.0, 6) AS hi,
       n_cal, covered, coverage_rate
FROM test t JOIN cov USING (event_type)
ORDER BY t.event_type, t.day"""


def _kn_bigram_perplexity_sql() -> str:
    """DuckDB twin of textops.kn_bigram_perplexity: identical
    whitespace tokens, the same three training aggregates over the
    word-bigram stream, the interpolated KN formula in the Spark
    expression's exact double-op order, the same integer micro-bit
    quantization, the charlm left-join/NULL-pass tail."""
    from forest_open_data_pipelines_spark.operators.textops import (
        KN_DISCOUNT as D,
        KN_MAX_ENTROPY_BITS as H,
    )

    return f"""
WITH base AS (
  SELECT doc_id, string_split({LCLEAN}, ' ') AS ts FROM documents
),
ex AS (
  SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS bg
  FROM base, unnest(range(1, len(ts))) AS u(i)
  WHERE len(ts) >= 2
),
c12 AS (SELECT bg, count(*)::BIGINT AS n12 FROM ex GROUP BY bg),
sp AS (
  SELECT bg, n12, string_split(bg, ' ')[1] AS w1,
         string_split(bg, ' ')[2] AS w2
  FROM c12
),
ctx AS (
  SELECT w1, sum(n12)::BIGINT AS n1, count(*)::BIGINT AS r1
  FROM sp GROUP BY w1
),
cont AS (SELECT w2, count(*)::BIGINT AS l2 FROM sp GROUP BY w2),
types AS (SELECT count(*)::BIGINT AS t FROM c12),
model AS (
  SELECT bg,
         round(log2(greatest(n12 - {D!r}, 0.0) / n1
               + ({D!r} * r1 / n1) * (l2::DOUBLE / t))
               * 1000000)::BIGINT AS lp_micro
  FROM sp JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN types
),
scored AS (
  SELECT doc_id, sum(lp_micro)::BIGINT AS lp_sum,
         count(*)::BIGINT AS n_bigrams
  FROM ex JOIN model USING (bg) GROUP BY doc_id
),
final AS (
  SELECT b.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
         round(-lp_sum / (n_bigrams * 1000000.0), 6) AS entropy_bits
  FROM base b LEFT JOIN scored USING (doc_id)
)
SELECT doc_id, n_bigrams, entropy_bits,
       round(pow(2.0, entropy_bits), 6) AS perplexity,
       coalesce(entropy_bits <= {H!r}, true) AS passes_kn
FROM final ORDER BY doc_id"""


def _er_base_ctes() -> str:
    """The shared record-feed + blocked-pairs CTE chain all three
    entity-resolution oracles build on (single-sourced from the
    Python constants)."""
    from forest_open_data_pipelines_spark.operators.entities import (
        ER_FIRST,
        ER_LAST,
        ER_MAX_EDIT,
    )

    firsts = ", ".join(f"'{w}'" for w in ER_FIRST)
    lasts = ", ".join(f"'{w}'" for w in ER_LAST)
    return f"""
named AS (
  SELECT c_custkey AS ck,
         ([{firsts}])[c_custkey % 16 + 1] AS f,
         ([{lasts}])[(c_custkey // 16) % 16 + 1]
           || ((c_custkey // 256)::VARCHAR) AS l
  FROM customer
),
records AS (
  SELECT ck*10 AS rec_id, ck AS entity_id, f || ' ' || l AS name,
         'canonical' AS kind
  FROM named
  UNION ALL
  SELECT ck*10+1, ck, f || ' ' || substr(l, 1, 1) || substr(l, 3),
         'typo'
  FROM named WHERE ck % 3 = 0
  UNION ALL
  SELECT ck*10+2, ck, upper(f || ' ' || l), 'case'
  FROM named WHERE ck % 5 = 0
),
keyed AS (
  SELECT *,
         lower(substr(string_split(name, ' ')[1], 1, 1))
           || lower(substr(string_split(name, ' ')[2], 1, 1))
           || lower(right(string_split(name, ' ')[2], 1)) AS block_key
  FROM records
),
pairs AS (
  SELECT l.block_key,
         l.rec_id AS left_rec_id, r.rec_id AS right_rec_id,
         l.name AS left_name, r.name AS right_name,
         l.kind AS left_kind, r.kind AS right_kind,
         levenshtein(lower(l.name), lower(r.name))::INT AS edit_distance,
         l.entity_id = r.entity_id AS is_true_match
  FROM keyed l JOIN keyed r
    ON l.block_key = r.block_key AND l.rec_id < r.rec_id
  WHERE levenshtein(lower(l.name), lower(r.name)) <= {ER_MAX_EDIT}
)"""


def _entity_resolution_sqls() -> tuple[str, str]:
    """DuckDB twins of entities.entity_resolution(_eval): the
    identical closed-form record feed (16×16 word lists + family
    suffix + typo/case channels, single-sourced from the Python
    constants), the same 3-char block key, the same lowercase
    Levenshtein ≤ max_edit verify, and for the eval the same
    full-outer kind-pair metric join with floor-1 denominators."""
    base = _er_base_ctes()
    pairs_sql = f"""
WITH {base}
SELECT * FROM pairs ORDER BY left_rec_id, right_rec_id"""
    eval_sql = f"""
WITH {base},
emitted AS (
  SELECT left_kind, right_kind, count(*)::BIGINT AS n_pairs,
         count(*) FILTER (is_true_match)::BIGINT AS n_true
  FROM pairs GROUP BY 1, 2
),
truth AS (
  SELECT a.kind AS left_kind, b.kind AS right_kind,
         count(*)::BIGINT AS n_truth
  FROM records a JOIN records b
    ON a.entity_id = b.entity_id AND a.rec_id < b.rec_id
  GROUP BY 1, 2
)
SELECT coalesce(e.left_kind, t.left_kind) AS left_kind,
       coalesce(e.right_kind, t.right_kind) AS right_kind,
       coalesce(e.n_pairs, 0)::BIGINT AS n_pairs,
       coalesce(e.n_true, 0)::BIGINT AS n_true,
       coalesce(t.n_truth, 0)::BIGINT AS n_truth,
       round(coalesce(e.n_true, 0)
             / greatest(coalesce(e.n_pairs, 0), 1), 6) AS precision,
       round(coalesce(e.n_true, 0)
             / greatest(coalesce(t.n_truth, 0), 1), 6) AS recall
FROM emitted e FULL OUTER JOIN truth t
  ON e.left_kind = t.left_kind AND e.right_kind = t.right_kind
ORDER BY 1, 2"""
    return pairs_sql, eval_sql


def _er_incremental_sql() -> str:
    """DuckDB twin of entities.er_incremental_classify: same record
    feed, same canonical-index/holdout split, same block-join +
    Levenshtein verify + (distance, base rec_id) best-match, same
    matched/new/is_correct verdict columns."""
    from forest_open_data_pipelines_spark.operators.entities import (
        ER_HOLDOUT_MOD,
        ER_HOLDOUT_RESIDUE,
        ER_MAX_EDIT,
    )

    return f"""
WITH {_er_base_ctes()},
idx AS (
  SELECT * FROM keyed
  WHERE kind = 'canonical'
    AND entity_id % {ER_HOLDOUT_MOD} <> {ER_HOLDOUT_RESIDUE}
),
inc AS (
  SELECT * FROM keyed
  WHERE kind <> 'canonical'
     OR entity_id % {ER_HOLDOUT_MOD} = {ER_HOLDOUT_RESIDUE}
),
cand AS (
  SELECT i.rec_id, i.entity_id, i.name, i.kind,
         x.rec_id AS base_rec_id, x.entity_id AS base_entity,
         levenshtein(lower(i.name), lower(x.name))::INT AS edit_distance
  FROM inc i JOIN idx x ON i.block_key = x.block_key
  WHERE levenshtein(lower(i.name), lower(x.name)) <= {ER_MAX_EDIT}
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY rec_id
                                 ORDER BY edit_distance, base_rec_id) AS rn
    FROM cand
  ) WHERE rn = 1
)
SELECT i.rec_id, i.name, i.kind,
       b.base_rec_id AS matched_rec_id,
       b.base_entity AS matched_entity,
       b.edit_distance,
       CASE WHEN b.base_rec_id IS NOT NULL THEN 'matched'
            ELSE 'new' END AS status,
       CASE WHEN b.base_rec_id IS NOT NULL
            THEN b.base_entity = i.entity_id END AS is_correct
FROM inc i LEFT JOIN best b USING (rec_id)
ORDER BY i.rec_id"""


def _entity_clusters_sql() -> str:
    """DuckDB twin of entities.entity_clusters: transitive closure
    (WITH RECURSIVE min-label reachability) over the ACCEPTED pair
    graph — deliberately a different closure algorithm than the Spark
    side's per-block label-map fold (the dedup_clusters adjudication),
    with the same truth-purity columns."""
    return f"""
WITH RECURSIVE {_er_base_ctes()},
edges AS (
  SELECT left_rec_id AS u, right_rec_id AS v FROM pairs
  UNION ALL
  SELECT right_rec_id AS u, left_rec_id AS v FROM pairs
),
reach(u, v) AS (
  SELECT rec_id, rec_id FROM records
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
),
lab AS (SELECT u AS rec_id, min(v) AS cluster_id FROM reach GROUP BY u),
withent AS (
  SELECT l.rec_id, l.cluster_id, r.entity_id
  FROM lab l JOIN records r USING (rec_id)
),
sz AS (
  SELECT cluster_id, count(*)::BIGINT AS cluster_size,
         count(DISTINCT entity_id)::BIGINT AS n_entities
  FROM withent GROUP BY cluster_id
)
SELECT w.rec_id, w.cluster_id, s.cluster_size, s.n_entities,
       w.rec_id = w.cluster_id AS is_canonical
FROM withent w JOIN sz s USING (cluster_id)
ORDER BY w.rec_id"""


def _kmv_distinct_rollup_sql() -> str:
    """DuckDB twin of sketches.kmv_distinct_rollup: identical 60-bit
    md5 hash, the same daily bottom-k → monthly bottom-k set rollup,
    and the same (k−1)/u_(k) estimator with the Spark expression's
    exact double-op order (h::DOUBLE + 1.0, then one division by 2^60,
    then one more division) so the estimate is bit-identical."""
    from forest_open_data_pipelines_spark.operators.sketches import (
        KMV_K as K,
        KMV_UNIVERSE as U,
    )

    h = _MD5_INT.format(expr="user_id::VARCHAR")
    return f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
         date_trunc('day', ts)::DATE AS day,
         date_trunc('month', ts)::DATE AS month,
         {h} AS h
  FROM events
),
daily AS (
  SELECT event_type, month, day, h,
         row_number() OVER (PARTITION BY event_type, day ORDER BY h) AS rn
  FROM hashed
),
monthly AS (
  SELECT event_type, month, h,
         row_number() OVER (PARTITION BY event_type, month ORDER BY h) AS rn
  FROM (SELECT DISTINCT event_type, month, h FROM daily WHERE rn <= {K})
),
sketch AS (
  SELECT event_type, month, count(*)::BIGINT AS n_candidates,
         max(h) AS kth_h
  FROM monthly WHERE rn <= {K} GROUP BY 1, 2
),
exact AS (
  SELECT event_type, month, count(DISTINCT h)::BIGINT AS exact_distinct
  FROM hashed GROUP BY 1, 2
),
joined AS (
  SELECT s.event_type, s.month, s.n_candidates, e.exact_distinct,
         CASE WHEN s.n_candidates < {K} THEN s.n_candidates::DOUBLE
              ELSE {float(K - 1)!r} / ((s.kth_h::DOUBLE + 1.0) / {U!r})
         END AS est
  FROM sketch s JOIN exact e
    ON s.event_type IS NOT DISTINCT FROM e.event_type
   AND s.month IS NOT DISTINCT FROM e.month
)
SELECT event_type, month, n_candidates::INT AS n_candidates,
       round(est, 6) AS est_distinct, exact_distinct,
       round(abs(est - exact_distinct::DOUBLE) / exact_distinct, 6)
         AS rel_err
FROM joined ORDER BY event_type, month"""


def _retrieval_rank_eval_sql(bruteforce_sql: str) -> str:
    """DuckDB twin of similarity.retrieval_rank_eval: the
    ann_method_eval composition over the five ranked ANN oracles,
    with every per-hit gain/precision/reciprocal micro-quantized
    (round(1e6·x)::BIGINT, the tfidf idf_micro precedent) so all
    aggregation is exact integer summation; the IDCG@k normalizer is
    the SAME Python-computed constant the Spark plan embeds."""
    from forest_open_data_pipelines_spark.operators.similarity import (
        RETRIEVAL_EVAL_K as K,
        RETRIEVAL_EVAL_QUERIES as NQ,
        retrieval_idcg_micro,
    )

    idcg = retrieval_idcg_micro(K)
    methods = {
        "ivf": _ann_ivf_sql(),
        "ivfpq": _ann_topk_ivfpq_sql(),
        "lsh": _ann_lsh_sql(),
        "pq": _ann_topk_pq_sql(),
        "sq8": _ann_topk_sq8_sql(),
    }
    ctes = []
    for name, sql in methods.items():
        ctes.append(
            f"m_{name} AS (SELECT query_id, cand_id, rank FROM ({sql}))"
        )
        ctes.append(f"""h_{name} AS (
  SELECT query_id, rank,
         row_number() OVER (PARTITION BY query_id ORDER BY rank) AS i
  FROM m_{name} JOIN truth USING (query_id, cand_id))""")
        ctes.append(f"""q_{name} AS (
  SELECT query_id, min(rank) AS first_rank,
         sum(round(1000000.0 / log2(rank + 1))::BIGINT)::BIGINT AS dcg_micro,
         sum(round(1000000.0 * i / rank)::BIGINT)::BIGINT AS ap_micro
  FROM h_{name} GROUP BY query_id)""")
        ctes.append(f"""s_{name} AS (
  SELECT count(*)::BIGINT AS n_hit_queries,
         coalesce(sum(round(1000000.0 / first_rank)::BIGINT), 0)::BIGINT
           AS srr,
         coalesce(sum(dcg_micro), 0)::BIGINT AS sdcg,
         coalesce(sum(ap_micro), 0)::BIGINT AS sap
  FROM q_{name})""")
    unions = "\n  UNION ALL\n".join(
        f"  SELECT '{name}' AS method, n_hit_queries, srr, sdcg, sap"
        f" FROM s_{name}"
        for name in methods
    )
    cte_block = ",\n".join(ctes)
    return f"""
WITH truth AS (SELECT query_id, cand_id FROM ({bruteforce_sql})),
{cte_block},
stats AS (
{unions}
)
SELECT method, n_hit_queries,
       round(srr / {float(NQ * 10**6)!r}, 6) AS mrr,
       round(sdcg / {float(NQ * idcg)!r}, 6) AS ndcg_at_k,
       round(sap / {float(NQ * K * 10**6)!r}, 6) AS map_at_k
FROM stats ORDER BY method"""


def _ann_recall_vs_dim_sql(n_queries: int = 8, k: int = 10) -> str:
    """DuckDB twin of similarity.ann_recall_vs_dim: exact cosine top-k
    over emb[1:d] prefixes (dims single-sourced from the Spark module)
    joined against the full-dim truth on (query_id, cand_id)."""
    from forest_open_data_pipelines_spark.operators.similarity import (
        ANN_RECALL_DIMS,
    )

    def topk(expr: str) -> str:
        return f"""SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           round(list_dot_product({expr.format(s='q')}, {expr.format(s='c')})
                 / (sqrt(list_dot_product({expr.format(s='q')}, {expr.format(s='q')}))
                    * sqrt(list_dot_product({expr.format(s='c')}, {expr.format(s='c')}))), 6)
             AS cosine,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round(list_dot_product({expr.format(s='q')}, {expr.format(s='c')})
                                             / (sqrt(list_dot_product({expr.format(s='q')}, {expr.format(s='q')}))
                                                * sqrt(list_dot_product({expr.format(s='c')}, {expr.format(s='c')}))), 6) DESC,
                                       c.vec_id) AS rank
    FROM e q JOIN e c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {n_queries}
  ) WHERE rank <= {k}"""

    ctes = ",\n".join(
        f"m_{d} AS ({topk(f'{{s}}.emb[1:{d}]')})" for d in ANN_RECALL_DIMS
    )
    unions = "\n  UNION ALL\n".join(
        f"""  SELECT {d} AS dim,
         (SELECT count(*) FROM m_{d}) AS n_results,
         (SELECT n_truth FROM t) AS n_truth,
         (SELECT count(*) FROM m_{d} JOIN truth USING (query_id, cand_id))
           AS n_hit"""
        for d in ANN_RECALL_DIMS
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
truth AS ({topk('{s}.emb')}),
{ctes},
t AS (SELECT count(*) AS n_truth FROM truth),
stats AS (
{unions}
)
SELECT dim, n_results, n_truth, n_hit,
       round(n_hit::DOUBLE / nullif(n_truth, 0), 6) AS recall
FROM stats ORDER BY dim"""


def _co_order_edges_ctes(min_support: int) -> str:
    """Shared lines/pairs/edges CTE text of the two graph-oracle
    generators — the SQL twin of relational.co_order_edges."""
    return f"""lines AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
  FROM lines a JOIN lines b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {min_support}
),
edges AS (
  SELECT pa AS src, pb AS dst FROM pairs
  UNION ALL
  SELECT pb AS src, pa AS dst FROM pairs
)"""


def _part_pagerank_sql(min_support: int = 2) -> str:
    """DuckDB twin of relational.part_pagerank: the same undirected
    co-order edge list, then PAGERANK_ITERS unrolled rank CTEs — every
    step pure truncating BIGINT arithmetic (floor == trunc on the
    positive domain), so the pico-unit ranks compare EXACTLY; only the
    display column rounds."""
    from forest_open_data_pipelines_spark.operators.relational import (
        PAGERANK_DAMP_PCT,
        PAGERANK_ITERS,
        PAGERANK_SCALE,
    )

    d = PAGERANK_DAMP_PCT
    iter_ctes = []
    prev = "pr0"
    for i in range(1, PAGERANK_ITERS + 1):
        iter_ctes.append(f"""c{i} AS (
  SELECT e.dst AS node, sum((p.pr * {d}) // (100 * e.outdeg))::BIGINT AS s
  FROM edges_deg e JOIN {prev} p ON p.node = e.src
  GROUP BY e.dst
),
pr{i} AS (
  SELECT g.src AS node,
         (({PAGERANK_SCALE} * {100 - d}) // (100 * (SELECT n FROM nn))
          + coalesce(c.s, 0))::BIGINT AS pr
  FROM deg g LEFT JOIN c{i} c ON c.node = g.src
)""")
        prev = f"pr{i}"
    ctes = ",\n".join(iter_ctes)
    return f"""
WITH {_co_order_edges_ctes(min_support)},
deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src),
nn AS (SELECT count(*)::BIGINT AS n FROM deg),
edges_deg AS (SELECT e.src, e.dst, g.outdeg FROM edges e JOIN deg g USING (src)),
pr0 AS (
  SELECT src AS node, ({PAGERANK_SCALE} // (SELECT n FROM nn))::BIGINT AS pr
  FROM deg
),
{ctes}
SELECT p.node AS part_id, g.outdeg AS degree, p.pr AS rank_pico,
       round(p.pr / {float(PAGERANK_SCALE)}, 6) AS rank
FROM {prev} p JOIN deg g ON g.src = p.node
ORDER BY part_id"""


def _part_communities_sql(min_support: int = 2) -> str:
    """DuckDB twin of relational.part_communities: the same edge list,
    LPA_ITERS unrolled synchronous vote rounds (most frequent neighbor
    label, ties to the smallest label via the identical
    (n_votes DESC, label) row_number) — integer labels end-to-end."""
    from forest_open_data_pipelines_spark.operators.relational import (
        LPA_ITERS,
    )

    iter_ctes = []
    prev = "l0"
    for i in range(1, LPA_ITERS + 1):
        iter_ctes.append(f"""v{i} AS (
  SELECT e.dst, l.label, count(*) AS n_votes
  FROM edges e JOIN {prev} l ON l.node = e.src
  GROUP BY e.dst, l.label
),
l{i} AS (
  SELECT dst AS node, label
  FROM (SELECT *, row_number() OVER (PARTITION BY dst
                                     ORDER BY n_votes DESC, label) AS rn
        FROM v{i})
  WHERE rn = 1
)""")
        prev = f"l{i}"
    ctes = ",\n".join(iter_ctes)
    return f"""
WITH {_co_order_edges_ctes(min_support)},
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
{ctes},
sizes AS (
  SELECT label, count(*)::BIGINT AS community_size FROM {prev} GROUP BY label
)
SELECT l.node AS part_id, l.label AS community, s.community_size
FROM {prev} l JOIN sizes s USING (label)
ORDER BY part_id"""


def _part_triangles_sql(min_support: int = 2) -> str:
    """DuckDB twin of relational.part_triangles: the same edge list,
    the same (degree, id) orientation, each triangle enumerated once
    as u→v, v→w with the closing u→w semi-check, corners exploded to
    all three nodes; native round(x,6) is the scale-then-round
    clustering twin."""
    return f"""
WITH {_co_order_edges_ctes(min_support)},
deg AS (SELECT src, count(*)::BIGINT AS degree FROM edges GROUP BY src),
oriented AS (
  SELECT CASE WHEN da.degree < db.degree
              OR (da.degree = db.degree AND p.pa < p.pb)
         THEN p.pa ELSE p.pb END AS u,
         CASE WHEN da.degree < db.degree
              OR (da.degree = db.degree AND p.pa < p.pb)
         THEN p.pb ELSE p.pa END AS v
  FROM pairs p JOIN deg da ON da.src = p.pa JOIN deg db ON db.src = p.pb
),
tri AS (
  SELECT e1.u, e1.v, e2.v AS w
  FROM oriented e1 JOIN oriented e2 ON e2.u = e1.v
  WHERE EXISTS (SELECT 1 FROM oriented e3
                WHERE e3.u = e1.u AND e3.v = e2.v)
),
corners AS (
  SELECT part_id, count(*)::BIGINT AS n_triangles
  FROM (SELECT u AS part_id FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri)
  GROUP BY part_id
)
SELECT d.src AS part_id, d.degree,
       coalesce(c.n_triangles, 0)::BIGINT AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN round(2.0 * coalesce(c.n_triangles, 0)
                       / (d.degree * (d.degree - 1)), 6)
            END AS clustering_coeff
FROM deg d LEFT JOIN corners c ON c.part_id = d.src
ORDER BY part_id"""


def _focos_prompt_texts_sql(focos_payload_sql: str) -> str:
    """DuckDB twin of social.focos_prompt_texts: the same literal
    constants (imported from the Spark module — single source) and
    concatenation order over the focos_llm_payload twin."""
    from forest_open_data_pipelines_spark.operators.social import (
        FOCOS_CC_USER_HEAD,
        FOCOS_CC_USER_TAIL,
        FOCOS_GT_TOM_NATIONAL,
        FOCOS_GT_TOM_REGIONAL,
        FOCOS_GT_USER_MID,
        FOCOS_GT_USER_TAIL,
        FOCOS_PD_USER_HEAD,
        FOCOS_PD_USER_MID,
        FOCOS_PD_USER_TAIL_A,
        FOCOS_PD_USER_TAIL_B,
        FOCOS_SYSTEM_CAROUSEL,
        FOCOS_SYSTEM_GRAPHIC_TEXT,
        FOCOS_SYSTEM_POST_DESCRIPTION,
        NATIONAL_SLUG,
    )

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    return f"""
WITH p AS (
  SELECT scope_slug, bioma,
         strftime(make_date(latest_year, last_closed_month, 1), '%Y-%m-%d')
           AS dref,
         prompt_block
  FROM ({focos_payload_sql})
),
rows AS (
  SELECT 'graphic_text' AS kind, scope_slug,
         {q(FOCOS_SYSTEM_GRAPHIC_TEXT)} AS system_prompt,
         CASE WHEN scope_slug = '{NATIONAL_SLUG}'
              THEN 'Recorte: ' || bioma || {q(FOCOS_GT_TOM_NATIONAL)}
              ELSE 'Recorte regional: ' || bioma || {q(FOCOS_GT_TOM_REGIONAL)}
         END || {q(FOCOS_GT_USER_MID)} || prompt_block
             || {q(FOCOS_GT_USER_TAIL)} AS user_prompt
  FROM p
  UNION ALL
  SELECT 'post_description', scope_slug,
         {q(FOCOS_SYSTEM_POST_DESCRIPTION)},
         {q(FOCOS_PD_USER_HEAD)} || dref || {q(FOCOS_PD_USER_MID)}
           || prompt_block || {q(FOCOS_PD_USER_TAIL_A)} || dref
           || {q(FOCOS_PD_USER_TAIL_B)}
  FROM p WHERE scope_slug = '{NATIONAL_SLUG}'
  UNION ALL
  SELECT 'carousel_caption', scope_slug,
         {q(FOCOS_SYSTEM_CAROUSEL)},
         {q(FOCOS_CC_USER_HEAD)} || dref || {q(FOCOS_CC_USER_TAIL)}
  FROM p WHERE scope_slug = '{NATIONAL_SLUG}'
)
SELECT * FROM rows ORDER BY kind, scope_slug"""


def _referential_integrity_sql() -> str:
    """DuckDB twin of profiling.referential_integrity_audit: the same
    seven FK relationships, orphans via NOT EXISTS (all keys non-null
    in this schema, matching the left-anti join)."""
    rels = [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    parts = []
    for ct, ck, pt, pk in rels:
        orphan = (
            f"SELECT {ck} AS k FROM {ct} WHERE NOT EXISTS "
            f"(SELECT 1 FROM {pt} WHERE {pk} = {ct}.{ck})"
        )
        parts.append(f"""
SELECT '{ct}.{ck}' AS child_key, '{pt}.{pk}' AS parent_key,
       (SELECT count(*) FROM {ct}) AS n_child_rows,
       (SELECT count(DISTINCT {ck}) FROM {ct}) AS n_child_keys,
       (SELECT count(*) FROM ({orphan})) AS n_orphan_rows,
       (SELECT count(DISTINCT k) FROM ({orphan})) AS n_orphan_keys,
       (SELECT count(*) FROM ({orphan})) = 0 AS intact""")
    body = "\nUNION ALL".join(parts)
    return f"SELECT * FROM ({body}) ORDER BY child_key, parent_key"


def _inmet_yearly_zips_sql() -> str:
    """DuckDB twin of html.inmet_yearly_zips: the same 8-kind href
    wrapper cycled by doc_id, last-path-segment filename (no query
    strip), case-insensitive (\\d{4})\\.zip$ search, urljoin-style
    resolution, year DESC / url ASC ranking."""
    from forest_open_data_pipelines_spark.operators.html import (
        INMET_BASE_DIR,
    )

    return f"""
WITH k AS (
  SELECT doc_id, (doc_id % 6 + 2015)::VARCHAR AS yyyy, doc_id % 8 AS kind
  FROM documents
),
hrefs AS (
  SELECT DISTINCT CASE kind
    WHEN 0 THEN yyyy || '.zip'
    WHEN 1 THEN 'https://files.inmet.example/uploads/' || yyyy || '.zip'
    WHEN 2 THEN yyyy || '.ZIP'
    WHEN 3 THEN 'dados.zip'
    WHEN 4 THEN yyyy || '.csv'
    WHEN 5 THEN 'uploads/normais/' || yyyy || '.zip'
    WHEN 6 THEN yyyy || '.zip?x=1'
    ELSE 'INMET_' || yyyy || '.zip'
  END AS href FROM k
),
cls AS (
  SELECT href,
         string_split(href, '/')[-1] AS filename,
         regexp_extract(lower(string_split(href, '/')[-1]),
                        '(\\d{{4}})\\.zip$', 1) AS year,
         CASE WHEN href LIKE 'http%' THEN href
              ELSE '{INMET_BASE_DIR}' || href END AS url
  FROM hrefs
)
SELECT row_number() OVER (ORDER BY year DESC, url)::INT AS item_rank,
       year AS period, filename, url
FROM cls WHERE year <> '' ORDER BY item_rank"""


def _stratified_topk_sample_sql() -> str:
    """DuckDB twin of curation.stratified_topk_sample: one
    row_number() per (lang, source) stratum in md5-draw order — the
    Spark side's two-level sharded cut is exact, so the single-window
    formulation is the semantic ground truth."""
    from forest_open_data_pipelines_spark.operators.curation import (
        STRAT_TOPK_PER_STRATUM,
    )

    return f"""
WITH drawn AS (
  SELECT doc_id, lang, source,
         ({_MD5_INT.format(expr="'strat-' || doc_id")}) % 1000000
           AS sample_u_micro
  FROM documents
),
r AS (
  SELECT doc_id, lang, source, sample_u_micro,
         row_number() OVER (PARTITION BY lang, source
                            ORDER BY sample_u_micro, doc_id)::INT
           AS stratum_rank
  FROM drawn
)
SELECT doc_id, lang, source, sample_u_micro, stratum_rank
FROM r WHERE stratum_rank <= {STRAT_TOPK_PER_STRATUM} ORDER BY doc_id"""


def _span_dedup_sql() -> str:
    """DuckDB twin of curation.span_dedup: same overlapping window
    geometry (width/stride), keep-first by (doc_id, win_idx) per
    window text (string key here, md5-int on the Spark side)."""
    from forest_open_data_pipelines_spark.operators.curation import (
        SPAN_STRIDE as S,
        SPAN_WIDTH as W,
    )

    return f"""
WITH toks AS (SELECT doc_id, string_split({LCLEAN}, ' ') AS t FROM documents),
win AS (
  SELECT doc_id, i - 1 AS win_idx,
         list_aggregate(list_slice(t, (i-1)*{S} + 1,
                                   least((i-1)*{S} + {W}, len(t))),
                        'string_agg', ' ') AS win_text
  FROM (SELECT doc_id, t,
               unnest(range(1,
                 greatest(1, (ceil((len(t) - {W}) / {S}) + 1)::INT) + 1)) AS i
        FROM toks)
),
ranked AS (
  SELECT doc_id, win_idx,
         row_number() OVER (PARTITION BY win_text ORDER BY doc_id, win_idx) AS rn
  FROM win
)
SELECT doc_id, count(*) AS n_windows,
       count(*) FILTER (WHERE rn > 1) AS n_dup_windows,
       count(*) FILTER (WHERE rn > 1) > 0 AS has_dup_span
FROM ranked GROUP BY doc_id ORDER BY doc_id"""


def _winnow_fps_ctes(src_filter: str = "", prefix: str = "") -> str:
    """The winnowing fingerprint CTE chain ({prefix}base → {prefix}fps)
    shared by the dedup_winnowing and winnowing_incremental oracles —
    ONE SQL definition of the gram/selection geometry, mirroring
    dedup.winnowing_fingerprint_frame on the Spark side."""
    from forest_open_data_pipelines_spark.operators.dedup import (
        WINNOW_K as K,
        WINNOW_W as W,
    )

    h = _MD5_INT.format(expr="g")
    p = prefix
    return f"""{p}base AS (SELECT doc_id, {LCLEAN} AS t FROM documents {src_filter}),
{p}grams AS (
  SELECT doc_id, i - 1 AS pos,
         CASE WHEN length(t) >= {K} THEN substring(t, i, {K}) ELSE t END AS g
  FROM (SELECT doc_id, t,
               unnest(range(1, greatest(length(t) - {K} + 1, 1) + 1)) AS i
        FROM {p}base)
),
{p}winnowed AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY doc_id) AS n_grams,
         (min(struct_pack(h := {h}, np := -pos)) OVER (
            PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN CURRENT ROW AND {W - 1} FOLLOWING)).h AS fp
  FROM {p}grams
),
{p}fps AS (
  SELECT DISTINCT doc_id, fp FROM {p}winnowed
  WHERE pos <= greatest(n_grams - {W}, 0)
)"""


def _dedup_winnowing_sql() -> str:
    """DuckDB twin of dedup.dedup_winnowing: identical construction —
    char k-gram md5-int hashes, rightmost-min-of-window selection via
    min(struct(h, -pos)) over the same frame, the jaccard hot-df stop
    convention, and exact DIV/half-up micro overlap."""
    from forest_open_data_pipelines_spark.operators.dedup import (
        WINNOW_MAX_DF as RATE,
        WINNOW_MIN_SHARED as MS,
        WINNOW_TAU_MICRO as TAU,
    )

    return f"""
WITH {_winnow_fps_ctes()},
keep AS (
  SELECT fp FROM (SELECT fp, count(*)::DOUBLE AS df FROM fps GROUP BY fp),
       (SELECT count(*)::DOUBLE AS n_docs FROM base)
  WHERE df <= greatest(8.0, {RATE} * n_docs)
),
kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp)),
counts AS (SELECT doc_id, count(*)::BIGINT AS nfp FROM kept GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT doc_a, doc_b, n_shared,
         (n_shared * 1000000 // least(na.nfp, nb.nfp)
          + CASE WHEN (n_shared * 1000000 % least(na.nfp, nb.nfp)) * 2
                 >= least(na.nfp, nb.nfp) THEN 1 ELSE 0 END)::BIGINT
           AS overlap_micro
  FROM pairs
  JOIN counts na ON doc_a = na.doc_id
  JOIN counts nb ON doc_b = nb.doc_id
)
SELECT doc_a, doc_b, n_shared, overlap_micro
FROM scored
WHERE overlap_micro >= {TAU} AND n_shared >= {MS}
ORDER BY doc_a, doc_b"""


def _span_islands_ctes() -> str:
    """The CTE chain shared by the duplicate_spans and
    strip_duplicate_spans oracles — ONE SQL definition of the window
    geometry, keep-first rule, and gaps-and-islands merge, mirroring
    curation._ranked_windows/_duplicate_spans_frame on the Spark side
    (a geometry fix lands in both oracles or neither)."""
    from forest_open_data_pipelines_spark.operators.curation import (
        SPAN_STRIDE as S,
        SPAN_WIDTH as W,
    )

    return f"""toks AS (SELECT doc_id, string_split({LCLEAN}, ' ') AS t FROM documents),
win AS (
  SELECT doc_id, len(t) AS n_toks, i - 1 AS win_idx,
         list_aggregate(list_slice(t, (i-1)*{S} + 1,
                                   least((i-1)*{S} + {W}, len(t))),
                        'string_agg', ' ') AS win_text
  FROM (SELECT doc_id, t,
               unnest(range(1,
                 greatest(1, (ceil((len(t) - {W}) / {S}) + 1)::INT) + 1)) AS i
        FROM toks)
),
dups AS (
  SELECT doc_id,
         (win_idx * {S})::BIGINT AS tok_start,
         (least(win_idx * {S} + {W}, n_toks) - 1)::BIGINT AS tok_end
  FROM (SELECT doc_id, n_toks, win_idx,
               row_number() OVER (PARTITION BY win_text
                                  ORDER BY doc_id, win_idx) AS rn
        FROM win)
  WHERE rn > 1
),
flagged AS (
  SELECT doc_id, tok_start, tok_end,
         CASE WHEN tok_start > coalesce(max(tok_end) OVER (
                PARTITION BY doc_id ORDER BY tok_start
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
              THEN 1 ELSE 0 END AS ni
  FROM dups
),
islands AS (
  SELECT doc_id, tok_start, tok_end,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY tok_start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                      )::BIGINT AS span_seq
  FROM flagged
)"""


def _winnowing_incremental_sql() -> str:
    """DuckDB twin of dedup.winnowing_incremental on the catalog's
    doc_id % 13 new/base split: shared fingerprint CTEs, hot-df stop
    on the base index, best-base pick (max shared, min id), exact
    DIV/half-up containment."""
    from forest_open_data_pipelines_spark.operators.dedup import (
        WINNOW_MAX_DF as RATE,
        WINNOW_MIN_SHARED as MS,
        WINNOW_TAU_MICRO as TAU,
    )

    return f"""
WITH {_winnow_fps_ctes("WHERE doc_id % 13 = 0", "n_")},
{_winnow_fps_ctes("WHERE doc_id % 13 != 0", "b_")},
hot AS (
  SELECT fp FROM (SELECT fp, count(*)::DOUBLE AS df FROM b_fps GROUP BY fp),
       (SELECT count(*)::DOUBLE AS n_docs FROM b_base)
  WHERE df > greatest(8.0, {RATE} * n_docs)
),
base_k AS (
  SELECT doc_id AS base_id, fp FROM b_fps ANTI JOIN hot USING (fp)
),
new_k AS (SELECT doc_id, fp FROM n_fps ANTI JOIN hot USING (fp)),
nfp AS (SELECT doc_id, count(*)::BIGINT AS nfp FROM new_k GROUP BY doc_id),
shared AS (
  SELECT nk.doc_id, base_id, count(*)::BIGINT AS n_shared
  FROM new_k nk JOIN base_k USING (fp) GROUP BY 1, 2
),
best AS (
  SELECT doc_id, base_id, n_shared FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY n_shared DESC, base_id) AS rn
    FROM shared) WHERE rn = 1
),
scored AS (
  SELECT b.doc_id, b.base_id AS best_base_id, b.n_shared,
         (b.n_shared * 1000000 // f.nfp
          + CASE WHEN (b.n_shared * 1000000 % f.nfp) * 2 >= f.nfp
                 THEN 1 ELSE 0 END)::BIGINT AS containment_micro
  FROM best b JOIN nfp f USING (doc_id)
)
SELECT d.doc_id, s.best_base_id,
       coalesce(s.n_shared, 0)::BIGINT AS n_shared,
       coalesce(s.containment_micro, 0)::BIGINT AS containment_micro,
       CASE WHEN coalesce(s.containment_micro, 0) >= {TAU}
                 AND coalesce(s.n_shared, 0) >= {MS}
            THEN 'dup' ELSE 'new' END AS status
FROM (SELECT doc_id FROM documents WHERE doc_id % 13 = 0) d
LEFT JOIN scored s USING (doc_id)
ORDER BY d.doc_id"""


def _duplicate_spans_sql() -> str:
    """DuckDB twin of curation.duplicate_spans: span_dedup's window
    geometry and keep-first rule, then a gaps-and-islands merge of the
    duplicated windows (running max of tok_end, new-island flag,
    cumulative island id). span_seq/counters cast to BIGINT — the
    HUGEINT-widening class the parity harness checks."""
    return f"""
WITH {_span_islands_ctes()}
SELECT doc_id, span_seq,
       min(tok_start) AS tok_start, max(tok_end) AS tok_end,
       (max(tok_end) - min(tok_start) + 1)::BIGINT AS n_tokens,
       count(*)::BIGINT AS n_windows
FROM islands GROUP BY doc_id, span_seq ORDER BY doc_id, tok_start"""


def _strip_duplicate_spans_sql() -> str:
    """DuckDB twin of curation.strip_duplicate_spans: the shared
    duplicate_spans islands chain, then token-index anti-join +
    ordered string_agg rebuild (Spark does the same filter as a
    codegen transform/exists chain). Empty rebuilds coalesce to '' to
    match array_join's empty-array result."""
    return f"""
WITH {_span_islands_ctes()},
spans AS (
  SELECT doc_id, min(tok_start) AS tok_start, max(tok_end) AS tok_end
  FROM islands GROUP BY doc_id, span_seq
),
tok_tab AS (
  SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS i FROM toks
),
kept AS (
  SELECT tt.doc_id, tt.i, tt.tok
  FROM tok_tab tt
  ANTI JOIN spans s
    ON tt.doc_id = s.doc_id AND tt.i BETWEEN s.tok_start AND s.tok_end
),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY i) AS kept_text
  FROM kept GROUP BY doc_id
)
SELECT x.doc_id,
       len(x.t)::BIGINT AS n_tokens,
       (len(x.t) - coalesce(r.n_kept, 0))::BIGINT AS n_removed,
       coalesce(r.kept_text, '') AS kept_text
FROM toks x LEFT JOIN rebuilt r USING (doc_id)
ORDER BY doc_id"""


def _stratified_sample_sql() -> str:
    """DuckDB twin of curation.stratified_sample: md5-derived u in
    millionths, EXACT integer keep predicate (u·n_tokens <
    target·10⁶) — no float boundary anywhere."""
    _, prefix = _mixture_sql_parts()
    return f"""
WITH {prefix},
drawn AS (
  SELECT doc_id, lang, source,
         ({_MD5_INT.format(expr="'strat-' || doc_id")}) % 1000000
           AS sample_u_micro
  FROM documents
)
SELECT doc_id, d.lang, source, sample_u_micro
FROM drawn d JOIN alloc r ON d.lang = r.lang
WHERE sample_u_micro * r.n_tokens < r.target_tokens * 1000000
ORDER BY doc_id"""


def _cheapest_supplier_sql() -> str:
    """DuckDB twin of relational.cheapest_supplier_per_part: exact
    decimal sums, 6-dp unit price rounded BEFORE the min-rank window,
    supplier-key tie-break."""
    return """
WITH per_ps AS (
  SELECT l_partkey, l_suppkey,
         sum(l_extendedprice::DECIMAL(18,4)) AS price_sum,
         sum(l_quantity::DECIMAL(18,4)) AS qty_sum
  FROM lineitem GROUP BY 1, 2
),
up AS (
  SELECT l_partkey, l_suppkey,
         round(price_sum::DOUBLE * 1000000.0 / qty_sum::DOUBLE)
           / 1000000.0 AS unit_price
  FROM per_ps
),
best AS (
  SELECT l_partkey, l_suppkey, unit_price FROM (
    SELECT l_partkey, l_suppkey, unit_price,
           row_number() OVER (
             PARTITION BY l_partkey ORDER BY unit_price, l_suppkey) AS rn
    FROM up) WHERE rn = 1
)
SELECT p_partkey AS partkey, p_brand, p_type, s_name AS supplier,
       n_name AS supp_nation, unit_price
FROM best
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY partkey"""


def _part_concentration_sql() -> str:
    """DuckDB twin of relational.part_revenue_concentration: per-row
    decimal revenue cast, exact decimal threshold compare."""
    return """
WITH per_part AS (
  SELECT l_partkey,
         sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)) AS revenue_d
  FROM lineitem GROUP BY 1
),
tot AS (SELECT sum(revenue_d) AS total_d, count(*) AS n_parts FROM per_part)
SELECT p_partkey AS partkey, p_brand, p_type,
       round(revenue_d, 2)::DOUBLE AS revenue,
       round(revenue_d::DOUBLE / total_d::DOUBLE * 100.0, 6) AS share_pct
FROM per_part CROSS JOIN tot
JOIN part ON l_partkey = p_partkey
WHERE revenue_d * n_parts > total_d * 1.50
ORDER BY revenue DESC, partkey"""


def _large_orders_sql() -> str:
    """DuckDB twin of relational.large_orders (Q18 shape): HAVING on
    the per-order decimal quantity sum before any dimension join."""
    return """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity::DECIMAL(18,4)) AS qty_d
  FROM lineitem GROUP BY 1
  HAVING sum(l_quantity::DECIMAL(18,4)) >= 200
)
SELECT c_custkey, c_name, o_orderkey AS orderkey, o_orderdate AS orderdate,
       round(o_totalprice, 2) AS totalprice,
       round(qty_d, 2)::DOUBLE AS total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, orderkey"""


def _idle_balance_sql() -> str:
    """DuckDB twin of relational.idle_balance_customers (Q22 shape):
    positive-balance average as the scalar threshold, anti-join against
    date-filtered order custkeys."""
    return """
WITH avg_bal AS (SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0),
recent AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
),
rich AS (
  SELECT c.c_nationkey, c.c_acctbal
  FROM customer c CROSS JOIN avg_bal
  WHERE c.c_acctbal > ab
    AND NOT EXISTS (SELECT 1 FROM recent r WHERE r.o_custkey = c.c_custkey)
)
SELECT n_name, count(*) AS n_customers,
       round(sum(c_acctbal::DECIMAL(18,4)), 2)::DOUBLE AS total_balance
FROM rich JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name"""


def _focos_llm_payload_sql(spec_sql: str) -> str:
    """DuckDB twin of social.focos_llm_payload, composed over the
    monthly_chart_spec_scoped oracle verbatim. Pct formula is the
    reference's _pct_delta (round(100·(new−old)/old, 2)); the prompt
    block mirrors the Spark concat fragment-for-fragment."""
    pct = "CASE WHEN {o} = 0 THEN NULL ELSE round(100.0 * ({n} - {o}) / {o}, 2) END"
    mom = pct.format(n="mom_cur::DOUBLE", o="mom_prev::DOUBLE")
    acc_prev = pct.format(n="ytd_cur::DOUBLE", o="ytd_prev::DOUBLE")
    acc_avg = pct.format(n="ytd_cur::DOUBLE", o="ytd_avg_raw")
    f2 = "CASE WHEN {x} IS NULL THEN 'null' ELSE printf('%.2f', round(({x}), 2)) END"
    s = "coalesce(({x})::VARCHAR, 'null')"
    return f"""
WITH spec AS (SELECT * FROM ({spec_sql})),
agg AS (
  SELECT scope_slug, scope_label, last_closed_month,
         max(CASE WHEN month = last_closed_month THEN month_label END) AS mes_rotulo,
         max(CASE WHEN month = last_closed_month THEN current_value END) AS mom_cur,
         max(CASE WHEN month = last_closed_month THEN previous_value END) AS mom_prev,
         sum(CASE WHEN month <= last_closed_month THEN current_value END)::BIGINT AS ytd_cur,
         sum(CASE WHEN month <= last_closed_month THEN previous_value END)::BIGINT AS ytd_prev,
         sum(CASE WHEN month <= last_closed_month
                  THEN round(avg_5y * 1000000.0, 0)::BIGINT END) / 1000000.0
           AS ytd_avg_raw,
         max(published_at_label) AS pal
  FROM spec GROUP BY 1, 2, 3
)
SELECT scope_slug, scope_label AS bioma,
       string_split(pal, ' ')[-1]::INT AS latest_year,
       string_split(pal, ' ')[-1]::INT - 1 AS previous_year,
       last_closed_month, mes_rotulo,
       mom_cur AS focos_ano_atual, mom_prev AS focos_ano_anterior,
       {mom} AS variacao_pct_mes,
       ytd_cur AS soma_focos_ano_atual,
       ytd_prev AS soma_focos_ano_anterior,
       round(ytd_avg_raw, 2) AS soma_medias_5y_acumulada,
       {acc_prev} AS variacao_pct_acumulado,
       {acc_avg} AS variacao_pct_acumulado_vs_media_5y,
       '{{"schema": "focos_incendio_br_v3", "bioma": "' || scope_label
         || '", "ultimo_mes_fechado": {{"mes": "' || coalesce(mes_rotulo, 'null')
         || '", "focos_ano_atual": ' || {s.format(x="mom_cur")}
         || ', "focos_ano_anterior": ' || {s.format(x="mom_prev")}
         || ', "variacao_pct": ' || {f2.format(x=mom)}
         || '}}, "acumulado": {{"soma_ano_atual": ' || {s.format(x="ytd_cur")}
         || ', "soma_ano_anterior": ' || {s.format(x="ytd_prev")}
         || ', "soma_medias_5y": ' || {f2.format(x="ytd_avg_raw")}
         || ', "variacao_pct_vs_ano_anterior": ' || {f2.format(x=acc_prev)}
         || ', "variacao_pct_vs_media_5y": ' || {f2.format(x=acc_avg)}
         || '}}}}' AS prompt_block
FROM agg ORDER BY scope_slug"""


def _boletins_integrados_sql() -> str:
    """DuckDB twin of html.boletins_integrados_links: identical anchor
    derivation (9 kinds incl. the %5F percent-decode and the root-page
    year-dir anchor), urljoin specialization, query-strip + decode
    filename, RE_BOLETIM_PDF groups (1 = month, 2 = year)."""
    from forest_open_data_pipelines_spark.operators.html import (
        BOLETINS_BASE_URL,
        BOLETINS_HOST,
    )

    pat = r"(?i)(0[1-9]|1[0-2])_((?:19|20)\d{2})\.pdf$"
    month = f"regexp_extract(filename, '{pat}', 1)"
    year = f"regexp_extract(filename, '{pat}', 2)"
    return f"""
WITH seeds AS (
  SELECT doc_id, lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') AS mm,
         (doc_id % 6 + 2019)::VARCHAR AS yyyy
  FROM documents
),
anchors AS (
  SELECT doc_id, yyyy,
    ([ mm || '_' || yyyy || '.pdf',
       yyyy || '/' || mm || '_' || yyyy || '.pdf',
       '/queimadas/queimadas/Boletins-Integrados/' || yyyy || '/' || mm || '_' || yyyy || '.PDF',
       'https://mirror.example/Boletins-Integrados/' || yyyy || '/' || mm || '_' || yyyy || '.pdf',
       '13_' || yyyy || '.pdf',
       mm || '%5F' || yyyy || '.pdf',
       'not-a-boletim.txt',
       mm || '_' || yyyy || '.pdf?download=1',
       'boletim_' || mm || '_' || yyyy || '.pdf'
     ])[(doc_id % 9)::INT + 1] AS href,
    CASE WHEN doc_id % 9 = 1 THEN '{BOLETINS_BASE_URL}'
         ELSE '{BOLETINS_BASE_URL}' || yyyy || '/' END AS base
  FROM seeds
),
resolved AS (
  SELECT CASE WHEN regexp_matches(href, '^[a-z][a-z0-9+.-]*://') THEN href
              WHEN href LIKE '/%' THEN '{BOLETINS_HOST}' || href
              ELSE base || href END AS url
  FROM anchors
),
named AS (
  SELECT url,
    replace(regexp_extract(regexp_replace(url, '[?#].*$', ''), '([^/]+)$', 1),
            '%5F', '_') AS filename
  FROM resolved
)
SELECT DISTINCT {year} || '-' || {month} AS period,
       {year} AS year, {month} AS month, filename, url
FROM named WHERE {month} != ''
ORDER BY period DESC, url"""


def _dedup_threshold_sweep_sql() -> str:
    """DuckDB twin of dedup.dedup_threshold_sweep: the exact-jaccard
    pair subquery at min(τ) and the minhash band-candidate subquery
    reuse the SAME generators as their standalone oracles, then every
    τ row aggregates the tagged pair set."""
    from forest_open_data_pipelines_spark.operators.dedup import (
        SWEEP_THRESHOLDS,
    )

    lo = min(SWEEP_THRESHOLDS)
    thr = ", ".join(f"({t})" for t in SWEEP_THRESHOLDS)
    return f"""
WITH truth AS (SELECT * FROM ({_ngram_exact_sql(threshold=lo)})),
cand AS (SELECT doc_a, doc_b, TRUE AS is_cand
         FROM ({_minhash_sql(candidates_only=True)})),
thr(threshold) AS (VALUES {thr}),
tagged AS (
  SELECT t.doc_a, t.doc_b, t.jaccard, c.is_cand
  FROM truth t LEFT JOIN cand c USING (doc_a, doc_b)
),
per_pair AS (
  SELECT thr.threshold, tagged.* FROM tagged, thr
  WHERE jaccard >= threshold
),
stats AS (
  SELECT threshold, count(*)::BIGINT AS n_pairs,
         sum(CASE WHEN is_cand THEN 1 ELSE 0 END)::BIGINT
           AS n_lsh_candidates
  FROM per_pair GROUP BY threshold
),
affected AS (
  SELECT threshold, count(DISTINCT d)::BIGINT AS n_docs_affected
  FROM (SELECT threshold, unnest([doc_a, doc_b]) AS d FROM per_pair)
  GROUP BY threshold
)
-- LEFT from the threshold list: zero-pair cutoffs keep their row
SELECT thr.threshold,
       coalesce(n_pairs, 0)::BIGINT AS n_pairs,
       coalesce(n_docs_affected, 0)::BIGINT AS n_docs_affected,
       coalesce(n_lsh_candidates, 0)::BIGINT AS n_lsh_candidates,
       round(coalesce(n_lsh_candidates, 0)::DOUBLE
             / nullif(coalesce(n_pairs, 0), 0), 6) AS lsh_recall
FROM thr LEFT JOIN stats USING (threshold)
LEFT JOIN affected USING (threshold)
ORDER BY thr.threshold"""


def _simhash_budget_sweep_sql() -> str:
    """DuckDB twin of dedup.simhash_budget_sweep: the ground-truth
    all-pairs simhash64 subquery at max(budgets) and the exact-jaccard
    truth subquery reuse the standalone generators; each budget row
    aggregates the tagged pair set, zero-pair budgets keep their
    row."""
    from forest_open_data_pipelines_spark.operators.dedup import (
        SIMHASH_SWEEP_BUDGETS,
    )

    hi = max(SIMHASH_SWEEP_BUDGETS)
    thr = ", ".join(f"({h})" for h in SIMHASH_SWEEP_BUDGETS)
    return f"""
WITH pairs AS (SELECT * FROM ({_simhash64_sql(max_hamming=hi)})),
truth AS (SELECT doc_a, doc_b, TRUE AS is_truth
          FROM ({_ngram_exact_sql()})),
thr(max_hamming) AS (VALUES {thr}),
nt AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
tagged AS (
  SELECT p.doc_a, p.doc_b, p.hamming, t.is_truth
  FROM pairs p LEFT JOIN truth t USING (doc_a, doc_b)
),
stats AS (
  SELECT thr.max_hamming, count(*)::BIGINT AS n_pairs,
         sum(CASE WHEN is_truth THEN 1 ELSE 0 END)::BIGINT AS n_hit
  FROM tagged, thr WHERE hamming <= thr.max_hamming
  GROUP BY thr.max_hamming
)
SELECT thr.max_hamming,
       coalesce(n_pairs, 0)::BIGINT AS n_pairs,
       nt.n_truth,
       coalesce(n_hit, 0)::BIGINT AS n_hit,
       round(coalesce(n_hit, 0)::DOUBLE
             / nullif(coalesce(n_pairs, 0), 0), 6) AS precision,
       round(coalesce(n_hit, 0)::DOUBLE / nullif(nt.n_truth, 0), 6)
         AS recall
FROM thr LEFT JOIN stats USING (max_hamming) CROSS JOIN nt
ORDER BY thr.max_hamming"""


def _freshness_report_lines_sql() -> str:
    """DuckDB twin of freshness.freshness_report_lines — header/trailer
    literal rows at the operator's exact seqs, body rows composed from
    the freshness_cadence construction."""
    from forest_open_data_pipelines_spark.operators.freshness import (
        FRESHNESS_REPORT_HEAD,
        FRESHNESS_REPORT_TAIL,
    )

    def _values(pairs):
        return ", ".join(
            "({}, '{}')".format(i, t.replace("'", "''")) for i, t in pairs
        )

    head = _values(enumerate(FRESHNESS_REPORT_HEAD))
    tail = _values(
        (1_000_000 + i, t) for i, t in enumerate(FRESHNESS_REPORT_TAIL)
    )
    n_head = len(FRESHNESS_REPORT_HEAD)
    return f"""
WITH iv AS (
  SELECT user_id, ts,
         (epoch_us(ts) - epoch_us(lag(ts) OVER (
            PARTITION BY user_id ORDER BY ts, event_id)))
           / 86400000000.0 AS interval_days
  FROM events
),
per_user AS (
  SELECT user_id, count(*) AS observations,
         count(*) FILTER (WHERE interval_days > 0) AS changes,
         median(interval_days) FILTER (WHERE interval_days > 0) AS med,
         stddev_pop(interval_days) FILTER (WHERE interval_days > 0) AS sd,
         avg(interval_days) FILTER (WHERE interval_days > 0) AS mean_interval,
         max(ts) AS last_observed_at
  FROM iv GROUP BY user_id
),
cvd AS (
  SELECT *, CASE WHEN changes >= 2 AND mean_interval <> 0
                 THEN sd / mean_interval END AS cv
  FROM per_user
),
cls AS (
  SELECT user_id, changes,
    CASE WHEN observations >= 6 AND changes < 2 THEN 'ad_hoc'
         WHEN changes < 3 THEN 'insufficient_data'
         WHEN cv > 0.75 THEN 'irregular'
         WHEN observations >= 30 AND med <= 1.5 THEN 'daily'
         WHEN observations >= 8 AND med >= 5 AND med <= 10 THEN 'weekly'
         WHEN med >= 25 AND med <= 35 THEN 'monthly'
         ELSE 'irregular' END AS suggested_cadence,
    CASE WHEN changes < 3 OR observations < 6 THEN 'low'
         WHEN observations >= 30 AND (cv IS NULL OR cv <= 0.25) THEN 'high'
         WHEN cv IS NULL OR cv <= 0.75 THEN 'medium'
         ELSE 'low' END AS confidence,
    round(med, 6) AS median6, last_observed_at
  FROM cvd
),
body AS (
  SELECT (row_number() OVER (ORDER BY user_id) + {n_head} - 1)::BIGINT AS seq,
    '| ' || 'user-' || user_id::VARCHAR || ' | user-' || user_id::VARCHAR
    || ' | ' || suggested_cadence || ' | ' || confidence
    || ' | ' || strftime(last_observed_at, '%Y-%m-%dT%H:%M:%S')
    || ' | ' || coalesce(median6::DECIMAL(18,2)::VARCHAR, '')
    || ' | ' || changes::VARCHAR || ' |' AS line
  FROM cls
)
SELECT seq, line FROM (VALUES {head}) h(seq, line)
UNION ALL SELECT seq, line FROM body
UNION ALL SELECT seq, line FROM (VALUES {tail}) t(seq, line)
ORDER BY seq"""


def _cvm_fund_picks_sql() -> str:
    """DuckDB twin of html.cvm_fund_picks: identical URL derivation,
    per-dataset grammar/query/meta rules, (period DESC, url ASC) rank
    cut per each module's configured size, last-in-sorted meta."""
    from forest_open_data_pipelines_spark.operators.html import (
        CVM_FUND_CUTS,
        _CVM_FUND_BASE,
    )

    b = _CVM_FUND_BASE
    cut_case = " ".join(
        f"WHEN dataset = '{k}' THEN {v}" for k, v in CVM_FUND_CUTS.items()
    )
    return f"""
WITH seeds AS (
  SELECT doc_id,
         (doc_id % 5 + 2019)::VARCHAR
           || lpad((doc_id % 11 + 1)::VARCHAR, 2, '0') AS yyyymm,
         (doc_id % 7 + 2017)::VARCHAR AS yyyy,
         (doc_id % 12)::INT AS kind
  FROM documents
),
urls AS (
  SELECT DISTINCT
    CASE kind
      WHEN 0 THEN '{b}FI/DOC/ENTREGA/DADOS/fi_entrega_documento_' || yyyymm || '.zip'
      WHEN 1 THEN '{b}FI/DOC/ENTREGA/DADOS/meta_fi_entrega_documento.txt'
      WHEN 2 THEN '{b}FI/DOC/ENTREGA/DADOS/fi_entrega_documento_' || yyyymm || '.zip?download=1'
      WHEN 3 THEN '{b}FII/DOC/INF_ANUAL/DADOS/inf_anual_fii_' || yyyy || '.zip'
      WHEN 4 THEN '{b}FII/DOC/INF_ANUAL/DADOS/meta_inf_anual_fii.zip'
      WHEN 5 THEN '{b}FII/DOC/INF_MENSAL/DADOS/inf_mensal_fii_' || yyyy || '.zip'
      WHEN 6 THEN '{b}FII/DOC/INF_MENSAL/DADOS/meta_inf_mensal_fii.zip'
      WHEN 7 THEN '{b}FII/DOC/INF_TRIMESTRAL/DADOS/inf_trimestral_fii_' || yyyy || '.zip?download=1'
      WHEN 8 THEN '{b}FII/DOC/INF_TRIMESTRAL/DADOS/meta_inf_trimestral_fii.zip'
      WHEN 9 THEN '{b}FII/DOC/INF_TRIMESTRAL/DADOS/INF_TRIMESTRAL_FII_' || yyyy || '.ZIP'
      WHEN 10 THEN '{b}FI/DOC/ENTREGA/DADOS/FI_ENTREGA_DOCUMENTO_' || yyyymm || '.ZIP'
      ELSE '{b}FI/DOC/ENTREGA/DADOS/relatorio_' || yyyy || '.pdf'
    END AS url
  FROM seeds
),
named AS (
  SELECT url,
    CASE WHEN url LIKE '%/FI/DOC/ENTREGA/%' THEN 'entrega'
         WHEN url LIKE '%/FII/DOC/INF_ANUAL/%' THEN 'anual'
         WHEN url LIKE '%/FII/DOC/INF_MENSAL/%' THEN 'mensal'
         WHEN url LIKE '%/FII/DOC/INF_TRIMESTRAL/%' THEN 'trimestral'
    END AS dataset,
    list_extract(string_split(url, '/'), -1) AS raw_name
  FROM urls
),
classified AS (
  SELECT dataset, url,
    CASE WHEN dataset = 'trimestral'
         THEN string_split(raw_name, '?')[1] ELSE raw_name END AS name
  FROM named WHERE dataset IS NOT NULL
),
flagged AS (
  SELECT dataset, url, name,
    CASE WHEN dataset = 'entrega'
           THEN lower(name) LIKE '%.txt'
                AND contains(lower(name), 'meta_fi_entrega_documento')
         WHEN dataset = 'anual'
           THEN contains(lower(name), 'meta_inf_anual_fii')
         WHEN dataset = 'mensal'
           THEN contains(lower(name), 'meta_inf_mensal_fii')
         ELSE lower(name) LIKE '%.zip'
              AND contains(lower(name), 'meta_inf_trimestral_fii')
    END AS is_meta,
    CASE WHEN dataset = 'entrega' THEN
           CASE WHEN regexp_extract(name, '(?i)fi_entrega_documento_(\\d{{6}})\\.zip$', 1) != ''
                THEN substr(regexp_extract(name, '(?i)fi_entrega_documento_(\\d{{6}})\\.zip$', 1), 1, 4)
                     || '-' ||
                     substr(regexp_extract(name, '(?i)fi_entrega_documento_(\\d{{6}})\\.zip$', 1), 5, 2)
           END
         WHEN dataset = 'anual'
           THEN nullif(regexp_extract(name, '(?i)inf_anual_fii_(\\d{{4}})\\.zip$', 1), '')
         WHEN dataset = 'mensal'
           THEN nullif(regexp_extract(name, '(?i)inf_mensal_fii_(\\d{{4}})\\.zip$', 1), '')
         ELSE nullif(regexp_extract(name, '(?i)inf_trimestral_fii_(\\d{{4}})\\.zip$', 1), '')
    END AS period
  FROM classified
),
kept AS (
  SELECT dataset, 'data' AS kind, period, url,
         row_number() OVER (PARTITION BY dataset
                            ORDER BY period DESC, url) AS rn
  FROM flagged WHERE NOT is_meta AND period IS NOT NULL
),
meta AS (
  SELECT dataset, 'meta' AS kind, NULL::VARCHAR AS period, url,
         row_number() OVER (PARTITION BY dataset ORDER BY url DESC) AS rn
  FROM flagged WHERE is_meta
)
SELECT dataset, kind, period, url FROM kept
WHERE rn <= CASE {cut_case} END
UNION ALL
SELECT dataset, kind, period, url FROM meta WHERE rn = 1
ORDER BY dataset, kind, period DESC NULLS LAST, url"""


def _focos1km_tifs_sql() -> str:
    """DuckDB twin of html.focos1km_tifs: identical anchor derivation,
    RE_TIF_PERIOD parse, urljoin specialization, min (url, filename)
    STRUCT per period (one coherent anchor, never a chimera of two),
    period DESC."""
    from forest_open_data_pipelines_spark.operators.html import (
        FOCOS1KM_BASE_URL,
    )

    return f"""
WITH seeds AS (
  SELECT doc_id,
         (doc_id % 5 + 2020)::VARCHAR
           || lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') AS ym,
         (doc_id % 5 + 2020)::VARCHAR || '13' AS y13,
         (doc_id % 6)::INT AS kind
  FROM documents
),
anchors AS (
  SELECT DISTINCT
    CASE kind
      WHEN 0 THEN 'focos1km_' || ym || '.tif'
      WHEN 1 THEN '{FOCOS1KM_BASE_URL}focos1km_' || ym || '.tif'
      WHEN 2 THEN 'FOCOS1KM_' || ym || '.TIF'
      WHEN 3 THEN 'focos1km_' || y13 || '.tif'
      WHEN 4 THEN 'focos1km_' || ym || '.tif.aux'
      ELSE 'index.html'
    END AS href
  FROM seeds
),
parsed AS (
  SELECT
    CASE WHEN regexp_extract(fname, '(?i)focos1km_(\\d{{4}})(\\d{{2}})\\.tif$', 1) != ''
         THEN regexp_extract(fname, '(?i)focos1km_(\\d{{4}})(\\d{{2}})\\.tif$', 1)
              || '-' ||
              regexp_extract(fname, '(?i)focos1km_(\\d{{4}})(\\d{{2}})\\.tif$', 2)
    END AS period,
    CASE WHEN href LIKE 'http%' THEN href
         ELSE '{FOCOS1KM_BASE_URL}' || href END AS url,
    fname AS filename
  FROM (SELECT href, list_extract(string_split(href, '/'), -1) AS fname
        FROM anchors)
)
SELECT period,
       min(struct_pack(url := url, filename := filename)).url AS url,
       min(struct_pack(url := url, filename := filename)).filename AS filename
FROM parsed WHERE period IS NOT NULL
GROUP BY period ORDER BY period DESC"""


def _cvm_yearly_sql(latest_years: int | None = None) -> str:
    """DuckDB twin of html.cvm_latest_yearly_csvs: identical url
    derivation, QUERY-STRIPPED filename (the fi_doc_extrato deviation
    from fi_inf_diario), meta/current/yearly classification, stable
    (year DESC, url) cut, Atual-first item ranks."""
    from forest_open_data_pipelines_spark.operators.html import CVM_LATEST_YEARS

    n = CVM_LATEST_YEARS if latest_years is None else latest_years
    # raw f-string: the regex fragments (\d, \.) are NOT python escapes
    return rf"""
WITH seeds AS (SELECT doc_id, (doc_id % 6 + 2019)::VARCHAR AS yyyy FROM documents),
urls AS (
  SELECT DISTINCT
    ([ 'https://dados.cvm.example/dados/FI/DOC/EXTRATO/DADOS/extrato_fi_' || yyyy || '.csv',
       'https://dados.cvm.example/dados/FI/DOC/EXTRATO/DADOS/extrato_fi.csv',
       'https://dados.cvm.example/dados/FI/DOC/EXTRATO/DADOS/meta_extrato_fi.txt',
       'https://dados.cvm.example/dados/FI/DOC/EXTRATO/DADOS/extrato_fi_' || yyyy || '.csv?download=1',
       'https://dados.cvm.example/dados/FI/DOC/EXTRATO/DADOS/EXTRATO_FI_' || yyyy || '.CSV',
       'https://dados.cvm.example/dados/FI/DOC/EXTRATO/DADOS/extrato_fi_' || yyyy || '.zip',
       'https://dados.cvm.example/dados/FI/DOC/EXTRATO/DADOS/outros_dados.csv',
       'https://dados.cvm.example/dados/FI/DOC/EXTRATO/DADOS/meta_extrato_fi_v2.txt'
     ])[(doc_id % 8)::INT + 1] AS url
  FROM seeds
),
named AS (
  SELECT url, string_split(string_split(url, '/')[-1], '?')[1] AS filename FROM urls
),
classified AS (
  SELECT url, filename,
         (lower(filename) LIKE '%.txt'
          AND lower(filename) LIKE '%meta_extrato_fi%') AS is_meta,
         (lower(filename) = 'extrato_fi.csv') AS is_current,
         nullif(regexp_extract(filename, '(?i)extrato_fi_(\d{{4}})\.csv$', 1), '')
           AS year
  FROM named
),
yearly AS (
  SELECT 'data' AS kind,
         (row_number() OVER (ORDER BY year DESC, url) + 1)::INT AS item_rank,
         year AS period, filename, url
  FROM classified WHERE year IS NOT NULL
  QUALIFY row_number() OVER (ORDER BY year DESC, url) <= greatest(1, {n})
),
cur AS (
  SELECT 'data' AS kind, 1::INT AS item_rank, 'Atual' AS period, filename, url
  FROM classified WHERE is_current
  QUALIFY row_number() OVER (ORDER BY url DESC) = 1
),
meta AS (
  SELECT 'meta' AS kind, NULL::INT AS item_rank, NULL::VARCHAR AS period,
         filename, url
  FROM classified WHERE is_meta
  QUALIFY row_number() OVER (ORDER BY url DESC) = 1
)
SELECT * FROM cur UNION ALL SELECT * FROM yearly UNION ALL SELECT * FROM meta
ORDER BY kind, item_rank"""


def _fenced_json_sql() -> str:
    """DuckDB twin of textops.fenced_json_extract: identical response
    derivation, fence regex, first-{{/last-}} fallback with the rfind
    guard, the string-blind brace-depth fold (cumulative-sum window),
    json_valid strictness, and required-key order."""
    from forest_open_data_pipelines_spark.operators.textops import (
        JSON_FENCE_RE,
        JSON_REQUIRED_KEYS,
    )

    req = ", ".join(f"'{k}'" for k in JSON_REQUIRED_KEYS)
    # DuckDB single-quoted strings are escape-blind: embed the pattern
    # VERBATIM. Doubling backslashes ('\\s') would make the fence branch
    # dead code (literal-backslash pattern never matches) and every
    # fenced response would silently take the brace fallback.
    fence = JSON_FENCE_RE
    return f"""
WITH seeds AS (SELECT doc_id, doc_id::VARCHAR AS d FROM documents),
resp AS (
  SELECT doc_id,
    ([ '```json' || chr(10) || ok || chr(10) || '```',
       'Claro! Segue o resultado:' || chr(10) || '```' || chr(10) || ok || chr(10) || '``` Obrigado.',
       ok || ' — gerado automaticamente.',
       'prefixo {{"insight": "só insight ' || d || '"}} sufixo',
       '```json' || chr(10) || '{{"insight": }}' || chr(10) || '```',
       'nenhum objeto aqui',
       '[' || ok || ']',
       '{{"a": 1}} e depois ' || ok,
       'resposta truncada: {{"insight',
       '```json' || chr(10) || ok || chr(10) || '``` {{"x": quebrado}}'
     ])[(doc_id % 10)::INT + 1] AS response
  FROM (SELECT doc_id, d,
               '{{"insight": "i' || d || '", "hashtags": ["#h' || d || '"]}}' AS ok
        FROM seeds)
),
cand AS (
  SELECT doc_id,
    CASE WHEN regexp_extract(response, '{fence}', 1) != ''
           THEN regexp_extract(response, '{fence}', 1)
         WHEN strpos(response, '{{') > 0 AND strpos(response, '}}') > 0
              AND (len(response) - strpos(reverse(response), '}}') + 1)
                  > strpos(response, '{{')
           THEN substr(response, strpos(response, '{{'),
                       (len(response) - strpos(reverse(response), '}}') + 1)
                       - strpos(response, '{{') + 1)
    END AS candidate
  FROM resp
),
chars AS (
  SELECT doc_id, candidate, i AS pos, substr(candidate, i, 1) AS ch
  FROM cand, unnest(range(1, len(candidate) + 1)) AS t(i)
  WHERE candidate IS NOT NULL
),
depths AS (
  SELECT doc_id, pos,
         sum(CASE ch WHEN '{{' THEN 1 WHEN '}}' THEN -1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS depth
  FROM chars
),
zero AS (
  SELECT doc_id, min(pos) FILTER (WHERE depth = 0) AS zero_at FROM depths
  GROUP BY doc_id
),
checked AS (
  SELECT c.doc_id, candidate,
         (candidate IS NOT NULL AND json_valid(candidate)
          AND coalesce(z.zero_at, 0) = len(candidate)) AS valid
  FROM cand c LEFT JOIN zero z ON c.doc_id = z.doc_id
),
st AS (
  SELECT doc_id, candidate, valid,
         CASE WHEN valid THEN list_filter([{req}],
                k -> NOT list_contains(json_keys(candidate), k)) END AS missing
  FROM checked
)
SELECT doc_id,
       CASE WHEN candidate IS NULL THEN 'no_json'
            WHEN NOT valid THEN 'invalid_json'
            WHEN len(missing) > 0 THEN 'missing_keys'
            ELSE 'ok' END AS status,
       CASE WHEN valid THEN candidate END AS json_text,
       CASE WHEN valid THEN coalesce(array_to_string(missing, ','), '') END
         AS missing_keys
FROM st ORDER BY doc_id"""



def _eia_xls_picks_sql() -> str:
    """DuckDB twin of html.eia_xls_picks: identical page/anchor
    derivation, the crumb-first priority rule, (?i).xls$ fallback,
    urljoin, and the partial-flag summary row."""
    from forest_open_data_pipelines_spark.operators.html import EIA_BASE_URL

    return f"""
WITH pages AS (
  SELECT doc_id, (doc_id % 6)::INT AS kind, doc_id::VARCHAR AS d,
         'Series ' || doc_id::VARCHAR AS title,
         '{EIA_BASE_URL}dnav/pet/page_' || doc_id::VARCHAR || '.htm' AS page_url
  FROM documents
),
anchors AS (
  SELECT doc_id, title, page_url, u.* FROM pages,
  LATERAL (
    SELECT 0 AS pos, 'crumb' AS cls,
           CASE WHEN kind = 0 THEN 'Download Series History'
                WHEN kind IN (1, 4) THEN 'History'
                WHEN kind = 5 THEN 'Other crumb' END AS text,
           CASE WHEN kind = 0 THEN 'data/file_' || d || '.xls'
                WHEN kind = 1 THEN 'hist/file_' || d || '.xls'
                WHEN kind = 4 THEN 'https://cdn.example/eia/file_' || d || '.xls'
                WHEN kind = 5 THEN 'about.htm' END AS href
    UNION ALL
    SELECT 1, '', 'download',
           CASE WHEN kind IN (2, 5) THEN 'hist/FILE_' || d || '.XLS' END
    UNION ALL
    SELECT 2, '', 'definitions', 'TblDefs/pet_defs.htm'
  ) u
  WHERE u.text IS NOT NULL AND u.href IS NOT NULL
),
ranked AS (
  SELECT doc_id, title, page_url, pos, href,
         CASE WHEN cls = 'crumb' AND (text LIKE '%Download Series History%'
                                       OR href LIKE '%.xls%') THEN 1
              WHEN regexp_matches(href, '(?i)\\.xls$') THEN 2 END AS p
  FROM anchors
),
picked AS (
  SELECT doc_id, title, page_url,
         min(struct_pack(p := p, pos := pos, href := href)
             ORDER BY p, pos) AS pick
  FROM ranked WHERE p IS NOT NULL GROUP BY 1, 2, 3
),
resolved AS (
  SELECT doc_id, title, (pick).p AS p,
         CASE WHEN regexp_matches((pick).href, '^[a-z][a-z0-9+.-]*://')
              THEN (pick).href
              ELSE substr(page_url, 1, len(page_url)
                          - len(string_split(page_url, '/')[-1])) || (pick).href
         END AS url
  FROM picked
),
data_rows AS (
  SELECT 'data' AS kind, doc_id, title, 'current' AS period,
         string_split(url, '/')[-1] AS filename, url AS direct_url,
         CASE WHEN p = 1 THEN 'crumb' ELSE 'fallback' END AS via
  FROM resolved
),
summary AS (
  SELECT 'summary', NULL::BIGINT, NULL::VARCHAR, NULL::VARCHAR,
         NULL::VARCHAR, NULL::VARCHAR,
         CASE WHEN (SELECT count(*) FROM resolved)
                   != (SELECT count(*) FROM pages)
              THEN 'success_partial_fallback' ELSE 'success' END
)
SELECT * FROM data_rows UNION ALL SELECT * FROM summary
ORDER BY kind, doc_id"""


def _eia_series_combinations_sql() -> str:
    """DuckDB twin of html.eia_series_combinations: identical option
    derivation, slugify, '_[wm].htm' rewrite, ISO date conversion."""
    from forest_open_data_pipelines_spark.operators.html import EIA_BASE_URL

    return f"""
WITH seeds AS (
  SELECT doc_id, (doc_id % 5)::INT AS kind, doc_id::VARCHAR AS d FROM documents
),
opts AS (
  SELECT doc_id,
    CASE WHEN kind = 0 THEN 'Residential Heating Oil ' || d
         WHEN kind = 1 THEN 'U.S. Propane (Wholesale) ' || d
         WHEN kind = 2 THEN '  #2 Diesel -- Retail ' || d
         WHEN kind = 3 THEN 'Kerosene/Jet A ' || d
         ELSE 'No. 6 Residual Fuel ' || d END AS series_name,
    'pet_pri_wfr_a_EP' || d || '_PRS_dpgal_'
      || (CASE WHEN kind IN (0, 2, 4) THEN 'w' ELSE 'm' END) || '.htm' AS value,
    'Release Date: ' || (doc_id % 12 + 1)::VARCHAR || '/'
      || (doc_id % 27 + 1)::VARCHAR || '/2025' AS update_text
  FROM seeds
),
slugged AS (
  SELECT doc_id, series_name, value,
    regexp_replace(regexp_replace(lower(series_name), '[^a-z0-9]+', '_', 'g'),
                   '^_+|_+$', '', 'g') AS slug,
    CASE WHEN regexp_extract(update_text, '(\\d{{1,2}}/\\d{{1,2}}/\\d{{4}})', 1) != ''
         THEN string_split(regexp_extract(update_text,
                '(\\d{{1,2}}/\\d{{1,2}}/\\d{{4}})', 1), '/')[3]
              || '-' || lpad(string_split(regexp_extract(update_text,
                '(\\d{{1,2}}/\\d{{1,2}}/\\d{{4}})', 1), '/')[1], 2, '0')
              || '-' || lpad(string_split(regexp_extract(update_text,
                '(\\d{{1,2}}/\\d{{1,2}}/\\d{{4}})', 1), '/')[2], 2, '0')
         ELSE update_text END AS release_date
  FROM opts
)
SELECT doc_id, slug || '_' || f.freq || '.xls' AS filename,
       '{EIA_BASE_URL}' || regexp_replace(value, '(?i)_[wm]\\.htm$',
                                          '_' || f.sfx || '.htm') AS url,
       series_name || ' (' || f.cap || ')' AS display_name,
       release_date
FROM slugged, (VALUES ('w', 'weekly', 'Weekly'),
                      ('m', 'monthly', 'Monthly')) AS f(sfx, freq, cap)
ORDER BY doc_id, filename"""



def _eia_weekly_sql() -> str:
    """DuckDB twin of html.eia_petroleum_weekly_files: identical row
    synthesis, slugify chain (accent translate → ascii strip →
    [^\\w\\s-] removal → trim/lower → [-\\s]+ collapse), try_strptime
    date parse with verbatim fallback, terminated/short-row skip,
    release-time column mapping, query-stripped ext."""
    from forest_open_data_pipelines_spark.operators.html import (
        EIA_WEEKLY_HOST,
        EIA_WEEKLY_SOURCE_URL,
    )

    months = "['Jan','Feb','Mar','Apr','May','Jun','Jul','Aug','Sep','Oct','Nov','Dec']"

    def iso(raw: str) -> str:
        p = f"try_strptime(trim(replace({raw}, '.', '')), '%b %d, %Y')"
        return f"CASE WHEN {p} IS NOT NULL THEN strftime({p}, '%Y-%m-%d') ELSE {raw} END"

    slug = (
        "regexp_replace(lower(trim(regexp_replace(regexp_replace("
        "translate(raw_title, 'çãõáéíóúâêà', 'caoaeiouaea'),"
        " '[^\\x00-\\x7F]', '', 'g'), '[^\\w\\s-]', '', 'g'))),"
        " '[-\\s]+', '_', 'g')"
    )
    return f"""
WITH seeds AS (
  SELECT doc_id, (doc_id % 6)::INT AS kind, doc_id::VARCHAR AS d FROM documents
),
trows AS (
  SELECT doc_id, kind,
    CASE WHEN kind = 0 THEN 'U.S. Petroleum Balance Sheet ' || d
         WHEN kind = 1 THEN 'Crude Oil Production (Monthly) ' || d
         WHEN kind = 2 THEN 'Estoques — Região São Paulo ' || d
         ELSE '  Days of Supply -- Total ' || d || '  ' END AS raw_title,
    CASE WHEN doc_id % 3 = 1 THEN 'wpsrall' || d || '.csv'
         WHEN doc_id % 3 = 2 THEN '/petroleum/supply/weekly/csv/table' || d || '.csv'
    END AS href2,
    CASE WHEN doc_id % 2 = 0 THEN 'https://cdn.example/eia/xls/table' || d || '.xls'
    END AS href3,
    CASE WHEN doc_id % 4 = 0 THEN 'summary' || d || '.php?f=w'
         WHEN doc_id % 4 = 2 THEN 'wpsr_publication' || d || '.pdf'
         WHEN doc_id % 4 = 3 THEN 'archive/' || d || '/wpsr.xls'
    END AS href4
  FROM seeds
),
hdr AS (
  SELECT
    m[(mx % 12)::INT + 1] || '. ' || ((mx % 28) + 1)::VARCHAR || ', 2025'
      AS week_raw,
    m[((mx + 1) % 12)::INT + 1] || '. ' || (((mx + 3) % 28) + 1)::VARCHAR
      || ', 2025' AS rel_raw,
    m[((mx + 2) % 12)::INT + 1] || '. ' || (((mx + 5) % 28) + 1)::VARCHAR
      || ', 2026' AS next_raw
  FROM (SELECT max(doc_id) AS mx, {months} AS m FROM documents)
),
phdr AS (
  SELECT week_raw,
         {iso('rel_raw')} AS release_iso,
         {iso('next_raw')} AS next_iso
  FROM hdr
),
live AS (SELECT * FROM trows WHERE kind NOT IN (4, 5)),
links AS (
  SELECT doc_id, raw_title, href2 AS href, '10:30' AS t FROM live
    WHERE href2 IS NOT NULL
  UNION ALL
  SELECT doc_id, raw_title, href3, '10:30' FROM live WHERE href3 IS NOT NULL
  UNION ALL
  SELECT doc_id, raw_title, href4, '13:00' FROM live WHERE href4 IS NOT NULL
),
joined AS (
  SELECT doc_id, raw_title, t, {slug} AS slug,
    CASE WHEN regexp_matches(href, '^[a-z][a-z0-9+.-]*://') THEN href
         WHEN href LIKE '/%' THEN '{EIA_WEEKLY_HOST}' || href
         ELSE '{EIA_WEEKLY_SOURCE_URL}' || href END AS url
  FROM links
)
SELECT 'data' AS kind, doc_id, trim(raw_title) AS title,
       CASE WHEN coalesce(h.release_iso, '') = '' THEN 'current'
            ELSE h.release_iso END AS period,
       slug || '.'
         || string_split(string_split(url, '.')[-1], '?')[1] AS filename,
       url, t AS release_time
FROM joined, phdr h
UNION ALL
SELECT 'meta', NULL, 'week_ending_raw', week_raw, NULL, NULL, NULL FROM phdr
UNION ALL
SELECT 'meta', NULL, 'release_date_iso', release_iso, NULL, NULL, NULL
FROM phdr
UNION ALL
SELECT 'meta', NULL, 'next_release_date_iso', next_iso, NULL, NULL, NULL
FROM phdr
ORDER BY kind, doc_id, release_time, url, title"""


def _sq8_coded_cte() -> str:
    """Shared SQ8 quantization CTE (embedding_quantize_sq8 /
    ann_topk_sq8 twins): scale = round(max|x|/127, 6), codes =
    round(x/scale) at 0 dp — the boundary-safe class where both
    engines' rounding agrees on every double."""
    return """
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
scaled AS (
  SELECT vec_id, emb,
         round(list_max(list_transform(emb, x -> abs(x))) / 127.0, 6) AS scale
  FROM e
),
coded AS (
  SELECT vec_id, emb, scale,
         list_transform(emb, x -> CASE WHEN scale = 0 THEN 0
                                       ELSE round(x / scale)::INT END) AS codes
  FROM scaled
)"""


_PQ_COMMON = """
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cb AS (
  SELECT r.s::INT AS s, vec_id::INT AS code,
         list_slice(emb, r.s * {sub} + 1, r.s * {sub} + {sub}) AS cw
  FROM e, range({m}) r(s) WHERE vec_id < {ks}
),
asgn AS (
  SELECT vec_id, s, code, cw FROM (
    SELECT e.vec_id, cb.s, cb.code, cb.cw,
           row_number() OVER (
             PARTITION BY e.vec_id, cb.s
             ORDER BY round(list_reduce(
               list_transform(range(1, {sub} + 1),
                 j -> (e.emb[cb.s * {sub} + j] - cb.cw[j])
                      * (e.emb[cb.s * {sub} + j] - cb.cw[j])),
               (x, y) -> x + y), 9) ASC, cb.code) AS rnk
    FROM e CROSS JOIN cb
  ) WHERE rnk = 1
)"""


def _embedding_quantize_pq_sql() -> str:
    """DuckDB twin of similarity.embedding_quantize_pq: same
    seed-vector sub-codebooks, 9-dp max-dot assignment with
    lowest-code ties, and sequential (fold-ordered) error sums so the
    6-dp recon_mse is bit-identical to the Catalyst folds."""
    from forest_open_data_pipelines_spark.operators.similarity import (
        PQ_KS,
        PQ_M,
    )

    sub = 64 // PQ_M
    common = _PQ_COMMON.format(m=PQ_M, ks=PQ_KS, sub=sub)
    return f"""
WITH {common},
suberr AS (
  SELECT a.vec_id, a.s,
         list_reduce(
           list_transform(range(1, {sub} + 1),
             j -> (e.emb[a.s * {sub} + j] - a.cw[j])
                  * (e.emb[a.s * {sub} + j] - a.cw[j])),
           (x, y) -> x + y) AS d2
  FROM asgn a JOIN e USING (vec_id)
),
err AS (
  SELECT vec_id, list_reduce(list(d2 ORDER BY s), (x, y) -> x + y) AS d2
  FROM suberr GROUP BY vec_id
),
codes AS (
  SELECT vec_id, list(code ORDER BY s) AS codes FROM asgn GROUP BY vec_id
)
SELECT c.vec_id, array_to_string(c.codes, ',') AS codes_csv,
       round(err.d2 / 64.0, 6) AS recon_mse
FROM codes c JOIN err USING (vec_id) ORDER BY c.vec_id"""


def _pq_lloyd_iter_ctes(
    src: str, m: int, ks: int, sub: int, iters: int
) -> tuple[str, str]:
    """The unrolled Lloyd-pass CTE chain over ``src`` (a CTE exposing
    (vec_id, emb)) — shared by the trained-PQ quantize oracle and the
    residual-IVFPQ oracle so the training arithmetic (9-dp argmin
    assignment, lowest-code ties, 6-dp per-dim means, empty codes keep
    the prior codeword) exists in exactly one place. Returns
    (",-joined CTE text, final codebook CTE name)."""

    def d2(emb: str, s: str, cw: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, {sub} + 1), "
            f"j -> ({emb}[{s} * {sub} + j] - {cw}[j])"
            f" * ({emb}[{s} * {sub} + j] - {cw}[j])), (x, y) -> x + y)"
        )

    parts = [
        f"""cb0 AS (
  SELECT r.s::INT AS s, vec_id::INT AS code,
         list_slice(emb, r.s * {sub} + 1, r.s * {sub} + {sub}) AS cw
  FROM {src}, range({m}) r(s) WHERE vec_id < {ks}
)"""
    ]
    for i in range(1, iters + 1):
        prev, cur = f"cb{i - 1}", f"cb{i}"
        parts.append(f"""a{i} AS (
  SELECT vec_id, s, code FROM (
    SELECT {src}.vec_id, c.s, c.code,
           row_number() OVER (
             PARTITION BY {src}.vec_id, c.s
             ORDER BY round({d2(f'{src}.emb', 'c.s', 'c.cw')}, 9) ASC, c.code
           ) AS rnk
    FROM {src} CROSS JOIN {prev} c
  ) WHERE rnk = 1
),
m{i} AS (
  SELECT a.s, a.code, r.j AS pos,
         round(avg({src}.emb[a.s * {sub} + r.j + 1]), 6) AS mv
  FROM a{i} a JOIN {src} USING (vec_id), range({sub}) r(j)
  GROUP BY a.s, a.code, r.j
),
v{i} AS (SELECT s, code, list(mv ORDER BY pos) AS cw FROM m{i} GROUP BY s, code),
{cur} AS (
  SELECT p.s, p.code, coalesce(v.cw, p.cw) AS cw
  FROM {prev} p LEFT JOIN v{i} v USING (s, code)
)""")
    return ",\n".join(parts), f"cb{iters}"


def _ann_topk_ivfpq_residual_sql(
    n_queries: int = 8, k: int = 10, n_cells: int = 16, n_probe: int = 4
) -> str:
    """DuckDB twin of similarity.ann_topk_ivfpq_residual: seed IVF
    assignment, per-vector residuals, the shared unrolled Lloyd passes
    TRAINED ON THE RESIDUAL FRAME, residual-code assignment, composed
    reconstruction norms (centroid + codeword, fold-ordered j-within-s
    like the kernel), and ADC = query·centroid + LUT sums."""
    from forest_open_data_pipelines_spark.operators.similarity import (
        PQ_KMEANS_ITERS,
        PQ_KS,
        PQ_M,
    )

    dim = 64
    sub = dim // PQ_M

    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))"
        )

    def d2(emb: str, s: str, cw: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, {sub} + 1), "
            f"j -> ({emb}[{s} * {sub} + j] - {cw}[j])"
            f" * ({emb}[{s} * {sub} + j] - {cw}[j])), (x, y) -> x + y)"
        )

    lloyd, final = _pq_lloyd_iter_ctes("res", PQ_M, PQ_KS, sub, PQ_KMEANS_ITERS)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
{_ivf_seed_cte(n_cells)},
assign AS (
  SELECT vec_id, emb, cell_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round({cos("emb", "cent")}, 9) DESC,
                                     cell_id) AS cell_rank
  FROM e CROSS JOIN cent
),
cellof AS (
  SELECT a.vec_id, a.emb, a.cell_id, c.cent
  FROM assign a JOIN cent c USING (cell_id) WHERE a.cell_rank = 1
),
res AS (
  SELECT vec_id,
         list_transform(range(1, {dim} + 1), j -> emb[j] - cent[j]) AS emb
  FROM cellof
),
{lloyd},
rasgn AS (
  SELECT vec_id, s, code, cw FROM (
    SELECT res.vec_id, c.s, c.code, c.cw,
           row_number() OVER (
             PARTITION BY res.vec_id, c.s
             ORDER BY round({d2('res.emb', 'c.s', 'c.cw')}, 9) ASC, c.code
           ) AS rnk
    FROM res CROSS JOIN {final} c
  ) WHERE rnk = 1
),
xnsq AS (
  SELECT r.vec_id,
         list_reduce(
           list(
             list_reduce(
               list_transform(range(1, {sub} + 1),
                 j -> (co.cent[r.s * {sub} + j] + r.cw[j])
                      * (co.cent[r.s * {sub} + j] + r.cw[j])),
               (x, y) -> x + y)
             ORDER BY r.s),
           (x, y) -> x + y) AS nsq
  FROM rasgn r JOIN cellof co USING (vec_id)
  GROUP BY r.vec_id
),
probes AS (
  SELECT a.vec_id AS query_id, a.emb AS q_emb, a.cell_id,
         list_dot_product(a.emb, c.cent) AS qc_dot
  FROM assign a JOIN cent c USING (cell_id)
  WHERE a.vec_id < {n_queries} AND a.cell_rank <= {n_probe}
),
q AS (
  SELECT vec_id AS query_id, sqrt(list_dot_product(emb, emb)) AS q_norm
  FROM e WHERE vec_id < {n_queries}
),
subdot AS (
  SELECT p.query_id, co.vec_id AS cand_id, p.qc_dot, r.s,
         list_dot_product(
           list_slice(p.q_emb, r.s * {sub} + 1, r.s * {sub} + {sub}),
           r.cw) AS d
  FROM probes p
  JOIN cellof co USING (cell_id)
  JOIN rasgn r ON r.vec_id = co.vec_id
  WHERE co.vec_id != p.query_id
),
adc AS (
  SELECT query_id, cand_id, qc_dot,
         list_reduce(list(d ORDER BY s), (x, y) -> x + y) AS adc_r
  FROM subdot GROUP BY query_id, cand_id, qc_dot
),
scored AS (
  SELECT a.query_id, a.cand_id,
         round((a.qc_dot + a.adc_r) / (q.q_norm * sqrt(x.nsq)), 6)
           AS cosine_pq
  FROM adc a JOIN q USING (query_id) JOIN xnsq x ON x.vec_id = a.cand_id
)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine_pq DESC, cand_id)::INTEGER AS rank,
       cand_id, cosine_pq
FROM scored QUALIFY rank <= {k} ORDER BY query_id, rank"""


def _embedding_quantize_pq_trained_sql() -> str:
    """DuckDB twin of similarity.embedding_quantize_pq(trained=True):
    the shared unrolled Lloyd passes (_pq_lloyd_iter_ctes) over the
    raw vectors, then the quantize output over the final codebook."""
    from forest_open_data_pipelines_spark.operators.similarity import (
        PQ_KMEANS_ITERS,
        PQ_KS,
        PQ_M,
    )

    sub = 64 // PQ_M

    def d2(emb: str, s: str, cw: str) -> str:
        return (
            f"list_reduce(list_transform(range(1, {sub} + 1), "
            f"j -> ({emb}[{s} * {sub} + j] - {cw}[j])"
            f" * ({emb}[{s} * {sub} + j] - {cw}[j])), (x, y) -> x + y)"
        )

    lloyd, final = _pq_lloyd_iter_ctes("e", PQ_M, PQ_KS, sub, PQ_KMEANS_ITERS)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
{lloyd},
asgn AS (
  SELECT vec_id, s, code, cw FROM (
    SELECT e.vec_id, c.s, c.code, c.cw,
           row_number() OVER (
             PARTITION BY e.vec_id, c.s
             ORDER BY round({d2('e.emb', 'c.s', 'c.cw')}, 9) ASC, c.code
           ) AS rnk
    FROM e CROSS JOIN {final} c
  ) WHERE rnk = 1
),
suberr AS (
  SELECT a.vec_id, a.s, {d2('e.emb', 'a.s', 'a.cw')} AS d2
  FROM asgn a JOIN e USING (vec_id)
),
err AS (
  SELECT vec_id, list_reduce(list(d2 ORDER BY s), (x, y) -> x + y) AS d2
  FROM suberr GROUP BY vec_id
),
codes AS (
  SELECT vec_id, list(code ORDER BY s) AS codes FROM asgn GROUP BY vec_id
)
SELECT c.vec_id, array_to_string(c.codes, ',') AS codes_csv,
       round(err.d2 / 64.0, 6) AS recon_mse
FROM codes c JOIN err USING (vec_id) ORDER BY c.vec_id"""


def _ann_topk_pq_sql(n_queries: int = 8, k: int = 10) -> str:
    """DuckDB twin of similarity.ann_topk_pq: identical codebook +
    assignment, ADC dots summed in subspace order (fold-identical),
    reconstruction norms from the codewords, 6-dp cosine, rank window
    with cand_id tie-break."""
    from forest_open_data_pipelines_spark.operators.similarity import (
        PQ_KS,
        PQ_M,
    )

    sub = 64 // PQ_M
    common = _PQ_COMMON.format(m=PQ_M, ks=PQ_KS, sub=sub)
    return f"""
WITH {common},
cnsq AS (
  SELECT vec_id,
         list_reduce(
           list(list_reduce(list_transform(cw, c -> c * c), (x, y) -> x + y)
                ORDER BY s),
           (x, y) -> x + y) AS nsq
  FROM asgn GROUP BY vec_id
),
q AS (
  SELECT vec_id AS query_id, emb AS q_emb,
         sqrt(list_dot_product(emb, emb)) AS q_norm
  FROM e WHERE vec_id < {n_queries}
),
subdot AS (
  SELECT q.query_id, a.vec_id AS cand_id, a.s,
         list_dot_product(
           list_slice(q.q_emb, a.s * {sub} + 1, a.s * {sub} + {sub}),
           a.cw) AS d
  FROM q CROSS JOIN asgn a WHERE a.vec_id != q.query_id
),
adc AS (
  SELECT query_id, cand_id,
         list_reduce(list(d ORDER BY s), (x, y) -> x + y) AS adc
  FROM subdot GROUP BY query_id, cand_id
),
scored AS (
  SELECT query_id, cand_id,
         round(adc / (q.q_norm * sqrt(c.nsq)), 6) AS cosine_pq
  FROM adc JOIN q USING (query_id) JOIN cnsq c ON c.vec_id = cand_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_pq DESC, cand_id)::INT AS rank
  FROM scored
)
SELECT query_id, rank, cand_id, cosine_pq
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank"""


def _dedup_semantic_sql(threshold: float = 0.45, n_cells: int = 16) -> str:
    """DuckDB twin of dedup.dedup_semantic (SemDeDup): seed-centroid
    cell assignment (9-dp rounded cosine argmax, lowest-cell-id ties —
    the _ann_ivf_sql convention), within-cell pairs at the 6-dp
    dedup_embedding cosine, and the keep-lowest-(cent_cos, vec_id)
    verdict."""

    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))"
        )

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
{_ivf_seed_cte(n_cells)},
assign AS (
  SELECT vec_id, emb, cell_id, round({cos("emb", "cent")}, 9) AS ccos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round({cos("emb", "cent")}, 9) DESC,
                                     cell_id) AS rnk
  FROM e CROSS JOIN cent
),
asg AS (SELECT vec_id, emb, cell_id, ccos AS cent_cos FROM assign WHERE rnk = 1),
pairs AS (
  SELECT a.vec_id AS va, a.cent_cos AS ca, b.vec_id AS vb, b.cent_cos AS cb
  FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE round({cos("a.emb", "b.emb")}, 6) >= {threshold}
),
losers AS (
  SELECT DISTINCT CASE WHEN ca < cb OR (ca = cb AND va < vb) THEN vb ELSE va END
           AS vec_id
  FROM pairs
)
SELECT g.vec_id, g.cell_id, g.cent_cos, (l.vec_id IS NOT NULL) AS is_dup
FROM asg g LEFT JOIN losers l USING (vec_id)
ORDER BY g.vec_id"""


def _boilerplate_ngrams_sql() -> str:
    """DuckDB twin of textops.boilerplate_ngrams: per-doc distinct
    3-gram shingles (the shared SHINGLES CTE), document frequency over
    the exploded stream, greatest(min_docs, frac·n_docs) boilerplate
    cut, per-doc density + flag at the 6-dp rounded fraction."""
    from forest_open_data_pipelines_spark.operators.textops import (
        BOILER_FLAG_FRAC,
        BOILER_MIN_DF_FRAC,
        BOILER_MIN_DOCS,
    )

    frac = "round(n_boiler::DOUBLE / n_grams, 6)"
    return f"""
WITH {SHINGLES},
ex AS (SELECT doc_id, unnest(shingles) AS s FROM shingled),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM ex),
dfc AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
boiler AS (
  SELECT s FROM dfc, nd
  WHERE df >= greatest({BOILER_MIN_DOCS}.0, {BOILER_MIN_DF_FRAC} * n_docs)
),
per AS (
  SELECT e.doc_id, count(*) AS n_grams, count(b.s) AS n_boiler
  FROM ex e LEFT JOIN boiler b ON e.s = b.s
  GROUP BY e.doc_id
)
SELECT doc_id, n_grams, n_boiler, {frac} AS boiler_frac,
       ({frac} >= {BOILER_FLAG_FRAC}) AS flagged
FROM per ORDER BY doc_id"""


def _ann_topk_ivfpq_sql(
    n_queries: int = 8, k: int = 10, n_cells: int = 16, n_probe: int = 4
) -> str:
    """DuckDB twin of similarity.ann_topk_ivfpq: the _ann_ivf_sql seed
    assignment/probing composed with the _ann_topk_pq_sql ADC scoring
    — candidates restricted to each query's n_probe cells, identical
    arithmetic orders throughout."""
    from forest_open_data_pipelines_spark.operators.similarity import (
        PQ_KS,
        PQ_M,
    )

    sub = 64 // PQ_M
    common = _PQ_COMMON.format(m=PQ_M, ks=PQ_KS, sub=sub)

    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))"
        )

    return f"""
WITH {common},
cnsq AS (
  SELECT vec_id,
         list_reduce(
           list(list_reduce(list_transform(cw, c -> c * c), (x, y) -> x + y)
                ORDER BY s),
           (x, y) -> x + y) AS nsq
  FROM asgn GROUP BY vec_id
),
{_ivf_seed_cte(n_cells)},
assign AS (
  SELECT vec_id, emb, cell_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round({cos("emb", "cent")}, 9) DESC,
                                     cell_id) AS cell_rank
  FROM e CROSS JOIN cent
),
cellof AS (SELECT vec_id AS cand_id, cell_id FROM assign WHERE cell_rank = 1),
probes AS (
  SELECT vec_id AS query_id, emb AS q_emb, cell_id
  FROM assign WHERE vec_id < {n_queries} AND cell_rank <= {n_probe}
),
q AS (
  SELECT vec_id AS query_id, sqrt(list_dot_product(emb, emb)) AS q_norm
  FROM e WHERE vec_id < {n_queries}
),
subdot AS (
  SELECT p.query_id, c.cand_id, a.s,
         list_dot_product(
           list_slice(p.q_emb, a.s * {sub} + 1, a.s * {sub} + {sub}),
           a.cw) AS d
  FROM probes p
  JOIN cellof c USING (cell_id)
  JOIN asgn a ON a.vec_id = c.cand_id
  WHERE c.cand_id != p.query_id
),
adc AS (
  SELECT query_id, cand_id,
         list_reduce(list(d ORDER BY s), (x, y) -> x + y) AS adc
  FROM subdot GROUP BY query_id, cand_id
),
scored AS (
  SELECT query_id, cand_id,
         round(adc / (q.q_norm * sqrt(n.nsq)), 6) AS cosine_pq
  FROM adc JOIN q USING (query_id) JOIN cnsq n ON n.vec_id = cand_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_pq DESC, cand_id)::INT AS rank
  FROM scored
)
SELECT query_id, rank, cand_id, cosine_pq
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank"""


def _embedding_cluster_report_sql(n_cells: int = 16) -> str:
    """DuckDB twin of similarity.embedding_cluster_report: seed-cell
    assignment (9-dp cosine argmax, lowest-cell ties), nano-int cosine
    carry so sums are order-exact, 6-dp display rounds."""

    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))"
        )

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
{_ivf_seed_cte(n_cells)},
assign AS (
  SELECT vec_id, cell_id,
         round({cos("emb", "cent")} * 1000000000.0, 0)::BIGINT AS cos_nano,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round({cos("emb", "cent")}, 9) DESC,
                                     cell_id) AS rnk
  FROM e CROSS JOIN cent
),
per AS (
  SELECT cell_id, count(*) AS n_vectors, sum(cos_nano)::BIGINT AS s,
         min(cos_nano) AS mn, max(cos_nano) AS mx
  FROM assign WHERE rnk = 1 GROUP BY cell_id
),
tot AS (SELECT sum(n_vectors) AS t FROM per)
SELECT cell_id, n_vectors,
       round(n_vectors::DOUBLE / t, 6) AS share,
       round(s / (n_vectors * 1000000000.0), 6) AS avg_cos,
       round(mn / 1000000000.0, 6) AS min_cos,
       round(mx / 1000000000.0, 6) AS max_cos
FROM per CROSS JOIN tot ORDER BY cell_id"""


def _embedding_quantize_sq8_sql() -> str:
    """DuckDB twin of similarity.embedding_quantize_sq8. The mse sum
    uses list_reduce (sequential left-to-right, the same order as
    Spark's aggregate fold) so the 6-dp round sees the identical
    double on both engines."""
    return f"""
WITH {_sq8_coded_cte()},
err AS (
  SELECT vec_id, scale, codes,
         list_transform(range(1, len(emb) + 1),
                        i -> abs(emb[i] - codes[i] * scale)) AS e
  FROM coded
)
SELECT vec_id, scale,
       array_to_string(codes, ',') AS codes_csv,
       round(list_max(e), 6) AS max_abs_err,
       round(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b)
             / len(codes), 6) AS mse
FROM err ORDER BY vec_id"""


def _ann_topk_sq8_sql(n_queries: int = 8, k: int = 10) -> str:
    """DuckDB twin of similarity.ann_topk_sq8: integer code dot
    products are EXACT (order-independent), so only the final cosine
    division rounds."""
    return f"""
WITH {_sq8_coded_cte()},
nsq AS (
  SELECT vec_id, codes,
         list_sum(list_transform(codes, x -> x::BIGINT * x))::BIGINT AS n2
  FROM coded
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         round(list_sum(list_transform(range(1, len(q.codes) + 1),
                        i -> q.codes[i]::BIGINT * c.codes[i]))::DOUBLE
               / (sqrt(q.n2::DOUBLE) * sqrt(c.n2::DOUBLE)), 6) AS cosine_q
  FROM nsq q JOIN nsq c ON q.vec_id < {n_queries} AND c.vec_id <> q.vec_id
)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine_q DESC, cand_id)::INTEGER AS rank,
       cand_id, cosine_q
FROM scored
QUALIFY rank <= {k}
ORDER BY query_id, rank"""



def _charlm_perplexity_sql() -> str:
    """DuckDB twin of textops.charlm_perplexity: identical training
    (bigram/prefix counts + distinct-char vocab), integer micro-bit
    log-probs (exact order-free sums), identical gating."""
    from forest_open_data_pipelines_spark.operators.textops import (
        CHARLM_MAX_ENTROPY_BITS,
    )

    return f"""
WITH base AS (SELECT doc_id, {LCLEAN} AS t FROM documents),
ex AS (
  SELECT doc_id, substr(t, i, 2) AS bg
  FROM base, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
counts AS (SELECT bg, count(*) AS n12 FROM ex GROUP BY bg),
prefix AS (SELECT substr(bg, 1, 1) AS c1, sum(n12) AS n1 FROM counts GROUP BY 1),
vocab AS (
  SELECT count(DISTINCT substr(t, i, 1)) AS v
  FROM base, unnest(range(1, len(t) + 1)) AS u(i)
),
model AS (
  SELECT bg,
         round(log2((n12 + 1)::DOUBLE / (n1 + v)) * 1000000)::BIGINT AS lp
  FROM counts JOIN prefix ON substr(bg, 1, 1) = c1 CROSS JOIN vocab
),
scored AS (
  SELECT doc_id, sum(lp)::BIGINT AS lp_sum, count(*)::BIGINT AS nb
  FROM ex JOIN model USING (bg) GROUP BY doc_id
),
final AS (
  SELECT b.doc_id, coalesce(nb, 0) AS n_bigrams,
         round(-lp_sum / (nb * 1000000.0), 6) AS entropy_bits
  FROM base b LEFT JOIN scored USING (doc_id)
)
SELECT doc_id, n_bigrams, entropy_bits,
       round(pow(2.0, entropy_bits), 6) AS perplexity,
       coalesce(entropy_bits <= {CHARLM_MAX_ENTROPY_BITS}, true) AS passes_charlm
FROM final ORDER BY doc_id"""



def oracle_sql() -> dict[str, str]:
    from forest_open_data_pipelines_spark.operators.similarity import (
        IVF_KMEANS_ITERS as _IVF_ITERS,
    )

    clean = CLEAN
    lclean = LCLEAN
    toks = f"string_split({clean}, ' ')"
    gap_us = 30 * 60 * 1_000_000
    lang_scores = {
        code: (
            f"len(list_filter(string_split(lower(text), ' '), "
            f"x -> x IN ({', '.join(repr(w) for w in markers)})))"
        )
        for code, markers in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(f"s_{c}" for c in LANG_MARKERS) + ")"
    pred_cases = " ".join(
        f"WHEN s_{c} = {best} THEN '{c}'" for c in LANG_MARKERS
    )
    out = {
        # A. time-series engine ------------------------------------------------
        "monthly_series": f"WITH {ENRICHED}, {MONTHLY} SELECT * FROM monthly ORDER BY period",
        "monthly_by_region": f"""
WITH {ENRICHED}
SELECT strftime(o_orderdate, '%Y-%m') AS period, r_name,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM enriched GROUP BY 1, 2 ORDER BY 1, 2""",
        "annual_series": f"""
WITH {ENRICHED}
SELECT year(o_orderdate)::INTEGER AS year, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM enriched GROUP BY 1 ORDER BY 1""",
        "annual_by_region": f"""
WITH {ENRICHED}
SELECT year(o_orderdate)::INTEGER AS year, r_name, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM enriched GROUP BY 1, 2 ORDER BY 1, 2""",
        "nation_year_matrix": f"""
WITH {ENRICHED}
SELECT n_name, year(o_orderdate)::INTEGER AS year, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM enriched GROUP BY 1, 2 ORDER BY 1, 2""",
        "nation_month_matrix": f"""
WITH {ENRICHED}
SELECT n_name, strftime(o_orderdate, '%Y-%m') AS period, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM enriched GROUP BY 1, 2 ORDER BY 1, 2""",
        "top_nations_yoy": _yoy_sql("n_name", 10),
        "top_regions_yoy": _yoy_sql("r_name", 5),
        "rolling_12m": f"""
WITH {ENRICHED}, {MONTHLY}
SELECT period,
       sum(n_orders) OVER (ORDER BY period ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)::BIGINT
         AS recent_12m_total,
       (sum(n_orders) OVER (ORDER BY period ROWS BETWEEN 23 PRECEDING AND 12 PRECEDING))::BIGINT
         AS prior_12m_total,
       (count(n_orders) OVER (ORDER BY period ROWS BETWEEN 23 PRECEDING AND 12 PRECEDING) = 12)
         AS has_full_prior_window,
       round(CASE WHEN sum(n_orders) OVER (ORDER BY period ROWS BETWEEN 23 PRECEDING AND 12 PRECEDING) <> 0
             THEN (sum(n_orders) OVER (ORDER BY period ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
                   - sum(n_orders) OVER (ORDER BY period ROWS BETWEEN 23 PRECEDING AND 12 PRECEDING))::DOUBLE
                  / sum(n_orders) OVER (ORDER BY period ROWS BETWEEN 23 PRECEDING AND 12 PRECEDING) * 100.0
             END, 6) AS pct_change
FROM monthly ORDER BY period""",
        "ytd_comparison": f"""
WITH {ENRICHED}, {MONTHLY},
m AS (
  SELECT period, n_orders::DOUBLE AS value,
         substr(period, 1, 4)::INTEGER AS year, substr(period, 6, 2)::INTEGER AS month
  FROM monthly
),
latest AS (
  SELECT max(period) AS latest_period,
         substr(max(period), 1, 4)::INTEGER AS latest_year,
         substr(max(period), 6, 2)::INTEGER AS latest_month
  FROM m
),
per_year AS (
  SELECT latest_period, latest_year, latest_month, year, sum(value) AS ytd
  FROM m, latest WHERE month <= latest_month GROUP BY 1, 2, 3, 4
),
agg AS (
  SELECT latest_period,
         sum(ytd) FILTER (WHERE year = latest_year) AS ytd_current_year,
         sum(ytd) FILTER (WHERE year = latest_year - 1) AS ytd_previous_year,
         round(avg(ytd) FILTER (WHERE year >= latest_year - 5 AND year < latest_year AND ytd > 0), 6)
           AS ytd_5yr_avg
  FROM per_year GROUP BY latest_period, latest_year, latest_month
)
SELECT latest_period, ytd_current_year, ytd_previous_year,
       round(CASE WHEN ytd_previous_year IS NOT NULL AND ytd_previous_year <> 0
             THEN (ytd_current_year - ytd_previous_year) / ytd_previous_year * 100.0 END, 6)
         AS ytd_pct_change,
       ytd_5yr_avg,
       round(CASE WHEN ytd_5yr_avg IS NOT NULL AND ytd_5yr_avg <> 0
             THEN (ytd_current_year - ytd_5yr_avg) / ytd_5yr_avg * 100.0 END, 6)
         AS ytd_vs_5yr_avg_pct
FROM agg""",
        "highlights": f"""
WITH {ENRICHED}, {MONTHLY},
m AS (
  SELECT period, n_orders::BIGINT AS value,
         substr(period, 1, 4)::INTEGER AS year,
         row_number() OVER (ORDER BY period) AS rn
  FROM monthly
),
base AS (
  SELECT max(period) AS latest_period, max(year) AS latest_year,
         min(year) AS first_year, sum(value)::BIGINT AS total_rows_processed,
         count(DISTINCT year)::BIGINT AS file_count_used, count(*) AS n_periods
  FROM m
),
scal AS (
  SELECT latest_period, latest_year, first_year, total_rows_processed,
         file_count_used, n_periods,
         sum(value) FILTER (WHERE year = latest_year)::BIGINT AS current_year_total,
         max(year) FILTER (WHERE year < latest_year) AS previous_year,
         sum(value) FILTER (WHERE rn > n_periods - 12)::BIGINT AS recent_12m_total,
         sum(value) FILTER (WHERE rn > n_periods - 24 AND rn <= n_periods - 12)::BIGINT
           AS prior_12m_sum,
         count(*) FILTER (WHERE rn > n_periods - 24 AND rn <= n_periods - 12)
           AS prior_12m_n
  FROM m, base
  GROUP BY 1, 2, 3, 4, 5, 6
),
fin AS (
  SELECT s.*,
         coalesce(sum(m.value) FILTER (WHERE m.year = s.previous_year), 0)::BIGINT
           AS previous_year_total,
         CASE WHEN s.prior_12m_n = 12 THEN s.prior_12m_sum ELSE 0 END::BIGINT
           AS prior_12m_total
  FROM m, scal s
  GROUP BY ALL
)
SELECT 1 AS pos, 'current_year_total' AS id, current_year_total::VARCHAR AS value,
       CASE WHEN previous_year IS NOT NULL THEN previous_year_total END AS comparison_value,
       round(CASE WHEN previous_year IS NOT NULL AND previous_year_total <> 0
             THEN (current_year_total - previous_year_total)::DOUBLE
                  / previous_year_total * 100.0 END, 6) AS pct_change
FROM fin
UNION ALL
SELECT 2, 'recent_12m_total', recent_12m_total::VARCHAR, prior_12m_total,
       round(CASE WHEN prior_12m_total <> 0
             THEN (recent_12m_total - prior_12m_total)::DOUBLE
                  / prior_12m_total * 100.0 END, 6)
FROM fin
UNION ALL
SELECT 3, 'coverage_year_range',
       first_year::VARCHAR || '-' || latest_year::VARCHAR, NULL::BIGINT, NULL::DOUBLE
FROM fin
UNION ALL
SELECT 4, 'total_rows_processed', total_rows_processed::VARCHAR,
       file_count_used, NULL::DOUBLE
FROM fin
UNION ALL
SELECT 5, 'latest_period', latest_period, NULL::BIGINT, NULL::DOUBLE
FROM fin
ORDER BY pos""",
        "same_month_prev_year": f"""
WITH {ENRICHED},
nm AS (
  SELECT n_name, strftime(o_orderdate, '%Y-%m') AS period, count(*) AS n_orders
  FROM enriched GROUP BY 1, 2
),
latest AS (
  SELECT max(period) AS cur_period,
         (substr(max(period), 1, 4)::INTEGER - 1)::VARCHAR || substr(max(period), 5, 3)
           AS prev_period
  FROM nm
),
agg AS (
  SELECT n_name, cur_period, prev_period,
         sum(n_orders) FILTER (WHERE period = cur_period) AS cur,
         sum(n_orders) FILTER (WHERE period = prev_period) AS prev
  FROM nm, latest
  WHERE period = cur_period OR period = prev_period
  GROUP BY 1, 2, 3
)
SELECT n_name, cur_period AS period,
       coalesce(cur, 0)::BIGINT AS current_month_total,
       coalesce(prev, 0)::BIGINT AS previous_month_total,
       round(CASE WHEN coalesce(prev, 0) <> 0
             THEN (coalesce(cur, 0) - coalesce(prev, 0))::DOUBLE / coalesce(prev, 0) * 100.0
             END, 6) AS pct_change
FROM agg ORDER BY current_month_total DESC, n_name LIMIT 10""",
        "state_biome_monthly_series": f"""
WITH {ENRICHED},
base AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS period, r_name AS biome, n_name AS state
  FROM enriched
)
SELECT period,
       substr(period, 1, 4)::INTEGER AS year,
       coalesce(biome, 'ALL') AS biome,
       coalesce(state, 'ALL') AS state,
       count(*) AS value
FROM base
GROUP BY GROUPING SETS ((period), (period, biome), (period, state), (period, biome, state))
ORDER BY period, coalesce(biome, 'ALL'), coalesce(state, 'ALL')""",
        "top_biomes_month_comparison": f"""
WITH {ENRICHED},
mbr AS (
  SELECT r_name, strftime(o_orderdate, '%Y-%m') AS period, count(*) AS n_orders
  FROM enriched GROUP BY 1, 2
),
latest AS (
  SELECT max(period) AS cur_period,
         (substr(max(period), 1, 4)::INTEGER - 1)::VARCHAR || substr(max(period), 5, 3)
           AS prev_period
  FROM mbr
),
agg AS (
  SELECT r_name, cur_period, prev_period,
         sum(n_orders) FILTER (WHERE period = cur_period) AS cur,
         sum(n_orders) FILTER (WHERE period = prev_period) AS prev
  FROM mbr, latest
  WHERE period = cur_period OR period = prev_period
  GROUP BY 1, 2, 3
)
SELECT r_name AS biome, cur_period AS period,
       coalesce(cur, 0)::BIGINT AS current_month_total,
       coalesce(prev, 0)::BIGINT AS previous_month_total,
       (coalesce(cur, 0) - coalesce(prev, 0))::BIGINT AS absolute_change,
       round(CASE WHEN coalesce(prev, 0) <> 0
             THEN (coalesce(cur, 0) - coalesce(prev, 0))::DOUBLE / coalesce(prev, 0) * 100.0
             END, 6) AS pct_change
FROM agg
ORDER BY current_month_total DESC, previous_month_total DESC, biome LIMIT 5""",
        "month_year_comparison": f"""
WITH {ENRICHED}, {MONTHLY},
m AS (
  SELECT n_orders::DOUBLE AS value,
         substr(period, 1, 4)::INTEGER AS year, substr(period, 6, 2)::INTEGER AS month
  FROM monthly
),
latest AS (SELECT (max(year * 100 + month) // 100)::INTEGER AS latest_year FROM m)
SELECT month,
       sum(value) FILTER (WHERE year = latest_year) AS latest_year_value,
       sum(value) FILTER (WHERE year = latest_year - 1) AS previous_year_value,
       round(avg(value) FILTER (WHERE year >= latest_year - 5 AND year < latest_year), 6)
         AS historical_avg
FROM m, latest GROUP BY month ORDER BY month""",
        "top_nations_with_other": f"""
WITH {ENRICHED},
per_cat AS (SELECT n_name AS label, count(*) AS value FROM enriched GROUP BY 1),
ranked AS (
  SELECT label, value,
         row_number() OVER (ORDER BY value DESC, label) AS rank
  FROM per_cat
)
SELECT CASE WHEN rank <= 4 THEN label ELSE 'Outros' END AS label,
       sum(value)::BIGINT AS value
FROM ranked GROUP BY 1""",
        "research_trends": """
WITH per_year AS (
  SELECT o_orderpriority AS source, year(o_orderdate)::INTEGER AS year,
         count(*) AS n_pubs
  FROM orders GROUP BY 1, 2
)
SELECT source, year, n_pubs,
       round((n_pubs - lag(n_pubs) OVER (PARTITION BY source ORDER BY year))::DOUBLE
             / lag(n_pubs) OVER (PARTITION BY source ORDER BY year) * 100.0, 6)
         AS yoy_pct,
       round(n_pubs::DOUBLE / sum(n_pubs) OVER (PARTITION BY source) * 100.0, 6)
         AS share_pct
FROM per_year ORDER BY source, year""",
        "research_trends_rollup": """
WITH base AS (
  SELECT 'cust-' || o_custkey::VARCHAR AS institution,
         o_orderpriority AS concept,
         o_orderstatus AS venue
  FROM orders
),
g AS (
  SELECT institution, concept, venue, count(*) AS n_pubs,
         grouping(institution) AS g_inst, grouping(concept) AS g_concept
  FROM base
  GROUP BY GROUPING SETS ((institution), (concept), (venue))
),
lab AS (
  SELECT CASE WHEN g_inst = 0 THEN 'institution'
              WHEN g_concept = 0 THEN 'concept'
              ELSE 'venue' END AS dimension,
         coalesce(institution, concept, venue) AS label,
         n_pubs
  FROM g
),
r AS (
  SELECT dimension, label, n_pubs,
         row_number() OVER (PARTITION BY dimension ORDER BY n_pubs DESC, label)::INTEGER
           AS rank
  FROM lab
)
SELECT dimension, label, n_pubs, rank
FROM r WHERE rank <= 10 ORDER BY dimension, rank""",
        "daily_series": """
WITH span AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events),
spine AS (
  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS date FROM span
),
counts AS (
  SELECT ts::DATE AS date, count(*) AS value
  FROM events WHERE trim(event_type) = 'purchase' GROUP BY 1
)
SELECT spine.date, coalesce(counts.value, 0)::BIGINT AS value
FROM spine LEFT JOIN counts USING (date)
ORDER BY date""",
        "nation_share_latest": f"""
WITH {ENRICHED},
nm AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS period, n_name, o_totalprice
  FROM enriched
),
latest AS (SELECT max(period) AS latest_period FROM nm),
per_nation AS (
  SELECT n_name, period, round(sum(o_totalprice), 2) AS value
  FROM nm, latest WHERE period = latest_period
  GROUP BY 1, 2
  HAVING round(sum(o_totalprice), 2) > 0
)
SELECT n_name, period, value,
       round(value / sum(value) OVER () * 100.0, 2) AS share_pct
FROM per_nation
ORDER BY value DESC, n_name LIMIT 8""",
        "nation_series_with_other": f"""
WITH {ENRICHED},
nm AS (
  SELECT date_trunc('month', o_orderdate)::DATE AS month, n_name,
         round(sum(o_totalprice), 2) AS value
  FROM enriched GROUP BY 1, 2
),
latest AS (SELECT max(month) AS latest_month FROM nm),
top AS (
  SELECT n_name FROM (
    SELECT n_name, row_number() OVER (ORDER BY value DESC, n_name) AS rank
    FROM nm, latest WHERE month = latest_month AND value > 0
  ) WHERE rank <= 8
)
SELECT strftime(month, '%Y-%m') AS period,
       CASE WHEN n_name IN (SELECT n_name FROM top) THEN n_name
            ELSE 'OUTROS' END AS series,
       round(sum(value), 2) AS value
FROM nm, latest
WHERE month >= latest_month - INTERVAL 5 MONTH
GROUP BY 1, 2 ORDER BY 1, 2""",
        "monthly_chart_spec": f"""
WITH {ENRICHED}, {MONTHLY},
m AS (
  SELECT n_orders::DOUBLE AS value,
         substr(period, 1, 4)::INTEGER AS year, substr(period, 6, 2)::INTEGER AS month
  FROM monthly
),
latest AS (SELECT max(year) AS latest_year FROM m),
g AS (
  SELECT month,
         sum(value) FILTER (WHERE year = latest_year) AS current_value,
         sum(value) FILTER (WHERE year = latest_year - 1) AS previous_value
  FROM m, latest WHERE year >= latest_year - 1 GROUP BY month
)
SELECT month,
       ['Jan','Fev','Mar','Abr','Mai','Jun','Jul','Ago','Set','Out','Nov','Dez'][month]
         AS month_label,
       current_value, previous_value,
       round(CASE WHEN previous_value IS NOT NULL AND previous_value <> 0
                  THEN (current_value - previous_value) / previous_value * 100.0 END, 6)
         AS pct_change
FROM g ORDER BY month""",
        "series_alignment_metrics": """
WITH daily AS (
  SELECT date_trunc('day', ts)::DATE AS day, event_type, sum(value) AS v
  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2
),
aligned AS (
  SELECT day,
         sum(v) FILTER (WHERE event_type = 'click') AS a_value,
         sum(v) FILTER (WHERE event_type = 'view') AS b_value
  FROM daily GROUP BY day
  HAVING a_value > 0 AND b_value > 0
),
with_prev AS (
  SELECT day, a_value, b_value,
         lag(a_value) OVER (ORDER BY day) AS prev_a,
         lag(b_value) OVER (ORDER BY day) AS prev_b
  FROM aligned
),
latest AS (SELECT max(day) AS latest_day FROM with_prev)
SELECT day,
       round(a_value, 6) AS a_value,
       round(b_value, 6) AS b_value,
       round(CASE WHEN prev_a IS NOT NULL AND prev_a <> 0
             THEN (a_value - prev_a) / prev_a * 100.0 END, 6) AS a_delta_pct,
       round(CASE WHEN prev_b IS NOT NULL AND prev_b <> 0
             THEN (b_value - prev_b) / prev_b * 100.0 END, 6) AS b_delta_pct
FROM with_prev, latest WHERE day = latest_day""",
        # B. profiling / audit / catalog --------------------------------------
        "profile_columns": f"SELECT * FROM ({_profile_columns_sql()}) ORDER BY column_name",
        "catalog_summary": """
SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
       sum(n_chars)::BIGINT AS total_chars, round(avg(n_chars), 6) AS avg_chars,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents GROUP BY source ORDER BY source""",
        "type_inference": r"""
WITH stacked AS (
  SELECT 'o_orderkey' AS column_name, o_orderkey::VARCHAR AS value FROM orders
  UNION ALL SELECT 'o_totalprice', o_totalprice::VARCHAR FROM orders
  UNION ALL SELECT 'o_orderdate', o_orderdate::VARCHAR FROM orders
  UNION ALL SELECT 'o_orderstatus', o_orderstatus::VARCHAR FROM orders
  UNION ALL SELECT 'o_orderpriority', o_orderpriority::VARCHAR FROM orders
),
t AS (SELECT column_name, trim(value) AS v FROM stacked),
agg AS (
  SELECT column_name,
         count(*) FILTER (WHERE v IS NOT NULL AND v <> '') AS n_values,
         count(*) FILTER (WHERE v IS NOT NULL AND v <> ''
                          AND regexp_full_match(v, '-?\d+(\.\d+)?([eE][+-]?\d+)?')) AS n_num,
         count(*) FILTER (WHERE v IS NOT NULL AND v <> ''
                          AND regexp_full_match(v, '-?\d+')) AS n_int,
         count(*) FILTER (WHERE v IS NOT NULL AND v <> ''
                          AND regexp_full_match(v, '\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2}(\.\d+)?)?')) AS n_date,
         count(DISTINCT v) FILTER (WHERE v IS NOT NULL AND v <> '') AS n_distinct
  FROM t GROUP BY column_name
)
SELECT column_name, n_values, n_distinct,
       round(n_num::DOUBLE / n_values, 6) AS numeric_ratio,
       round(n_date::DOUBLE / n_values, 6) AS datetime_ratio,
       CASE WHEN n_values = 0 THEN 'empty'
            WHEN n_num::DOUBLE / n_values >= 0.95
                 AND n_int::DOUBLE / n_values >= 0.95 THEN 'int'
            WHEN n_num::DOUBLE / n_values >= 0.95 THEN 'float'
            WHEN n_date::DOUBLE / n_values >= 0.8 THEN 'datetime'
            WHEN n_distinct <= 5 AND n_values >= 10 THEN 'categorical'
            ELSE 'string' END AS inferred_kind
FROM agg ORDER BY column_name""",
        "schema_audit": """
WITH sigs AS (
  SELECT source, string_agg(DISTINCT lang, ',' ORDER BY lang) AS signature,
         count(*) AS n_docs
  FROM documents GROUP BY source
),
modal AS (
  SELECT signature AS modal_signature FROM sigs
  GROUP BY signature ORDER BY count(*) DESC, signature LIMIT 1
)
SELECT source, n_docs, signature, modal_signature,
       (signature <> modal_signature) AS diverges
FROM sigs, modal ORDER BY source""",
        # C. freshness ---------------------------------------------------------
        "freshness_cadence": f"""
WITH iv AS (
  SELECT user_id, ts,
         (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))
           / 86400000000.0 AS interval_days
  FROM events
),
per_user AS (
  SELECT user_id,
         count(*) AS observations,
         count(*) FILTER (WHERE interval_days > 0) AS changes,
         median(interval_days) FILTER (WHERE interval_days > 0) AS med,
         stddev_pop(interval_days) FILTER (WHERE interval_days > 0) AS sd,
         avg(interval_days) FILTER (WHERE interval_days > 0) AS mean_interval,
         max(ts) AS last_observed_at
  FROM iv GROUP BY user_id
),
cvd AS (
  SELECT *, CASE WHEN changes >= 2 AND mean_interval <> 0 THEN sd / mean_interval END AS cv
  FROM per_user
)
SELECT user_id, observations, changes,
       round(med, 6) AS median_interval_days,
       round(cv, 6) AS cv,
       CASE WHEN observations >= 6 AND changes < 2 THEN 'ad_hoc'
            WHEN changes < 3 THEN 'insufficient_data'
            WHEN cv > 0.75 THEN 'irregular'
            WHEN observations >= 30 AND med <= 1.5 THEN 'daily'
            WHEN observations >= 8 AND med >= 5 AND med <= 10 THEN 'weekly'
            WHEN med >= 25 AND med <= 35 THEN 'monthly'
            ELSE 'irregular' END AS suggested_cadence,
       CASE WHEN changes < 3 OR observations < 6 THEN 'low'
            WHEN observations >= 30 AND (cv IS NULL OR cv <= 0.25) THEN 'high'
            WHEN cv IS NULL OR cv <= 0.75 THEN 'medium'
            ELSE 'low' END AS confidence,
       last_observed_at
FROM cvd ORDER BY user_id""",
        # freshness/report.py render_markdown_report twin: header and
        # trailer literals single-sourced from the operator module;
        # body rows re-compose the cadence CTE; median renders through
        # DECIMAL(18,2) (exact, identically-formatted on both engines)
        "freshness_report_lines": _freshness_report_lines_sql(),
        "freshness_latest": """
WITH per_user AS (
  SELECT user_id, max(ts) AS last_observed_at, count(*) AS observations
  FROM events GROUP BY user_id
),
latest AS (SELECT max(last_observed_at) AS as_of FROM per_user)
SELECT user_id, observations, last_observed_at,
       round((epoch_us(as_of) - epoch_us(last_observed_at)) / 86400000000.0, 6)
         AS staleness_days
FROM per_user, latest ORDER BY user_id""",
        # D. text analysis -----------------------------------------------------
        "text_cleanup": f"""
SELECT doc_id, {clean} AS clean_text, length({clean})::INTEGER AS clean_chars,
       regexp_matches({clean},
         '(?i)^(receba|cadastre|whatsapp|newsletter|clique aqui para receber|siga nosso canal|termo de privacidade)\\b')
         AS is_boilerplate,
       (length({clean}) >= 40) AS is_useful_paragraph
FROM documents ORDER BY doc_id""",
        "html_extract": f"""
WITH page AS (
  SELECT doc_id,
    '<html><head><title>feed</title><style>p {{ margin: 0 }}</style></head><body>'
    || '<h1 class="page-title"> ' || source || ' article ' || doc_id::VARCHAR || ' </h1>'
    || '<div class="datas">01/01/2024 10:30</div>'
    || '<div class="lead">' || substr(text, 1, 60) || '</div>'
    || '<script type="text/javascript">var ads = "x < y";</script>'
    || '<div class="materia"><p>' || replace(text, ' the ', '</p><p>')
    || '</p><p>Receba nossa newsletter diaria</p>'
    || '<p>WhatsApp: siga nosso canal</p></div>'
    || '</body></html>' AS html
  FROM documents
),
nos AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(html,
      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS html
  FROM page
),
paras AS (
  SELECT doc_id,
    {_HTML_TITLE} AS title,
    nullif({_HTML_LEAD}, '') AS lead,
    list_filter(
      list_transform(
        regexp_extract_all(
          regexp_extract(html, '(?is)<div class="materia"[^>]*>(.*?)</div>', 1),
          '(?is)<p[^>]*>(.*?)</p>', 1),
        x -> {_HTML_PARA}),
      x -> x <> '' AND NOT regexp_matches(x, '{_CTA_RE}')) AS ps
  FROM nos
)
SELECT doc_id, title, lead,
       substr(array_to_string(ps, chr(10) || chr(10)), 1, 400) AS body_prefix,
       len(ps)::BIGINT AS n_paragraphs,
       coalesce(list_filter(ps, x -> length(x) >= 40)[1],
                list_filter(ps, x -> length(x) >= 15)[1]) AS first_paragraph
FROM paras ORDER BY doc_id""",
        "html_list_parse": f"""
WITH d AS (
  SELECT doc_id, text, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
li AS (
  SELECT source, rn,
    '<li class="horizontal com-hora">' ||
    CASE WHEN doc_id % 11 = 0 THEN t
         ELSE '<a href="/noticias/' || source || '/' || doc_id::VARCHAR
              || '.htm">' || t || h || '</a>'
    END || '</li>' AS li
  FROM (
    SELECT doc_id, source, rn,
      CASE WHEN doc_id % 7 = 0 THEN ''
           ELSE '<h2>' || substr(text, 1, 50) || '</h2>' END AS t,
      CASE WHEN doc_id % 5 = 0 THEN ''
           ELSE '<span class="hora">' || lpad((doc_id % 24)::VARCHAR, 2, '0')
                || ':' || lpad((doc_id % 60)::VARCHAR, 2, '0')
                || '</span>' END AS h
    FROM d WHERE rn <= 8
  )
),
pages AS (
  SELECT source,
    '<h3>15/03/2024</h3>'
    || coalesce(string_agg(li, '' ORDER BY rn) FILTER (WHERE rn <= 4), '')
    || '<h3>14/03/2024</h3>'
    || coalesce(string_agg(li, '' ORDER BY rn) FILTER (WHERE rn > 4), '')
      AS page
  FROM li GROUP BY source
),
exploded AS (
  SELECT source, page,
         regexp_extract_all(page,
           '(?is)<li class="horizontal com-hora">.*?</li>') AS lis
  FROM pages
),
items AS (
  SELECT source, page, i + 1 AS rnk, lis[i + 1] AS li
  FROM exploded, range(5) t(i)
  WHERE len(lis) > i
),
parsed AS (
  SELECT source, rnk, li,
         regexp_extract(li, 'href="([^"]*)"', 1) AS href,
         regexp_extract_all(substr(page, 1, strpos(page, li) - 1),
                            '(?is)<h3[^>]*>(.*?)</h3>', 1) AS h3s,
         regexp_extract(li, '(?is)<span class="hora">(.*?)</span>', 1)
           AS time_raw
  FROM items
)
SELECT source AS category_slug, upper(source) AS category_label,
       rnk::INTEGER AS rank_within_category,
       'https://www.noticiasagricolas.com.br' || href AS url,
       {_html_clean("regexp_extract(li, '(?is)<h2[^>]*>(.*?)</h2>', 1)")}
         AS title,
       coalesce(h3s[len(h3s)], '') AS listing_date,
       coalesce(nullif(time_raw, ''), '00:00') AS listing_time
FROM parsed WHERE href <> ''
ORDER BY category_slug, rank_within_category""",
        "dir_listing_files": f"""
WITH d AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
rowt AS (
  SELECT source, rn,
         CASE WHEN doc_id % 10 = 3 THEN r1 || r1 ELSE r1 END AS r1
  FROM (
    SELECT doc_id, source, rn,
      '<tr><td><a href="' || href || '">' || label
      || '</a></td><td class="date">2024-03-'
      || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0')
      || ' 10:' || lpad((doc_id % 60)::VARCHAR, 2, '0')
      || '</td><td class="size">' || (doc_id % 900 + 1)::VARCHAR
      || 'K</td></tr>' AS r1
    FROM (
      SELECT doc_id, source, rn,
        CASE WHEN sfx = '' THEN 'area_' || doc_id::VARCHAR
             ELSE 'focos_' || doc_id::VARCHAR || sfx END AS href,
        CASE WHEN doc_id % 9 = 0 THEN '/'
             ELSE 'Focos ' || doc_id::VARCHAR || sfx END AS label
      FROM (
        SELECT doc_id, source, rn,
          ['.csv', '.zip', '.pdf', '.txt', '.kml', '.json', '.html',
           ''][(doc_id % 8 + 1)] AS sfx
        FROM d WHERE rn <= 10
      )
    )
  )
),
pages AS (
  SELECT source,
    '<tr><td><a href="../">Parent Directory</a></td>'
    || '<td class="date">-</td><td class="size">-</td></tr>'
    || '<tr><td><a href="?C=N;O=D">Name</a></td>'
    || '<td class="date">-</td><td class="size">-</td></tr>'
    || '<tr><td><a href="?C=M;O=A">Last modified</a></td>'
    || '<td class="date">-</td><td class="size">-</td></tr>'
    || '<tr><td><a href="mailto:admin@example.test">contact</a></td>'
    || '<td class="date">-</td><td class="size">-</td></tr>'
    || '<tr><td><a href="#top">top</a></td>'
    || '<td class="date">-</td><td class="size">-</td></tr>'
    || '<tr><td><a href="sub/">sub/</a></td>'
    || '<td class="date">2024-03-01 09:00</td><td class="size">-</td></tr>'
    || string_agg(r1, '' ORDER BY rn) AS page
  FROM rowt GROUP BY source
),
anchors AS (
  SELECT source, unnest(regexp_extract_all(page, '(?is)<tr>.*?</tr>')) AS rowx
  FROM pages
),
ext AS (
  SELECT source, rowx,
         regexp_extract(rowx, 'href="([^"]*)"', 1) AS href,
         {_html_clean("regexp_extract(rowx, '(?is)<a[^>]*>(.*?)</a>', 1)")}
           AS label,
         regexp_extract(rowx, '(?is)<td class="date">(.*?)</td>', 1) AS date_raw,
         regexp_extract(rowx, '(?is)<td class="size">(.*?)</td>', 1) AS size_label
  FROM anchors
),
kept AS (
  SELECT * FROM ext
  WHERE href <> '' AND href NOT IN ('../', '..', '/')
    AND NOT starts_with(lower(href), '#')
    AND NOT starts_with(lower(href), 'mailto:')
    AND NOT starts_with(lower(href), 'javascript:')
    AND NOT contains(lower(label), 'parent directory')
    AND NOT regexp_matches(href, '^[^?]*\\?[CO]=')
),
named AS (
  SELECT source, label, date_raw, size_label,
         regexp_replace('https://dataserver.example/coids/' || source || '/'
                        || href, '[?#].*$', '') AS url,
         ends_with(href, '/') AS slash_dir
  FROM kept
),
typed AS (
  SELECT source, label, date_raw, size_label, url, slash_dir,
         regexp_extract(regexp_replace(url, '/+$', ''), '([^/]+)$', 1)
           AS filename
  FROM named
)
SELECT DISTINCT source,
       CASE WHEN label NOT IN ('', '/', 'Name') THEN label
            ELSE filename END AS name,
       url,
       lower(regexp_extract(filename, '(\\.[A-Za-z0-9]+)$', 1)) AS suffix,
       size_label,
       try_strptime(date_raw, '%Y-%m-%d %H:%M') AS last_modified
FROM typed
WHERE NOT (slash_dir
           OR lower(regexp_extract(filename, '(\\.[A-Za-z0-9]+)$', 1)) = '')
  AND lower(regexp_extract(filename, '(\\.[A-Za-z0-9]+)$', 1)) IN
      ('.csv', '.zip', '.pdf', '.txt', '.kml', '.kmz', '.json', '.geojson')
ORDER BY url""",
        "feed_validate": """
WITH d AS (
  SELECT doc_id, text, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
items AS (
  SELECT source AS feed, rn - 1 AS idx,
    CASE WHEN doc_id % 17 = 0 THEN ''
         WHEN doc_id % 19 = 0 THEN '   '
         ELSE substr(text, 1, 40) END AS title,
    CASE WHEN doc_id % 23 = 0 THEN ''
         ELSE 'https://site/n/' || doc_id::VARCHAR END AS url,
    CASE WHEN doc_id % 29 = 0 THEN '' ELSE source END AS category_slug,
    CASE WHEN doc_id % 31 = 0 THEN ''
         ELSE '2024-03-15T10:30:00Z' END AS published_at
  FROM d WHERE rn <= 25
),
errs AS (
  SELECT feed, idx,
    list_filter([
      CASE WHEN trim(title) = '' THEN 'title vazio' END,
      CASE WHEN trim(url) = '' THEN 'url vazio' END,
      CASE WHEN trim(category_slug) = '' THEN 'category_slug vazio' END,
      CASE WHEN trim(published_at) = '' THEN 'published_at vazio' END
    ], x -> x IS NOT NULL) AS e
  FROM items
),
count_reasons AS (
  SELECT feed, 0::BIGINT AS seq,
         'quantidade de itens (' || count(*)::VARCHAR
         || ') abaixo do mínimo configurado (24)' AS reason
  FROM items GROUP BY feed HAVING count(*) < 24
),
item_reasons AS (
  SELECT feed, (idx + 1)::BIGINT AS seq,
         'item[' || idx::VARCHAR || ']: ' || array_to_string(e, '; ') AS reason
  FROM errs WHERE len(e) > 0
)
SELECT * FROM count_reasons
UNION ALL SELECT * FROM item_reasons
ORDER BY feed, seq""",
        "manifest_status": """
WITH items AS (
  SELECT source AS dataset_id,
    CASE WHEN doc_id % 83 = 0 THEN 'partial'
         WHEN doc_id % 97 = 0 THEN 'failed'
         WHEN doc_id % 89 = 0 THEN 'skipped'
         ELSE 'ok' END AS profile_status,
    CASE WHEN doc_id % 3 <> 0
         THEN 'https://a/' || doc_id::VARCHAR END AS source_url,
    CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0
         THEN 'https://p/' || doc_id::VARCHAR END AS public_url
  FROM documents
),
v AS (
  SELECT dataset_id,
    CASE WHEN source_url IS NOT NULL THEN 'source_url'
         WHEN public_url IS NOT NULL THEN 'public_url'
         ELSE 'url' END AS resolved_via,
    (profile_status IN ('partial', 'failed', 'skipped')) AS inc
  FROM items
)
SELECT dataset_id, '2.0' AS schema_version, count(*) AS n_items,
       sum(inc::BIGINT)::BIGINT AS n_incomplete,
       sum((resolved_via = 'source_url')::BIGINT)::BIGINT AS n_via_source_url,
       sum((resolved_via = 'public_url')::BIGINT)::BIGINT AS n_via_public_url,
       sum((resolved_via = 'url')::BIGINT)::BIGINT AS n_via_url,
       CASE WHEN sum(inc::BIGINT) > 0 THEN 'success_partial_fallback'
            ELSE 'success' END AS generation_status
FROM v GROUP BY dataset_id ORDER BY dataset_id""",
        # closed-form twin of manifests.manifest_meta_envelope: the
        # strict-envelope outputs derived straight from the doc_id
        # residues (no re-run of the normalization CASEs)
        "manifest_meta_envelope": """
SELECT doc_id,
  CASE WHEN doc_id % 6 IN (0, 2) THEN 'ANP' END AS source_agency,
  CASE WHEN doc_id % 6 = 0 THEN 'notes ' || doc_id::VARCHAR END AS notes,
  CASE WHEN doc_id % 6 IN (1, 3)
       THEN 'meta_' || doc_id::VARCHAR || '.txt' END
    AS metadata_file_filename,
  CASE WHEN doc_id % 6 IN (1, 3)
       THEN 'https://storage.example/m/' || doc_id::VARCHAR END
    AS metadata_file_source_url,
  CASE WHEN doc_id % 6 = 2 THEN 'owner=team-' || doc_id::VARCHAR
       WHEN doc_id % 6 = 5 THEN 'a=1; b=2'
       ELSE '' END AS custom_tags,
  (doc_id % 6 = 1) AS promoted_legacy_descriptor,
  CASE WHEN doc_id % 6 IN (1, 3) THEN 2 ELSE 0 END::INT
    AS dropped_legacy_urls
FROM documents ORDER BY doc_id""",
        "catalog_cards": f"""
WITH base AS (
  SELECT doc_id,
    trim(regexp_replace(text, '\\s+', ' ', 'g')) AS pt,
    CASE WHEN doc_id % 3 = 0
         THEN trim(regexp_replace(upper(substr(text, 1, 200)), '\\s+', ' ', 'g'))
    END AS en
  FROM documents
),
loc AS (
  SELECT doc_id, pt,
    coalesce(nullif(pt, ''), nullif(en, '')) AS lpt,
    coalesce(nullif(en, ''), nullif(pt, '')) AS len2
  FROM base
)
SELECT doc_id,
       {_truncwords_sql('lpt')} AS excerpt,
       {_truncwords_sql('len2')} AS excerpt_en,
       length({_truncwords_sql('lpt')})::INTEGER AS excerpt_chars,
       (length(pt) > 260) AS was_truncated
FROM loc ORDER BY doc_id""",
        "token_count": f"""
SELECT doc_id,
       len({toks})::INTEGER AS n_tokens,
       len(list_distinct({toks}))::INTEGER AS n_distinct_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::INTEGER
         AS n_subword_tokens
FROM documents ORDER BY doc_id""",
        "text_quality": f"""
WITH base AS (
  SELECT doc_id, text,
         len({toks})::INTEGER AS n_tokens,
         len(list_filter({toks}, x -> lower(x) IN ({_stop_list()}))) AS n_stop,
         (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) AS n_punct
  FROM documents
),
r AS (
  SELECT doc_id, length(text)::INTEGER AS n_chars, n_tokens,
         n_stop::DOUBLE / n_tokens AS stop_ratio,
         n_punct::DOUBLE / length(text) AS punct_ratio
  FROM base
)
SELECT doc_id, n_chars, n_tokens,
       round(stop_ratio, 6) AS stopword_ratio,
       round(punct_ratio, 6) AS punct_ratio,
       round(least(n_tokens / 100.0, 1.0) * 0.4 + (1.0 - punct_ratio) * 0.3
             + least(stop_ratio * 5.0, 1.0) * 0.3, 6) AS quality_score
FROM r ORDER BY doc_id""",
        # Gopher A1.1 rule gates: exact integer counts over whitespace
        # words / newline lines of the RAW text; native round(x,6) is
        # the scale-then-round twin (functions.columns.ratio).
        "gopher_quality_rules": f"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')
           AS words,
         string_split(text, chr(10)) AS lines
  FROM documents
),
c AS (
  SELECT doc_id,
         len(words)::BIGINT AS n_words,
         len(lines)::BIGINT AS n_lines,
         coalesce(list_sum(list_transform(words, x -> length(x))), 0)
           AS word_chars,
         len(list_filter(words,
             x -> regexp_matches(x, '#|\\.\\.\\.|…'))) AS n_symbols,
         len(list_filter(lines,
             l -> regexp_matches(ltrim(l), '^[•*-]'))) AS n_bullet,
         len(list_filter(lines,
             l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) AS n_ellipsis,
         len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
           AS n_alpha,
         len(list_intersect(
             list_distinct(list_transform(words,
                 x -> lower(regexp_replace(x, '[^A-Za-z]', '', 'g')))),
             [{', '.join(f"'{w}'" for w in GOPHER_STOPWORDS)}]))::INT
           AS n_stop
  FROM w
),
r AS (
  SELECT doc_id, n_words, n_stop,
         round(word_chars::DOUBLE / nullif(n_words, 0), 6) AS mean_word_len,
         round(n_symbols::DOUBLE / nullif(n_words, 0), 6)
           AS symbol_word_ratio,
         round(n_bullet::DOUBLE / nullif(n_lines, 0), 6)
           AS bullet_line_frac,
         round(n_ellipsis::DOUBLE / nullif(n_lines, 0), 6)
           AS ellipsis_line_frac,
         round(n_alpha::DOUBLE / nullif(n_words, 0), 6) AS alpha_word_frac
  FROM c
)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
       bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
       n_stop AS n_stopwords_present,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
         AS rule_word_count,
       coalesce(mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
                AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}, FALSE)
         AS rule_mean_word_len,
       coalesce(symbol_word_ratio <= {GOPHER_MAX_SYMBOL_WORD_RATIO}, FALSE)
         AS rule_symbol_ratio,
       coalesce(bullet_line_frac <= {GOPHER_MAX_BULLET_LINE_FRAC}, FALSE)
         AS rule_bullet_lines,
       coalesce(ellipsis_line_frac <= {GOPHER_MAX_ELLIPSIS_LINE_FRAC}, FALSE)
         AS rule_ellipsis_lines,
       coalesce(alpha_word_frac >= {GOPHER_MIN_ALPHA_WORD_FRAC}, FALSE)
         AS rule_alpha_words,
       (n_stop >= {GOPHER_MIN_STOPWORDS_PRESENT}) AS rule_stopwords,
       ((n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
        AND coalesce(mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
                     AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}, FALSE)
        AND coalesce(symbol_word_ratio <= {GOPHER_MAX_SYMBOL_WORD_RATIO},
                     FALSE)
        AND coalesce(bullet_line_frac <= {GOPHER_MAX_BULLET_LINE_FRAC},
                     FALSE)
        AND coalesce(ellipsis_line_frac <= {GOPHER_MAX_ELLIPSIS_LINE_FRAC},
                     FALSE)
        AND coalesce(alpha_word_frac >= {GOPHER_MIN_ALPHA_WORD_FRAC}, FALSE)
        AND (n_stop >= {GOPHER_MIN_STOPWORDS_PRESENT})) AS passes_gopher
FROM r ORDER BY doc_id""",
        # C4 §2.2 line filters: exact per-line predicates, kept lines
        # re-joined in order, sentence count over the cleaned text.
        "c4_line_filters": f"""
WITH sw AS (
  -- c4_sentenceify twin (textops.py): closed-form punctuated variant
  -- of (doc_id, text) so every rule fires on the synthetic corpus
  SELECT doc_id,
         list_filter(string_split(text, ' '), w -> w != '') AS words
  FROM documents
),
sv AS (
  SELECT doc_id,
         array_to_string(
           list_concat(
             list_concat(
               CASE WHEN len(words) = 0 THEN []
               ELSE list_transform(
                 range(0, ((len(words) + {C4_SENTENCEIFY_WORDS_PER_LINE - 1})
                           // {C4_SENTENCEIFY_WORDS_PER_LINE})::BIGINT),
                 j -> array_to_string(
                        list_slice(words,
                          (j * {C4_SENTENCEIFY_WORDS_PER_LINE} + 1)::INT,
                          (j * {C4_SENTENCEIFY_WORDS_PER_LINE}
                           + {C4_SENTENCEIFY_WORDS_PER_LINE})::INT), ' ')
                      || CASE WHEN j % 7 = 6 THEN ' javascript' ELSE '' END
                      || CASE WHEN j % 3 = 2 THEN '' ELSE '.' END)
               END,
               CASE WHEN doc_id % 13 = 5
                 THEN ['lorem ipsum dolor sit amet consectetur adipiscing.']
                 ELSE [] END),
             CASE WHEN doc_id % 11 = 3
               THEN ['var config = {{ x }};'] ELSE [] END
           ), chr(10)) AS text
  FROM sw
),
w AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines,
         contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
         contains(text, '{{') AS has_brace
  FROM sv
),
c AS (
  SELECT doc_id, len(lines)::BIGINT AS n_lines,
         list_filter(lines, l ->
             regexp_matches(rtrim(l), '[.!?"'']$')
             AND len(list_filter(regexp_split_to_array(l, '\\s+'),
                                 x -> x != '')) >= {C4_MIN_WORDS_PER_LINE}
             AND NOT regexp_matches(lower(l), 'javascript')) AS kept,
         len(list_filter(lines,
             l -> NOT regexp_matches(rtrim(l), '[.!?"'']$')))::BIGINT
           AS n_unterminated_lines,
         len(list_filter(lines,
             l -> len(list_filter(regexp_split_to_array(l, '\\s+'),
                                  x -> x != ''))
                  < {C4_MIN_WORDS_PER_LINE}))::BIGINT AS n_short_lines,
         len(list_filter(lines,
             l -> regexp_matches(lower(l), 'javascript')))::BIGINT
           AS n_js_lines,
         has_lorem_ipsum, has_brace
  FROM w
),
r AS (
  SELECT doc_id, n_lines, len(kept)::BIGINT AS n_kept_lines,
         n_unterminated_lines, n_short_lines, n_js_lines,
         coalesce(array_to_string(kept, chr(10)), '') AS cleaned_text,
         has_lorem_ipsum, has_brace
  FROM c
),
s AS (
  SELECT *,
         len(list_filter(regexp_split_to_array(cleaned_text, '[.!?]+'),
                         x -> trim(x) != ''))::BIGINT AS n_sentences
  FROM r
)
SELECT doc_id, n_lines, n_kept_lines, n_unterminated_lines, n_short_lines,
       n_js_lines, n_sentences, has_lorem_ipsum, has_brace,
       (n_sentences >= {C4_MIN_SENTENCES}
        AND NOT has_lorem_ipsum AND NOT has_brace) AS passes_c4,
       cleaned_text
FROM s ORDER BY doc_id""",
        "lang_id": f"""
WITH scored AS (
  SELECT doc_id, lang,
         {', '.join(f'{expr} AS s_{code}' for code, expr in lang_scores.items())}
  FROM documents
),
p AS (
  SELECT doc_id, lang,
         CASE WHEN {best} <= 0 THEN 'unknown' {pred_cases} END AS predicted_lang
  FROM scored
)
SELECT doc_id, lang, predicted_lang, (predicted_lang = lang) AS is_correct
FROM p ORDER BY doc_id""",
        "doc_fingerprint": f"""
SELECT doc_id,
       md5({lclean}) AS content_fingerprint,
       md5(list_aggregate(list_sort(list_distinct(string_split({lclean}, ' '))),
           'string_agg', ' ')) AS bag_fingerprint,
       list_reduce(
         list_prepend(0::BIGINT,
           [{_MD5_INT.format(expr='t')} % 2147483647
            for t in string_split({lclean}, ' ')]),
         (acc, h) -> (acc * 1000003 + h) % 2147483647) AS rolling_hash
FROM documents ORDER BY doc_id""",
        "pt_date_parse": """
SELECT o_orderkey,
       o_orderdate::TIMESTAMP + INTERVAL 10 HOUR + INTERVAL 30 MINUTE AS published_ts,
       o_orderdate::DATE AS published_date
FROM orders ORDER BY o_orderkey""",
        "pt_numeric_parse": """
WITH r AS (
  SELECT o_orderkey, o_totalprice,
         (round(o_totalprice, 2) * 100)::BIGINT AS cents
  FROM orders
)
SELECT o_orderkey,
       CASE o_orderkey % 3
         WHEN 0 THEN replace(format('{:,}', cents // 100), ',', '.')
                     || ',' || lpad((cents % 100)::VARCHAR, 2, '0')
         WHEN 1 THEN (cents // 100)::VARCHAR
                     || '.' || lpad((cents % 100)::VARCHAR, 2, '0')
         ELSE 'n/d' END AS raw,
       CASE WHEN o_orderkey % 3 = 2 THEN NULL
            ELSE round(o_totalprice, 2) END AS parsed
FROM r ORDER BY o_orderkey""",
        "social_text_normalize": _social_text_normalize_sql(),
        "url_merge": """
WITH keyed AS (
  SELECT regexp_replace(
           lower('HTTPS://Example.COM/u/' || user_id::VARCHAR || '/item/'
                 || json_extract_string(props, '$.k') || '/'
                 || CASE WHEN user_id % 3 != 0
                         THEN (user_id + 1000)::VARCHAR || '-noticia/'
                         ELSE '' END),
           '/+$', '') AS url_key,
         event_type, event_id
  FROM events
)
SELECT url_key, min(event_id) AS rank,
       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS categories,
       count(*) AS n_rows,
       nullif(regexp_extract(url_key, '/(\\d{4,})-', 1), '')
         AS source_article_id
FROM keyed GROUP BY url_key ORDER BY url_key""",
        # E. dedup -------------------------------------------------------------
        "dedup_exact": f"""
SELECT md5({lclean}) AS content_fingerprint,
       min(doc_id) AS canonical_doc_id, count(*) AS n_docs
FROM documents GROUP BY 1 ORDER BY content_fingerprint""",
        # the catalog entry runs dedup_ngram_ppjoin — the oracle is the
        # stop-list-free exact twin, which IS the ppjoin output by the
        # prefix-filter recall guarantee
        "dedup_ngram_jaccard": _ngram_exact_sql(),
        "dedup_containment": _ngram_containment_sql(),
        "dedup_minhash": _minhash_sql(),
        "dedup_simhash": _simhash_sql(),
        "dedup_simhash64": _simhash64_sql(),
        "payload_merge_dedupe": _payload_merge_sql(),
        "payload_merge_dedupe_by_region": _payload_merge_sql(by_region=True),
        "monthly_chart_spec_scoped": _chart_spec_scoped_sql(),
        "anp_panel_payloads": _anp_panel_payloads_sql(),
        "anp_prompt_texts": _anp_prompt_texts_sql(),
        "mensal_links": _mensal_links_sql(),
        "govbr_freshness_labels": _govbr_freshness_sql(),
        "freshness_watch_signals": _freshness_watch_signals_sql(),
        # routing: argmax over integer micro-cosines (0-dp round — the
        # boundary-safe class), lowest query_id on ties, exactly the
        # strict-> chain route_score_cols folds
        "route_nearest_query": _route_nearest_query_sql(),
        "dedup_ngram_ppjoin": _ngram_exact_sql(),
        "dedup_clusters": _clusters_sql(),
        "quality_repetition": _quality_repetition_sql(),
        "dedup_canonical_corpus": _canonical_corpus_sql(),
        "bpe_merge_candidates": f"""
WITH words AS (
  SELECT unnest(string_split({LCLEAN}, ' ')) AS w FROM documents
),
wc AS (SELECT w, count(*) AS n FROM words GROUP BY w),
pairs AS (
  SELECT substr(w, i, 2) AS pair, n
  FROM (SELECT w, n, unnest(range(1, len(w))) AS i FROM wc)
),
agg AS (SELECT pair, sum(n)::BIGINT AS freq FROM pairs GROUP BY pair)
SELECT row_number() OVER (ORDER BY freq DESC, pair) AS rank, pair, freq
FROM agg QUALIFY rank <= 20 ORDER BY rank""",
        "dedup_method_eval": f"""
WITH truth AS (SELECT doc_a, doc_b FROM ({_ngram_exact_sql()})),
mh AS (SELECT doc_a, doc_b FROM ({_minhash_sql()})),
sh AS (SELECT doc_a, doc_b FROM ({_simhash_sql()})),
sh64 AS (SELECT doc_a, doc_b FROM ({_simhash64_sql()})),
t AS (SELECT count(*) AS n_truth FROM truth),
stats AS (
  SELECT 'minhash' AS method,
         (SELECT count(*) FROM mh) AS n_pairs,
         (SELECT n_truth FROM t) AS n_truth,
         (SELECT count(*) FROM mh JOIN truth USING (doc_a, doc_b)) AS n_hit
  UNION ALL
  SELECT 'simhash',
         (SELECT count(*) FROM sh),
         (SELECT n_truth FROM t),
         (SELECT count(*) FROM sh JOIN truth USING (doc_a, doc_b))
  UNION ALL
  SELECT 'simhash64',
         (SELECT count(*) FROM sh64),
         (SELECT n_truth FROM t),
         (SELECT count(*) FROM sh64 JOIN truth USING (doc_a, doc_b))
)
SELECT method, n_pairs, n_truth, n_hit,
       round(n_hit::DOUBLE / nullif(n_pairs, 0), 6) AS precision,
       round(n_hit::DOUBLE / nullif(n_truth, 0), 6) AS recall
FROM stats ORDER BY method""",
        "embedding_label_stats": """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
ex AS (
  SELECT label, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM e
),
cent AS (
  SELECT label, pos, round(avg(v), 6) AS c FROM ex GROUP BY 1, 2
),
cl AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label),
scored AS (
  SELECT e.label,
         round(sqrt(list_dot_product(cl.centroid, cl.centroid)), 6)
           AS centroid_norm,
         round(list_dot_product(e.emb, cl.centroid)
               / (sqrt(list_dot_product(e.emb, e.emb))
                  * sqrt(list_dot_product(cl.centroid, cl.centroid))), 6)
           AS cos
  FROM e JOIN cl USING (label)
)
SELECT label, count(*) AS n_vecs, centroid_norm,
       round(avg(round(cos * 1e6))) / 1e6 AS avg_cos_to_centroid,
       min(cos) AS min_cos, max(cos) AS max_cos
FROM scored GROUP BY label, centroid_norm ORDER BY label""",
        "user_retention_cohorts": """
WITH e AS (
  SELECT user_id, date_trunc('week', ts) AS wk,
         min(date_trunc('week', ts)) OVER (PARTITION BY user_id) AS cohort_ts
  FROM events
),
active AS (
  SELECT DISTINCT cohort_ts::DATE AS cohort_week,
         ((epoch(wk) - epoch(cohort_ts)) / 604800)::INT AS week_offset,
         user_id
  FROM e
),
counts AS (
  SELECT cohort_week, week_offset, count(*) AS n_active
  FROM active GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_week, n_active AS cohort_size
  FROM counts WHERE week_offset = 0
)
SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
       round(c.n_active::DOUBLE / s.cohort_size, 6) AS retention
FROM counts c JOIN sizes s USING (cohort_week)
ORDER BY cohort_week, week_offset""",
        "lang_id_ngram": f"""
WITH tri AS (
  SELECT doc_id, lang, unnest(list_distinct(
    CASE WHEN len(c) >= 3 THEN [substr(c, i, 3) for i in range(1, len(c) - 1)]
         ELSE [c] END)) AS tri
  FROM (SELECT doc_id, lang, {LCLEAN} AS c FROM documents)
),
prof AS (
  SELECT plang, tri FROM (
    SELECT lang AS plang, tri,
           row_number() OVER (
             PARTITION BY lang ORDER BY count(*) DESC, tri) AS rn
    FROM tri GROUP BY lang, tri
  ) WHERE rn <= 20
),
hits AS (
  SELECT t.doc_id, p.plang, count(*) AS n_hits
  FROM tri t JOIN prof p ON t.tri = p.tri
  GROUP BY t.doc_id, p.plang
),
best AS (
  SELECT doc_id, plang, n_hits FROM (
    SELECT doc_id, plang, n_hits,
           row_number() OVER (
             PARTITION BY doc_id ORDER BY n_hits DESC, plang) AS rn
    FROM hits
  ) WHERE rn = 1
)
SELECT d.doc_id, d.lang,
       coalesce(b.plang, 'unknown') AS predicted_lang,
       coalesce(b.n_hits, 0)::BIGINT AS n_hits,
       coalesce(b.plang, 'unknown') = d.lang AS is_correct
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
ORDER BY d.doc_id""",
        "supplier_concentration_hhi": """
WITH rev AS (
  SELECT n_name, l_suppkey,
         (sum(l_extendedprice::DECIMAL(18,4)) * 1000000)::BIGINT AS rev_micro
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
),
shares AS (
  SELECT n_name,
         (rev_micro::HUGEINT * 1000000 // nation_total::HUGEINT
          + CASE WHEN (rev_micro::HUGEINT * 1000000 % nation_total::HUGEINT)
                      * 2 >= nation_total::HUGEINT
                 THEN 1 ELSE 0 END)::BIGINT AS share_ppm
  FROM (SELECT n_name, rev_micro,
               sum(rev_micro) OVER (PARTITION BY n_name) AS nation_total
        FROM rev)
)
SELECT n_name, count(*)::BIGINT AS n_suppliers,
       max(share_ppm)::BIGINT AS top_share_ppm,
       (sum(share_ppm * share_ppm) // 1000000
        + CASE WHEN (sum(share_ppm * share_ppm) % 1000000) * 2 >= 1000000
               THEN 1 ELSE 0 END)::BIGINT AS hhi_ppm
FROM shares GROUP BY n_name ORDER BY n_name""",
        "monthly_seasonal_index": f"""
WITH {ENRICHED}, {MONTHLY},
bounds AS (
  SELECT min((period || '-01')::DATE) AS d0,
         max((period || '-01')::DATE) AS d1
  FROM monthly
),
spine AS (
  SELECT strftime(unnest(generate_series(d0, d1, INTERVAL 1 MONTH))::DATE,
                  '%Y-%m') AS period
  FROM bounds
),
filled AS (
  SELECT s.period, coalesce(m.n_orders, 0)::BIGINT AS n_orders
  FROM spine s LEFT JOIN monthly m USING (period)
),
win AS (
  SELECT period, n_orders::BIGINT AS n,
         sum(n_orders::BIGINT) OVER w AS s,
         count(n_orders) OVER w AS c
  FROM filled
  WINDOW w AS (ORDER BY period ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
),
ratios AS (
  SELECT substring(period, 6, 2)::INT AS month,
         (n * 13 * 1000000 // s
          + CASE WHEN (n * 13 * 1000000 % s) * 2 >= s
                 THEN 1 ELSE 0 END)::BIGINT AS ratio_micro
  FROM win WHERE c = 13 AND s > 0
)
SELECT month, count(*)::BIGINT AS n_obs,
       (sum(ratio_micro) * 1000000 // (count(*) * 1000000)
        + CASE WHEN (sum(ratio_micro) * 1000000 % (count(*) * 1000000)) * 2
               >= (count(*) * 1000000) THEN 1 ELSE 0 END)::BIGINT
         AS seasonal_index_micro
FROM ratios GROUP BY month ORDER BY month""",
        "part_affinity_pairs": """
WITH lines AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pair_counts AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*)::BIGINT AS n_ab
  FROM lines a JOIN lines b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 5
),
part_counts AS (
  SELECT l_partkey, count(*)::BIGINT AS n_part FROM lines GROUP BY 1
),
tot AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM lines)
SELECT part_a, part_b, n_ab, na.n_part AS n_a, nb.n_part AS n_b,
       (n_ab * 1000000 // n_orders
        + CASE WHEN (n_ab * 1000000 % n_orders) * 2 >= n_orders
               THEN 1 ELSE 0 END)::BIGINT AS support_ppm,
       ((n_ab * n_orders) * 1000000 // (na.n_part * nb.n_part)
        + CASE WHEN ((n_ab * n_orders) * 1000000 % (na.n_part * nb.n_part)) * 2
               >= (na.n_part * nb.n_part) THEN 1 ELSE 0 END)::BIGINT
         AS lift_micro
FROM pair_counts
JOIN part_counts na ON part_a = na.l_partkey
JOIN part_counts nb ON part_b = nb.l_partkey
CROSS JOIN tot
ORDER BY part_a, part_b""",
        "daily_anomaly_report": """
WITH counts AS (
  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
),
spine AS (
  SELECT event_type,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM (SELECT event_type, min(day) AS d0, max(day) AS d1
        FROM counts GROUP BY 1)
),
daily AS (
  SELECT s.event_type, s.day, coalesce(c.n_events, 0)::BIGINT AS n_events
  FROM spine s
  LEFT JOIN (SELECT * FROM counts WHERE day IS NOT NULL) c
    USING (event_type, day)
),
win AS (
  SELECT event_type, day, n_events,
         count(n_events) OVER w::BIGINT AS n_window,
         sum(n_events) OVER w::DOUBLE AS s1d,
         sum(n_events * n_events) OVER w::DOUBLE AS s2d
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT event_type, day, n_events, n_window, s1d, s2d,
         CASE WHEN n_window >= 8
                   AND (s2d - s1d * s1d / n_window::DOUBLE)
                       / (n_window::DOUBLE - 1) > 0
              THEN round((n_events::DOUBLE - s1d / n_window::DOUBLE)
                         / sqrt((s2d - s1d * s1d / n_window::DOUBLE)
                                / (n_window::DOUBLE - 1)), 6)
         END AS z
  FROM win
)
SELECT event_type, day, n_events, n_window, z,
       coalesce(abs(z) >= 3.0, FALSE)
       OR coalesce(n_window >= 8
           AND (s2d - s1d * s1d / n_window::DOUBLE)
               / (n_window::DOUBLE - 1) = 0
           AND n_events::DOUBLE != s1d / n_window::DOUBLE, FALSE)
         AS is_anomaly
FROM scored
UNION ALL
SELECT event_type, NULL AS day, n_events, 0::BIGINT AS n_window,
       NULL::DOUBLE AS z, FALSE AS is_anomaly
FROM counts WHERE day IS NULL
ORDER BY event_type, day""",
        "event_transitions": """
WITH ordered AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
counts AS (
  SELECT prev_type, event_type, count(*)::BIGINT AS n_transitions
  FROM ordered WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
tot AS (
  SELECT prev_type, event_type, n_transitions,
         sum(n_transitions) OVER (PARTITION BY prev_type)::BIGINT
           AS total_from_prev
  FROM counts
)
SELECT prev_type, event_type, n_transitions, total_from_prev,
       (n_transitions * 1000000 // total_from_prev
        + CASE WHEN (n_transitions * 1000000 % total_from_prev) * 2
               >= total_from_prev THEN 1 ELSE 0 END)::BIGINT AS p_micro
FROM tot ORDER BY prev_type, event_type""",
        "event_funnel": """
WITH stepped AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'view' THEN ts END) OVER (PARTITION BY user_id)
      AS tv,
    ts, event_type
  FROM events
),
stepped2 AS (
  SELECT user_id, tv,
    min(CASE WHEN event_type = 'click' AND ts > tv THEN ts END)
      OVER (PARTITION BY user_id) AS tc,
    ts, event_type
  FROM stepped
),
stepped3 AS (
  SELECT user_id, tv, tc,
    min(CASE WHEN event_type = 'purchase' AND ts > tc THEN ts END)
      OVER (PARTITION BY user_id) AS tp
  FROM stepped2
),
per_user AS (
  SELECT user_id, max(tv) AS tv, max(tc) AS tc, max(tp) AS tp
  FROM stepped3 GROUP BY user_id
),
totals AS (
  SELECT count(*) AS n_users, count(tv) AS n_view,
         count(tc) AS n_click, count(tp) AS n_purchase
  FROM per_user
)
SELECT 1 AS step, 'view' AS step_name, n_view AS users,
       round(n_view::DOUBLE / n_users, 6) AS conversion FROM totals
UNION ALL
SELECT 2, 'click_after_view', n_click,
       round(n_click::DOUBLE / nullif(n_view, 0), 6) FROM totals
UNION ALL
SELECT 3, 'purchase_after_click', n_purchase,
       round(n_purchase::DOUBLE / nullif(n_click, 0), 6) FROM totals
ORDER BY step""",
        "join_key_skew_report": """
WITH counts AS (
  SELECT o_custkey AS key_value, count(*) AS n_rows FROM orders GROUP BY 1
),
tot AS (
  SELECT sum(n_rows)::BIGINT AS total_rows, count(*) AS n_keys FROM counts
)
SELECT row_number() OVER (ORDER BY n_rows DESC, key_value) AS rank,
       key_value::VARCHAR AS key_value, n_rows,
       round(n_rows::DOUBLE / total_rows, 6) AS share,
       round(n_rows::DOUBLE * n_keys / total_rows, 6) AS skew_ratio
FROM counts, tot QUALIFY rank <= 10 ORDER BY rank""",
        "pack_sequences": _pack_sequences_sql(),
        "ckan_resource_select": _ckan_resource_select_sql(),
        "supranational_items": _supranational_items_sql(),
        "mma_manifest_items": _mma_manifest_items_sql(),
        "coids_entry_periods": _coids_entry_periods_sql(),
        "payload_merge_dedupe_scoped": _payload_merge_scoped_sql(),
        "disjunctive_promo_revenue": """
WITH j AS (
  SELECT CASE
           WHEN p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
                AND l.l_quantity BETWEEN 1 AND 11 THEN 'Brand#1'
           WHEN p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
                AND l.l_quantity BETWEEN 10 AND 20 THEN 'Brand#2'
           WHEN p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
                AND l.l_quantity BETWEEN 20 AND 30 THEN 'Brand#3'
         END AS brand_clause,
         l.l_extendedprice * (1 - l.l_discount) AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT brand_clause, round(sum(rev), 2) AS revenue, count(*) AS n_lines
FROM j WHERE brand_clause IS NOT NULL
GROUP BY brand_clause ORDER BY brand_clause""",
        "returned_item_ranking": """
WITH rev AS (
  SELECT o.o_custkey,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1996-07-01'
  GROUP BY o.o_custkey
),
ranked AS (
  SELECT row_number() OVER (ORDER BY revenue DESC, c.c_custkey) AS rank,
         c.c_custkey, c.c_name, n.n_name, revenue
  FROM rev
  JOIN customer c ON rev.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT * FROM ranked WHERE rank <= 20 ORDER BY rank""",
        "customer_order_distribution": """
WITH per_cust AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count
ORDER BY custdist DESC, c_count DESC""",
        "order_priority_semijoin": """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE o.o_orderdate >= '1996-01-01' AND o.o_orderdate < '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
      AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority ORDER BY o_orderpriority""",
        "govbr_resource_classify": _govbr_resource_classify_sql(),
        "cvm_latest_zips": _cvm_latest_zips_sql(),
        "annual_reference_extract": f"""
WITH {ENRICHED},
annual AS (
  SELECT year(o_orderdate)::INT AS year, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_price
  FROM enriched GROUP BY 1
),
named AS (
  SELECT 'focos_br_ref_' || year::VARCHAR || '.zip' AS zip_name,
         n_orders, total_price
  FROM annual
  UNION ALL
  SELECT 'focos_br_ref_total.zip', NULL, NULL
),
cand AS (
  SELECT zip_name,
         nullif(regexp_extract(zip_name, '((?:19|20)\\d{{2}})', 1), '')::INT AS year,
         n_orders, total_price
  FROM named
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY year DESC) AS rnk
  FROM cand WHERE year IS NOT NULL
),
sel AS (
  SELECT zip_name, year, n_orders, total_price FROM ranked WHERE rnk <= 5
  UNION ALL
  SELECT zip_name, year, n_orders, total_price FROM cand WHERE year IS NULL
)
SELECT zip_name, regexp_replace(zip_name, '\\.zip$', '.csv') AS csv_name,
       year, n_orders, total_price
FROM sel ORDER BY zip_name""",
        "dedup_embedding": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.emb, b.emb)
             / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6)
         AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.emb, b.emb)
            / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 6)
      >= 0.45
ORDER BY vec_a, vec_b""",
        "dedup_embedding_lsh": _dedup_embedding_lsh_sql(),
        # F. similarity search -------------------------------------------------
        "ann_topk_bruteforce": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         round(list_dot_product(q.emb, c.emb)
               / (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(c.emb, c.emb))), 6)
           AS cosine
  FROM e q JOIN e c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 8
)
SELECT query_id, cand_id, cosine,
       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id)::INTEGER AS rank
FROM scored
QUALIFY rank <= 10
ORDER BY query_id, rank""",
        "ann_topk_lsh": _ann_lsh_sql(),
        "ann_topk_ivf": _ann_ivf_sql(),
        "ann_topk_ivf_trained": _ann_ivf_sql(kmeans_iters=_IVF_ITERS),
        # K. skew mitigation — salted/two-phase results must equal the
        # plain join/agg the oracle computes.
        "skew_two_phase_agg": """
SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS total_value,
       max(value) AS max_value, min(value) AS min_value
FROM events GROUP BY event_type ORDER BY event_type""",
        "skew_salted_join_agg": """
SELECT c_nationkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey ORDER BY c_nationkey""",
        # G. relational breadth ------------------------------------------------
        "q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",
        "q3_shipping_priority": """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10""",
        "q5_region_volume": """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND s_nationkey = c_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name""",
        "top_customers": """
WITH per_cust AS (
  SELECT c_custkey, c_name, n_name,
         round(sum(o_totalprice), 2) AS lifetime_value,
         count(*) AS n_orders
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2, 3
)
SELECT c_custkey, c_name, n_name, lifetime_value, n_orders,
       row_number() OVER (PARTITION BY n_name ORDER BY lifetime_value DESC, c_custkey)::INTEGER
         AS rank_in_nation
FROM per_cust
ORDER BY lifetime_value DESC, c_custkey
LIMIT 20""",
        "events_sessionize": f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN (epoch_us(ts) - epoch_us(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id))) > {gap_us}
              THEN 1 ELSE 0 END AS is_new_session
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         sum(is_new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
           AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value,
       round((epoch_us(max(ts)) - epoch_us(min(ts))) / 60.0) / 1000000.0 AS duration_minutes
FROM sess GROUP BY user_id, session_seq ORDER BY user_id, session_seq""",
        "events_asof_attribution": """
SELECT p.user_id,
       p.event_id AS purchase_event_id,
       p.ts AS purchase_ts,
       p.value AS purchase_value,
       c.event_id AS click_event_id,
       c.ts AS click_ts,
       c.value AS click_value,
       round((epoch_us(p.ts) - epoch_us(c.ts)) / 60.0) / 1000000.0 AS minutes_since_click
FROM (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.user_id, purchase_ts, purchase_event_id""",
        "clicks_before_purchase": """
SELECT p.user_id, p.event_id AS purchase_event_id, p.ts AS purchase_ts,
       count(c.event_id) AS n_clicks,
       round(coalesce(sum(c.value), 0), 6) AS click_value
FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts > p.ts - INTERVAL 30 MINUTE
 AND c.ts <= p.ts
GROUP BY 1, 2, 3
ORDER BY 1, 3, 2""",
        "region_nation_rollup": f"""
WITH {ENRICHED}
SELECT coalesce(r_name, 'ALL') AS region_name,
       coalesce(n_name, 'ALL') AS nation_name,
       GROUPING(r_name, n_name)::INTEGER AS grouping_level,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM enriched
GROUP BY ROLLUP (r_name, n_name)
ORDER BY grouping_level, region_name, nation_name""",
        "region_nation_cube": f"""
WITH {ENRICHED}
SELECT coalesce(r_name, 'ALL') AS region_name,
       coalesce(n_name, 'ALL') AS nation_name,
       GROUPING(r_name, n_name)::INTEGER AS grouping_level,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM enriched
GROUP BY CUBE (r_name, n_name)
ORDER BY grouping_level, region_name, nation_name""",
        "part_brand_stats": """
SELECT p_brand, count(*) AS n_parts,
       count(DISTINCT p_type) AS n_types,
       count(DISTINCT p_size) AS n_sizes,
       round(min(p_retailprice), 2) AS min_price,
       round(max(p_retailprice), 2) AS max_price,
       round(avg(p_retailprice), 6) AS avg_price
FROM part GROUP BY p_brand ORDER BY p_brand""",
        "customers_without_orders": """
SELECT n_name, count(*) AS n_customers,
       round(avg(c_acctbal), 6) AS avg_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1998-01-01')
GROUP BY n_name ORDER BY n_name""",
        "nations_trade_volume": """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l_shipdate)::INTEGER AS ship_year,
       round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)), 2)::DOUBLE
         AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name <> cn.n_name
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
        "promo_revenue_share": """
SELECT strftime(l_shipdate, '%Y-%m') AS period,
       round(sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) END), 2)
         AS promo_revenue,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
       round(coalesce(sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) END), 0)
             * 100.0 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_share_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1 ORDER BY 1""",
        "order_priority_percentiles": """
SELECT o_orderpriority, count(*) AS n_orders,
       round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
       round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
       round(quantile_cont(o_totalprice, 0.75), 2) AS p75,
       round(quantile_cont(o_totalprice, 0.9), 2) AS p90
FROM orders GROUP BY 1 ORDER BY 1""",
        "events_windowed": """
SELECT date_trunc('day', ts)::DATE AS day, event_type,
       count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2 ORDER BY day, event_type""",
        # round-4 additions --------------------------------------------------
        "region_rank": _region_rank_sql(),
        "nation_month_matrix_augmented": MENSAL_AUGMENTED_SQL,
        "monthly_by_region_augmented": MENSAL_BY_REGION_AUGMENTED_SQL,
        "painel_pdf_links": _painel_pdf_links_sql(),
        "abstract_reconstruct": _abstract_reconstruct_sql(),
        "anp_resource_urls": _anp_resource_urls_sql(),
        "sanitize_slide_text": _sanitize_slide_text_sql(),
        # round-5 relational breadth additions ------------------------------
        "revenue_change_forecast": """
SELECT round(sum((l_extendedprice * l_discount)::DECIMAL(18,4)), 2)::DOUBLE
         AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24""",
        "q8_market_share": """
WITH mkt AS (
  SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
),
tgt AS (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_0'),
base AS (
  SELECT year(o_orderdate) AS o_year,
         (l_extendedprice * (1 - l_discount))::DECIMAL(18,4) AS vol,
         (s_nationkey IN (SELECT n_nationkey FROM tgt)) AS is_target
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN mkt ON c_nationkey = mkt.n_nationkey
  JOIN supplier ON l_suppkey = s_suppkey
)
SELECT o_year,
       round(sum(CASE WHEN is_target THEN vol
                      ELSE 0::DECIMAL(18,4) END)::DOUBLE
             / sum(vol)::DOUBLE, 6) AS mkt_share,
       round(sum(CASE WHEN is_target THEN vol ELSE 0::DECIMAL(18,4) END), 2)
         ::DOUBLE AS nation_volume,
       round(sum(vol), 2)::DOUBLE AS total_volume
FROM base GROUP BY o_year ORDER BY o_year""",
        "q17_small_quantity_revenue": """
WITH branded AS (
  SELECT l_partkey, l_quantity::DECIMAL(18,4) AS qty, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#11'
),
pp AS (
  SELECT l_partkey AS agg_partkey, sum(qty) AS sum_qty, count(*) AS cnt
  FROM branded GROUP BY 1
)
SELECT round(sum(l_extendedprice::DECIMAL(18,4))::DOUBLE / 7.0, 2)
         AS avg_yearly,
       count(*) AS n_small_lineitems
FROM branded JOIN pp ON l_partkey = agg_partkey
WHERE qty * 5 * cnt < sum_qty""",
        # round-7 relational breadth additions -------------------------------
        "q9_product_type_profit": """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       round(sum((l_extendedprice * (1 - l_discount)
                  - 0.5 * p_retailprice * l_quantity)::DECIMAL(18,4)), 2)
         ::DOUBLE AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2 ORDER BY nation, o_year DESC""",
        "q12_shipping_delay": """
SELECT CASE WHEN datediff('day', o_orderdate, l_shipdate) < 30
            THEN 'under_30d'
            WHEN datediff('day', o_orderdate, l_shipdate) < 90
            THEN '30_to_89d'
            ELSE '90d_plus' END AS delay_bucket,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_priority_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_priority_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE year(l_shipdate) = 1997
GROUP BY 1 ORDER BY delay_bucket""",
        "q16_supplier_part_variety": """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#11' AND p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
        "q20_dominant_suppliers": """
WITH fact AS (
  SELECT l_partkey, l_suppkey, l_quantity::DECIMAL(18,4) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) = 1997 AND p_name LIKE '%red%'
),
per_sp AS (
  SELECT l_partkey, l_suppkey, sum(qty) AS qty_sp FROM fact GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey, sum(qty_sp) AS qty_total FROM per_sp GROUP BY 1
)
SELECT DISTINCT s_name, n_name AS nation
FROM per_sp
JOIN per_part USING (l_partkey)
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE qty_sp * 10 > qty_total * 3
ORDER BY s_name""",
        # Q21's native form: the blame condition stated as correlated
        # EXISTS (another supplier on the order) / NOT EXISTS (another
        # supplier at least as late) — the Spark side expresses the
        # same predicate as same-key windows over one aggregate.
        "q21_sole_latest_shipper": """
WITH l1 AS (
  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS s_max
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY 1, 2
)
SELECT s_name, count(*) AS numwait
FROM l1 JOIN supplier ON l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM l1 l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l1 l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.s_max >= l1.s_max)
GROUP BY s_name ORDER BY numwait DESC, s_name""",
        "top_supplier_by_revenue": """
WITH per_supp AS (
  SELECT l_suppkey,
         sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)) AS revenue_d
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY 1
),
mx AS (SELECT max(revenue_d) AS max_rev FROM per_supp)
SELECT s_suppkey AS suppkey, s_name AS supplier, n_name AS supp_nation,
       round(revenue_d, 2)::DOUBLE AS revenue
FROM per_supp CROSS JOIN mx
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE revenue_d = max_rev
ORDER BY suppkey""",
        "cheapest_supplier_per_part": _cheapest_supplier_sql(),
        "part_revenue_concentration": _part_concentration_sql(),
        "large_orders": _large_orders_sql(),
        "idle_balance_customers": _idle_balance_sql(),
        # round-5 curation additions ----------------------------------------
        "pii_scrub": _pii_scrub_sql(),
        "decontaminate_ngram": _decontaminate_sql(),
        "decontaminate_embedding": _decontaminate_embedding_sql(),
        "dsir_importance_weights": _dsir_importance_sql(),
        "chunk_dedup": _chunk_dedup_sql(),
        "dataset_mixture_plan": _mixture_plan_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "stratified_token_sample": _stratified_token_sample_sql(),
        "corpus_shard_plan": _corpus_shard_plan_sql(),
        "report_fallback_blocks": _report_fallback_blocks_sql(),
        "span_dedup": _span_dedup_sql(),
        "duplicate_spans": _duplicate_spans_sql(),
        "dedup_winnowing": _dedup_winnowing_sql(),
        "winnowing_incremental": _winnowing_incremental_sql(),
        "strip_duplicate_spans": _strip_duplicate_spans_sql(),
        "dedup_incremental": _dedup_incremental_sql(),
        "numeric_correlations": _numeric_correlations_sql(),
        # GROUND-TRUTH oracle (ppjoin convention): length-filtered
        # all-pairs levenshtein, deliberately NOT the Ed-Join prefix
        # scheme — a prefix-recall hole cannot hide from it.
        "edit_distance_pairs": f"""
WITH d AS (SELECT doc_id, {LCLEAN} AS t FROM documents),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         levenshtein(a.t, b.t) AS edit_distance
  FROM d a JOIN d b
    ON a.doc_id < b.doc_id AND abs(len(a.t) - len(b.t)) <= 20
)
SELECT doc_a, doc_b, edit_distance FROM p
WHERE edit_distance <= 20 ORDER BY doc_a, doc_b""",
        "edit_distance_topk": f"""
WITH d AS (SELECT doc_id, {LCLEAN} AS t FROM documents),
s AS (
  SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
         levenshtein(q.t, c.t) AS edit_distance
  FROM d q JOIN d c
    ON q.doc_id < 8 AND c.doc_id <> q.doc_id
   AND abs(len(q.t) - len(c.t)) <= 60
),
r AS (
  SELECT query_id, cand_id, edit_distance,
         row_number() OVER (
           PARTITION BY query_id ORDER BY edit_distance, cand_id) AS rank
  FROM s WHERE edit_distance <= 60
)
SELECT query_id, rank, cand_id, edit_distance FROM r
WHERE rank <= 5 ORDER BY query_id, rank""",
        # H. multimodal: no SQL twin (mapInPandas plumbing) → rows-only check.
    }
    # corpus_curation composes the text_quality / lang_id twins above —
    # built after the dict so the stage CTEs reuse those entries verbatim.
    out["corpus_curation"] = _curation_sql(out["text_quality"], out["lang_id"])
    # Classifier-prep twin: the curation + quality twins joined on
    # doc_id, md5-residue split, fastText line via the same
    # whitespace-flatten regexp ('g' flag — Spark replaces all by
    # default, DuckDB needs it spelled).
    from forest_open_data_pipelines_spark.operators.curation import (
        QCP_VALID_PCT,
    )

    _qcp_md5 = _MD5_INT.format(expr="'qcp-' || doc_id::VARCHAR")
    out["quality_classifier_prep"] = f"""
WITH cur AS (SELECT doc_id, predicted_lang, status
             FROM ({out["corpus_curation"]})),
tq AS (SELECT doc_id, n_chars, n_tokens, stopword_ratio, punct_ratio,
              quality_score
       FROM ({out["text_quality"]})),
flat AS (SELECT doc_id,
                trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                  AS flat_text
         FROM documents)
SELECT doc_id,
       CASE WHEN c.status = 'kept' THEN 'keep' ELSE 'drop' END AS label,
       CASE WHEN ({_qcp_md5}) % 100 < {QCP_VALID_PCT} THEN 'valid'
            ELSE 'train' END AS split,
       c.status, c.predicted_lang,
       t.n_chars, t.n_tokens, t.stopword_ratio, t.punct_ratio,
       t.quality_score,
       '__label__'
         || (CASE WHEN c.status = 'kept' THEN 'keep' ELSE 'drop' END)
         || ' ' || f.flat_text AS ft_line
FROM cur c JOIN tq t USING (doc_id) JOIN flat f USING (doc_id)
ORDER BY doc_id"""
    # round-6 additions ------------------------------------------------------
    out["focos_llm_payload"] = _focos_llm_payload_sql(
        out["monthly_chart_spec_scoped"]
    )
    out["boletins_integrados_links"] = _boletins_integrados_sql()
    out["eia_xls_picks"] = _eia_xls_picks_sql()
    out["embedding_quantize_sq8"] = _embedding_quantize_sq8_sql()
    out["embedding_quantize_pq"] = _embedding_quantize_pq_sql()
    out["embedding_quantize_pq_trained"] = _embedding_quantize_pq_trained_sql()
    out["ann_topk_ivfpq_residual"] = _ann_topk_ivfpq_residual_sql()
    out["ann_topk_pq"] = _ann_topk_pq_sql()
    out["ann_topk_ivfpq"] = _ann_topk_ivfpq_sql()
    out["embedding_cluster_report"] = _embedding_cluster_report_sql()
    out["charlm_perplexity"] = _charlm_perplexity_sql()
    # perplexity_buckets composes the charlm twin: tertile thresholds
    # as one aggregate row (round-then-compare at 6 dp on both
    # engines), CROSS JOIN broadcast onto the bucket projection.
    out["perplexity_buckets"] = f"""
WITH scored AS (
  SELECT doc_id, n_bigrams, entropy_bits
  FROM ({_charlm_perplexity_sql()})
),
th AS (
  SELECT round(quantile_cont(entropy_bits, 1.0/3) * 1000000.0, 0) / 1000000.0
           AS t1,
         round(quantile_cont(entropy_bits, 2.0/3) * 1000000.0, 0) / 1000000.0
           AS t2
  FROM scored WHERE entropy_bits IS NOT NULL
)
SELECT doc_id, n_bigrams, entropy_bits,
       CASE WHEN entropy_bits IS NULL THEN 'unscored'
            WHEN entropy_bits <= t1 THEN 'head'
            WHEN entropy_bits <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored CROSS JOIN th ORDER BY doc_id"""
    out["ann_topk_sq8"] = _ann_topk_sq8_sql()
    out["dedup_semantic"] = _dedup_semantic_sql()
    out["boilerplate_ngrams"] = _boilerplate_ngrams_sql()
    out["stratified_topk_sample"] = _stratified_topk_sample_sql()
    out["inmet_yearly_zips"] = _inmet_yearly_zips_sql()
    out["referential_integrity_audit"] = _referential_integrity_sql()
    out["focos_prompt_texts"] = _focos_prompt_texts_sql(
        out["focos_llm_payload"]
    )
    # lang_id_confusion composes the lang_id_ngram twin: count the
    # (true, predicted) cells, share within the true language over the
    # bounded aggregate.
    out["lang_id_confusion"] = f"""
WITH v AS (SELECT lang, predicted_lang FROM ({out["lang_id_ngram"]})),
c AS (SELECT lang, predicted_lang, count(*) AS n_docs FROM v GROUP BY 1, 2)
SELECT lang, predicted_lang, n_docs,
       round(n_docs::DOUBLE / sum(n_docs) OVER (PARTITION BY lang), 6)
         AS share
FROM c ORDER BY lang, predicted_lang"""
    out["ann_method_eval"] = _ann_method_eval_sql(out["ann_topk_bruteforce"])
    out["retrieval_rank_eval"] = _retrieval_rank_eval_sql(
        out["ann_topk_bruteforce"]
    )
    out["priority_sample"] = _priority_sample_sql()
    out["kmv_distinct_rollup"] = _kmv_distinct_rollup_sql()
    out["entity_resolution"], out["entity_resolution_eval"] = (
        _entity_resolution_sqls()
    )
    out["kn_bigram_perplexity"] = _kn_bigram_perplexity_sql()
    out["entity_clusters"] = _entity_clusters_sql()
    out["conformal_forecast_intervals"] = _conformal_forecast_sql()
    out["er_incremental_classify"] = _er_incremental_sql()
    out["markov_next_event_eval"] = _markov_next_event_sql()
    out["ann_recall_vs_dim"] = _ann_recall_vs_dim_sql()
    from forest_open_data_pipelines_spark.operators.textops import (
        BPE_N_MERGES,
    )

    out["bpe_train"], out["bpe_encode"] = _bpe_sqls(BPE_N_MERGES)
    out["part_pagerank"] = _part_pagerank_sql()
    out["part_communities"] = _part_communities_sql()
    out["part_triangles"] = _part_triangles_sql()
    # BFS hop distances: recursive CTE with SET semantics (UNION
    # dedups (part, hop) per level — no path blow-up) + min(hop);
    # seed/hop-cap/support single-sourced with the Spark loop
    # (support-1 edges so the reach stays non-trivial at sf0.1 —
    # r12 fix, see relational.BFS_MIN_SUPPORT).
    from forest_open_data_pipelines_spark.operators.relational import (
        BFS_MIN_SUPPORT,
    )

    out["part_bfs_hops"] = f"""
WITH RECURSIVE {_co_order_edges_ctes(BFS_MIN_SUPPORT)},
seed AS (SELECT src AS s
         FROM (SELECT src, count(*) AS c FROM edges GROUP BY src)
         ORDER BY c DESC, src LIMIT 1),
walk(part_id, hop) AS (
  SELECT s, 0 FROM seed
  UNION
  SELECT e.dst, w.hop + 1
  FROM walk w JOIN edges e ON e.src = w.part_id
  WHERE w.hop < 4
)
SELECT part_id, min(hop)::INT AS hop
FROM walk GROUP BY part_id ORDER BY hop, part_id"""
    # SCD2 history: null-safe change flag (IS DISTINCT FROM mirrors
    # Spark's eqNullSafe negation), run numbering by running sum, one
    # interval per run, valid_to = next run's valid_from.
    out["scd2_user_state_history"] = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(1) OVER w IS NULL
                OR event_type IS DISTINCT FROM lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts, event_type AS state,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
           AS version
  FROM flagged
),
runs AS (
  SELECT user_id, version, state,
         min(ts) AS valid_from, max(ts) AS last_seen,
         count(*) AS n_events
  FROM numbered GROUP BY user_id, version, state
)
SELECT user_id, version, state, valid_from, last_seen, n_events,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
         AS valid_to,
       (lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
          IS NULL) AS is_current
FROM runs ORDER BY user_id, version"""
    # Point-in-time SCD2 consumption: the same run chain tracking the
    # payload k-bucket, purchases joined on the OPEN-ENDED validity
    # (current run's NULL valid_to means still-valid).
    out["purchase_state_attribution"] = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         (TRY_CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS INT) // 32)::INT
           AS kb,
         CASE WHEN lag(1) OVER w IS NULL
                OR (TRY_CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS INT) // 32)::INT
                   IS DISTINCT FROM
                   lag((TRY_CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS INT) // 32)::INT)
                     OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts, kb,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
           AS version
  FROM flagged
),
runs AS (
  SELECT user_id, version, kb AS k_bucket, min(ts) AS valid_from
  FROM numbered GROUP BY user_id, version, kb
),
hist AS (
  SELECT user_id, version AS state_version, k_bucket, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
           AS valid_to
  FROM runs
),
purchases AS (
  SELECT user_id, event_id, ts, value FROM events
  WHERE event_type = 'purchase'
)
SELECT p.user_id, p.event_id AS purchase_event_id, p.ts AS purchase_ts,
       p.value, h.k_bucket, h.state_version, h.valid_from AS state_since
FROM purchases p
JOIN hist h
  ON p.user_id = h.user_id
 AND p.ts >= h.valid_from
 AND (h.valid_to IS NULL OR p.ts < h.valid_to)
ORDER BY p.user_id, purchase_ts, purchase_event_id"""
    # Interval-join enrichment: the sessionize twin provides the
    # intervals; the fact re-join adds the dimensions sessionize drops.
    out["session_interval_join"] = f"""
WITH intervals AS (
  SELECT user_id, session_seq, session_start, session_end
  FROM ({out["events_sessionize"]})
),
j AS (
  SELECT e.user_id, i.session_seq, i.session_start, i.session_end,
         e.event_type, e.value
  FROM events e
  JOIN intervals i
    ON e.user_id = i.user_id
   AND e.ts BETWEEN i.session_start AND i.session_end
)
SELECT user_id, session_seq, session_start, session_end,
       count(*) AS n_events,
       count(DISTINCT event_type) AS n_event_types,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
         AS n_errors,
       round(sum(value), 2) AS total_value
FROM j GROUP BY user_id, session_seq, session_start, session_end
ORDER BY user_id, session_seq"""
    # Sweep-line peak concurrency: the oracle runs the ONE-GLOBAL-
    # running-sum formulation (a genuinely different decomposition
    # from Spark's bucket-carry prefix sums — same semantics, so the
    # hash match cross-checks the decomposition itself). Tie contract:
    # +1 before -1 at equal instants (ORDER BY ts, delta DESC).
    out["session_concurrency"] = f"""
WITH sessions AS (
  SELECT session_start, session_end FROM ({out["events_sessionize"]})
),
deltas AS (
  SELECT session_start AS ts, 1 AS delta FROM sessions
  UNION ALL
  SELECT session_end AS ts, -1 AS delta FROM sessions
),
run AS (
  SELECT ts, delta,
         sum(delta) OVER (ORDER BY ts, delta DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS running
  FROM deltas
),
day_stats AS (
  SELECT ts::DATE AS day,
         sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)::BIGINT
           AS n_sessions_started,
         sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END)::BIGINT
           AS n_sessions_ended,
         sum(delta) AS day_total,
         max(running) AS max_run
  FROM run GROUP BY day
)
SELECT day,
       COALESCE(sum(day_total) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0)::BIGINT AS open_at_day_start,
       n_sessions_started,
       n_sessions_ended,
       GREATEST(
         COALESCE(sum(day_total) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0),
         max_run)::BIGINT AS peak_concurrency
FROM day_stats ORDER BY day"""
    # Interval-overlap join: the oracle is the quadratic inequality
    # self-join (DuckDB IEJoin) — Spark runs the hour-grid equi-join
    # with the once-per-pair-at-overlap-start rule, so the hash match
    # proves the grid reformulation.
    out["overlapping_session_pairs"] = f"""
WITH iv AS (
  SELECT user_id, session_start AS s, session_end AS e
  FROM ({out["events_sessionize"]})
),
p AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b,
         epoch_us(least(a.e, b.e)) - epoch_us(greatest(a.s, b.s))
           AS overlap_us
  FROM iv a JOIN iv b
    ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
)
SELECT user_a, user_b, count(*)::BIGINT AS n_overlaps,
       round(sum(overlap_us) / 60.0) / 1000000.0 AS overlap_minutes
FROM p GROUP BY user_a, user_b ORDER BY user_a, user_b"""
    # CUPED A/B readout: exact-cents per-user sums, BIGINT pooled
    # moments, scalar double formulas textually identical both sides
    # (the daily_anomaly_report precedent), split day single-sourced.
    from forest_open_data_pipelines_spark.operators.sessionize import (
        CUPED_SPLIT_DAY,
    )

    out["cuped_ab_metrics"] = f"""
WITH per_user AS (
  SELECT user_id,
         round(sum(CASE WHEN ts::DATE < DATE '{CUPED_SPLIT_DAY}'
                        THEN value ELSE 0 END) * 100)::BIGINT AS x_cents,
         round(sum(CASE WHEN ts::DATE >= DATE '{CUPED_SPLIT_DAY}'
                        THEN value ELSE 0 END) * 100)::BIGINT AS y_cents
  FROM events GROUP BY user_id
),
pooled AS (
  SELECT count(*)::BIGINT AS n,
         sum(x_cents)::BIGINT AS sx, sum(y_cents)::BIGINT AS sy,
         sum(x_cents * x_cents)::BIGINT AS sxx,
         sum(x_cents * y_cents)::BIGINT AS sxy
  FROM per_user
),
arms AS (
  SELECT (user_id % 2)::INT AS arm, count(*)::BIGINT AS n_arm,
         sum(x_cents)::BIGINT AS sx_arm, sum(y_cents)::BIGINT AS sy_arm
  FROM per_user GROUP BY 1
),
wide AS (
  SELECT a.*, p.n, p.sx,
         CASE WHEN (p.n::DOUBLE * p.sxx::DOUBLE
                    - p.sx::DOUBLE * p.sx::DOUBLE) != 0.0
              THEN (p.n::DOUBLE * p.sxy::DOUBLE
                    - p.sx::DOUBLE * p.sy::DOUBLE)
                   / (p.n::DOUBLE * p.sxx::DOUBLE
                      - p.sx::DOUBLE * p.sx::DOUBLE)
              ELSE 0.0 END AS th
  FROM arms a CROSS JOIN pooled p
)
SELECT arm, n_arm,
       round(th * 1000000) / 1000000 AS theta,
       round((sy_arm::DOUBLE / n_arm::DOUBLE / 100.0) * 1000000)
         / 1000000 AS mean_y,
       round(((sy_arm::DOUBLE
               - th * (sx_arm::DOUBLE
                       - n_arm::DOUBLE * sx::DOUBLE / n::DOUBLE))
              / n_arm::DOUBLE / 100.0) * 1000000) / 1000000 AS mean_y_adj
FROM wide ORDER BY arm"""
    # Kaplan-Meier churn curve: exact BIGINT d/n per day, the ordered
    # product as exp(sum(ln(1 - d/n))) over the identical day order
    # (same double-op sequence both engines), the closed-form
    # lifetime truncation restated verbatim, constants single-sourced.
    from forest_open_data_pipelines_spark.operators.sessionize import (
        KM_CENSOR_DAYS,
        KM_TRUNC_BASE,
        KM_TRUNC_MOD,
    )

    out["survival_churn_curve"] = f"""
WITH trunc AS (
  SELECT user_id, ts FROM events
  WHERE ts::DATE <= DATE '{KM_TRUNC_BASE}'
        + (user_id % {KM_TRUNC_MOD})::INT
),
last AS (SELECT user_id, max(ts::DATE) AS last_day FROM trunc GROUP BY 1),
hz AS (SELECT max(last_day) AS h FROM last),
lab AS (
  SELECT last_day, (last_day > h - {KM_CENSOR_DAYS}) AS censored
  FROM last CROSS JOIN hz
),
per_day AS (
  SELECT last_day,
         sum(CASE WHEN NOT censored THEN 1 ELSE 0 END)::BIGINT
           AS n_churned,
         sum(CASE WHEN censored THEN 1 ELSE 0 END)::BIGINT AS n_censored
  FROM lab GROUP BY 1
),
tot AS (SELECT sum(n_churned + n_censored)::BIGINT AS n_total FROM per_day),
risked AS (
  SELECT last_day, n_churned, n_censored,
         (n_total - COALESCE(sum(n_churned + n_censored) OVER
            (ORDER BY last_day
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0))::BIGINT AS n_at_risk
  FROM per_day CROSS JOIN tot
),
cum AS (
  SELECT *,
         sum(CASE WHEN n_churned > 0 AND n_churned < n_at_risk
                  THEN ln(1.0 - n_churned::DOUBLE / n_at_risk::DOUBLE)
                  ELSE 0.0 END)
           OVER (ORDER BY last_day ROWS UNBOUNDED PRECEDING) AS ln_s,
         max(CASE WHEN n_churned = n_at_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY last_day ROWS UNBOUNDED PRECEDING) AS hit_zero
  FROM risked
)
SELECT last_day AS day, n_at_risk, n_churned, n_censored,
       CASE WHEN hit_zero = 1 THEN 0.0
            ELSE round(exp(ln_s) * 1000000) / 1000000 END AS survival
FROM cum ORDER BY day"""
    # 2-D skyline: the oracle is the textbook quadratic NOT EXISTS
    # dominance test — Spark runs the price-group prefix-max
    # reformulation, so the hash match proves the two equivalent.
    out["part_skyline"] = """
SELECT p_partkey, p_brand, p_retailprice, p_size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice
    AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
ORDER BY p_retailprice, p_partkey"""
    # CUSUM via the reflection identity (running sum + running min),
    # integer-exact: dev scales by the series length so no float
    # (mean, z) ever crosses the engine boundary.
    from forest_open_data_pipelines_spark.operators.sessionize import (
        CUSUM_THRESHOLD_MEANS,
    )

    out["cusum_change_points"] = f"""
WITH counts AS (
  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
spine AS (
  SELECT event_type,
         unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
  FROM (SELECT event_type, min(day) AS d0, max(day) AS d1
        FROM counts GROUP BY 1)
),
daily AS (
  SELECT s.event_type, s.day, coalesce(c.n_events, 0)::BIGINT AS n_events
  FROM spine s LEFT JOIN counts c USING (event_type, day)
),
stats AS (
  SELECT event_type, sum(n_events)::BIGINT AS total,
         count(*)::BIGINT AS cnt
  FROM daily GROUP BY 1
),
dev AS (
  SELECT d.event_type, d.day, d.n_events,
         (d.n_events * s.cnt - s.total)::BIGINT AS dev_scaled, s.total
  FROM daily d JOIN stats s USING (event_type)
),
run AS (
  SELECT *, sum(dev_scaled) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS p
  FROM dev
),
mins AS (
  SELECT *, min(p) OVER (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS m
  FROM run
)
SELECT event_type, day, n_events, dev_scaled,
       (p - least(0, m))::BIGINT AS cusum_scaled,
       (p - least(0, m)) > {CUSUM_THRESHOLD_MEANS} * total AS alarm
FROM mins ORDER BY event_type, day"""
    # The overview metric frame's mensal truncate-then-substitute
    # branch: reference month/calendar year derive from the freshest
    # mensal observation, mensal months past the reference month drop,
    # and when the feed's year is strictly past the zips' latest year
    # the truncated feed overrides shared periods and extends the
    # series; otherwise the zip series flows through untouched.
    out["effective_monthly_series"] = _EFFECTIVE_SERIES_SQL
    # The metric row consuming the effective series (reference
    # :261-310): both branches collapse to one expression set over the
    # merged series; YTD = the latest year's total on a consolidated
    # series (no later months exist), both branches emit it.
    out["effective_overview_metrics"] = f"""
WITH eff AS ({_EFFECTIVE_SERIES_SQL}),
latest AS (
  SELECT max(period) AS latest_period,
         substr(max(period), 1, 4)::INT AS latest_year
  FROM eff
),
roll AS (
  -- full-prior-window gate mirrors the reference (:1849-1852):
  -- prior total only when the w23 window holds a FULL 12 rows,
  -- else 0 (consumer coalesce at :281) and a NULL pct
  SELECT period,
         sum(n_orders) OVER w11::BIGINT AS recent_12m_total,
         CASE WHEN count(n_orders) OVER w23 = 12
              THEN (sum(n_orders) OVER w23)::BIGINT
              ELSE 0 END AS prior_12m_total,
         round(CASE WHEN count(n_orders) OVER w23 = 12
                     AND sum(n_orders) OVER w23 <> 0
               THEN (sum(n_orders) OVER w11
                     - sum(n_orders) OVER w23)::DOUBLE
                    / sum(n_orders) OVER w23 * 100.0
               END, 6) AS rolling_pct_change
  FROM eff
  WINDOW w11 AS (ORDER BY period ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
         w23 AS (ORDER BY period ROWS BETWEEN 23 PRECEDING AND 12 PRECEDING)
),
yearly AS (
  -- ::BIGINT matters: sum(BIGINT) is HUGEINT, which pandas surfaces
  -- as float64 and the driver's dtype-sensitive compare rejects
  SELECT substr(period, 1, 4)::INT AS year,
         sum(n_orders)::BIGINT AS year_total
  FROM eff GROUP BY 1
)
SELECT l.latest_period, l.latest_year,
       (SELECT count(*) FROM eff WHERE source = 'mensal') > 0
         AS mensal_is_current,
       (SELECT year_total FROM yearly WHERE year = l.latest_year)
         AS current_year_total,
       (SELECT year_total FROM yearly WHERE year = l.latest_year)
         AS ytd_current_year,
       coalesce((SELECT n_orders FROM eff WHERE period = l.latest_period),
                0)::BIGINT AS latest_month_total,
       (SELECT max(year) FROM yearly WHERE year < l.latest_year)
         AS previous_year,
       coalesce((SELECT arg_max(year_total, year) FROM yearly
                 WHERE year < l.latest_year), 0)::BIGINT
         AS previous_year_total,
       r.recent_12m_total, r.prior_12m_total, r.rolling_pct_change
FROM latest l JOIN roll r ON r.period = l.latest_period"""
    out["eia_series_combinations"] = _eia_series_combinations_sql()
    out["eia_petroleum_weekly_files"] = _eia_weekly_sql()
    out["cvm_latest_yearly_csvs"] = _cvm_yearly_sql()
    out["cvm_fund_picks"] = _cvm_fund_picks_sql()
    out["focos1km_tifs"] = _focos1km_tifs_sql()
    out["dedup_threshold_sweep"] = _dedup_threshold_sweep_sql()
    out["simhash_budget_sweep"] = _simhash_budget_sweep_sql()
    # snapshot diff, CLOSED FORM: statuses derive from the residues
    # the B-derivation is keyed on (removed beats changed: a dropped
    # row's revision flag is moot)
    out["corpus_snapshot_diff"] = """
SELECT doc_id,
  CASE WHEN doc_id % 17 = 3 THEN 'removed'
       WHEN doc_id % 13 = 5 THEN 'changed'
       ELSE 'unchanged' END AS status
FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, 'added' AS status
FROM documents WHERE doc_id % 29 = 7
ORDER BY doc_id"""
    # audits/utils.py pick_best_column twin, CLOSED FORM: the expected
    # pick per header kind stated directly (kind 1 pins the cidade
    # fallback, kind 2 the accent-stripping normalize, kind 3 the
    # last-header-wins overwrite, kind 4 the no-match NULL)
    out["column_best_match"] = """
WITH k AS (SELECT doc_id, (doc_id % 5)::INT AS kind FROM documents)
SELECT doc_id, field,
  CASE field
    WHEN 'date' THEN
      CASE kind WHEN 0 THEN 'data_hora' WHEN 1 THEN 'Data Hora'
                WHEN 2 THEN 'DATAHORA_GMT' WHEN 3 THEN 'Data_Hora'
                ELSE 'data' END
    WHEN 'municipality' THEN
      CASE kind WHEN 0 THEN 'municipio' WHEN 1 THEN 'Cidade'
                WHEN 2 THEN 'MUNICÍPIO' WHEN 3 THEN 'municipio'
                ELSE 'municipio' END
    ELSE
      CASE kind WHEN 0 THEN 'focos' WHEN 1 THEN 'N Focos'
                WHEN 2 THEN 'QUANTIDADE' WHEN 3 THEN 'Focos'
                ELSE NULL END
  END AS chosen_column
FROM k, (VALUES ('count'), ('date'), ('municipality')) f(field)
ORDER BY doc_id, field"""
    # audits/markdown.py render_table/_escape_cell twin: the note cell
    # carries a REAL pipe, so the escape is value-checked; EVERY cell
    # goes through the same escape macro the operator applies (a
    # source value growing a pipe/newline must not desynchronize the
    # twins)
    esc = (
        "replace(replace({v}, '|', '\\|'), chr(10), '<br>')"
    )
    out["audit_markdown_table"] = f"""
WITH per_source AS (
  SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs
  FROM documents GROUP BY source
),
body AS (
  SELECT (row_number() OVER (ORDER BY source) + 1)::BIGINT AS seq,
    '| ' || {esc.format(v="source")}
    || ' | ' || {esc.format(v="n_docs::VARCHAR")}
    || ' | ' || {esc.format(v="n_langs::VARCHAR")}
    || ' | ' || {esc.format(v="'fonte|' || source")} || ' |' AS line
  FROM per_source
)
SELECT seq, line FROM (VALUES
  (0, '| source | n_docs | n_langs | note |'),
  (1, '| --- | --- | --- | --- |')) h(seq, line)
UNION ALL SELECT seq, line FROM body
ORDER BY seq"""
    out["fenced_json_extract"] = _fenced_json_sql()
    from forest_open_data_pipelines_spark.operators.curation import (
        CURATION_MIN_QUALITY as _MINQ,
        CURATION_MIN_TOKENS as _MINT,
    )

    out["curation_report_by_source"] = f"""
WITH a AS (SELECT doc_id, status FROM ({out["corpus_curation"]})),
j AS (SELECT d.source, a.status FROM documents d JOIN a ON d.doc_id = a.doc_id)
SELECT source, count(*) AS n_docs,
       count(*) FILTER (WHERE status = 'kept') AS n_kept,
       count(*) FILTER (WHERE status = 'quality') AS n_quality,
       count(*) FILTER (WHERE status = 'lang') AS n_lang,
       count(*) FILTER (WHERE status = 'exact_dup') AS n_exact_dup,
       count(*) FILTER (WHERE status = 'near_dup') AS n_near_dup,
       round(count(*) FILTER (WHERE status = 'kept')::DOUBLE / count(*), 6)
         AS keep_rate
FROM j GROUP BY source ORDER BY source"""
    out["quality_by_lang_report"] = f"""
WITH tq AS (SELECT doc_id, n_tokens, quality_score FROM ({out["text_quality"]})),
j AS (SELECT d.lang, tq.n_tokens, tq.quality_score AS q
      FROM documents d JOIN tq ON d.doc_id = tq.doc_id)
SELECT lang, count(*) AS n_docs,
       round(avg(q), 6) AS avg_quality,
       round(quantile_cont(q, 0.5), 6) AS p50_quality,
       round(quantile_cont(q, 0.9), 6) AS p90_quality,
       round(count(*) FILTER (WHERE n_tokens >= {_MINT} AND q >= {_MINQ})::DOUBLE
             / count(*), 6) AS pass_rate
FROM j GROUP BY lang ORDER BY lang"""
    from forest_open_data_pipelines_spark.operators.curation import (
        QUALITY_SWEEP_SCORE_GRID,
        QUALITY_SWEEP_TOKEN_GRID,
    )

    _grid_vals = ", ".join(
        f"({t}, {s})"
        for t in QUALITY_SWEEP_TOKEN_GRID
        for s in QUALITY_SWEEP_SCORE_GRID
    )

    def _ppm(num: str, den: str) -> str:
        return (
            f"({num} * 1000000 // {den} + CASE WHEN ({num} * 1000000 % {den})"
            f" * 2 >= {den} THEN 1 ELSE 0 END)::BIGINT"
        )

    out["quality_threshold_sweep"] = f"""
WITH tq AS (SELECT n_tokens, quality_score AS q FROM ({out["text_quality"]})),
g AS (SELECT * FROM (VALUES {_grid_vals}) v(min_tokens, min_quality)),
agg AS (
  SELECT min_tokens, min_quality,
         count(*)::BIGINT AS n_docs,
         count(*) FILTER (WHERE n_tokens >= min_tokens
                            AND q >= min_quality)::BIGINT AS n_pass,
         sum(n_tokens)::BIGINT AS total_tokens,
         coalesce(sum(n_tokens) FILTER (WHERE n_tokens >= min_tokens
                                          AND q >= min_quality), 0)::BIGINT
           AS tokens_kept
  FROM tq CROSS JOIN g GROUP BY min_tokens, min_quality
)
SELECT min_tokens::INT AS min_tokens, min_quality::DOUBLE AS min_quality,
       n_pass, {_ppm("n_pass", "n_docs")} AS pass_rate_ppm,
       tokens_kept, {_ppm("tokens_kept", "total_tokens")} AS token_share_ppm
FROM agg ORDER BY min_tokens, min_quality"""
    # dedup_canonical_by_quality composes the clusters closure + the
    # text_quality twin the same way.
    out["dedup_canonical_by_quality"] = f"""
WITH c AS ({out["dedup_clusters"]}),
q AS (SELECT doc_id, quality_score FROM ({out["text_quality"]}))
SELECT c.doc_id, c.cluster_id, c.cluster_size, q.quality_score,
       row_number() OVER (
         PARTITION BY c.cluster_id
         ORDER BY q.quality_score DESC, c.doc_id) = 1 AS is_kept
FROM c JOIN q ON c.doc_id = q.doc_id
ORDER BY c.doc_id"""
    # content-addressed media identity: both engines hash the SAME
    # utf-8 payload bytes, so the digests must agree character-for-
    # character (spark sha2 and duckdb sha256 both emit lowercase hex)
    out["multimodal_dedup"] = """
WITH media AS (
  SELECT doc_id AS media_id, sha256(text) AS sha256,
         octet_length(encode(text))::BIGINT AS payload_bytes
  FROM documents
),
groups AS (
  SELECT sha256, min(media_id) AS canonical_id,
         count(*)::BIGINT AS n_copies
  FROM media GROUP BY sha256
)
SELECT media_id, m.sha256, payload_bytes, canonical_id, n_copies,
       (media_id = canonical_id) AS is_canonical
FROM media m JOIN groups USING (sha256) ORDER BY media_id"""
    # AQP harness: deterministic hash-sample membership + exact decimal
    # sums; ppm error through HUGEINT (Spark: decimal(38,0)) since
    # |diff|*1e6 overflows a BIGINT at fact scale
    _sample_key = _MD5_INT.format(expr="l_orderkey || '#' || l_linenumber")
    out["sampled_revenue_estimate"] = f"""
WITH base AS (
  SELECT l_returnflag, l_extendedprice::DECIMAL(18,4) AS dec,
         (({_sample_key}) % 100 = 0) AS in_sample
  FROM lineitem
),
agg AS (
  SELECT l_returnflag,
         count(*)::BIGINT AS n_rows,
         sum(CASE WHEN in_sample THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
         (sum(dec) * 1000000)::BIGINT AS revenue_micro,
         (coalesce(sum(CASE WHEN in_sample THEN dec END), 0)
          * 100 * 1000000)::BIGINT AS estimate_micro
  FROM base GROUP BY l_returnflag
)
SELECT l_returnflag, n_rows, n_sampled, revenue_micro, estimate_micro,
       (abs(estimate_micro - revenue_micro)::HUGEINT * 1000000
        // nullif(revenue_micro::HUGEINT, 0))::BIGINT AS abs_err_ppm,
       estimate_micro > revenue_micro AS est_high
FROM agg ORDER BY l_returnflag"""
    # integrity audit: every column derives from the payload bytes
    # (octet length / sha256 of the identical utf-8 payload)
    out["media_integrity_audit"] = """
WITH media AS (
  SELECT source AS origin, n_chars::BIGINT AS declared_size,
         octet_length(encode(text))::BIGINT AS n_bytes,
         sha256(text) AS sha
  FROM documents
)
SELECT origin,
       count(*)::BIGINT AS n_media,
       sum(n_bytes)::BIGINT AS total_bytes,
       max(n_bytes)::BIGINT AS max_bytes,
       sum(CASE WHEN n_bytes = declared_size THEN 1 ELSE 0 END)::BIGINT
         AS n_size_exact,
       sum(n_bytes - declared_size)::BIGINT AS extra_octets,
       count(DISTINCT sha)::BIGINT AS n_distinct_payloads
FROM media GROUP BY origin ORDER BY origin"""
    # real-decode report: the synthesized payloads' pixel grid is the
    # closed form (media_id*7 + y*31 + x*13 + c*5) % 256 at
    # (3 + id%5) × (2 + id%3), so dims / 6-dp mean / the quarantine
    # error strings are all stated exactly (multimodal.py
    # media_synth_table + decode_real)
    from forest_open_data_pipelines_spark.operators.multimodal import (
        DECODE_UNSUPPORTED_MSG,
        PPM_RANGE_MSG,
        SYNTH_HEIGHT_BASE,
        SYNTH_HEIGHT_MOD,
        SYNTH_WIDTH_BASE,
        SYNTH_WIDTH_MOD,
    )

    png_msg = DECODE_UNSUPPORTED_MSG.format(media_type="image/png").replace(
        "'", "''"
    )
    out["media_decode_report"] = f"""
WITH base AS (
  SELECT doc_id AS media_id,
         ({SYNTH_WIDTH_BASE} + doc_id % {SYNTH_WIDTH_MOD})::BIGINT AS w,
         ({SYNTH_HEIGHT_BASE} + doc_id % {SYNTH_HEIGHT_MOD})::BIGINT AS h,
         doc_id % 4 AS kind, doc_id % 8 AS k8
  FROM documents
),
px AS (
  SELECT media_id, w, h, kind, k8,
         list_sum(flatten(list_transform(range(0, h), y ->
           flatten(list_transform(range(0, w), x ->
             list_transform(range(0, 3), c ->
               (media_id * 7 + y * 31 + x * 13 + c * 5) % 256))))))
           AS pixel_sum
  FROM base
)
SELECT media_id,
       CASE WHEN kind = 0 THEN 'ppm_p6' WHEN kind = 1 THEN 'ppm_p3'
            WHEN kind = 2 THEN 'bmp'
            WHEN k8 = 3 THEN 'corrupt_ppm'
            ELSE 'unsupported_png' END AS media_kind,
       CASE WHEN kind < 3 THEN h END AS height,
       CASE WHEN kind < 3 THEN w END AS width,
       CASE WHEN kind < 3
            THEN round(pixel_sum::DOUBLE / (h * w * 3), 6)
            END AS pixel_mean,
       CASE WHEN kind = 3 AND k8 = 3 THEN '{PPM_RANGE_MSG}'
            WHEN kind = 3 THEN '{png_msg}' END AS decode_error
FROM px ORDER BY media_id"""
    # novelty: first-occurrence ownership reduces the gram table —
    # identical construction to the Spark plan, stated over SHINGLES
    out["ngram_novelty"] = f"""
WITH {SHINGLES},
pairs AS (SELECT doc_id, unnest(shingles) AS s FROM shingled),
grams AS (SELECT s, min(doc_id) AS first_doc FROM pairs GROUP BY s),
novel AS (
  SELECT first_doc AS doc_id, count(*)::BIGINT AS n_novel_ngrams
  FROM grams GROUP BY first_doc
),
per_doc AS (
  SELECT doc_id, count(*)::BIGINT AS n_distinct_ngrams
  FROM pairs GROUP BY doc_id
)
SELECT p.doc_id, p.n_distinct_ngrams,
       coalesce(n.n_novel_ngrams, 0)::BIGINT AS n_novel_ngrams,
       round(coalesce(n.n_novel_ngrams, 0)::DOUBLE / p.n_distinct_ngrams, 6)
         AS novelty_share
FROM per_doc p LEFT JOIN novel n USING (doc_id) ORDER BY p.doc_id"""
    from forest_open_data_pipelines_spark.operators.textops import (
        VOCAB_COVERAGE_CUTOFFS,
        VOCAB_GROWTH_BUCKET,
    )

    # Coverage-at-V: same (lang, token) frequency twin, conditional
    # sums per cutoff over the ranked vocabulary, rows unfolded by a
    # UNION ALL of the bounded per-lang aggregate.
    _cov_cols = ",\n         ".join(
        f"coalesce(sum(CASE WHEN rank <= {v} THEN n END), 0)::BIGINT"
        f" AS cov_{v}"
        for v in VOCAB_COVERAGE_CUTOFFS
    )
    _cov_rows = "\n  UNION ALL\n".join(
        f"  SELECT lang, {v} AS vocab_size, n_types, cov_{v}"
        f" AS covered_tokens, total_tokens FROM agg"
        for v in VOCAB_COVERAGE_CUTOFFS
    )
    out["vocab_coverage"] = f"""
WITH toks AS (
  SELECT lang, unnest(string_split({LCLEAN}, ' ')) AS tok FROM documents
),
freq AS (
  SELECT lang, tok, count(*) AS n FROM toks WHERE tok != ''
  GROUP BY lang, tok
),
ranked AS (
  SELECT lang, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok)
           AS rank
  FROM freq
),
agg AS (
  SELECT lang, sum(n)::BIGINT AS total_tokens, count(*) AS n_types,
         {_cov_cols}
  FROM ranked GROUP BY lang
)
SELECT lang, vocab_size, n_types, covered_tokens, total_tokens,
       round(covered_tokens::DOUBLE / nullif(total_tokens, 0), 6)
         AS coverage
FROM (
{_cov_rows}
)
ORDER BY lang, vocab_size"""

    out["vocab_growth"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split({LCLEAN}, ' '))) AS tok
  FROM documents
),
first AS (
  SELECT tok, min(doc_id) AS first_doc FROM toks WHERE tok != ''
  GROUP BY tok
),
per_bucket AS (
  SELECT (first_doc // {VOCAB_GROWTH_BUCKET}) * {VOCAB_GROWTH_BUCKET}
           AS bucket_start,
         count(*)::BIGINT AS new_tokens
  FROM first GROUP BY 1
)
SELECT bucket_start, new_tokens,
       sum(new_tokens) OVER (ORDER BY bucket_start
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         AS cumulative_vocab
FROM per_bucket ORDER BY bucket_start"""
    out["token_histogram"] = f"""
WITH b AS (
  SELECT floor(log2(len(string_split({LCLEAN}, ' '))))::INT AS bucket_exp,
         len(string_split({LCLEAN}, ' '))::BIGINT AS n
  FROM documents
),
per AS (
  -- ::BIGINT: duckdb's sum(BIGINT) is HUGEINT, which pandas widens to
  -- float64 (2356.0 vs spark's 2356) and the value hash diverges
  SELECT bucket_exp, count(*) AS n_docs, sum(n)::BIGINT AS n_tokens
  FROM b GROUP BY bucket_exp
),
tot AS (SELECT sum(n_docs) AS t_docs, sum(n_tokens) AS t_tokens FROM per)
SELECT bucket_exp,
       '[' || (2 ** bucket_exp)::BIGINT || ', '
           || (2 ** (bucket_exp + 1))::BIGINT || ')' AS bucket,
       n_docs, n_tokens,
       round(n_docs::DOUBLE / t_docs, 6) AS doc_share,
       round(n_tokens::DOUBLE / t_tokens, 6) AS token_share
FROM per CROSS JOIN tot ORDER BY bucket_exp"""
    # tfidf: idf quantized to integer micro-bits per distinct term (the
    # charlm convention), so score_micro = tf·idf_micro is an exact
    # BIGINT and rank order is engine-independent.
    from forest_open_data_pipelines_spark.operators.textops import TFIDF_TOP_K

    out["tfidf_top_terms"] = f"""
WITH toks AS (SELECT doc_id, string_split({LCLEAN}, ' ') AS t FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks, unnest(t) AS u(term)
  WHERE term != ''
  GROUP BY doc_id, term
),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         tf * round(log2((n_docs + 1)::DOUBLE / (df + 1))
                    * 1000000.0, 0)::BIGINT AS score_micro
  FROM tf JOIN dft USING (term), n
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score_micro DESC, term)::INT AS rank
  FROM scored
)
SELECT doc_id, rank, term, tf, df,
       round(score_micro / 1000000.0, 6) AS tfidf
FROM ranked WHERE rank <= {TFIDF_TOP_K} ORDER BY doc_id, rank"""
    # session_duration_stats composes the sessionize twin the same way.
    # curation_gate_matrix composes the per-gate twins on doc_id — the
    # matrix is definitionally consistent with the individual oracles.
    from forest_open_data_pipelines_spark.operators.curation import (
        CURATION_MIN_QUALITY,
        CURATION_MIN_TOKENS,
    )

    # the full Gopher A1.1 repetition block: the catalog entry runs on
    # the textified variant (line/para paths fire at scale); the
    # matrix gate below composes the SAME generator on raw documents
    out["gopher_repetition_rules"] = _gopher_repetition_rules_sql(
        _reptext_sql()
    )
    out["curation_gate_matrix"] = f"""
WITH q AS (SELECT doc_id, n_tokens, quality_score FROM ({out["text_quality"]})),
l AS (SELECT doc_id, predicted_lang FROM ({out["lang_id"]})),
r AS (SELECT doc_id, passes_repetition FROM ({out["quality_repetition"]})),
rr AS (SELECT doc_id, passes_repetition_rules
       FROM ({_gopher_repetition_rules_sql("SELECT doc_id, text FROM documents")})),
lm AS (SELECT doc_id, entropy_bits, passes_charlm
       FROM ({out["charlm_perplexity"]})),
p AS (SELECT doc_id, pii_free FROM ({out["pii_scrub"]})),
dc AS (SELECT doc_id, contaminated FROM ({out["decontaminate_ngram"]})),
im AS (SELECT doc_id, log_importance, target_like
       FROM ({out["dsir_importance_weights"]}))
SELECT q.doc_id, q.n_tokens, q.quality_score, l.predicted_lang,
       r.passes_repetition, rr.passes_repetition_rules,
       lm.entropy_bits, lm.passes_charlm, p.pii_free,
       dc.contaminated, im.log_importance, im.target_like,
       (q.n_tokens >= {CURATION_MIN_TOKENS}
        AND q.quality_score >= {CURATION_MIN_QUALITY}
        AND l.predicted_lang != 'unknown' AND r.passes_repetition
        AND rr.passes_repetition_rules
        AND lm.passes_charlm AND p.pii_free
        AND NOT coalesce(dc.contaminated, false)) AS passes_all
FROM q JOIN l USING (doc_id) JOIN r USING (doc_id) JOIN rr USING (doc_id)
JOIN lm USING (doc_id)
JOIN p USING (doc_id) LEFT JOIN dc USING (doc_id) JOIN im USING (doc_id)
ORDER BY q.doc_id"""
    out["session_duration_stats"] = f"""
WITH s AS (SELECT * FROM ({out["events_sessionize"]})),
d AS (
  SELECT (epoch_us(session_end) - epoch_us(session_start)) AS dur_us, n_events
  FROM s
)
SELECT count(*) AS n_sessions,
       round(sum(dur_us) / (count(*) * 60.0)) / 1000000.0 AS avg_minutes,
       round(quantile_cont(dur_us, 0.5) / 60.0) / 1000000.0 AS p50_minutes,
       round(quantile_cont(dur_us, 0.9) / 60.0) / 1000000.0 AS p90_minutes,
       round(sum(n_events)::DOUBLE / count(*), 6) AS avg_events,
       max(n_events) AS max_events,
       round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS singleton_share
FROM d"""
    from forest_open_data_pipelines_spark.operators.textops import (
        ZIPF_FIT_MAX_RANK,
    )

    def _md(num: str, den: str) -> str:
        """micro_div twin: exact half-up integer micro division."""
        return (
            f"(({num}) * 1000000 // ({den})"
            f" + CASE WHEN (({num}) * 1000000 % ({den})) * 2 >= ({den})"
            f" THEN 1 ELSE 0 END)::BIGINT"
        )

    out["token_zipf_fit"] = f"""
WITH toks AS (
  SELECT lang, unnest(string_split({lclean}, ' ')) AS tok FROM documents
),
freq AS (
  SELECT lang, tok, count(*)::BIGINT AS n FROM toks WHERE tok != ''
  GROUP BY 1, 2
),
totals AS (
  SELECT lang, count(*)::BIGINT AS vocab_size, sum(n)::BIGINT AS total_tokens
  FROM freq GROUP BY lang
),
head AS (
  SELECT lang, round(ln(r) * 1000000)::BIGINT AS x,
         round(ln(n) * 1000000)::BIGINT AS y
  FROM (SELECT lang, n,
               row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS r
        FROM freq)
  WHERE r <= {ZIPF_FIT_MAX_RANK}
),
sums AS (
  SELECT lang, count(*)::BIGINT AS fit_ranks,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
         sum(y * y)::BIGINT AS syy
  FROM head GROUP BY lang
),
fit AS (
  SELECT lang, fit_ranks,
         fit_ranks::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE AS num,
         fit_ranks::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE AS den_x,
         fit_ranks::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE AS den_y,
         sx::DOUBLE AS sxd, sy::DOUBLE AS syd
  FROM sums
)
SELECT f.lang, t.vocab_size, t.total_tokens, f.fit_ranks,
       round(num / nullif(den_x, 0), 6) AS zipf_slope,
       round((syd - num / nullif(den_x, 0) * sxd) / f.fit_ranks / 1000000.0,
             6) AS zipf_intercept,
       round(num * num / nullif(den_x * den_y, 0), 6) AS zipf_r2
FROM fit f JOIN totals t USING (lang) ORDER BY lang"""
    out["tokenizer_fertility"] = f"""
WITH per AS (
  SELECT lang, source, len({toks})::BIGINT AS n_ws,
         len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_sub,
         length(text)::BIGINT AS n_chars
  FROM documents
),
agg AS (
  SELECT lang, source, count(*)::BIGINT AS n_docs,
         sum(n_ws)::BIGINT AS ws_tokens,
         sum(n_sub)::BIGINT AS subword_tokens,
         sum(n_chars)::BIGINT AS chars
  FROM per GROUP BY 1, 2
)
SELECT lang, source, n_docs, ws_tokens, subword_tokens,
       {_md("subword_tokens", "nullif(ws_tokens, 0)")} AS fertility_micro,
       {_md("chars", "nullif(subword_tokens, 0)")}
         AS chars_per_subword_micro
FROM agg ORDER BY lang, source"""
    out["cluster_size_histogram"] = f"""
WITH c AS ({out["dedup_clusters"]}),
per AS (
  SELECT cluster_size, count(DISTINCT cluster_id)::BIGINT AS n_clusters,
         count(*)::BIGINT AS n_docs
  FROM c GROUP BY cluster_size
),
tot AS (SELECT sum(n_clusters)::BIGINT AS t_clusters,
               sum(n_docs)::BIGINT AS t_docs FROM per)
SELECT cluster_size, n_clusters, n_docs,
       {_md("n_clusters", "t_clusters")} AS cluster_share_ppm,
       {_md("n_docs", "t_docs")} AS doc_share_ppm,
       {_md("(cluster_size - 1) * n_clusters", "n_docs")} AS removable_ppm
FROM per, tot ORDER BY cluster_size"""
    from forest_open_data_pipelines_spark.operators.textops import (
        BM25_B,
        BM25_K1,
        BM25_QUERIES,
        BM25_TOP_K,
    )

    bm25_q = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in BM25_QUERIES for t in terms
    )
    out["bm25_topk"] = f"""
WITH toks AS (SELECT doc_id, string_split({lclean}, ' ') AS t FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks, unnest(t) AS u(term)
  WHERE term != ''
  GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY doc_id),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_dl
          FROM dl),
q(query_id, term) AS (VALUES {bm25_q}),
qd AS (
  SELECT q.query_id, q.term,
         round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * 1000000.0)::BIGINT AS idf_micro,
         total_dl::DOUBLE / n_docs::DOUBLE AS avgdl
  FROM q JOIN dft USING (term), stats
),
scored AS (
  SELECT qd.query_id, tf.doc_id,
         sum(round(idf_micro * ((tf * {BM25_K1 + 1.0!r}) /
             (tf + {BM25_K1!r} * ({1.0 - BM25_B!r}
              + {BM25_B!r} * dl.dl::DOUBLE / avgdl))))::BIGINT)::BIGINT
           AS score_micro,
         count(*)::BIGINT AS n_terms
  FROM tf JOIN qd USING (term) JOIN dl USING (doc_id)
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score_micro DESC, doc_id)::INT AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, n_terms,
       round(score_micro / 1000000.0, 6) AS bm25
FROM ranked WHERE rank <= {BM25_TOP_K} ORDER BY query_id, rank"""
    from forest_open_data_pipelines_spark.operators.similarity import (
        HARD_NEG_HI,
        HARD_NEG_SKIP,
    )

    out["hard_negative_mining"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         round(list_dot_product(q.emb, c.emb)
               / (sqrt(list_dot_product(q.emb, q.emb))
                  * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cosine
  FROM e q JOIN e c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 8
),
ranked AS (
  SELECT query_id, cand_id, cosine,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, cand_id)::INTEGER
           AS overall_rank
  FROM scored WHERE cosine < {HARD_NEG_HI!r}
)
SELECT query_id, (overall_rank - {HARD_NEG_SKIP})::INTEGER AS rank,
       cand_id, cosine, overall_rank
FROM ranked
WHERE overall_rank > {HARD_NEG_SKIP}
  AND overall_rank <= {HARD_NEG_SKIP} + 10
ORDER BY query_id, rank"""
    from forest_open_data_pipelines_spark.operators.similarity import (
        HYBRID_QUERY_ANCHORS,
        RRF_K,
    )

    anchors_vals = ", ".join(
        f"('{q}', {v})" for q, v in HYBRID_QUERY_ANCHORS
    )
    out["hybrid_rrf_topk"] = f"""
WITH sparse AS (
  SELECT query_id, doc_id, rank AS sparse_rank FROM ({out["bm25_topk"]})
),
dense0 AS (
  SELECT query_id AS anchor_id, cand_id AS doc_id, rank AS dense_rank
  FROM ({out["ann_topk_bruteforce"]})
),
anchors(query_id, anchor_vec) AS (VALUES {anchors_vals}),
dense AS (
  SELECT a.query_id, d.doc_id, d.dense_rank
  FROM dense0 d JOIN anchors a ON d.anchor_id = a.anchor_vec
),
fused AS (
  SELECT coalesce(s.query_id, d.query_id) AS query_id,
         coalesce(s.doc_id, d.doc_id) AS doc_id,
         s.sparse_rank, d.dense_rank
  FROM sparse s FULL OUTER JOIN dense d
    ON s.query_id = d.query_id AND s.doc_id = d.doc_id
),
scoredr AS (
  SELECT query_id, doc_id, sparse_rank, dense_rank,
         (coalesce({_md("1", f"{RRF_K} + sparse_rank")}, 0)
          + coalesce({_md("1", f"{RRF_K} + dense_rank")}, 0))::BIGINT
           AS rrf_micro
  FROM fused
)
SELECT query_id,
       row_number() OVER (
         PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id)::INTEGER
         AS rank,
       doc_id, sparse_rank, dense_rank, rrf_micro
FROM scoredr
QUALIFY rank <= 10
ORDER BY query_id, rank"""
    out["dataset_card"] = f"""
WITH m AS (SELECT * FROM ({out["curation_gate_matrix"]})),
flags AS (
  SELECT count(*)::BIGINT AS n_docs,
         sum(n_tokens)::BIGINT AS n_tokens,
         sum(CASE WHEN passes_repetition THEN 1 ELSE 0 END)::BIGINT AS n_rep,
         sum(CASE WHEN passes_charlm THEN 1 ELSE 0 END)::BIGINT AS n_lm,
         sum(CASE WHEN pii_free THEN 1 ELSE 0 END)::BIGINT AS n_pii,
         sum(CASE WHEN coalesce(contaminated, false) THEN 1 ELSE 0
             END)::BIGINT AS n_contam,
         sum(CASE WHEN passes_all THEN 1 ELSE 0 END)::BIGINT AS n_pass,
         sum(CASE WHEN passes_all THEN n_tokens ELSE 0 END)::BIGINT
           AS tokens_kept
  FROM m
),
breadth AS (
  SELECT count(DISTINCT lang)::BIGINT AS n_langs,
         count(DISTINCT source)::BIGINT AS n_sources,
         sum(octet_length(encode(text)))::BIGINT AS n_bytes
  FROM documents
),
fp AS (
  SELECT count(*)::BIGINT AS n_fingerprints FROM ({out["dedup_exact"]})
)
SELECT n_docs, n_langs, n_sources, n_tokens, n_bytes, n_fingerprints,
       {_md("n_docs - n_fingerprints", "nullif(n_docs, 0)")} AS exact_dup_ppm,
       {_md("n_rep", "nullif(n_docs, 0)")} AS repetition_pass_ppm,
       {_md("n_lm", "nullif(n_docs, 0)")} AS charlm_pass_ppm,
       {_md("n_pii", "nullif(n_docs, 0)")} AS pii_free_ppm,
       {_md("n_contam", "nullif(n_docs, 0)")} AS contaminated_ppm,
       {_md("n_pass", "nullif(n_docs, 0)")} AS pass_all_ppm,
       {_md("tokens_kept", "nullif(n_tokens, 0)")} AS tokens_kept_ppm
FROM flags, breadth, fp"""
    from forest_open_data_pipelines_spark.operators.similarity import (
        ANN_LSH_BANDS as _BT_BANDS,
        ANN_LSH_PLANES as _BT_PLANES,
        BITEXT_KNN,
        BITEXT_MARGIN,
    )

    _bt_per_band = _BT_PLANES // _BT_BANDS

    def _bt_banded(lang: str, id_alias: str) -> str:
        return "\n  UNION ALL\n".join(
            f"  SELECT vec_id AS {id_alias}, embedding, {b} AS band, "
            f"{_lsh_sig_sql(list(range(b * _bt_per_band, (b + 1) * _bt_per_band)), 'embedding')}"
            f" AS key FROM tagged WHERE lang = '{lang}'"
            for b in range(_BT_BANDS)
        )

    out["bitext_mining"] = f"""
WITH tagged AS (
  SELECT e.vec_id, e.embedding, d.lang
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
),
sbanded AS (
{_bt_banded("en", "src_id")}
),
tbanded AS (
{_bt_banded("es", "tgt_id")}
),
pairs AS (
  SELECT src_id, tgt_id,
         max(round(list_dot_product(s.embedding::DOUBLE[],
                                    t.embedding::DOUBLE[])
             / (sqrt(list_dot_product(s.embedding::DOUBLE[],
                                      s.embedding::DOUBLE[]))
                * sqrt(list_dot_product(t.embedding::DOUBLE[],
                                        t.embedding::DOUBLE[]))), 6))
           AS cosine
  FROM sbanded s JOIN tbanded t USING (band, key)
  GROUP BY 1, 2
),
knn_src AS (
  SELECT src_id, round(avg(round(cosine * 1e6)))::BIGINT AS src_knn_micro
  FROM (SELECT *, row_number() OVER (
          PARTITION BY src_id ORDER BY cosine DESC, tgt_id) AS r
        FROM pairs)
  WHERE r <= {BITEXT_KNN} GROUP BY src_id
),
knn_tgt AS (
  SELECT tgt_id, round(avg(round(cosine * 1e6)))::BIGINT AS tgt_knn_micro
  FROM (SELECT *, row_number() OVER (
          PARTITION BY tgt_id ORDER BY cosine DESC, src_id) AS r
        FROM pairs)
  WHERE r <= {BITEXT_KNN} GROUP BY tgt_id
),
scored AS (
  SELECT p.src_id, p.tgt_id, p.cosine,
         round(p.cosine
               / nullif((src_knn_micro + tgt_knn_micro)::DOUBLE
                        / 2.0 / 1000000.0, 0), 6) AS margin
  FROM pairs p JOIN knn_src USING (src_id) JOIN knn_tgt USING (tgt_id)
),
best AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS sr,
         row_number() OVER (
           PARTITION BY tgt_id ORDER BY margin DESC, src_id) AS tr
  FROM scored
)
SELECT src_id, tgt_id, cosine, margin
FROM best WHERE sr = 1 AND tr = 1 AND margin >= {BITEXT_MARGIN!r}
ORDER BY src_id"""
    from forest_open_data_pipelines_spark.operators.curation import (
        SHARD_PLAN_DEFAULT as _SHARDS,
    )

    _shard_key = _MD5_INT.format(expr="'shard-' || doc_id")
    out["shard_curriculum"] = f"""
WITH q AS (SELECT doc_id, quality_score FROM ({out["text_quality"]})),
per AS (
  SELECT ({_shard_key}) % {_SHARDS} AS shard_id,
         len(string_split({lclean}, ' '))::BIGINT AS n_toks,
         round(quality_score * 1e6)::BIGINT AS q_micro
  FROM documents JOIN q USING (doc_id)
),
agg AS (
  SELECT shard_id, count(*)::BIGINT AS n_docs,
         sum(n_toks)::BIGINT AS n_tokens,
         round(avg(q_micro))::BIGINT AS avg_quality_micro,
         {_md("sum(n_toks)", "count(*)")} AS avg_tokens_per_doc_micro
  FROM per GROUP BY shard_id
)
SELECT shard_id, n_docs, n_tokens, avg_quality_micro,
       avg_tokens_per_doc_micro,
       row_number() OVER (
         ORDER BY avg_quality_micro DESC, shard_id)::INT AS curriculum_rank
FROM agg ORDER BY shard_id"""
    # Multimodal fake-decoder twins: the Arrow kernels' byte math
    # re-expressed over a hex-pair byte explode of the SAME utf-8
    # payloads. round6 here is floor(x*1e6 + 0.5)/1e6 — the kernels'
    # half-up convention (np.round is half-even and k/256 lands on
    # exact 6-dp halves).
    def _r6(x: str) -> str:
        return f"floor(({x}) * 1000000.0 + 0.5) / 1000000.0"

    _media_bytes = """
b AS (
  SELECT doc_id AS media_id, octet_length(encode(text))::BIGINT AS n,
         hex(encode(text)) AS h
  FROM documents
),
positions AS (
  SELECT media_id, h, unnest(range(0, n)) AS pos FROM b
),
bytes AS (
  SELECT media_id, pos,
         ('0x' || substr(h, pos * 2 + 1, 2))::INT AS byte
  FROM positions
)"""
    out["multimodal_features"] = f"""
WITH {_media_bytes},
agg AS (
  SELECT media_id, sum(byte)::BIGINT AS s,
         count(DISTINCT byte)::BIGINT AS d
  FROM bytes GROUP BY media_id
)
SELECT b.media_id, 'text/fake' AS media_type, b.n AS n_bytes,
       CASE WHEN b.n > 0 THEN {_r6("s::DOUBLE / b.n")} END AS byte_mean,
       {_r6("coalesce(d, 0)::DOUBLE / 256.0")} AS byte_entropy_proxy
FROM b LEFT JOIN agg USING (media_id)
ORDER BY media_id"""
    out["multimodal_frames"] = f"""
WITH {_media_bytes},
frames AS (
  SELECT media_id, (pos // 64)::BIGINT AS f,
         count(*)::BIGINT AS frame_bytes, sum(byte)::BIGINT AS fs
  FROM bytes GROUP BY 1, 2
)
SELECT media_id, f AS frame_index, frame_bytes,
       {_r6("fs::DOUBLE / frame_bytes")} AS frame_mean
FROM frames WHERE f % 4 = 0
ORDER BY media_id, frame_index"""
    out["resize_media"] = f"""
WITH {_media_bytes},
grid AS (
  SELECT media_id, n, unnest(range(0, 256)) AS g FROM b
),
sel AS (
  SELECT g.media_id, g.g,
         CASE WHEN g.n > 0 THEN coalesce(y.byte, 0) ELSE 0 END AS v
  FROM grid g LEFT JOIN bytes y
    ON y.media_id = g.media_id AND y.pos = (g.g * g.n) // 256
)
SELECT media_id, 16::BIGINT AS width, 16::BIGINT AS height,
       {_r6("sum(v)::DOUBLE / 256.0")} AS checksum
FROM sel GROUP BY media_id ORDER BY media_id"""
    # aHash twin: the same byte-explode + nearest-gather grid at 64
    # pixels, strict integer above-mean bits, signed-64 packing via the
    # _simhash_bit_value VALUES-table convention (bit 63 is min long;
    # DuckDB's 1::BIGINT << 63 raises Out of Range), all-pairs hamming
    # as ground truth for the block-LSH operator (perfect recall).
    from forest_open_data_pipelines_spark.operators.dedup import (
        _simhash_bit_value as _ahash_bit,
    )
    from forest_open_data_pipelines_spark.operators.multimodal import (
        AHASH_MAX_HAMMING,
    )

    def _ahash_lit(v: int) -> str:
        return f"({v + 1}::BIGINT - 1)" if v == -(1 << 63) else f"{v}::BIGINT"

    _ahash_rows = ", ".join(
        f"({j}, {_ahash_lit(_ahash_bit(j))})" for j in range(64)
    )
    out["media_ahash_dedup"] = f"""
WITH {_media_bytes},
abits(j, bitval) AS (VALUES {_ahash_rows}),
grid AS (
  SELECT media_id, n, unnest(range(0, 64)) AS g FROM b WHERE n > 0
),
px AS (
  SELECT g.media_id, g.g, coalesce(y.byte, 0)::BIGINT AS v
  FROM grid g LEFT JOIN bytes y
    ON y.media_id = g.media_id AND y.pos = (g.g * g.n) // 64
),
tot AS (SELECT media_id, sum(v)::BIGINT AS total FROM px GROUP BY media_id),
sig AS (
  SELECT p.media_id,
         sum(CASE WHEN p.v * 64 > t.total THEN a.bitval ELSE 0 END)::BIGINT
           AS ahash
  FROM px p JOIN tot t USING (media_id) JOIN abits a ON a.j = p.g
  GROUP BY p.media_id
)
SELECT x.media_id AS media_a, y.media_id AS media_b,
       bit_count(xor(x.ahash, y.ahash))::INTEGER AS hamming
FROM sig x JOIN sig y ON x.media_id < y.media_id
WHERE bit_count(xor(x.ahash, y.ahash)) <= {AHASH_MAX_HAMMING}
ORDER BY media_a, media_b"""

    # Incremental perceptual gate twin: per-side aHash sig chains over
    # the winnowing_incremental residue split, all-pairs hamming as the
    # recall-equivalent ground truth for the block join, best match by
    # (hamming, base_id), every new asset rowed.
    def _ahash_sig_cte(tag: str, where: str) -> str:
        return f"""b_{tag} AS (
  SELECT doc_id AS media_id, octet_length(encode(text))::BIGINT AS n,
         hex(encode(text)) AS h
  FROM documents WHERE {where}
),
grid_{tag} AS (
  SELECT media_id, n, unnest(range(0, 64)) AS g FROM b_{tag} WHERE n > 0
),
px_{tag} AS (
  SELECT g.media_id, g.g,
         ('0x' || substr(b.h, ((g.g * g.n) // 64) * 2 + 1, 2))::INT::BIGINT
           AS v
  FROM grid_{tag} g JOIN b_{tag} b USING (media_id)
),
tot_{tag} AS (
  SELECT media_id, sum(v)::BIGINT AS total FROM px_{tag} GROUP BY media_id
),
sig_{tag} AS (
  SELECT p.media_id,
         sum(CASE WHEN p.v * 64 > t.total THEN a.bitval ELSE 0 END)::BIGINT
           AS ahash
  FROM px_{tag} p JOIN tot_{tag} t USING (media_id)
       JOIN abits a ON a.j = p.g
  GROUP BY p.media_id
)"""

    out["media_ahash_incremental"] = f"""
WITH abits(j, bitval) AS (VALUES {_ahash_rows}),
{_ahash_sig_cte('nw', 'doc_id % 13 = 0')},
{_ahash_sig_cte('bs', 'doc_id % 13 != 0')},
m AS (
  SELECT x.media_id, y.media_id AS base_id,
         bit_count(xor(x.ahash, y.ahash))::INTEGER AS hamming
  FROM sig_nw x JOIN sig_bs y
    ON bit_count(xor(x.ahash, y.ahash)) <= {AHASH_MAX_HAMMING}
),
agg AS (
  SELECT media_id, count(*)::BIGINT AS n_base_matches
  FROM m GROUP BY media_id
),
best AS (
  SELECT media_id, base_id AS best_base_id, hamming AS best_hamming
  FROM (SELECT *, row_number() OVER (PARTITION BY media_id
                                     ORDER BY hamming, base_id) AS rn
        FROM m)
  WHERE rn = 1
)
SELECT s.media_id, b.n AS n_bytes,
       coalesce(a.n_base_matches, 0)::BIGINT AS n_base_matches,
       best.best_base_id, best.best_hamming,
       CASE WHEN a.media_id IS NOT NULL THEN 'dup' ELSE 'new' END AS status
FROM sig_nw s
JOIN b_nw b USING (media_id)
LEFT JOIN agg a USING (media_id)
LEFT JOIN best USING (media_id)
ORDER BY s.media_id"""
    from forest_open_data_pipelines_spark.operators.similarity import (
        EMB_OUTLIER_Z,
    )

    _zf = (
        "round((round({c} * 1e6) - {s}::DOUBLE / {n}::DOUBLE)"
        " / nullif(sqrt(({n}::DOUBLE * {ss}::DOUBLE"
        " - {s}::DOUBLE * {s}::DOUBLE) / ({n}::DOUBLE * {n}::DOUBLE)), 0), 6)"
    )
    _zn = _zf.format(c="norm", n="n", s="sn", ss="snn")
    _zc = _zf.format(c="cos_to_global", n="nc", s="sc", ss="scc")
    out["embedding_outlier_report"] = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
ex AS (
  SELECT unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM e
),
g AS (SELECT pos, round(avg(v), 6) AS gc FROM ex GROUP BY pos),
gl AS (SELECT list(gc ORDER BY pos) AS gcent FROM g),
stats AS (
  SELECT e.vec_id, e.label,
         round(sqrt(list_dot_product(e.emb, e.emb)), 6) AS norm,
         round(list_dot_product(e.emb, gl.gcent)
               / (sqrt(list_dot_product(e.emb, e.emb))
                  * sqrt(list_dot_product(gl.gcent, gl.gcent))), 6)
           AS cos_to_global
  FROM e, gl
),
mom AS (
  SELECT count(*)::HUGEINT AS n,
         sum(round(norm * 1e6)::HUGEINT) AS sn,
         sum(round(norm * 1e6)::HUGEINT * round(norm * 1e6)::HUGEINT)
           AS snn,
         count(cos_to_global)::HUGEINT AS nc,
         sum(round(cos_to_global * 1e6)::HUGEINT) AS sc,
         sum(round(cos_to_global * 1e6)::HUGEINT
             * round(cos_to_global * 1e6)::HUGEINT) AS scc
  FROM stats
)
SELECT vec_id, label, norm, cos_to_global,
       {_zn} AS z_norm,
       {_zc} AS z_cos,
       (coalesce(abs({_zn}) > {EMB_OUTLIER_Z!r}, false)
        OR coalesce(abs({_zc}) > {EMB_OUTLIER_Z!r}, false))
         AS is_outlier
FROM stats, mom ORDER BY vec_id"""
    out["bm25_route"] = f"""
WITH per AS (
  SELECT doc_id, list_filter(string_split({lclean}, ' '), x -> x != '') AS t,
         len(list_filter(string_split({lclean}, ' '), x -> x != ''))::BIGINT
           AS dl
  FROM documents
),
stats AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS total_dl
          FROM per),
q(query_id, term) AS (VALUES {bm25_q}),
dft AS (
  SELECT term, count(*) AS df
  FROM (SELECT doc_id, unnest(list_distinct(t)) AS term FROM per)
  WHERE term IN (SELECT term FROM q)
  GROUP BY term
),
qd AS (
  SELECT q.query_id, q.term,
         round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * 1000000.0)::BIGINT AS idf_micro,
         total_dl::DOUBLE / n_docs::DOUBLE AS avgdl
  FROM q JOIN dft USING (term), stats
),
contrib AS (
  SELECT p.doc_id, qd.query_id,
         CASE WHEN len(list_filter(p.t, x -> x = qd.term)) > 0
              THEN round(qd.idf_micro
                   * ((len(list_filter(p.t, x -> x = qd.term))
                       * {BM25_K1 + 1.0!r})
                      / (len(list_filter(p.t, x -> x = qd.term))
                         + {BM25_K1!r} * ({1.0 - BM25_B!r}
                           + {BM25_B!r} * p.dl::DOUBLE / qd.avgdl))))::BIGINT
              ELSE 0 END AS c
  FROM per p CROSS JOIN qd
),
perq AS (
  SELECT doc_id, query_id, sum(c)::BIGINT AS score FROM contrib GROUP BY 1, 2
),
ranked AS (
  SELECT doc_id, query_id, score,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, query_id) AS rn,
         count(*) FILTER (WHERE score > 0) OVER (PARTITION BY doc_id)
           AS n_matched
  FROM perq
)
SELECT doc_id, query_id AS best_query_id,
       round(score / 1000000.0, 6) AS best_bm25,
       n_matched::INT AS n_queries_matched
FROM ranked WHERE rn = 1 ORDER BY doc_id"""
    out["embedding_drift_report"] = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
ex AS (
  SELECT label, unnest(range(1, len(emb) + 1)) AS pos, unnest(emb) AS v FROM e
),
cent AS (SELECT label, pos, round(avg(v), 6) AS c FROM ex GROUP BY 1, 2),
cl AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label),
g AS (SELECT pos, round(avg(v), 6) AS gc FROM ex GROUP BY pos),
gl AS (SELECT list(gc ORDER BY pos) AS gcent FROM g),
member AS (
  SELECT e.label,
         round(list_dot_product(e.emb, gl.gcent)
               / (sqrt(list_dot_product(e.emb, e.emb))
                  * sqrt(list_dot_product(gl.gcent, gl.gcent))), 6) AS cos
  FROM e, gl
),
per AS (
  SELECT label, count(*)::BIGINT AS n_vecs,
         round(avg(round(cos * 1e6))) / 1e6 AS avg_member_cos_to_global
  FROM member GROUP BY label
),
cvg AS (
  SELECT cl.label,
         round(sqrt(list_dot_product(cl.centroid, cl.centroid)), 6)
           AS centroid_norm,
         round(list_dot_product(cl.centroid, gl.gcent)
               / (sqrt(list_dot_product(cl.centroid, cl.centroid))
                  * sqrt(list_dot_product(gl.gcent, gl.gcent))), 6)
           AS centroid_cos_to_global
  FROM cl, gl
),
tot AS (SELECT sum(n_vecs)::BIGINT AS t_vecs FROM per)
SELECT p.label, p.n_vecs,
       {_md("p.n_vecs", "t.t_vecs")} AS vec_share_ppm,
       c.centroid_norm, c.centroid_cos_to_global,
       p.avg_member_cos_to_global
FROM per p JOIN cvg c USING (label), tot t ORDER BY p.label"""
    out["incremental_cache_plan"] = _incremental_cache_plan_sql()
    out["freshness_observations_append"] = _freshness_append_sql()
    out["freshness_latest_snapshot"] = _freshness_latest_snapshot_sql()
    out["reports_catalog"] = _reports_catalog_sql()
    out["report_prompts"] = _report_prompts_sql()
    return out
