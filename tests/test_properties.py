"""Property-based tests (hypothesis) for the pure deterministic
helpers that both the Spark operators and the generated oracle SQL
depend on — these must hold for ANY input, not just the testdata."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from forest_open_data_pipelines_spark.operators.dedup import (
    MINHASH_P,
    minhash_coeffs,
)
from forest_open_data_pipelines_spark.sources.formats import (
    detect_delimiter,
    format_from_filename,
)
from forest_open_data_pipelines_spark.streaming.sessions import _round_half_up


@given(st.integers(min_value=1, max_value=64))
def test_minhash_coeffs_in_field_and_stable(n):
    coeffs = minhash_coeffs(n)
    assert len(coeffs) == n
    for a, b in coeffs:
        # a must be a unit (non-zero) so the affine map is a bijection
        # over Z_p — otherwise a hash collapses everything to b.
        assert 1 <= a < MINHASH_P
        assert 0 <= b < MINHASH_P
    # prefix-stability: extending the family never changes earlier coeffs
    assert minhash_coeffs(max(1, n - 1)) == coeffs[: max(1, n - 1)]
    # exact int64 safety: worst-case a*x+b stays under 2^63
    x_max = MINHASH_P - 1
    assert (MINHASH_P - 1) * x_max + (MINHASH_P - 1) < 2**63


@given(
    st.lists(
        st.lists(st.text(alphabet="abcdefgh", min_size=1, max_size=6), min_size=2, max_size=6),
        min_size=2,
        max_size=8,
    ),
    st.sampled_from([";", ",", "|", "\t"]),
)
def test_detect_delimiter_roundtrip(rows, delim):
    """A clean table rendered with delimiter D sniffs back to D."""
    sample = "\n".join(delim.join(cells) for cells in rows)
    # csv.Sniffer needs consistent column counts; enforce
    width = len(rows[0])
    sample = "\n".join(delim.join((cells + ["x"] * width)[:width]) for cells in rows)
    assert detect_delimiter(sample, "csv") == delim


@given(st.floats(min_value=-1e9, max_value=1e9, allow_nan=False), st.integers(2, 6))
@settings(max_examples=200)
def test_round_half_up_matches_decimal_semantics(v, dp):
    import math

    r = _round_half_up(v, dp)
    # Half-step plus a few ulp: at |v| ~ 1e9 the rounded decimal is not
    # representable and both v and r carry O(ulp) representation error,
    # so the distance can legitimately exceed the pure half-step.
    assert abs(r - v) <= 0.5 * 10**-dp + 8 * math.ulp(max(abs(v), 1.0))
    # idempotent
    assert _round_half_up(r, dp) == r


@given(st.text(alphabet="abcXYZ019._-/", min_size=1, max_size=30))
def test_format_from_filename_total(name):
    fmt = format_from_filename(name)
    assert fmt  # never empty
    assert fmt == fmt.lower()
    assert "/" not in fmt


# ── region_rank state-label normalization ───────────────────────────────────

_STATE_BASES = [
    "São Paulo", "Pará", "Ceará", "Goiás", "Espírito Santo", "Paraná",
    "Piauí", "Rondônia", "Amapá", "Maranhão", "Paraíba", "Mato Grosso do Sul",
    "Rio Grande do Norte", "Distrito Federal", "SP", "MG", "to", "df", "",
    "Atlantis",
]


def _normalize_reference(value: str) -> str:
    """The reference's normalize_state_name
    (social/bdqueimadas_daily/pipeline.py:449-454), verbatim."""
    import unicodedata

    text = unicodedata.normalize("NFKD", str(value))
    text = "".join(ch for ch in text if not unicodedata.combining(ch))
    return " ".join(text.upper().strip().split())


@given(
    base=st.sampled_from(_STATE_BASES),
    prefix_ws=st.text(alphabet=" \t\xa0 　", max_size=3),
    suffix_ws=st.text(alphabet=" \t\xa0 　", max_size=3),
    case=st.sampled_from(["as-is", "upper", "lower", "title"]),
    inner_pad=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_normalize_state_label_matches_reference_nfkd(
    spark, base, prefix_ws, suffix_ws, case, inner_pad
):
    """The Catalyst translate-based normalization must agree with the
    reference's unicodedata NFKD strip over the state-label alphabet
    (every accented character Brazilian state names can carry, any
    case, padded or run-together whitespace)."""
    from pyspark.sql import functions as F

    from forest_open_data_pipelines_spark.operators.social import (
        normalize_state_label,
    )

    label = {
        "as-is": base,
        "upper": base.upper(),
        "lower": base.lower(),
        "title": base.title(),
    }[case]
    if inner_pad:
        label = label.replace(" ", "   ")
    label = prefix_ws + label + suffix_ws
    [row] = (
        spark.createDataFrame([(label,)], ["estado"])
        .select(normalize_state_label(F.col("estado")).alias("norm"))
        .collect()
    )
    assert row.norm == _normalize_reference(label)


@given(
    st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=60),
    st.integers(min_value=16, max_value=256),
)
@settings(max_examples=200)
def test_pack_group_kernel_greedy_invariants(sizes, budget):
    """The packing kernel must satisfy, for ANY size sequence: every
    item placed once in order; offsets are running fills; a new
    sequence opens iff the item would overflow the open one; only
    single-item sequences may exceed the budget."""
    import pandas as pd

    from forest_open_data_pipelines_spark.operators.packing import _pack_group

    pdf = pd.DataFrame(
        {
            "source": ["s"] * len(sizes),
            "doc_id": range(len(sizes)),
            "n_tokens": sizes,
        }
    )
    out = _pack_group(pdf.copy(), budget)
    assert list(out["doc_id"]) == list(range(len(sizes)))  # order kept
    fill: dict[int, int] = {}
    prev_seq = 0
    for _, r in out.iterrows():
        s = r["seq_id"]
        assert r["offset_in_seq"] == fill.get(s, 0)
        if s != prev_seq:
            assert s == prev_seq + 1
            assert fill[prev_seq] + r["n_tokens"] > budget  # genuinely full
            prev_seq = s
        fill[s] = fill.get(s, 0) + r["n_tokens"]
    for s, f in fill.items():
        n_items = (out["seq_id"] == s).sum()
        assert f <= budget or n_items == 1




@given(
    st.lists(
        st.text(
            alphabet="ab @.+-0123456789xyz", min_size=0, max_size=60
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=30, deadline=None)
def test_pii_redaction_is_idempotent_locally(texts):
    """Property (pure-Python twin of the Catalyst expressions): after
    redaction no pattern matches remain, so scrubbing a redacted text
    is a no-op — the invariant that makes re-running the scrub safe."""
    import re

    from forest_open_data_pipelines_spark.operators.curation import (
        PII_EMAIL_RE,
        PII_IP_RE,
        PII_PHONE_RE,
    )

    pats = [(PII_EMAIL_RE, "[EMAIL]"), (PII_IP_RE, "[IP]"), (PII_PHONE_RE, "[PHONE]")]

    def scrub(t):
        for p, repl in pats:
            t = re.sub(p, repl, t)
        return t

    for t in texts:
        once = scrub(t)
        assert scrub(once) == once


@given(
    st.lists(
        st.lists(
            st.sampled_from(["w%d" % i for i in range(8)]), min_size=1, max_size=50
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=15, deadline=None)
def test_chunk_dedup_invariants(spark, token_lists):
    """Invariants over random corpora: chunk accounting adds up, the
    first corpus occurrence of every chunk text survives, and each
    doc's kept_text is a subsequence of its chunks in order."""
    from forest_open_data_pipelines_spark.operators.curation import (
        CHUNK_TOKENS,
        chunk_dedup,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(t), "en", "s", 0) for i, t in enumerate(token_lists)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = {r["doc_id"]: r for r in chunk_dedup(docs).collect()}
    # recompute expected keep-first set in pure Python
    seen: set[str] = set()
    for i, toks in enumerate(token_lists):
        chunks = [
            " ".join(toks[j : j + CHUNK_TOKENS])
            for j in range(0, len(toks), CHUNK_TOKENS)
        ]
        kept = []
        for c in chunks:
            if c not in seen:
                seen.add(c)
                kept.append(c)
        r = out[i]
        assert r["n_chunks"] == len(chunks)
        assert r["n_kept"] == len(kept)
        assert r["n_dropped"] == len(chunks) - len(kept)
        assert r["kept_text"] == " ".join(kept)


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    st.lists(
        st.text(alphabet="abc ", min_size=1, max_size=40), min_size=2, max_size=6
    ),
    st.integers(min_value=1, max_value=8),
)
@settings(max_examples=10, deadline=None)
def test_edit_distance_pairs_matches_python_dp(spark, texts, k):
    """Random small corpora: the Ed-Join prefix + bounded-DP operator
    must emit exactly the pairs a pure-Python DP finds within k."""
    from forest_open_data_pipelines_spark.operators.dedup import (
        edit_distance_pairs,
    )

    def clean(t):
        return " ".join(t.split()).lower()

    docs = spark.createDataFrame(
        [(i, t, "en", "s", 0) for i, t in enumerate(texts)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["edit_distance"]
        for r in edit_distance_pairs(docs, max_dist=k).collect()
    }
    expected = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            d = _py_levenshtein(clean(texts[i]), clean(texts[j]))
            if d <= k:
                expected[(i, j)] = d
    assert got == expected


_FENCE_BODIES = [
    '{"insight": "i1", "hashtags": ["#h"]}',   # ok
    '{"insight": "only"}',                     # missing_keys
    '{"insight": }',                           # invalid
    '{"a": 1}',                                # missing both
]


@given(
    st.lists(
        st.one_of(
            st.text(alphabet="ab {}:,0", min_size=0, max_size=12),
            st.sampled_from(_FENCE_BODIES),
            st.sampled_from(
                ["```json\n" + b + "\n```" for b in _FENCE_BODIES]
                + ["```\n" + b + "\n``` tail" for b in _FENCE_BODIES]
            ),
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(max_examples=15, deadline=None)
def test_fenced_json_matches_stdlib_twin(spark, fragments):
    """Random assemblies of prose/fence/bare-object fragments: the
    operator's status/missing must equal the reference twin's
    (re.search fence-first, first-{/last-} fallback, json.loads
    strictness, required-key order). Fragments avoid double quotes in
    prose and braces inside JSON strings, so the documented
    string-blind-fold approximation never triggers."""
    import json
    import re

    from forest_open_data_pipelines_spark.operators.textops import (
        JSON_FENCE_RE,
        JSON_REQUIRED_KEYS,
        parse_fenced_json,
    )

    text = " ".join(fragments)
    fence_re = re.compile(JSON_FENCE_RE.replace("(?s)", ""), re.DOTALL)

    def twin(t):
        m = fence_re.search(t)
        if m:
            cand = m.group(1)
        else:
            first, last = t.find("{"), t.rfind("}")
            if first == -1 or last <= first:
                return ("no_json", None)
            cand = t[first : last + 1]
        try:
            parsed = json.loads(cand)
        except ValueError:
            return ("invalid_json", None)
        if not isinstance(parsed, dict):
            return ("invalid_json", None)
        missing = [k for k in JSON_REQUIRED_KEYS if k not in parsed]
        return ("missing_keys" if missing else "ok", ",".join(missing))

    responses = spark.createDataFrame([(0, text)], ["doc_id", "response"])
    got = parse_fenced_json(responses).collect()[0]
    status, missing = twin(text)
    assert got["status"] == status, (text, got, status)
    if status in ("ok", "missing_keys"):
        assert got["missing_keys"] == missing


@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=10, deadline=None)
def test_tfidf_matches_python_twin(spark, docs_words):
    """Random small corpora: per-doc top-k terms, scores, and the
    (score DESC, term ASC) tie-break must equal a pure-Python
    reproduction of the micro-bit idf scoring."""
    import math

    from forest_open_data_pipelines_spark.operators.textops import (
        TFIDF_TOP_K,
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(ws), "en", "s", 0) for i, ws in enumerate(docs_words)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = [
        (r["doc_id"], r["rank"], r["term"], r["tf"], r["df"], r["tfidf"])
        for r in tfidf_top_terms(docs).collect()
    ]
    n = len(docs_words)
    tf = {}
    for i, ws in enumerate(docs_words):
        for w in ws:
            tf[(i, w)] = tf.get((i, w), 0) + 1
    df = {}
    for (_, w) in tf:
        df[w] = df.get(w, 0) + 1
    expected = []
    for i in range(n):
        terms = [(w, c) for (d, w), c in tf.items() if d == i]
        scored = []
        for w, c in terms:
            idf_micro = round(math.log2((n + 1) / (df[w] + 1)) * 1e6)
            scored.append((-(c * idf_micro), w, c))
        scored.sort()
        for rank, (neg_s, w, c) in enumerate(scored[:TFIDF_TOP_K], 1):
            expected.append((i, rank, w, c, df[w], round(-neg_s / 1e6, 6)))
    assert got == expected


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.datetimes(
                min_value=__import__("datetime").datetime(1990, 1, 1),
                max_value=__import__("datetime").datetime(2049, 12, 28),
            ).map(lambda d: d.replace(microsecond=0)),
            st.sampled_from(
                ["GMT", "+0100", "+0230", "-0300", "-1130", "+0000"]
            ),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_rfc2822_signal_matches_stdlib_parsedate(spark, stamps):
    """Random wall-clock datetimes × offsets rendered as RFC-2822
    Last-Modified headers: the operator's micros offset arithmetic
    must land on exactly the UTC instant email.utils.
    parsedate_to_datetime computes (the reference's parser,
    freshness/watch.py:199)."""
    from datetime import timezone
    from email.utils import parsedate_to_datetime

    from pyspark.sql import functions as F

    from forest_open_data_pipelines_spark.operators.freshness import (
        RFC2822_MONTHS,
        RFC2822_RE,
        _utc_from_parts,
    )

    headers = []
    for dt, tz in stamps:
        headers.append(
            f"Tue, {dt.day} {RFC2822_MONTHS[dt.month - 1]} {dt.year} "
            f"{dt:%H:%M:%S} {tz}"
        )
    df = spark.createDataFrame([(h,) for h in headers], "hdr string")
    g = lambda i: F.nullif(F.regexp_extract("hdr", RFC2822_RE, i), F.lit(""))
    mon = F.array_position(
        F.array(*[F.lit(m) for m in RFC2822_MONTHS]), g(2)
    ).cast("int")
    out = df.select(
        "hdr",
        _utc_from_parts(
            g(3).cast("int"), mon, g(1).cast("int"),
            g(4).cast("int"), g(5).cast("int"), g(6).cast("int"),
            g(7), gmt_token="GMT",
        ).alias("ts"),
    ).collect()
    got = {r.hdr: r.ts for r in out}
    for h in headers:
        expected = parsedate_to_datetime(h)
        if expected.tzinfo is None:  # GMT parses aware; offsets too
            expected = expected.replace(tzinfo=timezone.utc)
        expected = expected.astimezone(timezone.utc).replace(tzinfo=None)
        assert got[h] == expected, h


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.datetimes(
                min_value=__import__("datetime").datetime(1990, 1, 1),
                max_value=__import__("datetime").datetime(2049, 12, 28),
            ).map(lambda d: d.replace(microsecond=0)),
            st.sampled_from(["Z", "+01:00", "+02:30", "-03:00", "-11:30", ""]),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_iso_signal_matches_stdlib_fromisoformat(spark, stamps):
    """Random datetimes × ISO suffixes (Z / ±HH:MM / naive): the
    operator's arithmetic must equal the reference's
    datetime.fromisoformat + naive-assumed-UTC astimezone chain
    (freshness/watch.py:240-258)."""
    from datetime import datetime as _dt
    from datetime import timezone

    from pyspark.sql import functions as F

    from forest_open_data_pipelines_spark.operators.freshness import (
        ISO_SIGNAL_RE,
        _utc_from_parts,
    )

    vals = [f"{dt.isoformat()}{sfx}" for dt, sfx in stamps]
    df = spark.createDataFrame([(v,) for v in vals], "iso string")
    g = lambda i: F.nullif(F.regexp_extract("iso", ISO_SIGNAL_RE, i), F.lit(""))
    out = df.select(
        "iso",
        _utc_from_parts(
            g(1).cast("int"), g(2).cast("int"), g(3).cast("int"),
            g(4).cast("int"), g(5).cast("int"), g(6).cast("int"),
            g(7), gmt_token="Z",
        ).alias("ts"),
    ).collect()
    got = {r.iso: r.ts for r in out}
    for v in vals:
        text = v[:-1] + "+00:00" if v.endswith("Z") else v
        expected = _dt.fromisoformat(text)
        if expected.tzinfo is None:
            expected = expected.replace(tzinfo=timezone.utc)
        expected = expected.astimezone(timezone.utc).replace(tzinfo=None)
        assert got[v] == expected, v


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),
            st.integers(min_value=1, max_value=10**9),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_micro_div_matches_fraction_half_up(spark, pairs):
    """functions.columns.micro_div (shared by overlap/containment/
    transition-probability columns) must equal exact Fraction
    arithmetic with HALF_UP at 6 dp for any non-negative num and
    positive den — no float is allowed near the boundary."""
    from fractions import Fraction

    from forest_open_data_pipelines_spark.functions.columns import micro_div

    df = spark.createDataFrame(pairs, "num long, den long")
    got = [
        r.m for r in df.select(micro_div("num", "den").alias("m")).collect()
    ]
    want = []
    for num, den in pairs:
        q = Fraction(num * 1_000_000, den)
        floor = q.numerator // q.denominator
        rem = q - floor
        want.append(floor + (1 if rem * 2 >= 1 else 0))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.text(alphabet="abcdefgh ", min_size=40, max_size=120),
    st.text(alphabet="qrstuvwx ", min_size=40, max_size=120),
    st.text(alphabet="jklmnop", min_size=11, max_size=30),
    st.integers(min_value=0, max_value=30),
)
def test_winnowing_detection_floor_property(spark, a_text, b_text, planted, pos):
    """The winnowing guarantee, pinned as a property: ANY verbatim run
    of at least w+k−1 = 11 chars shared by two documents must yield at
    least one shared fingerprint — so the pair appears at the
    unfiltered thresholds no matter what surrounds the run."""
    from forest_open_data_pipelines_spark.operators.dedup import (
        dedup_winnowing,
    )

    cut = min(pos, len(a_text))
    d1 = (a_text[:cut] + planted + a_text[cut:]).strip() or planted
    cut_b = min(pos, len(b_text))
    d2 = (b_text[:cut_b] + planted + b_text[cut_b:]).strip() or planted
    docs = spark.createDataFrame(
        [(1, d1, "en", "s", len(d1)), (2, d2, "en", "s", len(d2))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup_winnowing(docs, tau_micro=0, min_shared=1).collect()
    }
    assert (1, 2) in pairs
