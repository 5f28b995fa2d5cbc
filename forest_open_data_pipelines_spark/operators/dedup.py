"""Deduplication family over the ``documents`` table.

First-class LLM-training-data operators (SURVEY.md §2.E), mirroring
the reference's URL-normalized merge/dedup
(``datasets/noticias_agricolas/merge.py:10-64``) and extending it to
content-level exact and near-duplicate detection at corpus scale.

Scale design: no operator here materializes the O(n²) pair space.
- exact: hash-groupBy (one shuffle on a 32-byte key).
- n-gram Jaccard: one shingler (``_word_ngrams``), one exact pair set
  (``dedup_ngram_ppjoin``: prefix-prefix equi-join, then
  ``_jaccard_verified`` — the one verify every n-gram path shares).
- containment: stop-listed shared-shingle equi-join, count-shaped
  verify (``dedup_containment``).
- minhash-LSH: candidates only from band-bucket equi-joins — the
  canonical 100 TB path.
- simhash: one Arrow signature kernel, hamming-band buckets.

Hashes are md5-derived everywhere so an external engine (the DuckDB
oracle) can reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from forest_open_data_pipelines_spark.functions.columns import (
    cosine,
    dot,
    micro_div,
    norm,
    ratio,
)
from forest_open_data_pipelines_spark.operators.textops import clean_text
from forest_open_data_pipelines_spark.runtime import checkpoint, persist, unpersist
# re-exported: perfbench/workloads.py imports release_persisted from here
from forest_open_data_pipelines_spark.runtime import release_persisted  # noqa: F401
from forest_open_data_pipelines_spark.sources.tables import spread


# 60-bit integer from the first 15 hex chars of md5 — portable across
# engines (fits signed 64-bit everywhere).
def _md5_int(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# MinHash universe: affine hashes (a_i·x + b_i) mod MINHASH_P over a
# 31-bit md5-derived base value per shingle. One md5 per shingle total
# (not per hash function); products stay < 2^62 so the arithmetic is
# exact in int64 on any engine.
MINHASH_P = 2_147_483_647  # 2^31 - 1 (prime)

# Hot-shingle stop-list of ``dedup_containment``: shingles in more than
# this fraction of documents are dropped from its candidate generation
# (floor of 2 docs so tiny corpora keep all pair-forming shingles).
# Shared with the DuckDB oracle so both sides apply the identical cap.
NGRAM_MAX_DF = 0.01


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs derived from md5 — identical for
    the Spark operator and the generated oracle SQL."""
    import hashlib

    coeffs = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"minhash-a-{i}".encode()).hexdigest()[:15], 16) % (
            MINHASH_P - 1
        ) + 1
        b = int(hashlib.md5(f"minhash-b-{i}".encode()).hexdigest()[:15], 16) % MINHASH_P
        coeffs.append((a, b))
    return coeffs


def _word_ngrams(toks: Column, n: int = 3) -> Column:
    """Word n-grams (in order, duplicates kept) of a token-array column
    — the one n-gram fold behind every shingle table; a document with
    fewer than ``n`` tokens is its own single gram.

    Built by zip_with over n shifted slices of the token array — one
    pass, no per-index re-slicing (the naive transform(sequence(...),
    i -> array_join(slice(toks, i, n))) form re-evaluates the token
    expression per element in Spark's interpreted higher-order-function
    path and benches ~5× slower)."""
    sz = F.size(toks)
    m = sz - (n - 1)
    acc = F.slice(toks, n, m)
    for i in range(n - 2, -1, -1):
        acc = F.zip_with(
            F.slice(toks, i + 1, m), acc, lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(sz >= n, acc).otherwise(F.array(F.array_join(toks, " ")))


def _token_table(documents: DataFrame) -> DataFrame:
    """(doc_id, toks) with tokenization in its OWN projection.

    The separate select is load-bearing: the lower/clean/split chain is
    non-cheap and referenced by every shifted slice of ``_word_ngrams``,
    so Catalyst's CollapseProject keeps the boundary and the regexes run
    once per row instead of once per shingle."""
    toks = F.split(F.lower(clean_text(F.col("text"))), " ")
    return spread(documents).select("doc_id", toks.alias("toks"))


def shingle_table(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingles) — the distinct word n-gram strings."""
    grams = _word_ngrams(F.col("toks"), n)
    return _token_table(documents).select(
        "doc_id", F.array_distinct(grams).alias("shingles")
    )


def hashed_shingle_table(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, hashes) — distinct 60-bit md5 ints of the word n-grams.

    Hash-then-distinct: the n-gram strings are hashed BEFORE
    deduplication so array_distinct compares longs, not strings —
    ~4× cheaper than ``shingle_table`` + hashing, with the identical
    value set up to md5 collisions (~|grams|²/2⁶⁰ per doc). Every dedup
    operator consumes hashes, never the strings, so this is the shared
    entry point."""
    grams = _word_ngrams(F.col("toks"), n)
    return _token_table(documents).select(
        "doc_id", F.array_distinct(F.transform(grams, _md5_int)).alias("hashes")
    )


def dual_hashed_shingle_table(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, hashes, hashes2) — TWO independent 60-bit hash streams
    per distinct shingle, position-aligned (h2 = md5 of the
    '#'-prefixed gram).

    One 60-bit md5 cannot feed 64 independent signature bits (bits
    60-63 would be constant zero), so the 64-bit simhash draws bits
    0-31 from h1 and bits 32-63 from h2. Distinct runs on the GRAM
    strings (not the hashes) so the two streams stay aligned; same
    value set as ``hashed_shingle_table`` up to md5 collisions."""
    return shingle_table(documents, n).select(
        "doc_id",
        F.transform("shingles", _md5_int).alias("hashes"),
        F.transform(
            "shingles", lambda g: _md5_int(F.concat(F.lit("#"), g))
        ).alias("hashes2"),
    )


def _jaccard_verified(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float
) -> DataFrame:
    """(a, b, jaccard) for the candidate pairs whose exact hash-set
    Jaccard ``|∩| / |∪|`` (6-dp ``ratio``) is ≥ ``threshold`` — the one
    verify of every n-gram near-dup path. ``cand`` holds the two key
    columns (a, b); ``sh_a`` and ``sh_b`` are (key, hashes) tables
    joined to them by position. Shingles are carried as 60-bit md5
    ints, so this equals the string-set Jaccard up to md5 collisions
    (~|sh|²/2⁶⁰ per pair)."""
    a, b = cand.columns
    jaccard = ratio(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b"))
    )
    return (
        cand.join(sh_a.toDF(a, "sh_a"), a)
        .join(sh_b.toDF(b, "sh_b"), b)
        .select(a, b, jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact dedup by normalized-content fingerprint: one row per
    fingerprint with the canonical (min) doc id and group size.

    Reference: merge.py:18-64 dedups listings by normalized URL key and
    keeps min rank; same shape with the content hash as the key.
    """
    key = F.lower(clean_text(F.col("text")))
    return (
        documents.select(F.md5(key).alias("content_fingerprint"), "doc_id")
        .groupBy("content_fingerprint")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_docs"))
        .orderBy("content_fingerprint")
    )


WINNOW_K = 8  # char k-gram length
WINNOW_W = 4  # winnowing window; guarantees matches >= w+k-1 chars register
WINNOW_TAU_MICRO = 700_000  # overlap-coefficient cutoff, 6-dp integer
WINNOW_MAX_DF = 0.02  # hot-fingerprint stop rate (of n_docs)
WINNOW_MIN_SHARED = 3  # floor: |A∩B| of 1-2 makes tiny sets trivially "full"


def winnowing_fingerprint_frame(cleaned: DataFrame, k: int, w: int) -> DataFrame:
    """Distinct (doc_id, fp) winnowing fingerprints over a cleaned
    (doc_id, t) frame — ONE definition of the gram/selection geometry
    shared by ``dedup_winnowing`` and ``winnowing_incremental`` (the
    SQL twins share their CTE builder the same way).

    ZERO-SHUFFLE shape (optimization r12, guide §2.4): the selection is
    a pure per-document function of the gram-hash sequence, so the
    whole frame is per-row array expressions — gram array → hash array
    → rightmost-min-of-window per position → per-doc distinct →
    explode. The previous formulation posexploded every char k-gram
    and ran two windows over the gram stream (doc_id Exchange + sort of
    ~len(text) rows per doc) plus a global distinct Exchange; all three
    exchanges are gone and the per-position work is identical
    (min-of-w comparisons — Spark's sliding window frame recomputed
    its min per row too). The rightmost-on-ties selection is the same
    lexicographic struct min: min(struct(hash, -pos)).

    The selected VALUE per window is simply the window's min hash —
    the classic rightmost-on-ties rule only decides which POSITION is
    credited, and this frame never emits positions — so the selection
    is ``array_min(slice(h, p+1, w))`` on a plain long array (no
    per-element struct allocation; ``slice`` clips at the array end
    exactly like the old window frame did when n < w). Each array is
    staged as a real projection column and referenced by attribute
    from the next stage's lambdas, so nothing re-evaluates per element
    (the staged_repetition_arrays discipline).
    """
    gram_arr = F.expr(
        f"CASE WHEN length(t) >= {k} THEN transform(sequence(1, length(t) - {k - 1}),"
        f" i -> substring(t, i, {k})) ELSE array(t) END"
    )
    hashed = cleaned.select("doc_id", gram_arr.alias("_g")).select(
        "doc_id", F.transform("_g", lambda g: _md5_int(g)).alias("h")
    )
    # positions p = 0 .. max(n_grams - w, 0): one window-min per kept
    # position, then the per-doc distinct — the winnowing selection
    fps = F.expr(
        f"transform(sequence(0, greatest(size(h) - {w}, 0)),"
        f" p -> array_min(slice(h, p + 1, {w})))"
    )
    return hashed.select(
        "doc_id", F.explode(F.array_distinct(fps)).alias("fp")
    )


def dedup_winnowing(
    documents: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    tau_micro: int = WINNOW_TAU_MICRO,
    max_df: float = WINNOW_MAX_DF,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs (Schleimer, Wilkerson &
    Aiken 2003 — the MOSS plagiarism-detection selection, public
    algorithm): hash every char ``k``-gram, slide a window of ``w``
    consecutive hashes, select each window's MINIMUM (rightmost on
    ties), and compare documents by their distinct fingerprint sets.
    The selection keeps ~2/(w+1) of the gram stream yet GUARANTEES any
    verbatim match of at least w+k-1 chars contributes a shared
    fingerprint — a detection floor none of the sampling-based
    families (minhash/simhash) offer. Pairs report the overlap
    coefficient |A∩B|/min(|A|,|B|) in exact 6-dp integer micro-units
    (DIV + half-up remainder arithmetic, no float boundary).

    The rightmost-min-of-window selection is ONE expression on both
    engines: ``min(struct(hash, -pos))`` over a ``[CURRENT, w-1
    FOLLOWING]`` frame — lexicographic struct ordering gives the
    min-hash with the max position among ties, and the same window
    evaluates identically in DuckDB, so the oracle mirrors the
    construction rather than approximating it.

    Scale: the gram explode reduces ~(w+1)/2× at the selection before
    anything shuffles wide; the pair join is banded by fingerprint
    value with the ``dedup_containment`` hot-key convention
    (fingerprints in more than ``greatest(8, max_df·n_docs)`` docs are
    boilerplate and stop-listed; overlap is defined over the non-hot
    sets on both engines) — never all-pairs. Both per-doc windows
    (gram count, winnow min) share one doc_id exchange and sort.
    """
    base = persist(
        spread(documents).select(
            "doc_id", F.lower(clean_text(F.col("text"))).alias("t")
        )
    )
    fps = persist(winnowing_fingerprint_frame(base, k, w))
    n_docs = F.broadcast(base.agg(F.count(F.lit(1)).alias("n_docs")))
    cap_ok = F.col("df") <= F.greatest(F.lit(8.0), F.lit(max_df) * F.col("n_docs"))
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(n_docs)
        .where(cap_ok)
        .select("fp")
    )
    kept = persist(fps.join(keep, "fp"))
    counts = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nfp"))
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(
            counts.select(F.col("doc_id").alias("doc_a"), F.col("nfp").alias("na")),
            "doc_a",
        )
        .join(
            counts.select(F.col("doc_id").alias("doc_b"), F.col("nfp").alias("nb")),
            "doc_b",
        )
    )
    overlap = micro_div("n_shared", "least(na, nb)")
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            overlap.cast("long").alias("overlap_micro"),
        )
        .where(
            (F.col("overlap_micro") >= tau_micro)
            & (F.col("n_shared") >= min_shared)
        )
        .orderBy("doc_a", "doc_b")
    )


def build_winnowing_index(
    base_docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_df: float = WINNOW_MAX_DF,
) -> tuple[DataFrame, DataFrame]:
    """(kept base fingerprints (base_id, fp), hot fingerprint set) —
    the two tables a production pipeline PERSISTS between compactions
    as its winnowing index (the streaming gate reads them back; the
    batch op builds them inline). Hot = fingerprints in more than
    greatest(8, max_df·n_base) base docs: stop-listed from the index
    so boilerplate can neither blow up the classify join nor inflate
    containment."""
    cleaned = spread(base_docs).select(
        "doc_id", F.lower(clean_text(F.col("text"))).alias("t")
    )
    # persist (optimization r13): BOTH index tables derive from the
    # fingerprint frame — hot is its df aggregate, base_k its anti-join
    # against hot — so materializing them ran the full fingerprint
    # projection (the per-char md5 transform, the expensive part since
    # the r12 zero-shuffle rewrite) TWICE per index build. One pinned
    # (doc_id, fp) pass serves both; freed with the query scope like
    # every other signature table.
    fp_base = persist(winnowing_fingerprint_frame(cleaned, k, w))
    n_base = F.broadcast(
        base_docs.select("doc_id").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    hot = (
        fp_base.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(n_base)
        .where(F.col("df") > F.greatest(F.lit(8.0), F.lit(max_df) * F.col("n_docs")))
        .select("fp")
    )
    base_k = fp_base.join(hot, "fp", "left_anti").select(
        F.col("doc_id").alias("base_id"), "fp"
    )
    return base_k, hot


def classify_against_winnowing_index(
    new_docs: DataFrame,
    base_k: DataFrame,
    hot: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    tau_micro: int = WINNOW_TAU_MICRO,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """Classify ``new_docs`` against a prebuilt winnowing index —
    verdict-identical to ``winnowing_incremental(new, base)`` run
    against the index's source corpus (asserted in tests). Pure
    function of (records, index): safe to run per micro-batch from
    the streaming gate (no persists here — the index is what the
    caller persists; a micro-batch is cheap to recompute)."""
    cleaned = spread(new_docs).select(
        "doc_id", F.lower(clean_text(F.col("text"))).alias("t")
    )
    new_k = winnowing_fingerprint_frame(cleaned, k, w).join(hot, "fp", "left_anti")
    nfp = new_k.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nfp"))
    shared = (
        new_k.join(base_k, "fp")
        .groupBy("doc_id", "base_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    best_w = Window.partitionBy("doc_id").orderBy(
        F.col("n_shared").desc(), F.col("base_id")
    )
    containment = micro_div("n_shared", "nfp")
    best = (
        shared.withColumn("rn", F.row_number().over(best_w))
        .where(F.col("rn") == 1)
        .join(nfp, "doc_id")
        .select(
            "doc_id",
            F.col("base_id").alias("best_base_id"),
            F.col("n_shared").cast("long").alias("n_shared"),
            containment.cast("long").alias("containment_micro"),
        )
    )
    return (
        new_docs.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "best_base_id",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.coalesce("containment_micro", F.lit(0))
            .cast("long")
            .alias("containment_micro"),
            F.when(
                (F.coalesce("containment_micro", F.lit(0)) >= tau_micro)
                & (F.coalesce("n_shared", F.lit(0)) >= min_shared),
                F.lit("dup"),
            )
            .otherwise(F.lit("new"))
            .alias("status"),
        )
        .orderBy("doc_id")
    )


def winnowing_incremental(
    new_docs: DataFrame,
    base_docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    tau_micro: int = WINNOW_TAU_MICRO,
    max_df: float = WINNOW_MAX_DF,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """Incremental winnowing gate — ``dedup_incremental``'s daily-batch
    shape at the fingerprint granularity: classify each NEW document
    against the accumulated BASE corpus by shared winnowing
    fingerprints, reporting the best-matching base doc and the
    CONTAINMENT of the new doc in base (|shared| / |new non-hot
    fingerprints| in exact half-up micro-units) — 'how much of this
    incoming document has the corpus already seen', with the winnowing
    detection floor (any ≥ w+k−1-char verbatim run shared with base
    contributes a fingerprint).

    Composes ``build_winnowing_index`` (the persisted-index build) +
    ``classify_against_winnowing_index`` (the pure per-batch
    classifier) — the identical pieces the streaming gate
    (``streaming.classify.classify_stream``) runs per micro-batch.

    Scale: base fingerprints are the persisted INDEX a pipeline
    maintains; only the new batch is winnowed fresh, and the equi-join
    shuffles the small batch into base's fingerprint key space — never
    new×base pairs. Status: 'dup' when containment ≥ tau AND shared ≥
    min_shared, else 'new'; every new doc gets a row.
    """
    base_k, hot = build_winnowing_index(base_docs, k, w, max_df)
    return classify_against_winnowing_index(
        new_docs, persist(base_k), persist(hot), k, w, tau_micro, min_shared
    )


def dedup_containment(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.9,
    max_df: float = NGRAM_MAX_DF,
) -> DataFrame:
    """Near-supersets by n-gram CONTAINMENT: pairs where the smaller
    document's shingle set is mostly inside the larger's —
    ``|A∩B| / min(|A|, |B|) ≥ threshold``.

    The asymmetric-overlap complement of ``dedup_ngram_ppjoin``: a
    quote, excerpt, or wrapped re-post of a long article has high
    containment but LOW Jaccard (the union is dominated by the longer
    document), so a Jaccard-only pass ships duplicated passages into
    training data. Broder's containment measure, symmetrized with
    ``min`` so one verdict row covers either direction.

    STOP-LIST CONTRACT: candidate pairs come from a shared-shingle
    equi-join over COLD shingles only. A shingle in more than
    ``greatest(2, max_df·n_docs)`` documents is hot — at corpus scale a
    shingle shared by 1% of documents forms a quadratic join bucket
    that AQE can split but not shrink — and forms no candidate. A pair
    whose every shared shingle is hot is therefore not paired: in
    particular a cluster of more than ``greatest(2, 0.01·n_docs)``
    identical copies yields no pairs at all. Every emitted score is the
    EXACT containment over the full sets (hot shingles included). The
    DuckDB oracle applies the identical cap. The join key is the 60-bit
    md5 of the shingle — an 8-byte shuffle key.

    Verification is count-shaped (no big-array intersects per pair):
    the cold-shingle self-join counts each pair's common COLD shingles
    map-side into the pair groupBy, and the hot remainder is added from
    per-doc HOT-shingle arrays (bounded by the stop-list to a handful
    of entries per doc) attached to the surviving pairs. The document
    frequency is a count window over the shingle key, computed ONCE and
    persisted for its four consumers (both join sides, the cold filter,
    the hot-array aggregate) — without the persist each re-runs the
    explode + shingle shuffle + window.
    """
    sh = persist(hashed_shingle_table(documents, n))
    n_docs = sh.agg(F.count("*").alias("n_docs"))
    ex = persist(
        sh.select(
            "doc_id", F.size("hashes").alias("n_sh"), F.explode("hashes").alias("s")
        )
        .withColumn("df", F.count("*").over(Window.partitionBy("s")))
        .join(F.broadcast(n_docs))
    )
    cap = F.greatest(F.lit(2.0), F.lit(max_df) * F.col("n_docs"))
    cold_ex = ex.where(F.col("df") <= cap)
    hot_per_doc = ex.where(F.col("df") > cap).groupBy("doc_id").agg(
        F.collect_list("s").alias("hot_sh")
    )
    a = cold_ex.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "s")
    b = cold_ex.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"), "s")
    pairs = (
        a.join(b, "s")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("common_cold"))
        .join(hot_per_doc.toDF("doc_a", "hot_a"), "doc_a", "left")
        .join(hot_per_doc.toDF("doc_b", "hot_b"), "doc_b", "left")
    )
    # Coalesce the ARRAYS (not the size): under legacy ANSI-off sessions
    # size(NULL) is -1, not NULL, so coalescing the size would silently
    # undercount common by 1 for pairs where one side has no hot
    # shingles. Empty-array fallback is mode-independent.
    empty = F.array().cast("array<long>")
    common = F.col("common_cold") + F.size(
        F.array_intersect(F.coalesce("hot_a", empty), F.coalesce("hot_b", empty))
    )
    containment = ratio(common / F.least(F.col("n_a"), F.col("n_b")))
    return (
        pairs.select("doc_a", "doc_b", containment.alias("containment"))
        .where(F.col("containment") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def minhash_band_frame(
    sh: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(doc_id, band_id, band_hash) LSH band rows off a hashed-shingle
    table — the shared signature builder of ``dedup_minhash`` and
    ``dedup_incremental``. All array lambdas, one row per doc before
    the band explode, map-side only."""
    rows_per_band = num_hashes // bands
    bases = F.transform(F.col("hashes"), lambda h: h % MINHASH_P)

    def _affine(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_P

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("bases"), _affine(a, b)))
            for a, b in minhash_coeffs(num_hashes)
        ]
    )
    return (
        sh.select("doc_id", bases.alias("bases"))
        .select("doc_id", sig.alias("signature"))
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(band).alias("band_id"),
                            F.md5(
                                F.array_join(
                                    F.transform(
                                        F.slice(
                                            "signature",
                                            band * rows_per_band + 1,
                                            rows_per_band,
                                        ),
                                        lambda x: x.cast("string"),
                                    ),
                                    ",",
                                )
                            ).alias("band_hash"),
                        )
                        for band in range(bands)
                    ]
                )
            ).alias("band"),
        )
        .select("doc_id", "band.band_id", "band.band_hash")
    )


def _minhash_candidates(
    sh: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs sharing at least one MinHash band
    of a hashed-shingle table — the band self-join of ``dedup_minhash``
    and ``dedup_threshold_sweep``. The banded signatures are persisted:
    without it each join side re-runs the signature pipeline."""
    sigs = persist(minhash_band_frame(sh, num_hashes, bands))
    return (
        sigs.alias("x")
        .join(sigs.alias("y"), ["band_id", "band_hash"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )


def dedup_minhash(
    documents: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, verified by exact Jaccard.

    bands×rows = num_hashes; a pair is a candidate iff some band of the
    signature matches exactly (equi-join on (band_id, band_hash) — the
    only shuffle that scales with corpus size). Candidates are then
    verified with exact shingle Jaccard, so the output is a strict
    subset of ``dedup_ngram_ppjoin`` at the same threshold.

    The hashed-shingle table and banded signatures are persisted: both
    feed a self-join, and without the persist Spark recomputes the whole
    tokenize→shingle→md5 pipeline once per join side (2× here, 2× again
    in verification). At cluster scale this is the standard
    materialize-the-signature-table step of every LSH dedup pipeline.
    """
    sh = persist(hashed_shingle_table(documents, n))
    cand = _minhash_candidates(sh, num_hashes, bands)
    return _jaccard_verified(cand, sh, sh, threshold).orderBy("doc_a", "doc_b")


def _simhash_bit_value(j: int) -> int:
    """Signed-64 value of signature bit ``j``. Bit 63 is the sign bit:
    the Python literal ``1 << 63`` does not fit a signed long, so the
    two's-complement value (min long) is used. The DuckDB twin sums
    these decimal literals (its ``1::BIGINT << 63`` raises Out of
    Range, so the oracle ships a VALUES table); the Spark kernel sets
    the same bits in an unsigned word and reinterprets it as signed."""
    return (1 << j) if j < 63 else -(1 << 63)


def simhash_signatures(documents: DataFrame, bits: int = 32, n: int = 3) -> DataFrame:
    """Per-doc SimHash over distinct word-n-gram shingles: bit j is the
    sign of Σ_shingles (±1 by one bit of the shingle's hash). Bits
    below 32 test bit j of h1 (``hashed_shingle_table``'s md5); bits 32
    and up test bit j-32 of the independent h2 stream
    (``dual_hashed_shingle_table``) — one 60-bit md5 cannot feed 64
    independent bits. The signature lands in one signed long; bit 63
    set ⇒ negative signature.

    Shingles (not unigrams) are the features: the synthetic corpus
    shares one small vocabulary, so unigram token sets are near-equal
    across unrelated docs and only order-sensitive features
    discriminate.

    The sign sums run in ONE Arrow-batched numpy pass over the hash
    arrays (the md5s themselves stay JVM-side), vectorized across every
    shingle of the batch: per bit, a weighted ``bincount`` of the bit
    over each row's shingles gives its ones count, and the bit is set
    iff 2·ones > |shingles| (exactly the ±1 fold's sign test). The
    Catalyst formulation is one interpreted aggregate fold per bit per
    document — ~|shingles|·bits lambda evaluations — and measured 4.3 s
    at sf0.1 for 64 bits where this kernel takes a few hundred ms. A
    null hash votes as a zero bit, as it did in the fold; the DuckDB
    oracle asserts the signatures bit-for-bit.
    """
    import numpy as np

    if not 0 < bits <= 64:
        raise ValueError(f"bits={bits} must be in 1..64")
    if bits <= 32:
        sh = hashed_shingle_table(documents, n)
        streams = [("hashes", range(bits))]
    else:
        sh = dual_hashed_shingle_table(documents, n)
        streams = [("hashes", range(32)), ("hashes2", range(bits - 32))]
    id_type = dict(sh.dtypes)["doc_id"]

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            n_sh = (
                batch.column("hashes").value_lengths().fill_null(0).to_numpy()
            )
            row = np.repeat(np.arange(batch.num_rows), n_sh)
            sig = np.zeros(batch.num_rows, dtype=np.uint64)
            offset = 0
            for col, bit_range in streams:
                h = (
                    batch.column(col)
                    .flatten()
                    .fill_null(0)
                    .to_numpy(zero_copy_only=False)
                )
                for j in bit_range:
                    ones = np.bincount(
                        row, weights=(h >> j) & 1, minlength=batch.num_rows
                    )
                    set_j = (2 * ones > n_sh).astype(np.uint64)
                    sig |= set_j << np.uint64(offset + j)
                offset += 32
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pa.array(sig.view(np.int64))],
                names=["doc_id", "simhash"],
            )

    cols = ["doc_id"] + [c for c, _ in streams]
    return sh.select(*cols).mapInArrow(kernel, f"doc_id {id_type}, simhash long")


def signature_blocks(
    df: DataFrame, id_col: str, sig_col: str, bits: int, max_hamming: int
) -> DataFrame:
    """Pigeonhole block keys for an (id, signature) table — the shared
    candidate generator of the hamming family (simhash self-joins AND
    the aHash two-sided index join in operators/multimodal.py): by
    pigeonhole, ≤ max_hamming differing bits spread over max_hamming+1
    disjoint blocks always leave at least one block identical, so a
    (part, key) equi-join has **perfect recall** (two half buckets —
    the naive choice — only guarantee hamming ≤ 1 and silently miss
    e.g. a 2+1 bit split). Output: (id_col, sig_col, part, key)."""
    n_blocks = max_hamming + 1
    if bits % n_blocks:
        raise ValueError(f"bits={bits} must be divisible by {n_blocks} blocks")
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    return df.select(
        id_col,
        sig_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("part"),
                        F.shiftright(F.col(sig_col), j * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for j in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select(id_col, sig_col, "b.part", "b.key")


def simhash_pairs(sigs: DataFrame, bits: int, max_hamming: int) -> DataFrame:
    """Hamming-≤``max_hamming`` pairs from a (doc_id, simhash) table —
    candidates from ``signature_blocks``'s pigeonhole equi-join
    (perfect recall; see its docstring), every candidate verified by
    full bit_count(xor).

    At corpus scale the knob is signature width: wider ``bits`` (64)
    gives wider blocks → exponentially smaller buckets → fewer candidate
    pairs per block, at the cost of more sign sums per doc.
    """
    bucketed = signature_blocks(sigs, "doc_id", "simhash", bits, max_hamming)
    x, y = bucketed.alias("x"), bucketed.alias("y")
    hamming = F.bit_count(
        F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
    )
    return (
        x.join(y, ["part", "key"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


#: Promoted default (round-6, per the measured dedup_method_eval sweep
#: at sf0.1): 64-bit signatures with the PROPORTIONAL hamming budget
#: max_hamming=7 (8 pigeonhole blocks × 8 bits) measure P=1.000
#: R=0.887 against the exact ngram-Jaccard truth — strictly dominating
#: the 32-bit/h=3 shape's P=0.954 R=0.809 on both axes (h=3 on 64 bits
#: collapses recall to 0.453; h=15 overshoots precision to 0.602). The
#: ``dedup_simhash64`` catalog entry runs ``dedup_simhash`` at 64 bits
#: with this budget.
SIMHASH64_MAX_HAMMING = 7


def dedup_simhash(
    documents: DataFrame, bits: int = 32, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole block LSH (see
    ``simhash_pairs`` for the recall guarantee). ``bits=64`` with
    ``max_hamming=SIMHASH64_MAX_HAMMING`` is the corpus-scale shape: 8
    blocks × 8 bits, so the hamming budget is proportional to the
    32-bit/h=3 shape while bucket-collision probability per block
    stays ~2^-8.

    Signatures are persisted across the bucket self-join — one long per
    doc, trivially cacheable, and it stops the signature kernel from
    running once per join side."""
    sigs = persist(simhash_signatures(documents, bits))
    return simhash_pairs(sigs, bits, max_hamming)


def dedup_embedding(embeddings: DataFrame, threshold: float = 0.45) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ threshold) — the
    EXACT all-pairs baseline, kept as the oracle/recall anchor only.

    PRODUCTION DEFAULT: use ``dedup_embedding_lsh`` — identical output
    semantics (same rounded cosine, same threshold, bit-identical
    scores on the pairs it emits) with candidates from banded
    hyperplane buckets instead of this operator's O(n²) inequality
    join. This exact variant exists so the approximate path's recall
    can be measured against ground truth (asserted in tests).
    """
    e = embeddings.select("vec_id", "embedding", norm("embedding").alias("norm"))
    a, b = e.alias("a"), e.alias("b")
    cos = ratio(
        cosine(dot("a.embedding", "b.embedding"), F.col("a.norm"), F.col("b.norm"))
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


# Embedding-LSH band geometry: 4 planes per band, 8-band OR. Tuned on
# the synthetic corpus (true-dup cosines sit at 0.45-0.60, hostile to
# hyperplane LSH): recall vs the exact all-pairs variant is 7/7 at
# sf0.001 and 111/144 at sf0.1, with the candidate set cut ~40% vs the
# r3 (8,4) geometry (1.36M -> 0.82M pairs at sf0.1). Shared with the
# DuckDB oracle generator in __spark_entry__.py.
EMB_LSH_PLANES = 32
EMB_LSH_BANDS = 8


EMB_LSH_MAX_BUCKET = 512


def dedup_embedding_lsh(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_planes: int = EMB_LSH_PLANES,
    bands: int = EMB_LSH_BANDS,
    dim: int = 64,
    max_bucket: int | None = EMB_LSH_MAX_BUCKET,
) -> DataFrame:
    """Production-scale embedding near-dup pairs: hyperplane-LSH bucket
    candidates + exact cosine verification.

    This is the 100 TB path ``dedup_embedding`` (all-pairs, the oracle
    baseline) cannot take: candidate pairs come only from band-bucket
    equi-joins over deterministic hyperplane signatures (OR-of-ANDs
    amplification — more bands raise recall, more planes per band
    shrink buckets), so the pair space never goes cartesian. Output is
    a subset of ``dedup_embedding`` at the same threshold with
    bit-identical cosines; recall vs the exact variant is asserted in
    tests. ``max_bucket`` stop-lists over-full band buckets before the
    self-join (see the body comment), closing the duplicate-heavy
    candidate blowup structurally; the oracle mirrors the same cap.

    Signatures come from ``similarity.banded_signatures`` — ONE
    Arrow-batched numpy pass whose sequential-across-dims accumulation
    makes every band key bit-identical to the Catalyst fold and the
    DuckDB oracle (r4: the per-plane interpreted fold was the dominant
    cost of the r3 shape once the band count grew). Only the banded
    signature table is persisted across its self-join (vec_id + band +
    key ≈ 20 bytes/row — tiny next to the raw vectors; without the
    persist the signature kernel runs once per join side).

    The ``distinct()`` on candidates de-duplicates pairs that collide
    in several bands (each pair verified once) and its exchange spreads
    verification across cores.

    Verification re-attaches the vectors by id and computes the exact
    dot product in an ``mapInArrow`` numpy kernel (guide §4.2) whose
    accumulation is SEQUENTIAL ACROSS DIMS and vectorized across pairs
    — the ``banded_signatures`` trick — so every double is
    bit-identical to ``dedup_embedding``'s Catalyst ``columns.dot``
    fold (same left-to-right addition from
    0.0, same float32→double promotion per term); the division by the
    norms, the 6-dp ``ratio`` round and the threshold filter stay in
    Catalyst (``columns.cosine``: a zero-norm pair scores NULL, as in
    ``dedup_embedding``). Vectors whose length is not ``dim`` (or
    null) are dropped before hashing and never pair. Re-adjudicated
    r13 (VERDICT r12 item 5): on Spark 4.1 the Arrow round-trip of
    the 0.82M candidate pairs costs LESS than the
    interpreted fold it replaces (higher-order lambdas are
    CodegenFallback) — 3.3 → 2.7 s at sf0.1, reversing the r3/r5
    rejection. A flat 64-term codegen Add chain was also measured and
    REJECTED (3.2 → 13.4 s: one giant expression method blows the
    HotSpot huge-method JIT limit and the stage drops to bytecode
    interpretation). The embedding side of the re-attach join is NOT
    hint-broadcast: the optimizer broadcasts it while it fits (it does
    at bench scale) and degrades to a shuffle join at corpus scale
    where a forced broadcast would OOM the driver. (r5 A/B note: the
    ``ann_topk_lsh`` score-in-the-bucket-join shape was tried here and
    measured ~3× SLOWER — this operator's near-dup band geometry
    produces dense buckets where a pair collides in many bands, so
    in-join scoring pays the 64-dim fold per collision instead of once
    per distinct pair; distinct-then-verify is the right shape when
    the collision-to-pair ratio is high.)
    """
    from forest_open_data_pipelines_spark.operators.similarity import (
        banded_signatures,
    )

    # Only ``dim``-long vectors can be hashed against the ``dim``-wide
    # hyperplanes or reshaped by the verify kernel; any other length
    # (or a null vector) never pairs, as its cosine would be NULL.
    valid = embeddings.where(F.size("embedding") == dim)
    e = valid.select("vec_id", "embedding", norm("embedding").alias("norm"))
    banded = persist(
        banded_signatures(valid, "vec_id", "embedding", n_planes, bands, dim)
    )
    if max_bucket is not None:
        # Per-bucket size cap — the hot-shingle stop-list convention
        # applied to band buckets: an over-full (band, key) bucket
        # would contribute O(n²) candidate rows to the self-join (a
        # duplicate-heavy corpus lands every copy of a vector in the
        # SAME bucket in EVERY band — measured 26.8× candidate blowup
        # at 8× replication before this cap), and a bucket that dense
        # carries little discriminative signal anyway. The over-cap
        # list is tiny (≤ distinct hot keys), so it broadcasts; the
        # anti-join prunes WITHOUT shuffling the signature table. The
        # default (512) is ~2.4× the largest bucket observed at sf0.1
        # (210) — it binds only on pathological duplicate-heavy input;
        # at much larger corpora raise it with the corpus (expected
        # bucket size grows ~n/2^planes_per_band) or run exact dedup
        # first, the documented stage ordering.
        hot = (
            banded.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > max_bucket)
            .select("band", "key")
        )
        banded = banded.join(F.broadcast(hot), ["band", "key"], "left_anti")
    x, y = banded.alias("x"), banded.alias("y")
    cand = (
        x.join(y, ["band", "key"])
        .where(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b")
        )
        .distinct()
    )
    joined = cand.join(
        e.select(
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("emb_a"),
            F.col("norm").alias("norm_a"),
        ),
        "vec_a",
    ).join(
        e.select(
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("emb_b"),
            F.col("norm").alias("norm_b"),
        ),
        "vec_b",
    )

    # Arrow verify kernel (r13, guide §4.2 — adjudication in the
    # docstring): dims accumulate sequentially (bit-identical to the
    # zip_with/aggregate fold), pairs vectorize across the batch.
    # Explicit select keeps the Arrow boundary to exactly the columns
    # the kernel reads (guide §4.1 column-pruning caveat). The kernel
    # returns the raw dot product only; the division stays in Catalyst
    # (``columns.cosine``) so a zero norm yields NULL, never a NaN that
    # would pass ``>= threshold``.
    def _verify(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            ea = (
                batch.column("emb_a")
                .flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, dim)
                .astype(np.float64)
            )
            eb = (
                batch.column("emb_b")
                .flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, dim)
                .astype(np.float64)
            )
            acc = np.zeros(n, dtype=np.float64)
            for i in range(dim):
                acc += ea[:, i] * eb[:, i]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_a"),
                    batch.column("vec_b"),
                    batch.column("norm_a"),
                    batch.column("norm_b"),
                    pa.array(acc, type=pa.float64()),
                ],
                names=["vec_a", "vec_b", "norm_a", "norm_b", "dot"],
            )

    scored = joined.select(
        "vec_a", "vec_b", "emb_a", "emb_b", "norm_a", "norm_b"
    ).mapInArrow(
        _verify,
        "vec_a bigint, vec_b bigint, norm_a double, norm_b double, dot double",
    )
    return (
        scored.select(
            "vec_a",
            "vec_b",
            ratio(cosine(F.col("dot"), F.col("norm_a"), F.col("norm_b"))).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def dedup_semantic(
    embeddings: DataFrame, threshold: float = 0.45, n_cells: int = 16
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings around a coarse quantizer,
    then mark within-cluster near-duplicates, keeping one
    representative per duplicate relation.

    Pipeline (all deterministic, oracle-reproducible):

    1. **Cell assignment** — the IVF coarse-quantizer projection from
       ``similarity.train_ivf_centroids`` (seed centroids = first
       ``n_cells`` non-zero vectors, argmax of the 9-dp-rounded cosine, ties to
       the lowest cell id). A pure in-codegen projection: no join, no
       shuffle between the scan and the assignment. ``cent_cos`` (the
       winning cosine) rides along as the keep-priority signal.
    2. **Within-cell pairs** — self-equi-join on ``cell_id`` with
       ``vec_a < vec_b``; exact 6-dp cosine (the ``dedup_embedding``
       fold, bit-identical on both engines) filtered at ``threshold``.
    3. **Keep policy** — per SemDeDup, the member with the LOWEST
       cosine to its cluster centroid survives a duplicate pair (it is
       the least-redundant exemplar); ties break to the lowest
       ``vec_id``. A vector is a duplicate iff ANY qualifying in-cell
       neighbor beats it on ``(cent_cos asc, vec_id asc)``.

    Output: one verdict row per vector — ``vec_id, cell_id, cent_cos,
    is_dup`` — sorted by ``vec_id``.

    Scale: this is the SemDeDup design point — the quadratic pair
    space is confined within clusters, so candidate cost is ~n²/k for
    k cells instead of the all-pairs n² of ``dedup_embedding``; at
    corpus scale ``n_cells`` grows with the corpus (the paper runs
    50k clusters on LAION) and the equi-join shuffles on ``cell_id``
    with AQE skew-split absorbing hot cells. The assignment frame is
    persisted across its self-join + the final verdict join (three
    consumers, one ~24-byte/row frame beside the vectors).
    """
    from forest_open_data_pipelines_spark.operators.similarity import (
        _cell_scored,
        _centroid_literal,
        train_ivf_centroids,
    )

    centroids = train_ivf_centroids(embeddings, n_cells, 0)
    cell_scored = _cell_scored(_centroid_literal(centroids))
    best = F.array_max(cell_scored)
    assigned = persist(
        spread(embeddings)
        .select("vec_id", "embedding", norm("embedding").alias("v_norm"))
        .select(
            "vec_id",
            "embedding",
            F.col("v_norm").alias("norm"),
            (-best["neg_cell_id"]).alias("cell_id"),
            best["cell_cos"].alias("cent_cos"),
        )
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = ratio(
        cosine(dot("a.embedding", "b.embedding"), F.col("a.norm"), F.col("b.norm"))
    )
    a_beats_b = (F.col("a.cent_cos") < F.col("b.cent_cos")) | (
        (F.col("a.cent_cos") == F.col("b.cent_cos"))
        & (F.col("a.vec_id") < F.col("b.vec_id"))
    )
    losers = (
        a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(cos >= threshold)
        .select(
            F.when(a_beats_b, F.col("b.vec_id"))
            .otherwise(F.col("a.vec_id"))
            .alias("vec_id")
        )
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assigned.select("vec_id", "cell_id", "cent_cos")
        .join(losers, "vec_id", "left")
        .select(
            "vec_id",
            "cell_id",
            "cent_cos",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
        .orderBy("vec_id")
    )


def url_merge(events: DataFrame) -> DataFrame:
    """URL-normalized listing merge (merge.py:10-64) mapped onto the
    events table: each event is a 'listing row' whose URL derives from
    (user_id, props.k); dedup by the normalized key keeping the min
    rank, the ordered distinct category set, and the group size.

    The merged row also carries ``source_article_id`` — the
    reference's ``extract_source_article_id`` regex ``/(\\d{4,})-``
    applied to the merged URL exactly where sync.py:98 applies it
    (article_parser.py:17-22, tests/test_noticias_agricolas_parsers.py
    ``test_extract_source_article_id``); URLs without the id segment
    (every user_id ≡ 0 mod 3 here) take the reference's None branch as
    NULL. The id segment is part of the synthetic URL derivation, so
    both engines extract from identical strings."""
    aid_seg = F.when(
        F.col("user_id") % 3 != 0,
        F.concat(
            (F.col("user_id") + 1000).cast("string"), F.lit("-noticia/")
        ),
    ).otherwise(F.lit(""))
    url = F.concat(
        F.lit("HTTPS://Example.COM/u/"),
        F.col("user_id").cast("string"),
        F.lit("/item/"),
        F.get_json_object("props", "$.k"),
        F.lit("/"),
        aid_seg,
    )
    # normalize_url_key: lowercase scheme+host, strip trailing slash.
    key = F.regexp_replace(F.lower(url), "/+$", "")
    return (
        events.select(key.alias("url_key"), "event_type", "event_id")
        .groupBy("url_key")
        .agg(
            F.min("event_id").alias("rank"),
            F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
                "categories"
            ),
            F.count("*").alias("n_rows"),
        )
        .select(
            "url_key",
            "rank",
            "categories",
            "n_rows",
            F.nullif(
                F.regexp_extract("url_key", r"/(\d{4,})-", 1), F.lit("")
            ).alias("source_article_id"),
        )
        .orderBy("url_key")
    )


def dedup_ngram_ppjoin(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard ≥ threshold via
    PREFIX FILTERING (the ppjoin candidate scheme) — the package's one
    exact Jaccard pair set: the ``dedup_ngram_jaccard`` catalog entry,
    the closure family's default edges and the truth of every
    evaluation entry (``dedup_method_eval``, ``dedup_threshold_sweep``,
    ``simhash_budget_sweep``).

    Prefix-filter principle (Chaudhuri et al. SSJoin / Xiao et al.
    PPJoin, both published): order every document's shingles by a
    GLOBAL total order (ascending document frequency, ties by hash —
    rarest first) and keep only each document's first
    ``⌊(1-τ)·n⌋ + 1`` shingles as its *prefix*. If J(A,B) ≥ τ, A and B
    must share at least one shingle lying in BOTH prefixes — so the
    prefix-prefix equi-join has perfect recall by construction, while
    joining on only ~(1-τ) of each document's shingles (and the rarest
    ones at that — frequency-ascending order puts boilerplate LAST, so
    no stop-list is needed and a cluster of any number of copies is
    still paired). A length filter (τ·|A| ≤ |B| ≤ |A|/τ, also exact)
    prunes the join output before verification.

    Verification is the exact per-pair Jaccard over the full hash
    arrays (``_jaccard_verified``). Output equals the exact all-pairs
    set — the DuckDB oracle is a stop-list-free all-shared-shingle
    twin, and tests compare against a pure-Python all-pairs Jaccard.

    Scale: one shuffle of the exploded table by shingle (df window) +
    one by doc (prefix rank window), then an equi-join on prefix
    shingles only. At 100 TB the prefix join's candidate volume is the
    ppjoin bound — orders of magnitude below the all-shared-shingle
    join — and every step is windows/joins Catalyst handles with AQE.
    """
    sh = persist(hashed_shingle_table(documents, n))
    ex = sh.select(
        "doc_id", F.size("hashes").alias("n_sh"), F.explode("hashes").alias("s")
    ).withColumn("df", F.count("*").over(Window.partitionBy("s")))
    order_w = Window.partitionBy("doc_id").orderBy("df", "s")
    # p = n − ⌈τ·n⌉ + 1, computed on a 6-dp-rounded product: raw FP
    # gives (1−0.8)·n = 0.19999…96·n, whose floor is one SHORT for n
    # divisible by 5 — a one-shingle-too-small prefix is a recall hole
    # (found as a missing pair at sf0.1; the rounding restores the
    # exact rational before the ceil).
    prefix_len = (
        F.col("n_sh")
        - F.ceil(ratio(F.lit(threshold) * F.col("n_sh"))).cast("int")
        + 1
    )
    # Persisted: both equi-join sides consume the prefix — without it
    # each side re-runs the explode + df window + rank window.
    prefix = persist(
        ex.withColumn("pos", F.row_number().over(order_w))
        .where(F.col("pos") <= prefix_len)
        .select("doc_id", "n_sh", "s")
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "s"
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"), "s"
    )
    cand = (
        a.join(b, "s")
        .where(
            # length filter on 6-dp-rounded products (same FP edge as
            # the prefix: 0.8·15 = 12.000…02 would wrongly prune an
            # exactly-τ containment pair)
            (F.col("doc_a") < F.col("doc_b"))
            & (ratio(F.col("n_b") * F.lit(threshold)) <= F.col("n_a"))
            & (ratio(F.col("n_a") * F.lit(threshold)) <= F.col("n_b"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _jaccard_verified(cand, sh, sh, threshold).orderBy("doc_a", "doc_b")


def dedup_clusters(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_iters: int = 20,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Connected components over the near-duplicate pair graph: one row
    per document with its cluster id (the component's min doc_id), the
    cluster size, and whether the document is the canonical keeper.

    This is the pairs→clusters→keep-one step a corpus dedup pipeline
    runs downstream of any pair generator (the reference's
    ``merge.py:18-64`` keeps min-rank per normalized-URL group — the
    degenerate star-graph case; near-dup pairs from jaccard/minhash
    form arbitrary graphs, so transitive closure is required before a
    canonical can be chosen).

    Pairs come from ``dedup_ngram_ppjoin`` by default (the
    prefix-filtered exact join); the component labels are computed by
    iterative min-label propagation with POINTER JUMPING (label ← label(label) each pass),
    the O(log d) doubling scheme — a chain of length d converges in
    ~log₂(d) passes instead of d. Each pass is two shuffles over the
    labels table (one row per doc, 16 bytes) plus one over the edge
    list — never the corpus text. Convergence is checked with one
    label-mass aggregate per pass; near-dup components are shallow, so
    2–3 passes close the fixpoint in practice.

    Scale: the labels/edges tables are O(n_docs) rows independent of
    document size; everything is equi-joins on long keys (AQE
    broadcasts or skew-splits them). The per-pass
    mass check is an aggregate action, not a driver-side data
    collect. The closure is global because near-dup
    pairs are not confined to any key: a component can span every
    partition. ``entities.entity_clusters``, whose pairs all come from
    one block equi-join, closes each block in a single aggregation
    instead and does not use this loop.
    """
    if pairs is None:
        # Default pair source: the prefix-filtered (ppjoin) EXACT
        # near-dup join. Pass dedup_minhash(...) / simhash / embedding
        # pairs for the approximate generators — the closure is
        # agnostic to where edges came from.
        pairs = dedup_ngram_ppjoin(documents, n=n, threshold=threshold)
    pairs = persist(pairs.select("doc_a", "doc_b"))
    nodes = documents.select("doc_id")
    labels = connected_components(nodes, pairs, max_iters=max_iters)
    unpersist(pairs)  # the returned labels are materialized
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    out = (
        labels.join(sizes, "label")
        .select(
            "doc_id",
            F.col("label").alias("cluster_id"),
            "cluster_size",
            (F.col("doc_id") == F.col("label")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )
    return out


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    max_iters: int = 20,
) -> DataFrame:
    """Min-label connected components over an undirected pair list.

    ``nodes`` must have a ``doc_id`` column; ``pairs`` must have
    ``doc_a``/``doc_b`` (one row per undirected edge). Returns
    (doc_id, label) where label is the component's min doc_id.
    Iterative min-neighbor propagation + pointer jumping (see
    ``dedup_clusters`` for the scale argument); each intermediate
    labels table is checkpointed for the pass and freed once the next
    pass's label-mass check has materialized its successor — only the
    final table stays cached (tracked by ``runtime`` until the query
    scope ends). Raises ``RuntimeError`` when ``max_iters`` passes end
    without a fixpoint, rather than return unconverged labels.

    A viral cluster makes every member carry the SAME label, so the
    pointer-jump join's probe side is hot on exactly the clusters the
    operator exists to find. AQE (enabled in ``session.py``) handles
    it: the join broadcasts while the parents side is small and
    skew-splits the hot partition when it is large. The neighbor-min
    aggregation is partially aggregated map-side, so hub fan-in
    combines before the shuffle.
    """
    edges = persist(
        pairs.select("doc_a", "doc_b").union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
    )
    # localCheckpoint (not persist): each pass's plan must TRUNCATE at
    # the previous pass's materialized labels, or the logical plan
    # nests one join-tree per pass and Catalyst re-analysis dominates
    # wall-clock by ~pass 5 (measured: sf0.1 ran past 500 s with
    # persist-only lineage; sub-second per pass with checkpoints).
    labels = checkpoint(
        nodes.select("doc_id", F.col("doc_id").alias("label")), eager=True
    )
    # Convergence via the monotone label-mass invariant (optimization
    # r12, guide §2.4): every step can only DECREASE a label
    # (stepped = least(label, nbr_min); the jump target is the
    # parent's label ≤ parent id = label), so a pass changed nothing
    # iff sum(label) is unchanged — one map-side-combinable aggregate
    # over the just-checkpointed labels replaces the former
    # new-vs-old equi-join + count per pass (one join/exchange fewer
    # per pass, same break points). Decimal sum: exact at any node
    # count, no long overflow.
    label_mass = F.sum(F.col("label").cast("decimal(38,0)")).alias("mass")
    prev_mass = labels.agg(label_mass).collect()[0]["mass"]
    for _ in range(max_iters):
        # least(own, min-neighbor) as ONE union + min aggregate
        # (optimization r12, guide §2.4): the former neighbor-min
        # groupBy FOLLOWED BY a labels equi-join re-shuffled the
        # labels table per pass; min over (own label row ∪ neighbor
        # label rows) is the same value with one aggregation exchange
        # and no join. Map-side combine bounds hub fan-in exactly as
        # before.
        stepped = (
            edges.join(labels, edges["doc_b"] == labels["doc_id"])
            .select(edges["doc_a"].alias("doc_id"), "label")
            .unionByName(labels)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
        )
        # one materialization per pass serves the jump join and the
        # label-mass check (checkpoint also truncates lineage — see above)
        stepped = checkpoint(stepped)
        parents = stepped.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        jumped = stepped.join(
            parents, stepped["label"] == parents["p_id"]
        ).select("doc_id", F.col("p_label").alias("label"))
        # lazy: the label-mass action below materializes the
        # checkpoint — one job per pass instead of two
        new_labels = checkpoint(jumped)
        mass = new_labels.agg(label_mass).collect()[0]["mass"]
        # that action materialized new_labels, so this pass's inputs
        # are read no more
        unpersist(labels)
        unpersist(stepped)
        labels = new_labels
        if mass == prev_mass:
            break
        prev_mass = mass
    else:
        unpersist(labels)
        unpersist(edges)
        raise RuntimeError(
            f"connected_components did not converge within "
            f"max_iters={max_iters} passes"
        )
    unpersist(edges)
    return labels


def dedup_canonical_corpus(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """The cleaned corpus: one row per near-dup CLUSTER, carrying the
    canonical (min-id) document's attributes and the cluster size —
    the final keep-one materialization a dedup pipeline feeds to
    training (pairs → components → canonical pick → filtered corpus).

    Downstream of ``dedup_clusters``; the join back to ``documents``
    is an equi-join on doc_id (broadcastable labels side at this
    scale; at corpus scale both sides shuffle on doc_id — the natural
    partitioning both already have).
    """
    clusters = dedup_clusters(documents, n=n, threshold=threshold)
    keep = clusters.where(F.col("is_canonical")).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    return (
        documents.select("doc_id", "lang", "source", "n_chars")
        .join(keep, "doc_id")
        .select("doc_id", "lang", "source", "n_chars", "cluster_size")
        .orderBy("doc_id")
    )


def dedup_method_eval(documents: DataFrame) -> DataFrame:
    """Evaluation harness as a query: precision/recall of the
    approximate near-dup detectors (MinHash-LSH, SimHash) against the
    exact ngram-Jaccard pair set (``dedup_ngram_ppjoin``) — the
    measurement that justifies shipping an approximate method at corpus
    scale, run as a single catalog entry instead of a notebook.

    All three pair sets are persisted once; the hit counts are
    equi-joins on (doc_a, doc_b) and the final table is two
    single-row aggregates unioned — no O(n²) anything beyond what the
    detectors themselves do.
    """
    truth = persist(dedup_ngram_ppjoin(documents).select("doc_a", "doc_b"))
    methods = {
        "minhash": dedup_minhash(documents).select("doc_a", "doc_b"),
        "simhash": dedup_simhash(documents).select("doc_a", "doc_b"),
        # the corpus-scale knob: 64-bit signatures' P/R vs the same
        # truth set is the evidence for promoting it to default
        "simhash64": dedup_simhash(
            documents, bits=64, max_hamming=SIMHASH64_MAX_HAMMING
        ).select("doc_a", "doc_b"),
    }
    outs = []
    for name, m in methods.items():
        m = persist(m)
        inter = m.join(truth, ["doc_a", "doc_b"]).agg(
            F.count("*").alias("n_hit")
        )
        outs.append(
            m.agg(F.count("*").alias("n_pairs"))
            .join(truth.agg(F.count("*").alias("n_truth")))
            .join(inter)
            .select(
                F.lit(name).alias("method"),
                "n_pairs",
                "n_truth",
                "n_hit",
                ratio(F.expr("n_hit / nullif(n_pairs, 0)")).alias(
                    "precision"
                ),
                ratio(F.expr("n_hit / nullif(n_truth, 0)")).alias("recall"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("method")


def build_dedup_index(
    base_docs: DataFrame, num_hashes: int = 16, bands: int = 4, n: int = 3
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(fingerprints, band rows, shingle arrays) of the base corpus —
    the three static tables ``classify_against_index`` joins against,
    i.e. the dedup INDEX a pipeline persists between compactions (the
    caller persists them; the streaming gate reads them per batch).
    Band rows and shingle arrays share one hashed-shingle plan, so
    persisting the shingle arrays FIRST lets the band rows read them
    from the cache instead of re-shingling the base corpus."""
    key = F.lower(clean_text(F.col("text")))
    fps = (
        base_docs.select(F.md5(key).alias("content_fingerprint"))
        .distinct()
        .withColumn("exact_hit", F.lit(True))
    )
    sh = hashed_shingle_table(base_docs, n)
    bandrows = minhash_band_frame(sh, num_hashes, bands).withColumnRenamed(
        "doc_id", "base_id"
    )
    return fps, bandrows, sh


def classify_against_index(
    new_docs: DataFrame,
    fps: DataFrame,
    bandrows: DataFrame,
    shingles: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Classify ``new_docs`` against a prebuilt ``build_dedup_index`` —
    one row per new doc: 'exact_dup' (normalized-content fingerprint in
    the index), 'near_dup' (MinHash-band candidate verified at Jaccard
    ≥ threshold against a base doc), or 'new'; with the two stage
    flags and the best-matching base doc (highest Jaccard, min-id
    tie-break) and its score. Exact beats near when both hit.

    A pure function of (records, index): safe to run per micro-batch
    (no persists here — the index is what the caller persists; a batch
    is cheap to recompute). No join side is hint-broadcast: AQE
    broadcasts whichever side is small at run time, so a large index
    degrades to a shuffle join instead of a driver OOM."""
    key = F.lower(clean_text(F.col("text")))
    sh_new = hashed_shingle_table(new_docs, n)
    exact = new_docs.select(
        "doc_id", F.md5(key).alias("content_fingerprint")
    ).join(fps, "content_fingerprint", "left")
    cand = (
        minhash_band_frame(sh_new, num_hashes, bands)
        .join(bandrows, ["band_id", "band_hash"])
        .select("doc_id", "base_id")
        .distinct()
    )
    verified = _jaccard_verified(cand, sh_new, shingles, threshold)
    w = Window.partitionBy("doc_id").orderBy(F.desc("jaccard"), "base_id")
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("base_id").alias("matched_base_id"),
            F.col("jaccard").alias("best_jaccard"),
        )
    )
    exact_dup = F.coalesce("exact_hit", F.lit(False))
    status = (
        F.when(exact_dup, F.lit("exact_dup"))
        .when(F.col("matched_base_id").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("new"))
    )
    return exact.join(best, "doc_id", "left").select(
        "doc_id",
        exact_dup.alias("exact_dup"),
        F.col("matched_base_id").isNotNull().alias("near_dup"),
        "matched_base_id",
        "best_jaccard",
        status.alias("status"),
    )


def dedup_incremental(
    new_docs: DataFrame,
    base_docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental ingest dedup: classify each NEW document against the
    accumulated BASE corpus (verdicts: ``classify_against_index``).
    This is the daily-batch shape of production corpus dedup: the base
    side's fingerprints, band signatures and shingle arrays are the
    persisted dedup INDEX a pipeline maintains (``build_dedup_index``);
    only the new batch is shingled fresh. The streaming gate runs the
    same two pieces per micro-batch.

    Scale: one fingerprint equi-join (60-bit keys) + one band-key
    equi-join new×base — the new side is a day's batch, orders of
    magnitude smaller than base, so both joins shuffle the SMALL side
    into base's key space; verification touches candidates only.
    Never new×base all-pairs.
    """
    fps, bandrows, shingles = build_dedup_index(base_docs, num_hashes, bands, n)
    # Only the shingle arrays are persisted: the band rows and the
    # verify both read them. The fingerprint and band tables have one
    # consumer each here, and persisting them measured slower (each
    # cached frame is its own materialization stage under AQE).
    return classify_against_index(
        new_docs, fps, bandrows, persist(shingles), num_hashes, bands, n, threshold
    ).orderBy("doc_id")


def dedup_canonical_by_quality(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster
    keep the HIGHEST-quality member (composite ``text_quality`` score,
    min-id tie-break) instead of ``dedup_clusters``' min-id rule —
    what a production pipeline actually wants when duplicates differ
    in extraction quality (keep the cleanest copy, not the first
    crawled).

    Scale: the closure labels table is O(n_docs); the quality join and
    the per-cluster argmax window ride the cluster_id partitioning —
    one extra shuffle over ``dedup_clusters``.
    """
    from forest_open_data_pipelines_spark.operators.textops import text_quality

    clusters = dedup_clusters(documents, n=n, threshold=threshold).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    q = text_quality(documents).select("doc_id", "quality_score")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), "doc_id"
    )
    return (
        clusters.join(q, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            "quality_score",
            (F.col("rn") == 1).alias("is_kept"),
        )
        .orderBy("doc_id")
    )


def edit_distance_pairs(
    documents: DataFrame,
    max_dist: int = 20,
    q: int = 5,
    max_short_docs: int | None = None,
    max_candidate_pairs: int | None = None,
) -> DataFrame:
    """Edit-distance similarity join: every pair of documents with
    ``levenshtein(a, b) ≤ max_dist`` — the character-level near-dup
    family (OCR noise, small in-place edits) that word-shingle Jaccard
    under-weights. Candidate scheme per Ed-Join (Xiao, Wang & Lin
    2008, public algorithm): order each document's positional char
    q-gram MULTISET by a global (frequency-ascending, hash) order and
    keep the first q·k+1 grams as its prefix — k edits destroy at most
    q·k grams, so two strings within distance k must share a gram in
    BOTH prefixes (perfect recall by construction). Multiset semantics
    ride occurrence-tagged gram keys (g#occ), whose pairwise
    intersection size equals the multiset intersection exactly.

    Verification is exact bounded levenshtein on the candidate pairs
    only (Spark's threshold variant caps the DP at O(k·L)); a length
    filter (| |a|−|b| | ≤ k, a necessary condition) prunes candidates
    before the DP. The ORACLE deliberately uses a different scheme —
    length-filtered all-pairs ground truth — so a prefix-recall hole
    cannot hide (the ppjoin oracle convention).

    Scale: three keyed windows over the exploded gram table (occurrence
    tag, global df, per-doc rank) + a prefix-prefix equi-join — the
    Ed-Join bound, never all-pairs; the DP runs on candidates only.

    SHORT-STRING completeness: the gram bound is vacuous for strings
    with fewer than q·k+1 grams (k edits can destroy every gram), so
    docs with len < q·(k+1) route through a length-BUCKET join instead
    (bucket width k+1, probe self+next — exactly the range_window_join
    trick): every |Δlen| ≤ k pair involving a short doc is generated
    there. Short docs are a corner of any real corpus; the bucket join
    is bounded by their count. Found by the hypothesis sweep (texts
    ['a', ''] at k=1 missed their pair), locked in by the same test.

    Corpus-dependence note (measured): prefix selectivity scales with
    gram DIVERSITY. The synthetic bench corpus draws from a ~40-word
    vocabulary, so its ~1k distinct 4-grams make every prefix collide
    broadly (0.94M candidates from 5k docs at q=4 — the join, not the
    DP, is the bench cost there); natural-language corpora have orders
    of magnitude more distinct grams and correspondingly sparse
    prefixes.

    ``q`` A/B at sf0.1 (output IDENTICAL at every q — the gram bound
    gives perfect recall by construction, and the ground-truth oracle
    pins it): q=4 → 8.3 s steady-state, q=5 → 5.6 s (distinct grams
    985 → 2041, so per-gram collisions halve while the prefix only
    grows 81 → 101 grams), q=8 → 5.4 s but REJECTED: min_long rises to
    q·(k+1)=168 chars, routing 1177/5000 docs (24%) through the
    quadratic short-doc channel — the wrong shape at corpus scale.
    q=5 keeps the short channel a corner (515/5000) and is the
    default.

    ``max_candidate_pairs`` fail-fasts when Σ_s C(df_s, 2) over the PREFIX gram table — the
    exact upper bound on the long-channel join output — exceeds the
    cap, instead of silently running a collision-heavy corpus's
    quadratic shape; ``max_short_docs`` guards the short channel the
    same way. Results are unchanged when the guards pass.
    """
    k = max_dist
    t = F.lower(clean_text(F.col("text")))
    base = persist(
        spread(documents)
        .select("doc_id", t.alias("t"))
        .select("doc_id", "t", F.length("t").alias("len"))
    )
    min_long = q * (k + 1)
    gram_arr = F.expr(
        f"CASE WHEN length(t) >= {q} THEN transform(sequence(1, length(t) - {q - 1}),"
        f" i -> substring(t, i, {q})) ELSE array(t) END"
    )
    ex = (
        base.where(F.col("len") >= min_long)
        .select("doc_id", "len", F.posexplode(gram_arr).alias("pos", "g"))
    )
    occ_w = Window.partitionBy("doc_id", "g").orderBy("pos")
    # Gram keys are INTERNAL to the candidate scheme (the output is the
    # exact-DP-verified pair set; the oracle is an independent all-pairs
    # ground truth), so the key hash only needs to be a consistent
    # 64-bit total order over (gram, occ) — r12 swaps the md5 hex →
    # substring → base-16 string conv → cast chain for the native
    # xxhash64 long hash (guide §1.2 per-task work: one job-wide A/B at
    # sf0.1 measured 5.2-6.0 s vs 6.3-7.3 s across 4 alternated reps;
    # the key is also what the df aggregate and prefix join shuffle, so
    # the order swap changes which equal-df grams win prefix slots —
    # recall is order-independent by the Ed-Join bound and the final
    # pair set is hash-identical at all 3 SFs).
    tagged = ex.withColumn("occ", F.row_number().over(occ_w)).select(
        "doc_id",
        "len",
        F.xxhash64("g", "occ").alias("s"),
    )
    # Global gram document-frequency via groupBy + join, NOT a window
    # partitioned by the gram key: a Window.partitionBy("s") has no
    # map-side combine, so every row of a hot gram (boilerplate
    # n-grams at corpus scale) would land in ONE task's sort buffer.
    # The partial-aggregated groupBy (AQE skew-split eligible) computes
    # the identical df values.
    gram_df = tagged.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    with_df = tagged.join(gram_df, "s")
    order_w = Window.partitionBy("doc_id").orderBy("df", "s")
    prefix = persist(
        with_df.withColumn("rn", F.row_number().over(order_w))
        .where(F.col("rn") <= q * k + 1)
        .select("doc_id", "len", "s")
    )
    short = base.where(F.col("len") < min_long).select("doc_id", "len")
    if max_candidate_pairs is not None or max_short_docs is not None:
        # Fail-fast guards, ONE action for both: the long channel is
        # bounded by Σ_s C(df_s, 2) over PREFIX grams (a
        # collision-heavy tiny-vocabulary corpus trips it), the short
        # channel by the sub-q·(k+1)-char doc count (quadratic per
        # length bucket — the documented scale caveat, enforced).
        # Joining the two 1-row aggregates lets Spark compute both
        # subtrees in a single job over the already-persisted frames
        # instead of paying two jobs of fixed overhead.
        checks = []
        if max_candidate_pairs is not None:
            checks.append(
                prefix.groupBy("s")
                .agg(F.count(F.lit(1)).alias("df"))
                .agg(
                    F.sum(F.col("df") * (F.col("df") - 1) / 2)
                    .cast("long")
                    .alias("b")
                )
            )
        if max_short_docs is not None:
            checks.append(short.agg(F.count(F.lit(1)).alias("ns")))
        g = checks[0] if len(checks) == 1 else checks[0].join(checks[1])
        row = g.first()
        if max_candidate_pairs is not None:
            bound = row["b"] or 0
            if bound > max_candidate_pairs:
                raise ValueError(
                    f"edit_distance_pairs: prefix-join candidate bound "
                    f"{bound} exceeds max_candidate_pairs="
                    f"{max_candidate_pairs}; the corpus's q-gram "
                    f"vocabulary is too small for q={q} prefixes to "
                    "select — raise q (sparser grams), exact-dedup "
                    "first, or length-floor tiny/templated docs before "
                    "the join"
                )
        if max_short_docs is not None and row["ns"] > max_short_docs:
            raise ValueError(
                f"edit_distance_pairs: {row['ns']} docs shorter than "
                f"q*(k+1)={min_long} chars exceed max_short_docs="
                f"{max_short_docs}; pre-filter tiny docs (length floor) "
                "or dedup them exactly before the edit-distance join"
            )
    # Length-bucketed join key (optimization r12): the |Δlen| ≤ k
    # filter kills 85 % of the raw prefix collisions on this corpus
    # (measured at sf0.1: 42.4M gram matches → 6.2M pairs), but as a
    # post-join predicate every collision is still GENERATED. Adding
    # `len div (k+1)` to the equi-join key — probe side exploded to
    # bucket±1 — bounds match generation to the ±1-bucket window while
    # keeping perfect recall: any |Δlen| ≤ k pair differs by at most
    # one bucket, and each qualifying pair meets on exactly ONE of the
    # probe rows (b's own bucket ±1 covers a's bucket once), so the
    # filtered pair stream is row-identical to the unbucketed join.
    lb = (F.col("len") / (k + 1)).cast("long")
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        F.col("len").alias("len_a"),
        "s",
        lb.alias("lb"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        F.col("len").alias("len_b"),
        "s",
        F.explode(F.array(lb - 1, lb, lb + 1)).alias("lb"),
    )
    cand_long = (
        a.join(b, ["s", "lb"])
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= k)
        )
        .select("doc_a", "doc_b")
    )
    # short-doc side channel: length-bucket equi-join (self + next
    # bucket) generates every |Δlen| <= k pair touching a short doc.
    # SCALE CAVEAT: this channel is quadratic per length bucket in the
    # short-doc count (every sub-q·(k+1)-char pair within |Δlen| ≤ k is
    # a candidate — the gram bound is vacuous there, so no filter can
    # prune further without losing recall). On corpora where tiny docs
    # are a large population, pre-filter them out (a length floor is a
    # standard curation gate anyway) or dedup them exactly first; the
    # bucket join itself stays distributed (bucket is the shuffle key).
    sb = short.select(
        "doc_id",
        "len",
        F.explode(
            F.array(
                (F.col("len") / (k + 1)).cast("long"),
                (F.col("len") / (k + 1)).cast("long") + 1,
            )
        ).alias("bucket"),
    )
    ob = base.select(
        F.col("doc_id").alias("other_id"),
        F.col("len").alias("other_len"),
        (F.col("len") / (k + 1)).cast("long").alias("bucket"),
    )
    cand_short = (
        sb.join(ob, "bucket")
        .where(
            (F.col("doc_id") != F.col("other_id"))
            & (F.abs(F.col("len") - F.col("other_len")) <= k)
        )
        .select(
            F.least("doc_id", "other_id").alias("doc_a"),
            F.greatest("doc_id", "other_id").alias("doc_b"),
        )
    )
    # Explicit fan-out before the verify: the candidate rows are two
    # longs, so AQE coalesces the distinct's output to a handful of
    # partitions by BYTE size — but each row then runs a bounded DP
    # (CPU-heavy, byte-light), and ~1M DPs ground through 6 tasks in
    # the measured plan. Repartitioning the skinny pair set is cheap
    # and puts the DP on every core.
    sc = documents.sparkSession.sparkContext
    cand = (
        cand_long.unionByName(cand_short)
        .distinct()
        .repartition(sc.defaultParallelism, "doc_a", "doc_b")
    )
    # COUNTING-FILTER A/B, measured and REJECTED (r6): the classic
    # char-histogram gate (ed ≥ L1(hist)/2, so L1 > 2k prunes safely)
    # removes 96% of DP calls at sf0.1 (936k candidates → 37k) — and
    # still ran 1.5× SLOWER end-to-end, both as a zip_with/aggregate
    # fold (interpreted per element) and as a flat 27-term codegen
    # expression: Spark's threshold levenshtein early-exits on
    # dissimilar strings (effectively O(k) there, not O(k·L)), so the
    # verify was never the cost, while the two 27-int histogram arrays
    # widened every candidate row through the join exchanges. The join
    # volume is the cost; prune the CANDIDATE set (exact dedup first —
    # the pipeline-order answer) rather than the verify.
    ed = F.levenshtein("t_a", "t_b", k)
    return (
        cand.join(
            base.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("t_a")),
            "doc_a",
        )
        .join(
            base.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b")),
            "doc_b",
        )
        .select("doc_a", "doc_b", ed.alias("edit_distance"))
        .where((F.col("edit_distance") >= 0) & (F.col("edit_distance") <= k))
        .orderBy("doc_a", "doc_b")
    )


def edit_distance_topk(
    documents: DataFrame, n_queries: int = 8, k: int = 5, max_dist: int = 60
) -> DataFrame:
    """String-similarity SEARCH: for each query document (doc_id <
    ``n_queries``), the top-``k`` nearest other documents by edit
    distance (within ``max_dist``) — the char-level counterpart of the
    ``ann_topk_*`` family, and the retrieval shape of the Ed-Join
    paper's search variant.

    Scale: the query set broadcasts onto a single candidate scan
    (length filter rides the join condition), the bounded DP runs once
    per surviving (query, candidate) pair, and the top-k is a window
    over the ≤ n_queries·|candidates| scored rows. Ties break on
    candidate id for engine-independent ranking.
    """
    t = F.lower(clean_text(F.col("text")))
    base = persist(
        spread(documents)
        .select("doc_id", t.alias("t"))
        .select("doc_id", "t", F.length("t").alias("len"))
    )
    queries = F.broadcast(
        base.where(F.col("doc_id") < n_queries).select(
            F.col("doc_id").alias("query_id"),
            F.col("t").alias("q_t"),
            F.col("len").alias("q_len"),
        )
    )
    cand = base.select(
        F.col("doc_id").alias("cand_id"),
        F.col("t").alias("c_t"),
        F.col("len").alias("c_len"),
    )
    scored = (
        cand.join(
            queries,
            (F.col("cand_id") != F.col("query_id"))
            & (F.abs(F.col("c_len") - F.col("q_len")) <= max_dist),
        )
        .select(
            "query_id",
            "cand_id",
            F.levenshtein("q_t", "c_t", max_dist).alias("edit_distance"),
        )
        .where((F.col("edit_distance") >= 0) & (F.col("edit_distance") <= max_dist))
    )
    w = Window.partitionBy("query_id").orderBy("edit_distance", "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "cand_id", "edit_distance")
        .orderBy("query_id", "rank")
    )


SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def dedup_threshold_sweep(
    documents: DataFrame,
    thresholds: tuple[float, ...] = SWEEP_THRESHOLDS,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """The near-dup THRESHOLD TUNING curve in one pass: for each
    Jaccard cutoff τ, how many exact pairs exist, how many documents
    they touch, and how many of those pairs the MinHash band geometry
    SURFACES AS CANDIDATES — the empirical LSH S-curve (collision
    probability rising with true similarity) that picks a (hashes,
    bands) geometry for a corpus, run as a catalog entry instead of a
    notebook.

    Both pair tables compute ONCE (exact pairs at min(τ) with their
    jaccard values from ``dedup_ngram_ppjoin``; band candidates from
    ``dedup_minhash``'s band self-join); every τ row is then a filter + aggregate
    over the persisted pairs — the sweep costs one broadcast of the
    |τ| literal rows, never a re-run per threshold. A τ with zero
    qualifying pairs still emits its row (zeros + NULL recall).
    """
    lo = min(thresholds)
    truth = persist(dedup_ngram_ppjoin(documents, n=n, threshold=lo))
    cand = persist(
        _minhash_candidates(hashed_shingle_table(documents, n), num_hashes, bands)
        .withColumn("is_cand", F.lit(True))
    )
    spark = documents.sparkSession
    thr = F.broadcast(
        spark.createDataFrame([(t,) for t in thresholds], "threshold double")
    )
    tagged = truth.join(cand, ["doc_a", "doc_b"], "left")
    per_pair = tagged.join(thr).where(F.col("jaccard") >= F.col("threshold"))
    stats = per_pair.groupBy("threshold").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("is_cand"), 1).otherwise(0)).alias(
            "n_lsh_candidates"
        ),
    )
    affected = (
        per_pair.select(
            "threshold", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("threshold")
        .agg(F.count_distinct("d").alias("n_docs_affected"))
    )
    # LEFT join from the full threshold list: a τ with ZERO qualifying
    # pairs must still emit its (τ, 0, 0, 0, NULL) row — a hole in the
    # curve would be indistinguishable from "not swept"
    return (
        thr.join(stats, "threshold", "left")
        .join(affected, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0)).alias("n_docs_affected"),
            F.coalesce("n_lsh_candidates", F.lit(0)).alias(
                "n_lsh_candidates"
            ),
            ratio(
                F.coalesce("n_lsh_candidates", F.lit(0))
                / F.nullif(F.coalesce("n_pairs", F.lit(0)), F.lit(0))
            ).alias("lsh_recall"),
        )
        .orderBy("threshold")
    )


# ── Corpus snapshot diff (data-versioning shape) ────────────────────────────


def wrap_documents_as_snapshot_b(documents: DataFrame) -> DataFrame:
    """Derive snapshot B from the documents table deterministically:
    doc_id % 17 == 3 rows are DROPPED (removed), % 13 == 5 rows get a
    text revision (changed), and % 29 == 7 rows spawn a NEW doc at
    doc_id + 1_000_000 (added) — every diff status occurs, keyed on
    residues so the oracle can state expectations in closed form."""
    kept = documents.where(F.col("doc_id") % 17 != 3)
    revised = kept.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 5,
            F.concat(F.col("text"), F.lit(" [rev 2]")),
        ).otherwise(F.col("text")),
    )
    added = documents.where(F.col("doc_id") % 29 == 7).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("new: "), F.col("text")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return revised.unionByName(added)


def corpus_snapshot_diff(
    snapshot_a: DataFrame, snapshot_b: DataFrame
) -> DataFrame:
    """Diff two corpus snapshots by key + content fingerprint: one row
    per doc_id with status ∈ {added, removed, changed, unchanged} —
    the table-diff a versioned data lake runs between ingests to
    answer "what changed since yesterday" without trusting upstream
    change feeds.

    Scale: each side reduces to (doc_id, md5 fingerprint) BEFORE the
    FULL OUTER join — 40 bytes/row cross the one doc_id-keyed
    exchange, never the text; statuses are pure projections over the
    join result. At lake scale both sides would read
    doc_id-bucketed tables and the exchange disappears entirely
    (plan-asserted in tests/test_io.py).

    Presence comes from an explicit per-side marker, NOT from the
    fingerprint's nullness — a NULL-text row must read as present
    (md5(NULL) is NULL and would masquerade as a missing side); its
    content hashes as the empty string.
    """
    fp = F.md5(F.coalesce(F.col("text"), F.lit("")))
    a = snapshot_a.select(
        "doc_id", fp.alias("fp_a"), F.lit(True).alias("in_a")
    )
    b = snapshot_b.select(
        "doc_id", fp.alias("fp_b"), F.lit(True).alias("in_b")
    )
    status = (
        F.when(F.col("in_a").isNull(), "added")
        .when(F.col("in_b").isNull(), "removed")
        .when(F.col("fp_a") != F.col("fp_b"), "changed")
        .otherwise("unchanged")
    )
    return (
        a.join(b, "doc_id", "full_outer")
        .select("doc_id", status.alias("status"))
        .orderBy("doc_id")
    )


SIMHASH_SWEEP_BUDGETS = (3, 7, 11, 15)


def simhash_budget_sweep(
    documents: DataFrame,
    budgets: tuple[int, ...] = SIMHASH_SWEEP_BUDGETS,
) -> DataFrame:
    """The SimHash hamming-budget TUNING curve: per budget h, pair
    count and precision/recall against the exact-Jaccard truth — the
    measurement behind the round-6 h=7 promotion (P 1.0 / R 0.887 vs
    h=3's recall collapse and h=15's precision collapse), as a
    catalog entry instead of a notebook probe.

    Candidates generate ONCE at max(budgets) — the pigeonhole guarantee
    covers every smaller budget, so each h row is a filter + aggregate
    over the persisted pair set. The price of the widest budget is
    real and is the finding itself: h=15 splits 64 bits into 16
    four-bit blocks whose 16-key buckets go quadratic on any corpus —
    which is WHY the curve exists and why this entry is an evaluation
    artifact (bench-excluded, like dedup_threshold_sweep). Budgets
    with zero pairs keep their row (the sweep-row contract).

    Deployment nuance the curve surfaces: any h ≤ max(budgets) is
    MEASURABLE here (the filter needs no geometry), but a budget is
    only DEPLOYABLE as its own pigeonhole index when h+1 divides the
    signature width — on 64 bits that is h ∈ {1, 3, 7, 15, 31}. At
    sf0.1 h=11 measures P 0.996 / R 1.0, better than both neighbors,
    but an h=11 index would need 12 blocks; the nearest deployable
    geometry is h=15's, whose candidate cost is the overshoot this
    curve prices. h=7 stays the promoted default.
    """
    hi = max(budgets)
    truth = persist(
        dedup_ngram_ppjoin(documents)
        .select("doc_a", "doc_b")
        .withColumn("is_truth", F.lit(True))
    )
    sigs = persist(simhash_signatures(documents, 64))
    pairs = persist(simhash_pairs(sigs, 64, hi))
    spark = documents.sparkSession
    thr = F.broadcast(
        spark.createDataFrame([(h,) for h in budgets], "max_hamming int")
    )
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    tagged = pairs.join(truth, ["doc_a", "doc_b"], "left")
    stats = (
        tagged.join(thr)
        .where(F.col("hamming") <= F.col("max_hamming"))
        .groupBy("max_hamming")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.when(F.col("is_truth"), 1).otherwise(0)).alias("n_hit"),
        )
    )
    return (
        thr.join(stats, "max_hamming", "left")
        .crossJoin(F.broadcast(n_truth))
        .select(
            "max_hamming",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            "n_truth",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            ratio(
                F.coalesce("n_hit", F.lit(0))
                / F.nullif(F.coalesce("n_pairs", F.lit(0)), F.lit(0))
            ).alias("precision"),
            ratio(
                F.coalesce("n_hit", F.lit(0))
                / F.nullif(F.col("n_truth"), F.lit(0))
            ).alias("recall"),
        )
        .orderBy("max_hamming")
    )


def cluster_size_histogram(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Duplicate-cluster size distribution: one row per observed
    cluster size with the cluster count, the document mass it holds,
    and exact ppm shares of both — the power-law audit a dedup run
    publishes (near-dup cluster sizes are heavy-tailed; a fat head of
    mega-clusters means boilerplate or mirror sites dominate, and the
    removal rate ((size−1)/size of each bucket's mass) prices what
    canonical-keeping will delete).

    Scale: reduces ``dedup_clusters``'s per-document labels twice —
    (cluster → size) is already inside it, and (size → bucket row)
    bounds the output by the largest cluster's size. Shares divide
    by broadcast one-row totals with exact integer ``micro_div``.
    """
    clusters = dedup_clusters(
        documents, n=n, threshold=threshold, pairs=pairs
    )
    per = clusters.groupBy("cluster_size").agg(
        F.count_distinct("cluster_id").alias("n_clusters"),
        F.count("*").alias("n_docs"),
    )
    per = persist(per)
    totals = per.agg(
        F.sum("n_clusters").alias("t_clusters"),
        F.sum("n_docs").alias("t_docs"),
    )
    return (
        per.join(F.broadcast(totals))
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs",
            micro_div("n_clusters", "t_clusters").alias("cluster_share_ppm"),
            micro_div("n_docs", "t_docs").alias("doc_share_ppm"),
            micro_div(
                "(cluster_size - 1) * n_clusters", "n_docs"
            ).alias("removable_ppm"),
        )
        .orderBy("cluster_size")
    )
