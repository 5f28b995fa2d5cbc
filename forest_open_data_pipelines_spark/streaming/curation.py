"""Streaming front-end of the corpus-curation pipeline.

The incremental twin of ``operators.curation.corpus_curation``'s first
three stages: quality gate → language gate → content-fingerprint dedup
within a watermark. These are the stages an unbounded ingest CAN run
with bounded state (pure projections + ``dropDuplicatesWithinWatermark``);
the near-dup stage is pairwise over the surviving corpus and stays a
periodic batch compaction (``dedup_embedding_lsh`` over the
accumulated keeps) — exactly how production curation splits stream
vs. compaction.

Gate expressions are the batch operators' own column builders
(``textops.quality_metric_cols`` / ``predicted_lang_col``), so a record
passes the stream gate iff the batch pipeline would classify it past
the 'quality' and 'lang' stages — parity asserted in
tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from forest_open_data_pipelines_spark.functions.columns import ratio
from forest_open_data_pipelines_spark.operators.curation import (
    CURATION_MIN_QUALITY,
    CURATION_MIN_TOKENS,
)
from forest_open_data_pipelines_spark.operators.textops import (
    clean_text,
    predicted_lang_col,
    quality_metric_cols,
    repetition_row_cols,
)
from forest_open_data_pipelines_spark.runtime import persist


def curation_gate_stream(
    documents_stream: DataFrame,
    watermark_col: str = "ts",
    watermark: str = "2 days",
    min_tokens: int = CURATION_MIN_TOKENS,
    min_quality: float = CURATION_MIN_QUALITY,
    with_repetition: bool = False,
) -> DataFrame:
    """Quality+language-gated, fingerprint-deduped document stream.

    Emits one record per content fingerprint whose FIRST-arriving copy
    passed every gate (state expires past the watermark — bounded no
    matter how long the stream runs). The quality compare runs on the
    6-dp-rounded score, identical to the batch pipeline's, so the two
    paths gate on the same boundary values.

    ``with_repetition=True`` adds the Gopher-style repetition gate via
    ``textops.repetition_row_cols`` — the stateless per-row twin of the
    batch ``quality_repetition`` aggregation, so a record passes the
    stream gate iff the batch operator marks it ``passes_repetition``
    (parity asserted in tests). Still ZERO extra state: the metrics
    fold in-codegen over each row's own token array.
    """
    n_tokens, _, _, score = quality_metric_cols()
    gated = (
        documents_stream.withColumn("n_tokens", n_tokens)
        .withColumn("quality_score", ratio(score))
        .withColumn("predicted_lang", predicted_lang_col())
        .where(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("quality_score") >= min_quality)
            & (F.col("predicted_lang") != "unknown")
        )
    )
    if with_repetition:
        gated = repetition_row_cols(gated).where(F.col("passes_repetition"))
    gated = gated.withColumn(
        "content_fingerprint", F.md5(F.lower(clean_text(F.col("text"))))
    )
    return (
        gated.withWatermark(watermark_col, watermark)
        .dropDuplicatesWithinWatermark(["content_fingerprint"])
        .select(
            "doc_id",
            "content_fingerprint",
            "n_tokens",
            "quality_score",
            "predicted_lang",
        )
    )


def dsir_gate_stream(
    documents_stream: DataFrame,
    reference_corpus: DataFrame,
    target_lang: str | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """DSIR importance gate for an unbounded ingest: score every
    arriving document against a model FROZEN from a static reference
    corpus — the offline-train / online-gate split a production ingest
    actually runs (importance weights are corpus statistics; a stream
    cannot re-estimate them per record).

    ZERO streaming state: the ≤ n_buckets log-ratio rows are collected
    ONCE at plan-construction time (the ``lang_id_ngram``
    bounded-collect pattern) into a literal map, and each record's
    score is a pure codegen fold over its own token array — the SAME
    integer micro-bit arithmetic as the batch scorer, so a record is
    ``target_like`` on the stream iff ``dsir_importance_weights``
    marks it so when the model corpus matches (parity asserted in
    tests/test_streaming.py). Tokens hashing to a bucket absent from
    the model drop from both the count and the sum — mirroring the
    batch scorer's inner join on bucket.
    """
    from forest_open_data_pipelines_spark.operators.curation import (
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
        _dsir_model,
    )
    from forest_open_data_pipelines_spark.operators.dedup import _md5_int

    target_lang = DSIR_TARGET_LANG if target_lang is None else target_lang
    n_buckets = DSIR_BUCKETS if n_buckets is None else n_buckets
    _, lr = _dsir_model(reference_corpus, target_lang, n_buckets)
    model = lr.collect()  # ≤ n_buckets rows by construction
    m = F.create_map(
        *[
            c
            for r in model
            for c in (
                F.lit(int(r["bucket"])).cast("long"),
                F.lit(int(r["lr_micro"])).cast("long"),
            )
        ]
    )
    toks = F.filter(
        F.split(F.lower(clean_text(F.col("text"))), " "), lambda t: t != ""
    )
    known = F.filter(
        F.transform(toks, lambda t: _md5_int(t) % n_buckets),
        lambda b: F.element_at(m, b).isNotNull(),
    )
    s_micro = F.aggregate(
        F.col("kb"), F.lit(0).cast("long"), lambda a, b: a + F.element_at(m, b)
    )
    return (
        documents_stream.select("doc_id", "lang", known.alias("kb"))
        .select(
            "doc_id",
            "lang",
            F.size("kb").alias("n_tokens"),
            ratio(s_micro / F.lit(1e6)).alias("log_importance"),
            (s_micro > 0).alias("target_like"),
        )
    )


def boilerplate_gate_stream(
    documents_stream: DataFrame,
    reference_corpus: DataFrame,
) -> DataFrame:
    """Cross-document boilerplate gate for an unbounded ingest: score
    every arriving document against the boilerplate gram set FROZEN
    from a static reference corpus — the same offline-train /
    online-gate split as ``dsir_gate_stream`` (document frequency is a
    corpus statistic; a stream cannot re-estimate it per record).

    ZERO streaming state: the boilerplate set is bounded by
    construction (a gram in ≥ min_df_frac of reference docs is rare —
    at most avg_grams_per_doc / min_df_frac can qualify), collected
    ONCE at plan construction into an array literal; each record's
    density is then ``size(array_intersect(shingles, boiler_lit))``
    over its OWN distinct shingles — a pure codegen projection. When
    the streamed corpus equals the reference corpus the output is
    row-identical to batch ``boilerplate_ngrams`` (parity asserted in
    tests/test_streaming.py); on live data the frozen cut is the
    production behavior, not an approximation.
    """
    from forest_open_data_pipelines_spark.operators.dedup import _word_ngrams
    from forest_open_data_pipelines_spark.operators.textops import (
        BOILER_FLAG_FRAC,
        boilerplate_gram_set,
    )

    boiler = [r["s"] for r in boilerplate_gram_set(reference_corpus).collect()]
    toks = F.split(F.lower(clean_text(F.col("text"))), " ")
    shingles = F.array_distinct(_word_ngrams(toks))
    boiler_lit = (
        F.array(*[F.lit(s) for s in boiler])
        if boiler
        else F.array().cast("array<string>")
    )
    n_grams = F.size(shingles).cast("long")
    n_boiler = F.size(F.array_intersect(shingles, boiler_lit)).cast("long")
    frac = ratio(n_boiler.cast("double") / n_grams)
    return documents_stream.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_boiler.alias("n_boiler"),
        frac.alias("boiler_frac"),
        (frac >= BOILER_FLAG_FRAC).alias("flagged"),
    )


CHARLM_STREAM_MAX_BIGRAMS = 4096


def charlm_gate_stream(
    documents_stream: DataFrame,
    reference_corpus: DataFrame,
) -> DataFrame:
    """Char-bigram LM perplexity gate for an unbounded ingest: score
    every arriving document under the model FROZEN from a static
    reference corpus — the CCNet deployment shape (the LM trains
    offline; the ingest only scores).

    ZERO streaming state: the trained (bigram → micro-bit log-prob)
    table collects once at plan construction into a literal map (the
    DSIR-gate pattern) together with a per-prefix unseen-bigram
    fallback and the uniform 1/V floor, so a record's score is a pure
    codegen fold over its own bigram array. Seen bigrams score
    micro-bit-identically to batch ``charlm_perplexity`` — on a
    replayed reference corpus (every bigram seen) the output is
    row-identical to batch (parity test); live data additionally
    scores UNSEEN bigrams with the same add-one smoothing the batch
    model would assign them (count 0), which the batch operator never
    encounters because it trains on what it scores.

    Guard: a reference corpus with more than
    ``CHARLM_STREAM_MAX_BIGRAMS`` distinct bigrams (CJK-heavy text)
    would bloat the literal plan — raise and point at the
    stream-static broadcast-join alternative instead of degrading.
    """
    from forest_open_data_pipelines_spark.operators.textops import (
        CHARLM_MAX_ENTROPY_BITS,
        _charlm_model,
        _lp_micro,
        charlm_bigrams,
        clean_text,
    )

    t = F.lower(clean_text(F.col("text")))
    base = persist(reference_corpus.select("doc_id", t.alias("t")))
    ex = base.select("doc_id", F.explode(charlm_bigrams()).alias("bg"))
    model = _charlm_model(base, ex).collect()
    if len(model) > CHARLM_STREAM_MAX_BIGRAMS:
        raise ValueError(
            f"charlm_gate_stream: {len(model)} distinct bigrams exceeds "
            f"the literal-map cap {CHARLM_STREAM_MAX_BIGRAMS}; use a "
            "stream-static broadcast join against the model table "
            "instead of the literal fold."
        )
    # unseen-bigram fallbacks: the batch quantization with n12 = 0,
    # per-prefix n1 from the training stream, uniform 1/V floor
    vocab = (
        base.select(F.explode(F.split("t", "")).alias("c"))
        .where(F.col("c") != "")
        .agg(F.countDistinct("c").alias("v"))
    )
    zero, v = F.lit(0), F.col("v")
    prefix_lp = {
        r["c1"]: r["lp"]
        for r in ex.groupBy(F.substring("bg", 1, 1).alias("c1"))
        .agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(vocab)
        .select("c1", _lp_micro(zero, F.col("n1"), v).alias("lp"))
        .collect()
    }
    floor_lp = vocab.select(
        F.when(v > 0, _lp_micro(zero, zero, v)).otherwise(0)
    ).collect()[0][0]
    m = F.create_map(
        *[
            c
            for r in model
            for c in (F.lit(r["bg"]), F.lit(int(r["lp_micro"])).cast("long"))
        ]
    )
    pm = (
        F.create_map(
            *[
                c
                for c1, lp in sorted(prefix_lp.items())
                for c in (F.lit(c1), F.lit(lp).cast("long"))
            ]
        )
        if prefix_lp
        else F.create_map().cast("map<string,long>")
    )
    lp = lambda bg: F.coalesce(
        F.element_at(m, bg),
        F.element_at(pm, F.substring(bg, 1, 1)),
        F.lit(floor_lp).cast("long"),
    )
    scored = documents_stream.select(
        "doc_id", t.alias("t")
    ).select(
        "doc_id",
        F.aggregate(
            charlm_bigrams(),
            F.lit(0).cast("long"),
            lambda acc, bg: acc + lp(bg),
        ).alias("lp_sum"),
        F.size(charlm_bigrams()).alias("n_bigrams"),
    )
    h = ratio(-F.col("lp_sum") / (F.col("n_bigrams") * F.lit(1e6)))
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.when(F.col("n_bigrams") > 0, h).alias("entropy_bits"),
        F.when(F.col("n_bigrams") > 0, ratio(F.pow(F.lit(2.0), h))).alias(
            "perplexity"
        ),
        F.coalesce(
            F.when(F.col("n_bigrams") > 0, h <= CHARLM_MAX_ENTROPY_BITS),
            F.lit(True),
        ).alias("passes_charlm"),
    )
