"""Scaling probe: replicate the sf0.1 documents table with per-replica
token ROTATION and measure the dedup hot paths at 1/2/4/8×.

NOTE on the corpus shape this builds: rotating a ~56-token document by
k keeps all but ~n interior word-trigrams, so each replica is a
NEAR-DUPLICATE of its original — the probe is a duplicate-heavy
corpus stress test (true pairs grow ~quadratically in replicas per
original group), i.e. exactly the workload a dedup pass exists for
and its worst case. Findings recorded in SURVEY §3 (2026-08-14 run):
the prefix-filtered ppjoin scheme stays near-linear (x8 ratio 2.35)
where the count-verify scheme degrades with true-pair mass (x8 ratio
20.3) — which is why dedup_clusters defaults to ppjoin pairs.

Usage: python tools/scale_probe.py [max_replicas] [ops...]
Writes scaled parquet under /tmp/scale_probe/ and prints one line per
(op, scale) with wall-clock seconds; paste the summary into SURVEY §3.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from forest_open_data_pipelines_spark.operators import dedup
from forest_open_data_pipelines_spark.runtime import release_persisted
from forest_open_data_pipelines_spark.session import get_spark
from forest_open_data_pipelines_spark.sources import load_table

BASE_SF = "/root/testdata/sf0.1"
OUT = "/tmp/scale_probe"

def _textops_op(name):
    from forest_open_data_pipelines_spark.operators import textops

    return lambda d: getattr(textops, name)(d)


def _multimodal_op(name):
    from forest_open_data_pipelines_spark.operators import multimodal

    return lambda d: getattr(multimodal, name)(d)


def _curation_op(name):
    from forest_open_data_pipelines_spark.operators import curation

    return lambda d: getattr(curation, name)(d)


OPS = {
    "dedup_exact": lambda d: dedup.dedup_exact(d),
    "dedup_minhash": lambda d: dedup.dedup_minhash(d),
    "dedup_ngram_jaccard": lambda d: dedup.dedup_ngram_jaccard(d),
    "dedup_ngram_ppjoin": lambda d: dedup.dedup_ngram_ppjoin(d),
    "dedup_simhash64": lambda d: dedup.dedup_simhash64(d),
    "dedup_clusters": lambda d: dedup.dedup_clusters(d),
    # round-5 third tranche: the curation family on the same
    # duplicate-heavy corpus (rotation makes replicas near- but not
    # exact-duplicates, so chunk/span hit rates grow with replicas)
    "chunk_dedup": _curation_op("chunk_dedup"),
    "span_dedup": _curation_op("span_dedup"),
    # round-7 extension: the span EXTRACTION/EDIT pair — same window
    # stream as span_dedup plus the islands merge (dup windows only)
    # and the doc_id rebuild join; rotation means replicas share long
    # verbatim runs, so dup-window mass grows with replicas
    "duplicate_spans": _curation_op("duplicate_spans"),
    "strip_duplicate_spans": _curation_op("strip_duplicate_spans"),
    "decontaminate_ngram": _curation_op("decontaminate_ngram"),
    "pii_scrub": _curation_op("pii_scrub"),
    "stratified_token_sample": _curation_op("stratified_token_sample"),
    # production incremental shape: the doc_id % 13 == 0 slice plays the
    # day's new batch against the rest as base (same split as the
    # catalog entry); measures how the band join + verify grow when the
    # corpus is duplicate-heavy
    "dedup_incremental": lambda d: dedup.dedup_incremental(
        d.where(F.col("doc_id") % 13 == 0), d.where(F.col("doc_id") % 13 != 0)
    ),
    "edit_distance_pairs": lambda d: dedup.edit_distance_pairs(d),
    # round-7 extension: winnowing fingerprints — selection reduces the
    # gram stream ~2/(w+1) before the banded pair join; hot-df stop
    # keys scale with n_docs
    "dedup_winnowing": lambda d: dedup.dedup_winnowing(d),
    "winnowing_incremental": lambda d: dedup.winnowing_incremental(
        d.where(F.col("doc_id") % 13 == 0), d.where(F.col("doc_id") % 13 != 0)
    ),
    # round-6 text additions: charlm's model stays <= V^2 rows at any
    # corpus size; fenced_json is a pure projection; bpe_train works on
    # the vocabulary, which token rotation leaves UNCHANGED across
    # replicas — all three should probe ~flat per doc
    "charlm_perplexity": _textops_op("charlm_perplexity"),
    "fenced_json_extract": _textops_op("fenced_json_extract"),
    "bpe_train": _textops_op("bpe_train"),
    # late round-6 additions. tfidf/dsir reduce to bounded model tables
    # (vocab df / 256 buckets) + one doc-keyed agg; bpe_encode folds
    # once per DISTINCT word (rotation keeps the vocab unchanged) so
    # only its count agg should grow. decontaminate_embedding is
    # embeddings-based and out of this documents-replication probe —
    # its corpus side is a single broadcast-join pass by construction.
    "tfidf_top_terms": _textops_op("tfidf_top_terms"),
    "bpe_encode": _textops_op("bpe_encode"),
    "dsir_importance_weights": _curation_op("dsir_importance_weights"),
    # round-6 third session. boilerplate_ngrams: rotation preserves
    # most interior trigrams, so replica grams keep their base DF and
    # the boiler set stays bounded while the exploded stream grows
    # linearly. stratified_topk_sample: the quota cut is fixed-size
    # output over a linearly growing window input. dedup_semantic is
    # embeddings-based — out of this documents-replication probe; its
    # pair space is cell-bounded by construction (n²/k).
    # round-8 extension: the lexical retrieval family. bm25_topk's
    # query-side join is a broadcast literal, so only the (doc, term)
    # tf aggregate grows with the corpus (rotation leaves the
    # vocabulary and hence df/idf unchanged); bm25_route is the same
    # tf-free projection per row and should probe ~flat per doc.
    # token_zipf_fit reduces to the (lang, token) vocabulary, which
    # rotation leaves unchanged — only the explode grows.
    "bm25_topk": _textops_op("bm25_topk"),
    "bm25_route": _textops_op("bm25_route"),
    "token_zipf_fit": _textops_op("token_zipf_fit"),
    # vocab_coverage shares token_zipf_fit's (lang, token) aggregate
    # shape; the cutoff fold is over the bounded vocabulary
    "vocab_coverage": _textops_op("vocab_coverage"),
    # media_ahash_dedup: one-long signatures in the scan stage + the
    # simhash block LSH; the rotation corpus is its near-dup worst case
    "media_ahash_dedup": _multimodal_op("media_ahash_dedup"),
    # the incremental gate on the same split the catalog entry uses:
    # base index grows with the corpus, the new batch stays proportional
    "media_ahash_incremental": lambda d: __import__(
        "forest_open_data_pipelines_spark.operators.multimodal",
        fromlist=["multimodal"],
    ).media_ahash_incremental(
        d.where(F.col("doc_id") % 13 == 0), d.where(F.col("doc_id") % 13 != 0)
    ),
    "tokenizer_fertility": _textops_op("tokenizer_fertility"),
    "boilerplate_ngrams": _textops_op("boilerplate_ngrams"),
    "stratified_topk_sample": _curation_op("stratified_topk_sample"),
    # round-7 additions. ngram_novelty: rotation PRESERVES most interior
    # trigrams, so replica grams mostly have first_doc in the base copy
    # — novel counts stay ~flat while the explode grows linearly.
    # vocab_growth: rotation keeps the vocabulary unchanged, so the
    # token explode grows linearly but first/per_bucket stay
    # vocabulary-bounded. multimodal_dedup: rotated replicas are NOT
    # byte-identical, so groups stay ~n and the digest agg dominates.
    # freshness_watch_signals: pure projection, should probe ~flat/doc.
    "ngram_novelty": _textops_op("ngram_novelty"),
    "vocab_growth": _textops_op("vocab_growth"),
    "multimodal_dedup": lambda d: __import__(
        "forest_open_data_pipelines_spark.operators.multimodal",
        fromlist=["multimodal_dedup"],
    ).multimodal_dedup(d),
    "freshness_watch_signals": lambda d: __import__(
        "forest_open_data_pipelines_spark.operators.freshness",
        fromlist=["freshness_watch_signals"],
    ).freshness_watch_signals(d),
    # round-9: reports_catalog reduces to one groupBy(source) whose
    # output is #sources rows regardless of corpus size — the min_by /
    # min/max partial aggregates grow linearly, everything after is
    # projection on the persisted reports-sized frame; should probe
    # ~flat per doc. (The other round-9 entries read orders/events —
    # outside this documents-replication probe; their shapes are
    # year-grained aggregates and ONE keyed lag window, plan-guarded.)
    "reports_catalog": lambda d: __import__(
        "forest_open_data_pipelines_spark.operators.manifests",
        fromlist=["reports_catalog"],
    ).reports_catalog(d),
}


def build_scaled(spark, replicas: int) -> str:
    path = f"{OUT}/docs_x{replicas}.parquet"
    if os.path.exists(path):
        return path
    docs = load_table(spark, BASE_SF, "documents")
    n = docs.count()
    parts = []
    for k in range(replicas):
        toks = F.split("text", " ")
        rot = F.when(
            F.size(toks) > k,
            F.array_join(
                F.concat(
                    F.slice(toks, k + 1, F.size(toks) - k), F.slice(toks, 1, k)
                ),
                " ",
            ),
        ).otherwise(F.col("text"))
        parts.append(
            docs.select(
                (F.col("doc_id") + k * n).alias("doc_id"),
                rot.alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(path)
    return path


def main() -> None:
    max_replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    ops = sys.argv[2:] or list(OPS)
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    scales = [1, 2, 4, 8]
    scales = [s for s in scales if s <= max_replicas]
    results: dict[str, list[tuple[int, float, int]]] = {o: [] for o in ops}
    for s in scales:
        path = build_scaled(spark, s)
        docs = spark.read.parquet(path)
        n_docs = docs.count()
        for op in ops:
            fn = OPS[op]
            fn(docs).count()  # warm plan/codegen for this scale
            release_persisted()
            t0 = time.perf_counter()
            rows = fn(docs).count()
            dt = time.perf_counter() - t0
            release_persisted()
            results[op].append((n_docs, dt, rows))
            print(f"{op} x{s} docs={n_docs} rows={rows} {dt:.2f}s", flush=True)
    print("\n# scaling summary (time ratio vs doc ratio)")
    for op, rs in results.items():
        if len(rs) >= 2:
            n0, t0_, _ = rs[0]
            line = " ".join(
                f"x{n // n0}:{t / t0_:.2f}" for n, t, _ in rs
            )
            print(f"{op}: {line}")




# ── ANN scaling (embeddings replicated with a per-replica dimension nudge) ──

def build_scaled_embeddings(spark, replicas: int) -> str:
    path = f"{OUT}/emb_x{replicas}.parquet"
    if os.path.exists(path):
        return path
    emb = load_table(spark, BASE_SF, "embeddings")
    n = emb.count()
    parts = []
    for k in range(replicas):
        nudged = F.transform(
            "embedding",
            lambda x, i: (x + F.when(i == k % 64, F.lit(0.05 * k)).otherwise(0.0)).cast("float"),
        )
        parts.append(
            emb.select(
                (F.col("vec_id") + k * n).alias("vec_id"),
                nudged.alias("embedding"),
                "label",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(path)
    return path


def ann_main(max_replicas: int) -> None:
    from forest_open_data_pipelines_spark.operators import similarity

    spark = get_spark("scale-probe-ann")
    spark.sparkContext.setLogLevel("ERROR")
    ops = {
        "ann_topk_lsh": lambda e: similarity.ann_topk_lsh(e),
        "ann_topk_ivf": lambda e: similarity.ann_topk_ivf(e),
        "dedup_embedding_lsh": lambda e: dedup.dedup_embedding_lsh(e),
        # within-cell pair space: expect ~quadratic-in-replicas pair
        # growth DIVIDED by the fixed 16-cell fan-out; the nudge keeps
        # replicas near-duplicates so this is the dup-heavy worst case
        "dedup_semantic": lambda e: dedup.dedup_semantic(e),
        # round-9: residual IVFPQ — training is memoized (first call
        # per scale pays 3 Lloyd scans; the timed run measures encode
        # + probe + ADC), candidates per query are n_probe/n_cells of
        # the corpus at 12 bytes each → expect ~linear in vectors
        "ann_topk_ivfpq_residual": lambda e: (
            similarity.ann_topk_ivfpq_residual(e)
        ),
    }
    results = {o: [] for o in ops}
    for s in [1, 2, 4, 8]:
        if s > max_replicas:
            break
        path = build_scaled_embeddings(spark, s)
        emb = spark.read.parquet(path)
        n_vecs = emb.count()
        for op, fn in ops.items():
            fn(emb).count()
            release_persisted()
            t0 = time.perf_counter()
            rows = fn(emb).count()
            dt = time.perf_counter() - t0
            release_persisted()
            results[op].append((n_vecs, dt, rows))
            print(f"{op} x{s} vecs={n_vecs} rows={rows} {dt:.2f}s", flush=True)
    print("\n# ann scaling summary")
    for op, rs in results.items():
        if len(rs) >= 2:
            n0, t0_, _ = rs[0]
            print(f"{op}: " + " ".join(f"x{n // n0}:{t / t0_:.2f}" for n, t, _ in rs))




# ── events/lineitem scaling (round-7 extension analytics ops) ──────────────
# Replication scheme: per replica k, user/order keys offset by k·max so
# replicas are DISJOINT populations (transitions and anomalies scale
# linearly by construction; affinity's per-order fan-out is invariant)
# and event timestamps keep their original days (daily series depth is
# constant while per-day volume grows k× — the production growth mode).


def build_scaled_events(spark, replicas: int) -> str:
    path = f"{OUT}/events_x{replicas}.parquet"
    if os.path.exists(path):
        return path
    ev = load_table(spark, BASE_SF, "events")
    n_user = ev.agg(F.max("user_id")).first()[0] + 1
    n_eid = ev.agg(F.max("event_id")).first()[0] + 1
    parts = [
        ev.select(
            (F.col("event_id") + k * n_eid).alias("event_id"),
            "ts",
            (F.col("user_id") + k * n_user).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for k in range(replicas)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(path)
    return path


def build_scaled_lineitem(spark, replicas: int) -> str:
    path = f"{OUT}/lineitem_x{replicas}.parquet"
    if os.path.exists(path):
        return path
    li = load_table(spark, BASE_SF, "lineitem")
    n_ord = li.agg(F.max("l_orderkey")).first()[0] + 1
    parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(k * n_ord))
        for k in range(replicas)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(path)
    return path


def analytics_main(max_replicas: int) -> None:
    from forest_open_data_pipelines_spark.operators import relational, sessionize

    spark = get_spark("scale-probe-analytics")
    spark.sparkContext.setLogLevel("ERROR")
    from forest_open_data_pipelines_spark.operators import freshness

    ev_ops = {
        "event_transitions": sessionize.event_transitions,
        "daily_anomaly_report": sessionize.daily_anomaly_report,
        # round-9: the append contract is ONE lag window on the
        # (watch, resource) key — disjoint replica populations grow the
        # key space k× with chain length constant, the production
        # growth mode (more sources watched); expect ~linear
        "freshness_observations_append": (
            freshness.freshness_observations_append
        ),
        "freshness_cadence": freshness.freshness_cadence,
        "events_sessionize": sessionize.events_sessionize,
        # round-9 extension: SCD2 is the sessionize plan family (one
        # fact exchange on user_id) so disjoint replica populations
        # should scale ~linearly; the interval join adds the fact
        # re-join whose per-user fan-out is invariant under replication
        "scd2_user_state_history": sessionize.scd2_user_state_history,
        "session_interval_join": sessionize.session_interval_join,
        # point-in-time consumption: history build (one fact exchange)
        # + the open-interval equi join; purchases stay proportional
        "purchase_state_attribution": sessionize.purchase_state_attribution,
    }
    li_ops = {
        "part_affinity_pairs": relational.part_affinity_pairs,
        "sampled_revenue_estimate": relational.sampled_revenue_estimate,
        # replication offsets order keys, so replica populations are
        # disjoint subgraphs: edges grow ~k x, rounds stay fixed at 5
        "part_pagerank": relational.part_pagerank,
        "part_communities": relational.part_communities,
    }
    results = {o: [] for o in (*ev_ops, *li_ops)}
    for s in [1, 2, 4, 8]:
        if s > max_replicas:
            break
        ev = spark.read.parquet(build_scaled_events(spark, s))
        li = spark.read.parquet(build_scaled_lineitem(spark, s))
        n_ev = ev.count()
        for op, fn in ev_ops.items():
            fn(ev).count()
            t0 = time.perf_counter()
            rows = fn(ev).count()
            dt = time.perf_counter() - t0
            results[op].append((n_ev, dt, rows))
            print(f"{op} x{s} events={n_ev} rows={rows} {dt:.2f}s", flush=True)
        n_li = li.count()
        for op, fn in li_ops.items():
            fn(li).count()
            t0 = time.perf_counter()
            rows = fn(li).count()
            dt = time.perf_counter() - t0
            results[op].append((n_li, dt, rows))
            print(f"{op} x{s} lines={n_li} rows={rows} {dt:.2f}s", flush=True)
    print("\n# analytics scaling summary")
    for op, rs in results.items():
        if len(rs) >= 2:
            n0, t0_, _ = rs[0]
            print(f"{op}: " + " ".join(f"x{n // n0}:{t / t0_:.2f}" for n, t, _ in rs))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "ann":
        ann_main(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
    elif len(sys.argv) > 1 and sys.argv[1] == "analytics":
        analytics_main(int(sys.argv[2]) if len(sys.argv) > 2 else 4)
    else:
        main()
