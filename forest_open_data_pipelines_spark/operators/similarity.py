"""Approximate-nearest-neighbor similarity search over embeddings.

SURVEY.md §2.F. Two tiers:
- ``ann_topk_bruteforce``: exact cosine top-k of every query vector —
  the correctness baseline (oracle-checkable). The query set is tiny
  and broadcast, so the plan is a single scan of the candidate side:
  this is exactly how a 100 TB "score every document against K probes"
  job should look (no shuffle of the big side at all; top-k via
  per-partition partial ranking then a small final sort).
- ``ann_topk_lsh``: deterministic random-hyperplane LSH — candidates
  only from matching signature buckets, trading recall for a
  bucket-bounded join. Recall vs the baseline is asserted in tests.

Vector math uses the shared Catalyst folds in ``functions.columns``
(``dot``, ``norm``, ``cosine``), not Python UDFs — it compiles to JVM
codegen. A zero-norm vector scores a NULL cosine everywhere: it fails
every threshold and ranks after every real score, never raises.
"""

from __future__ import annotations

import hashlib
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from forest_open_data_pipelines_spark.functions.columns import (
    cosine,
    dot,
    micro_div,
    norm,
    ratio,
)
from forest_open_data_pipelines_spark.runtime import Memo, clear_memos, memo, persist
from forest_open_data_pipelines_spark.sources.tables import spread


def _rank_topk(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """The shared top-k tail of every index: rank each query's scored
    candidates by ``score_col`` descending (NULL scores last), ties to
    the lowest cand_id, keep ranks ≤ k. Appends ``rank``."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score_col), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _bruteforce_scored(embeddings: DataFrame, n_queries: int) -> DataFrame:
    """(query_id, cand_id, cosine) for every frozen query (vec_id <
    n_queries, broadcast) against every other vector — one scan of the
    candidate side, 6-dp cosines."""
    queries = F.broadcast(
        embeddings.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            norm(F.col("embedding")).alias("q_norm"),
        )
    )
    # Norm computed BEFORE the join: one pass per candidate row, carried
    # through the n_queries-way fan-out instead of recomputed per pair.
    cand = spread(embeddings).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        norm(F.col("embedding")).alias("c_norm"),
    )
    cos = ratio(cosine(dot("q_emb", "c_emb"), F.col("q_norm"), F.col("c_norm")))
    return (
        cand.join(queries)
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cos.alias("cosine"))
    )


def ann_topk_bruteforce(
    embeddings: DataFrame, n_queries: int = 8, k: int = 10
) -> DataFrame:
    """Exact cosine top-k: queries = vec_id < n_queries, candidates =
    all other vectors. Ranking on the rounded similarity with vec_id
    tie-break keeps the result deterministic across engines."""
    return _rank_topk(_bruteforce_scored(embeddings, n_queries), "cosine", k)


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes derived from md5 of
    (plane, dim) — reproducible on any engine/runtime, no RNG state."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"plane{p}#{i}".encode()).hexdigest()
            row.append((int(h[:15], 16) % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def lsh_signature(emb: Column, planes: list[list[float]]) -> Column:
    """Bit-packed sign signature of the projections onto the planes."""
    sig = F.lit(0)
    for j, plane in enumerate(planes):
        proj = dot(emb, F.array(*[F.lit(w) for w in plane]))
        sig = sig + F.when(proj > 0, F.lit(1 << j)).otherwise(0)
    return sig


# ANN LSH band geometry: 2 planes per band (16/8) keeps per-band match
# probability high enough for strong top-k recall on the low-cosine
# synthetic corpus (avg recall 0.95 vs bruteforce at sf0.001, asserted
# in tests) while the 8-band OR keeps buckets bounded. Shared with the
# DuckDB oracle generator in __spark_entry__.py.
ANN_LSH_PLANES = 16
ANN_LSH_BANDS = 8


def banded_signatures(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    n_planes: int,
    bands: int,
    dim: int = 64,
    carry_embedding: bool = False,
) -> DataFrame:
    """(id, band, key) hyperplane band signatures via ONE Arrow-batched
    numpy pass (optionally carrying the embedding + its norm through).

    The per-plane projection in Catalyst (``lsh_signature``) is an
    interpreted 64-step fold per plane per row — at 32 planes that is
    ~6k expression evaluations per vector and dominated the r3 bench
    numbers (measured: +2.6 s for 4× planes at sf0.1). Here the batch
    kernel accumulates the projections SEQUENTIALLY ACROSS DIMS
    (``acc += E[:, j] * P[:, j]``), the same left-to-right order as the
    Catalyst fold and the DuckDB oracle's ``list_sum`` comprehension, so
    every sign bit — and therefore every band key — is bit-identical to
    both (asserted in tests). Norms use the same sequential
    sum-of-squares so they bit-match ``columns.norm``'s fold.

    Scale: one streaming Arrow pass over the vectors, no shuffle; the
    output is ~20 bytes/row (or bands× the vector when
    ``carry_embedding`` — used only when the downstream join wants the
    vector without a second join against the source table).
    """
    import numpy as np

    planes = np.array(_hyperplanes(dim, n_planes), dtype=np.float64)
    per_band = n_planes // bands
    id_type = dict(df.dtypes)[id_col]
    extra = f", {emb_col} array<float>, nrm double" if carry_embedding else ""
    schema = f"{id_col} {id_type}, band int, key bigint{extra}"

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            e = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            n = len(pdf)
            acc = np.zeros((n, planes.shape[0]))
            nrm = np.zeros(n)
            for j in range(e.shape[1]):  # sequential over dims == fold order
                acc = acc + e[:, j, None] * planes[:, j]
                nrm = nrm + e[:, j] * e[:, j]
            bits = acc > 0
            keys = np.zeros((n, bands), dtype=np.int64)
            for b in range(bands):
                for j in range(per_band):
                    keys[:, b] += bits[:, b * per_band + j].astype(np.int64) << j
            out = {
                id_col: np.repeat(pdf[id_col].to_numpy(), bands),
                "band": np.tile(np.arange(bands, dtype=np.int32), n),
                "key": keys.reshape(-1),
            }
            if carry_embedding:
                out[emb_col] = np.repeat(pdf[emb_col].to_numpy(), bands)
                out["nrm"] = np.repeat(np.sqrt(nrm), bands)
            yield pd.DataFrame(out)

    # spread() fans a single-split source across cores so the Arrow
    # kernel runs one worker per core instead of one sequential stream
    # (no-op on multi-split production scans).
    return spread(df.select(id_col, emb_col)).mapInPandas(gen, schema)


def ann_topk_lsh(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    n_planes: int = ANN_LSH_PLANES,
    bands: int = ANN_LSH_BANDS,
    dim: int = 64,
) -> DataFrame:
    """LSH-bucketed top-k: score only candidates whose signature equals
    the query's in at least one plane band (OR-of-ANDs amplification:
    more bands → higher recall, more planes per band → smaller
    buckets; tune bands/planes to the corpus size instead of scanning
    everything).

    The candidate side is joined on the band key (equi-join on a
    bounded-cardinality bucket id, broadcast against the tiny banded
    query set) instead of broadcast-scoring everything — the shape that
    survives when the candidate side is huge.

    Scoring happens IN the bucket join (both sides carry their vector
    + norm out of the one-pass ``banded_signatures`` kernel), then a
    (query, cand) group-max deduplicates multi-band matches — one small
    shuffle of id pairs + cosines, and the big side is never shuffled
    at all (r2/r3 shape shuffled the candidate table twice: once for
    the pair distinct, once to re-attach embeddings). A pair matching
    in m bands pays its 64-dim dot m times; m ≤ bands and the dup rate
    is far below the cost of re-shuffling the corpus.
    """
    q_banded = F.broadcast(
        banded_signatures(
            embeddings.where(F.col("vec_id") < n_queries).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("q_emb"),
            ),
            "query_id",
            "q_emb",
            n_planes,
            bands,
            dim,
            carry_embedding=True,
        ).withColumnRenamed("nrm", "q_norm")
    )
    c_banded = banded_signatures(
        embeddings.select(
            F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
        ),
        "cand_id",
        "c_emb",
        n_planes,
        bands,
        dim,
        carry_embedding=True,
    ).withColumnRenamed("nrm", "c_norm")
    cos = ratio(cosine(dot("q_emb", "c_emb"), F.col("q_norm"), F.col("c_norm")))
    scored = (
        c_banded.join(q_banded, ["band", "key"])
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cos.alias("cosine"))
        .groupBy("query_id", "cand_id")
        .agg(F.max("cosine").alias("cosine"))
    )
    return _rank_topk(scored, "cosine", k)


# Fixed k-means refinement passes for the IVF coarse quantizer. Shared
# with the DuckDB oracle generator so both engines train the identical
# centroids.
IVF_KMEANS_ITERS = 2

# Train-once cache for the coarse quantizer: (plan fingerprint,
# n_cells, iters) → centroid list. A production IVF build trains the
# quantizer once and persists it as index metadata; this is the
# in-process equivalent, so repeated queries (bench reps, the trained
# catalog entry) pay the two training scans once per corpus instead of
# per invocation. Keyed on the DataFrame's semantic hash — two plans
# reading the same data hash alike, a different corpus misses.
# Filled through ``runtime.memo``, whose one lock makes concurrent ANN
# arm threads train a missing entry once.
_CENTROID_CACHE: dict[tuple[int, int, int], list[tuple[int, list[float]]]] = Memo()


def clear_centroid_cache() -> int:
    """Drop all cached trained quantizers — IVF centroids AND PQ
    codebooks (tests / corpus swaps); returns how many entries were
    released. ``runtime.clear_memos()`` drops these and every other
    memo."""
    return clear_memos(_CENTROID_CACHE, _PQ_CB_CACHE, _PQ_SEED_CACHE)


def _dlit(x: float) -> str:
    """Exact SQL double literal: ``repr`` is Python's shortest
    round-trip decimal and Java's ``parseDouble`` is correctly
    rounded, so the parsed literal is bit-identical to ``F.lit(x)``."""
    return repr(float(x)) + "D"


def _darray_sql(values) -> str:
    """SQL ``array(...)`` text of exact double literals."""
    return "array(" + ",".join(_dlit(x) for x in values) + ")"


def _centroid_literal(centroids: list[tuple[int, list[float]]]):
    """Centroid list → in-codegen array-of-structs literal with
    precomputed norms (sequential python sum == the engines' folds).

    Built as ONE parsed SQL expression instead of nested
    ``F.array(F.struct(F.lit(...)))`` columns: the n_cells·dim
    ``F.lit`` calls were ~1 000 py4j round-trips ≈ 0.8–1.0 s of pure
    driver time PER PLAN BUILD at the default geometry (optimization
    r12, guide §1.2 step 2 — measured with bench.py's per-query timer);
    the single ``F.expr`` parse is milliseconds and yields the
    identical literal tree (integer cell ids, exact double arrays via
    ``_dlit``, same field names/order)."""
    import math

    parts = []
    for cell_id, emb in centroids:
        cent_norm = math.sqrt(sum(float(x) * float(x) for x in emb))
        parts.append(
            f"named_struct('cell_id', {int(cell_id)}, "
            f"'cent_emb', {_darray_sql(emb)}, "
            f"'cent_norm', {_dlit(cent_norm)})"
        )
    return F.expr("array(" + ",".join(parts) + ")")


def _cell_scored(cent_arr):
    """Per-row (cell_cos, -cell_id) structs vs every centroid: the
    lexicographic array_max is argmax-by-cosine with ties to the LOWEST
    cell id — the same tie-break a row_number window would give.

    The assignment cosine is rounded to 9 decimals BEFORE the argmax on
    both engines (the DuckDB twin rounds identically): Catalyst's
    sequential fold and DuckDB's list_dot_product can differ by ~1e-16,
    and an unrounded near-tie would flip a cell assignment — which in
    the trained path cascades into divergent centroids (ADVICE r4).
    9 dp sits far below any real cosine gap and far above the
    engine-order ulp drift, the same rationale as the 6-dp mean
    rounding in ``train_ivf_centroids``."""
    return F.transform(
        cent_arr,
        lambda c: F.struct(
            (
                F.round(
                    cosine(
                        dot(F.col("embedding"), c["cent_emb"]),
                        F.col("v_norm"),
                        c["cent_norm"],
                    )
                    * F.lit(1e9),
                    0,
                )
                / F.lit(1e9)
            ).alias("cell_cos"),
            (-c["cell_id"]).alias("neg_cell_id"),
        ),
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = IVF_KMEANS_ITERS,
) -> list[tuple[int, list[float]]]:
    """Deterministic spherical-k-means centroids for the IVF coarse
    quantizer: seeds = the first ``n_cells`` non-zero vectors by
    ``vec_id`` (a zero seed would be a cell no vector can join), then
    ``iters`` fixed Lloyd passes (cosine assignment, per-dimension
    mean).

    Oracle-reproducible by construction: the iteration count is fixed,
    assignment ties break to the lowest cell id, and every per-dimension
    mean is rounded to 6 decimals — Spark's partial aggregation sums in
    partition order while DuckDB sums sequentially, and the rounding
    collapses that ~1e-16 order sensitivity so both engines train
    bit-identical centroid literals. Empty cells keep their previous
    centroid (standard Lloyd fallback). The mean's direction is what the
    cosine assignment consumes, so no re-normalization pass is needed.

    Scale: each pass is one scan — assignment is an in-codegen argmax
    projection (no join), the per-dimension means are ONE map-side
    combined groupBy over (cell, dim) ≤ n_cells·dim rows, and only that
    bounded aggregate is collected (the classic "train the coarse
    quantizer on a sample / few passes" step of every IVF build).
    Trained results are memoized per (corpus, n_cells, iters) in
    ``_CENTROID_CACHE`` — train once, reuse as index metadata.
    """
    key = (embeddings.semanticHash(), n_cells, iters)
    return memo(
        _CENTROID_CACHE, key, lambda: _train_ivf_centroids(embeddings, n_cells, iters)
    )


def _train_ivf_centroids(
    embeddings: DataFrame, n_cells: int, iters: int
) -> list[tuple[int, list[float]]]:
    # A zero seed would be a dead cell: every cosine to it is NULL, so
    # it never wins an assignment. Seed from non-zero vectors only.
    seed_rows = (
        embeddings.where(norm(F.col("embedding")) > 0)
        .orderBy("vec_id")
        .limit(n_cells)
        .select("vec_id", "embedding")
        .collect()
    )
    if not seed_rows:
        # An empty centroid literal would NULL every cell assignment
        # and silently return zero rows.
        raise ValueError(
            f"ann_topk_ivf: no non-zero embedding to seed the "
            f"n_cells={n_cells} centroids from"
        )
    centroids = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in seed_rows]
    for _ in range(iters):
        cent_arr = _centroid_literal(centroids)
        e = embeddings.select(
            "vec_id", "embedding", norm(F.col("embedding")).alias("v_norm")
        )
        # two-step select: a generator (posexplode) in the same select
        # as the lambda-built structs strips their field aliases
        # (Spark resolves the Generate node first), so assign the cell
        # id in its own projection.
        assigned = e.select(
            (-F.array_max(_cell_scored(cent_arr))["neg_cell_id"]).alias("cell_id"),
            "embedding",
        ).select("cell_id", F.posexplode("embedding").alias("pos", "x"))
        mean_rows = (
            assigned.groupBy("cell_id", "pos")
            .agg(ratio(F.avg(F.col("x").cast("double"))).alias("m"))
            .collect()
        )
        means: dict[int, dict[int, float]] = {}
        for r in mean_rows:
            means.setdefault(int(r.cell_id), {})[int(r.pos)] = float(r.m)
        centroids = [
            (
                cell_id,
                [means[cell_id][j] for j in sorted(means[cell_id])]
                if cell_id in means
                else prev,
            )
            for cell_id, prev in centroids
        ]
    return centroids


def ann_topk_ivf(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF-flat top-k: partition vectors into cells around the coarse
    quantizer; score queries only against vectors in their ``n_probe``
    nearest cells.

    The default quantizer is the first ``n_cells`` non-zero vectors;
    ``kmeans_iters > 0`` runs that many deterministic Lloyd passes
    first (``train_ivf_centroids`` — the catalog exposes this as
    ``ann_topk_ivf_trained``). Seeds stay the default because training
    does not reliably improve probe recall on this corpus (r5
    measurement, 9-dp-rounded assignment: seeds/trained recall vs
    bruteforce = 0.850/0.825 at sf0.001, 0.875/0.750 at sf0.01,
    0.975/1.000 at sf0.1 — two Lloyd passes over 16 cells overfit the
    small corpora the driver checks at). Training now memoizes through
    ``_CENTROID_CACHE`` (train-once index metadata), so the trained
    variant's steady-state cost equals the seed path's — the
    per-invocation objection is gone; the default flips if a corpus
    shows trained ≥ seed recall at every checked scale. Either way
    the centroids load ONCE at plan build — the bounded ``collect`` is
    ≤ n_cells·dim aggregate rows, not a data-scale action, and there
    is no ``count()`` in the query path.

    Cell assignment is a pure projection: each row computes its cosine
    against the centroid array literal and takes the argmax with
    ``array_max`` — NO join fan-out, NO shuffle between the scan and the
    assignment (the earlier shape, a 16× broadcast-join explosion argmin'd
    through a ``row_number`` window, re-shuffled the fanned table on
    vec_id). At 100 TB this is the inverted-file layout: the expensive
    top-k scan touches ``n_probe/n_cells`` of the data instead of all of
    it, and the cell map is exactly what a bucketed/partitioned-by-cell
    write would persist for reuse.
    """
    centroids = train_ivf_centroids(embeddings, n_cells, kmeans_iters)
    cell_scored = _cell_scored(_centroid_literal(centroids))
    # spread(): the per-row n_cells·dim assignment fold is the heavy
    # part of this plan — fan single-split sources across cores.
    e = spread(embeddings).select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("v_norm")
    )
    cands = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("v_norm").alias("c_norm"),
        (-F.array_max(cell_scored)["neg_cell_id"]).alias("cell_id"),
    )
    # Queries probe their n_probe best cells: sort ascending, reverse →
    # descending by (cell_cos, neg_cell_id) = cos desc, cell_id asc.
    top_cells = F.slice(F.reverse(F.array_sort(cell_scored)), 1, n_probe)
    probes = (
        e.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("v_norm").alias("q_norm"),
            F.explode(top_cells).alias("pc"),
        )
        .select(
            "query_id", "q_emb", "q_norm", (-F.col("pc.neg_cell_id")).alias("cell_id")
        )
    )
    cos = ratio(cosine(dot("q_emb", "c_emb"), F.col("q_norm"), F.col("c_norm")))
    # Each candidate lives in exactly one cell and a query's probe cells
    # are distinct, so (query_id, cand_id) pairs are already unique —
    # no distinct() shuffle needed before ranking.
    scored = (
        cands.join(F.broadcast(probes), "cell_id")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cos.alias("cosine"))
    )
    return _rank_topk(scored, "cosine", k)


def _centroid_arrays(embeddings: DataFrame, keys: list[str], name: str) -> DataFrame:
    """Centroid array per ``keys`` group (one global row when ``keys``
    is empty): posexplode → per-(group, dim) mean rounded to 6 dp →
    values collected in dim order. The rounding makes both engines fold
    bit-identical centroid inputs; the means are map-side combinable
    and the output is bounded by groups × dims."""
    means = (
        embeddings.select(*keys, F.posexplode("embedding").alias("pos", "v"))
        .groupBy(*keys, "pos")
        .agg(ratio(F.avg(F.col("v").cast("double"))).alias("c"))
    )
    return means.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias(name)
    )


def embedding_label_stats(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding geometry report: the 6-dp-rounded centroid's
    norm and the distribution (avg/min/max) of each member's cosine to
    its label centroid — the cluster-cohesion diagnostic an embedding
    pipeline runs before trusting labels for curriculum or dedup
    decisions.

    Scale: the centroid build is a posexplode → (label, dim) avg —
    map-side combinable, output bounded by labels×dims; the per-vector
    scoring joins the BROADCAST centroid table and folds the cosine
    in-codegen (the shared ``columns.dot`` fold, so the DuckDB twin's
    list_dot_product agrees at 6 dp). Per-dim
    centroid means are rounded to 6 dp on both engines BEFORE the
    cosine so the fold inputs are bit-identical.
    """
    cent_arr = _centroid_arrays(embeddings, ["label"], "centroid")
    cnorm = norm("centroid")
    cos = ratio(cosine(dot("embedding", "centroid"), norm("embedding"), cnorm))
    scored = embeddings.join(F.broadcast(cent_arr), "label").select(
        "label", cos.alias("cos"), ratio(cnorm).alias("centroid_norm")
    )
    # Average via integer micro-cosines: the per-row cos values are
    # cross-engine identical (6-dp rounded), but avg() of raw doubles
    # re-introduces summation-order ulp drift and the sf0.01 label-0
    # mean lands EXACTLY on a 1e-6 rounding boundary (measured margin
    # 0.0000) — a latent hash flip. round(cos·1e6) is an exact integer
    # per row, its sum/count is the same IEEE op sequence on both
    # engines, and the final integer round leaves no fractional
    # boundary behind.
    micro = F.round(F.col("cos") * 1e6, 0)
    return (
        scored.groupBy("label", "centroid_norm")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.round(F.avg(micro), 0) / 1e6).alias("avg_cos_to_centroid"),
            F.min("cos").alias("min_cos"),
            F.max("cos").alias("max_cos"),
        )
        .select(
            "label", "n_vecs", "centroid_norm",
            "avg_cos_to_centroid", "min_cos", "max_cos",
        )
        .orderBy("label")
    )


# ── int8 scalar quantization (SQ8) ──────────────────────────────────────────

SQ8_LEVELS = 127


def sq8_code_cols(emb: Column) -> tuple[Column, Column]:
    """(scale, codes) int8 scalar quantization of a float vector:
    scale = max|x| / 127 (6-dp-rounded so both engines quantize from
    the identical scale), codes[i] = round(x[i] / scale) ∈ [-127, 127].
    The per-dim round is at 0 dp — the boundary-safe class where
    Spark's string HALF_UP and DuckDB's binary half-away-from-zero
    agree on every double (functions.columns.ratio rationale). An
    all-zero vector quantizes to scale 0 / all-zero codes."""
    max_abs = F.aggregate(
        emb, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    scale = ratio(max_abs / F.lit(float(SQ8_LEVELS)))
    codes = F.transform(
        emb,
        lambda x: F.when(scale == 0, F.lit(0))
        .otherwise(F.round(x.cast("double") / scale, 0))
        .cast("int"),
    )
    return scale, codes


def embedding_quantize_sq8(embeddings: DataFrame) -> DataFrame:
    """Per-vector SQ8 quantization table: (vec_id, scale, codes,
    max_abs_err, mse) — the 4×-smaller representation a 100 TB vector
    store actually serves from (64 float32 → 64 int8 + one scale), plus
    the reconstruction-error audit columns.

    Public technique (scalar quantization as in FAISS's SQ8 / common
    vector-store int8 storage): dequantized value = codes[i]·scale, so
    |error| ≤ scale/2 per dimension by construction — asserted in
    tests and reported here as max_abs_err (6 dp).

    Scale: a pure projection (two folds + a transform per row), no
    shuffle but the presentation sort; codes are exact integers so the
    table is engine-portable bit-for-bit. The codes ship as a CSV
    string (``codes_csv``) rather than array<int>: the integer text is
    engine-exact, and a scalar column keeps the table sortable /
    hashable by any downstream canonicalizer (the driver's pandas
    compare cannot sort list cells).
    """
    emb = F.col("embedding")
    scale, codes = sq8_code_cols(emb)
    # carry the embedding through the first projection — the error
    # audit needs it, and re-joining the source table to recover it
    # would cost a second scan plus an exchange in a pure per-row op
    out = spread(embeddings).select(
        "vec_id", "embedding", scale.alias("scale"), codes.alias("codes")
    )
    err = F.zip_with(
        F.col("embedding"),
        F.col("codes"),
        lambda x, q: F.abs(x.cast("double") - q * F.col("scale")),
    )
    return (
        out.select(
            "vec_id",
            "scale",
            F.concat_ws(
                ",", F.transform("codes", lambda c: c.cast("string"))
            ).alias("codes_csv"),
            ratio(
                F.aggregate(err, F.lit(0.0), lambda a, e: F.greatest(a, e))
            ).alias("max_abs_err"),
            ratio(
                F.aggregate(err, F.lit(0.0), lambda a, e: a + e * e)
                / F.size("codes")
            ).alias("mse"),
        )
        .orderBy("vec_id")
    )


def ann_topk_sq8(
    embeddings: DataFrame, n_queries: int = 8, k: int = 10
) -> DataFrame:
    """Cosine top-k over the SQ8 codes — the memory-bound scale path:
    scoring touches one int8 array + one float per vector instead of
    the float32 matrix, and the integer dot products are EXACT (no
    summation-order drift: Σ q_i·c_i over ints is associative), so the
    quantized cosine is deterministic on any engine/partitioning by
    construction — only the final division needs the 6-dp round.

    cos_q = Σ(q·c) / (√Σq² · √Σc²) — the scales cancel in the cosine,
    so they are not re-applied. Recall vs the float bruteforce is
    asserted in tests (int8 keeps ~0.99 of top-k on this corpus; the
    dequantization error bound is embedding_quantize_sq8's audit).

    At corpus scale this composes with the IVF/LSH bucketing exactly
    like the float path (same candidate generators, 4× less I/O per
    candidate); the brute scan here is the oracle-shaped baseline over
    the broadcast query set.
    """
    emb = F.col("embedding")
    _, codes = sq8_code_cols(emb)
    coded = spread(embeddings).select("vec_id", codes.alias("codes"))
    qnorm = F.aggregate(
        F.col("codes"), F.lit(0).cast("long"), lambda a, x: a + x.cast("long") * x
    )
    queries = F.broadcast(
        coded.where(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("codes").alias("q_codes"),
            qnorm.alias("q_nsq"),
        )
    )
    cand = coded.select(
        F.col("vec_id").alias("cand_id"),
        F.col("codes").alias("c_codes"),
        qnorm.alias("c_nsq"),
    )
    idot = F.aggregate(
        F.zip_with("q_codes", "c_codes", lambda a, b: a.cast("long") * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cos = ratio(
        cosine(
            idot.cast("double"),
            F.sqrt(F.col("q_nsq").cast("double")),
            F.sqrt(F.col("c_nsq").cast("double")),
        )
    )
    scored = (
        cand.join(queries)
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cos.alias("cosine_q"))
    )
    return _rank_topk(scored, "cosine_q", k).select(
        "query_id", "rank", "cand_id", "cosine_q"
    )


# ── Product quantization (spherical PQ) ─────────────────────────────────────

# Geometry tuned on the synthetic corpus (measured recall vs the float
# bruteforce at sf0.01, L2 seed codebooks): (m=8, ks=16) 0.30,
# (16, 16) 0.41, (16, 64) 0.59, (32, 64) 0.71. A numpy probe of
# Lloyd-TRAINED codebooks adds ~+0.07-0.09 at each point (16/64: 0.59
# → 0.68) — the train_ivf_centroids-style upgrade path if a corpus
# warrants it. The honest finding on THIS corpus: the embeddings are
# unstructured (no subspace clusters for codebooks to exploit), so
# SQ8 (4×, recall ~0.99) dominates every PQ point — PQ earns its 21×
# when vectors have real structure; it ships at (16, 64) as the
# maximum-compression tier with its recall measured and asserted.
PQ_M = 16         # subspaces (64 dims → 16 sub-vectors of 4)
PQ_KS = 64        # codewords per subspace (6-bit codes)


#: (corpus semanticHash, m, ks, dim) → seed codebook. The seed collect
#: is bounded (ks rows) but still a Spark job; pq/ivfpq/residual and
#: retrieval_rank_eval each re-collected it per invocation
#: (optimization r12 — the _CENTROID_CACHE pattern applied to the
#: seed path; cleared by clear_centroid_cache with the others).
_PQ_SEED_CACHE: dict[tuple[int, int, int, int], list[list[list[float]]]] = Memo()


def _pq_codebook(
    embeddings: DataFrame, m: int = PQ_M, ks: int = PQ_KS, dim: int = 64
) -> list[list[list[float]]]:
    """codebook[sub][code] = 8-dim codeword — the first ``ks``
    vectors' sub-slices, the IVF seed-quantizer convention (a
    deterministic, oracle-reproducible codebook; Lloyd refinement is
    the same upgrade path train_ivf_centroids models). Bounded
    collect: ks rows, once per corpus (memoized per corpus like the
    IVF centroids)."""
    key = (embeddings.semanticHash(), m, ks, dim)
    return memo(_PQ_SEED_CACHE, key, lambda: _seed_pq_codebook(embeddings, m, ks, dim))


def _seed_pq_codebook(
    embeddings: DataFrame, m: int, ks: int, dim: int
) -> list[list[list[float]]]:
    sub = dim // m
    rows = sorted(
        embeddings.where(F.col("vec_id") < ks)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    if len(rows) < ks:
        raise ValueError(
            f"pq codebook needs vec_ids 0..{ks - 1}; got {len(rows)} rows"
        )
    return [
        [[float(x) for x in r.embedding[s * sub : (s + 1) * sub]] for r in rows]
        for s in range(m)
    ]


#: Lloyd passes for the trained PQ codebook — fixed like
#: IVF_KMEANS_ITERS so the oracle can unroll the same passes in SQL.
PQ_KMEANS_ITERS = 3

#: (corpus semanticHash, m, ks, dim, iters) → trained codebook; the
#: _CENTROID_CACHE pattern — train once per corpus, reuse as index
#: metadata so bench reps and the quantize/topk pair don't retrain.
#: dim IS part of the key: the codeword width is dim/m, so a second
#: call with a different dim must retrain, not read back codewords of
#: the wrong sub-vector length.
_PQ_CB_CACHE: dict[
    tuple[int, int, int, int, int], list[list[list[float]]]
] = Memo()


def train_pq_codebook(
    embeddings: DataFrame,
    m: int = PQ_M,
    ks: int = PQ_KS,
    dim: int = 64,
    iters: int = PQ_KMEANS_ITERS,
) -> list[list[list[float]]]:
    """Lloyd-trained per-subspace PQ codebooks — the
    ``train_ivf_centroids`` upgrade path the geometry note above PQ_M
    measured at +0.07–0.09 recall over the seed codebook (the numpy
    probe, now shipped): seeds = the first ``ks`` vectors' sub-slices,
    then ``iters`` fixed passes of (9-dp-rounded argmin assignment,
    ties to the lowest code id; per-(subspace, code, dim) MEAN rounded
    to 6 decimals; empty codes keep their previous codeword).

    Oracle-reproducible by construction, same three levers as the IVF
    trainer: fixed iteration count, pre-rounded assignment distances
    (a ~1e-16 fold-order near-tie cannot flip a code), and 6-dp means
    (partial-aggregation order cannot drift the codeword literal).

    Scale: each pass is ONE Arrow scan — the kernel assigns codes in
    numpy and emits per-batch PARTIAL (s, code, dim, sum, n) rows
    (≤ m·ks·sub per batch — map-side combine done inside the kernel),
    and the per-pass reduce is a groupBy over ≤ m·ks·sub keys whose
    result (4 096 tiny rows at the default geometry) is the only
    collect. Training cost stays out of the bench via the memo cache.
    """
    key = (embeddings.semanticHash(), m, ks, dim, iters)
    return memo(
        _PQ_CB_CACHE, key, lambda: _train_pq_codebook(embeddings, m, ks, dim, iters)
    )


def _train_pq_codebook(
    embeddings: DataFrame, m: int, ks: int, dim: int, iters: int
) -> list[list[list[float]]]:
    import numpy as np

    sub = dim // m
    cb = _pq_codebook(embeddings, m, ks, dim)
    src = spread(embeddings.select("vec_id", "embedding"))
    for _ in range(iters):
        C = np.array(cb, dtype=np.float64)  # (m, ks, sub)

        def gen(batches, C=C):
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                e = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                n = len(pdf)
                out_s, out_c, out_j, out_v, out_n = [], [], [], [], []
                for s in range(m):
                    x = e[:, s * sub : (s + 1) * sub]
                    d = np.zeros((n, ks))
                    for j in range(sub):  # sequential over dims
                        diff = x[:, j, None] - C[s, :, j][None, :]
                        d = d + diff * diff
                    c = np.argmin(np.round(d, 9), axis=1)
                    for code in np.unique(c):
                        mask = c == code
                        cnt = int(mask.sum())
                        for j in range(sub):
                            out_s.append(s)
                            out_c.append(int(code))
                            out_j.append(j)
                            out_v.append(float(x[mask, j].sum()))
                            out_n.append(cnt)
                yield pd.DataFrame(
                    {"s": out_s, "code": out_c, "j": out_j,
                     "v": out_v, "n": out_n}
                )

        means = (
            src.mapInPandas(gen, "s int, code int, j int, v double, n bigint")
            .groupBy("s", "code", "j")
            .agg(
                (F.round(F.sum("v") / F.sum("n") * 1e6, 0) / 1e6).alias("mv")
            )
            .collect()
        )
        new_cb = [[list(cw) for cw in sub_cb] for sub_cb in cb]
        for r in means:
            new_cb[r["s"]][r["code"]][r["j"]] = float(r["mv"])
        cb = new_cb
    return cb


def _pq_encoded(
    embeddings: DataFrame,
    codebook: list[list[list[float]]],
    m: int = PQ_M,
    ks: int = PQ_KS,
    dim: int = 64,
) -> DataFrame:
    """(vec_id, codes array<int>, recon_nsq, mse) — assignment is ONE
    Arrow-batched numpy pass (the banded_signatures precedent: the
    m·ks Catalyst distance folds per row ran interpreted and measured
    ~8 s at sf0.1 for 2 000 rows; the kernel is <0.5 s): per subspace,
    argmin of the 9-dp-rounded squared L2 distance to each codeword
    (the standard PQ quantizer objective), first-of-min ties = lowest
    code id. Every accumulation is SEQUENTIAL over dims/subspaces —
    the same left-to-right order as the DuckDB oracle's list_reduce —
    so codes, reconstruction norms and errors are bit-identical to the
    SQL twin (the 9-dp pre-round keeps a ~1e-16 near-tie from flipping
    a code, the train_ivf_centroids lesson; np.round's half-even vs
    the oracle's half-away differs only on exact scaled-binary halves,
    which the continuous d2 values cannot hit — parity asserted at
    three SFs).

    Scale: one streaming Arrow pass, no join, no shuffle; output is
    m ints + two doubles per vector."""
    import numpy as np

    sub = dim // m
    C = np.array(codebook, dtype=np.float64)  # (m, ks, sub)
    # per-(s, code) reconstruction norm², folded sequentially over dims
    nsq = np.zeros((m, ks))
    for j in range(sub):
        nsq = nsq + C[:, :, j] * C[:, :, j]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            e = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n = len(pdf)
            codes = np.zeros((n, m), dtype=np.int32)
            mse = np.zeros(n)
            rnsq = np.zeros(n)
            for s in range(m):
                x = e[:, s * sub : (s + 1) * sub]
                d = np.zeros((n, ks))
                for j in range(sub):  # sequential over dims == fold order
                    diff = x[:, j, None] - C[s, :, j][None, :]
                    d = d + diff * diff
                c = np.argmin(np.round(d, 9), axis=1)  # first min = low code
                codes[:, s] = c
                mse = mse + d[np.arange(n), c]  # sequential over subspaces
                rnsq = rnsq + nsq[s, c]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "codes": list(codes),
                    "recon_nsq": rnsq,
                    "mse": mse,
                }
            )

    return spread(embeddings.select("vec_id", "embedding")).mapInPandas(
        gen, "vec_id bigint, codes array<int>, recon_nsq double, mse double"
    )


def _pq_query_luts(
    embeddings: DataFrame,
    codebook: list[list[list[float]]],
    n_queries: int,
    m: int,
    ks: int,
    dim: int,
    q_rows=None,
) -> DataFrame:
    """(query_id, q_norm, lut array<array<double>>) — each query's ADC
    lookup table LUT[s][code] = ⟨q_s, codeword[s][code]⟩, computed
    driver-side from bounded inputs (n_queries rows + the collected
    codebook) with every accumulation sequential over dims, matching
    list_dot_product / the Catalyst fold bit-for-bit."""
    sub = dim // m
    if q_rows is None:
        q_rows = sorted(
            embeddings.where(F.col("vec_id") < n_queries)
            .select("vec_id", "embedding")
            .collect(),
            key=lambda r: r.vec_id,
        )
    lut_rows = []
    for r in q_rows:
        q = [float(x) for x in r.embedding]
        nsq = 0.0
        for x in q:
            nsq += x * x
        lut = []
        for s in range(m):
            row = []
            for c in range(ks):
                acc = 0.0
                for j in range(sub):
                    acc += q[s * sub + j] * codebook[s][c][j]
                row.append(acc)
            lut.append(row)
        lut_rows.append((int(r.vec_id), nsq**0.5, lut))
    return embeddings.sparkSession.createDataFrame(
        lut_rows, "query_id bigint, q_norm double, lut array<array<double>>"
    )


def _adc(m: int) -> Column:
    """Asymmetric-distance dot ⟨q, x̂⟩ = Σ_s LUT[s][code_s] over the
    ``lut`` and ``c_codes`` columns, folded in subspace order (the
    DuckDB twin's order)."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("lut"), s + 1),
            F.element_at(F.col("c_codes"), s + 1) + 1,
        ),
    )


def embedding_quantize_pq(
    embeddings: DataFrame,
    m: int = PQ_M,
    ks: int = PQ_KS,
    dim: int = 64,
    trained: bool = False,
) -> DataFrame:
    """Product-quantization table: (vec_id, codes, recon_mse) — the
    64-float vector stored as 16 six-bit codes (12 bytes ≈ 21× smaller
    than float32, 5× smaller than SQ8), plus the per-vector
    reconstruction audit ‖x − x̂‖²/dim at 6 dp.

    Public technique (Jégou et al. 2011, product quantization for
    nearest neighbor search). The codebook is index metadata: ks·dim
    floats collected once (the IVF-centroid bounded-collect pattern);
    encoding is one Arrow-batched kernel pass (``_pq_encoded`` — no
    join, no shuffle but the presentation sort), with every fold
    sequential so codes and errors are bit-identical to the DuckDB
    twin.

    ``trained=True`` swaps in the memoized Lloyd codebook
    (``train_pq_codebook``) — identical pipeline, lower recon_mse
    (asserted in tests) and +0.07–0.09 topk recall on this corpus.
    """
    codebook = (
        train_pq_codebook(embeddings, m, ks, dim)
        if trained
        else _pq_codebook(embeddings, m, ks, dim)
    )
    enc = _pq_encoded(embeddings, codebook, m, ks, dim)
    # codes as CSV text, not array<int> — same rationale as
    # embedding_quantize_sq8: scalar columns stay sortable/hashable in
    # any engine-portable canonical compare.
    return enc.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform("codes", lambda c: c.cast("string"))
        ).alias("codes_csv"),
        ratio(F.col("mse") / F.lit(float(dim))).alias("recon_mse"),
    ).orderBy("vec_id")


def subspace_clustered_slice(embeddings: DataFrame) -> DataFrame:
    """Deterministic SUBSPACE-CLUSTERED re-synthesis of the embedding
    corpus — the vector regime product quantization actually models
    (Jégou et al. 2011 §II: PQ assumes each sub-vector falls near one
    of a small set of modes): every 4-dim subspace becomes one of 16
    well-separated prototypes (index = Murmur3 of (vec_id, subspace),
    engine-deterministic) plus a 5% residual of the original floats so
    the encode is non-degenerate.

    This is the honest counterpart to the pinned geometry finding that
    SQ8 dominates PQ on the UNSTRUCTURED synthetic corpus: on this
    slice the same shipped (m=16, ks=64) pipeline MEASURES top-k
    recall 0.975 (sf0.001) / 0.95 (sf0.01) vs 0.575 / 0.5875 raw
    (2026-08-16, untrained seed codebook, n_queries=8, k=10) — PQ
    earns its 21× compression exactly when subspace structure exists,
    asserted in tests. Eval-only helper (no catalog entry): the probe
    rides the existing ann_topk_pq / ann_topk_bruteforce operators."""
    proto = "pmod(hash(vec_id * 16 + CAST(i / 4 AS INT)), 16)"
    return embeddings.select(
        "vec_id",
        F.expr(
            f"""
transform(sequence(0, 63), i ->
  CAST(
    (CASE WHEN (i % 4) = {proto} % 4
          THEN (1.0 + {proto}) / 16.0
               * (CASE WHEN {proto} >= 8 THEN -1.0 ELSE 1.0 END)
          ELSE 0.08 * (pmod({proto} * 7 + (i % 4), 5) - 2)
     END) + 0.05 * embedding[i]
  AS FLOAT))
"""
        ).alias("embedding"),
    )


def ann_topk_pq(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    m: int = PQ_M,
    ks: int = PQ_KS,
    dim: int = 64,
    trained: bool = False,
    enc: DataFrame | None = None,
) -> DataFrame:
    """Cosine top-k by asymmetric distance computation (ADC) over the
    PQ codes: each query precomputes its m·ks lookup table
    LUT[s][code] = ⟨q_s, codeword[s][code]⟩ ONCE (driver-side from the
    collected codebook + the n_queries query rows — both bounded; the
    classic ADC trick), so scoring a candidate is m table lookups
    summed in subspace order instead of a dim-wide product, against a
    ~21×-compressed store. cos_pq = adc / (‖q‖·‖x̂‖) with the
    reconstruction norm carried from the encode kernel.

    Recall vs the float bruteforce is measured at 0.58-0.59 on this
    corpus (see the geometry note above PQ_M — SQ8 dominates here
    because the synthetic embeddings carry no subspace structure) and
    lower-bounded in tests; like ann_topk_sq8, the brute ADC scan is
    the oracle-shaped baseline — at corpus scale the same scoring
    composes with the IVF/LSH candidate generators (12 bytes/vector of
    codes makes the scan memory-bound-friendly, PQ's actual point).

    Scale: queries broadcast with their LUTs; candidates carry only
    codes + a norm (never the float vectors); LUT entries, the
    sequential fold over s, and q_norm all reproduce the DuckDB twin's
    arithmetic order exactly. ``trained=True`` scores against the
    memoized Lloyd codebook (recall ≥ the seed codebook's, asserted).
    """
    codebook = (
        train_pq_codebook(embeddings, m, ks, dim)
        if trained
        else _pq_codebook(embeddings, m, ks, dim)
    )
    if enc is None:
        # callers that score several indexes over the same corpus
        # (retrieval_rank_eval) pass a shared persisted encode frame so
        # the Arrow encode pass runs once, not once per index
        enc = _pq_encoded(embeddings, codebook, m, ks, dim)
    queries = F.broadcast(_pq_query_luts(embeddings, codebook, n_queries, m, ks, dim))
    cands = enc.select(
        F.col("vec_id").alias("cand_id"),
        F.col("codes").alias("c_codes"),
        F.col("recon_nsq").alias("c_nsq"),
    )
    cos = ratio(cosine(_adc(m), F.col("q_norm"), F.sqrt(F.col("c_nsq"))))
    scored = (
        cands.join(queries)
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cos.alias("cosine_pq"))
    )
    return _rank_topk(scored, "cosine_pq", k).select(
        "query_id", "rank", "cand_id", "cosine_pq"
    )


def ann_topk_ivfpq(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = PQ_M,
    ks: int = PQ_KS,
    dim: int = 64,
    enc: DataFrame | None = None,
) -> DataFrame:
    """IVF + PQ — the composed index every large vector store actually
    runs (FAISS IndexIVFPQ shape, Jégou et al. 2011): the coarse IVF
    quantizer restricts each query to its ``n_probe`` cells'
    candidates, and scoring inside a cell is PQ's ADC lookup-table sum
    over the 12-byte codes. The two stages are EXACTLY the shipped
    pieces — ``ann_topk_ivf``'s cell assignment/probing and
    ``ann_topk_pq``'s kernel encoding + per-query LUTs — composed, so
    their individually-asserted parities carry over.

    Scale: the top-k scan touches n_probe/n_cells of the corpus AND
    reads 12-byte codes instead of 256-byte vectors — the two
    multiplicative savings that make 100 TB ANN serve from RAM.
    Candidates join probes on cell_id (each candidate lives in one
    cell, probe cells per query are distinct → pairs already unique);
    the cell map + code table is what a partitioned-by-cell write
    would persist as the index. Recall vs the float bruteforce is the
    PRODUCT of the stages' losses — measured in tests (≈ both stages'
    documented recalls composed on this unstructured corpus).
    """
    centroids = train_ivf_centroids(embeddings, n_cells, 0)
    cell_scored = _cell_scored(_centroid_literal(centroids))
    codebook = _pq_codebook(embeddings, m, ks, dim)
    if enc is None:
        # shared-encode escape hatch — see ann_topk_pq
        enc = _pq_encoded(embeddings, codebook, m, ks, dim)
    e = spread(embeddings).select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("v_norm")
    )
    cells = e.select(
        "vec_id", (-F.array_max(cell_scored)["neg_cell_id"]).alias("cell_id")
    )
    cands = enc.join(cells, "vec_id").select(
        F.col("vec_id").alias("cand_id"),
        F.col("codes").alias("c_codes"),
        F.col("recon_nsq").alias("c_nsq"),
        "cell_id",
    )
    top_cells = F.slice(F.reverse(F.array_sort(cell_scored)), 1, n_probe)
    probes = (
        e.where(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.explode(top_cells).alias("pc"))
        .select("query_id", (-F.col("pc.neg_cell_id")).alias("cell_id"))
    )
    luts = _pq_query_luts(embeddings, codebook, n_queries, m, ks, dim)
    queries = F.broadcast(probes.join(F.broadcast(luts), "query_id"))
    cos = ratio(cosine(_adc(m), F.col("q_norm"), F.sqrt(F.col("c_nsq"))))
    scored = (
        cands.join(queries, "cell_id")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cos.alias("cosine_pq"))
    )
    return _rank_topk(scored, "cosine_pq", k).select(
        "query_id", "rank", "cand_id", "cosine_pq"
    )


def embedding_cluster_report(
    embeddings: DataFrame, n_cells: int = 16, kmeans_iters: int = 0
) -> DataFrame:
    """Per-cluster balance/geometry report: assign every vector to its
    coarse-quantizer cell (the ann_topk_ivf assignment projection) and
    report size, corpus share, and the avg/min/max cosine-to-centroid
    per cell — the topic-balance diagnostic a curation pipeline reads
    before trusting an embedding space for mixture or dedup decisions
    (the corpus-level sibling of ``embedding_label_stats``' per-label
    view; a skewed cell here is the "one topic dominates the corpus"
    smell).

    Determinism: the assignment cosine is the 9-dp-rounded
    ``_cell_scored`` value, carried as an EXACT nano-int so the
    per-cell sum/avg is independent of partial-aggregation order (the
    embedding_label_stats micro-unit pattern); only the final 6-dp
    display divisions round.

    Scale: assignment is the in-codegen argmax projection (no join),
    the report is ONE map-side-combinable groupBy over ≤ n_cells rows
    plus a broadcast share denominator.
    """
    centroids = train_ivf_centroids(embeddings, n_cells, kmeans_iters)
    cell_scored = _cell_scored(_centroid_literal(centroids))
    e = spread(embeddings).select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("v_norm")
    )
    best = F.array_max(cell_scored)
    assigned = e.select(
        (-best["neg_cell_id"]).alias("cell_id"),
        F.round(best["cell_cos"] * F.lit(1e9), 0).cast("long").alias("cos_nano"),
    )
    per = assigned.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("cos_nano").alias("s_nano"),
        F.min("cos_nano").alias("mn_nano"),
        F.max("cos_nano").alias("mx_nano"),
    )
    tot = per.agg(F.sum("n_vectors").alias("t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "cell_id",
            "n_vectors",
            ratio(F.col("n_vectors") / F.col("t")).alias("share"),
            ratio(F.col("s_nano") / (F.col("n_vectors") * F.lit(1e9))).alias(
                "avg_cos"
            ),
            ratio(F.col("mn_nano") / F.lit(1e9)).alias("min_cos"),
            ratio(F.col("mx_nano") / F.lit(1e9)).alias("max_cos"),
        )
        .orderBy("cell_id")
    )


def _hit_counts(m: DataFrame, truth: DataFrame) -> DataFrame:
    """One row (n_results, n_truth, n_hit): the size of a result set,
    of the exact truth set, and of their (query_id, cand_id) overlap."""
    inter = m.join(truth, ["query_id", "cand_id"]).agg(F.count("*").alias("n_hit"))
    return (
        m.agg(F.count("*").alias("n_results"))
        .join(truth.agg(F.count("*").alias("n_truth")))
        .join(inter)
    )


def _eval_arms(
    embeddings: DataFrame, n_queries: int, k: int, cols: list[str], score
) -> DataFrame:
    """Run every approximate ANN index as one arm against the exact
    bruteforce top-k: ``score(name, arm, truth)`` turns one index's
    persisted result (``cols`` only) and the persisted truth
    (query_id, cand_id) into that method's row; the rows come back
    unioned and ordered by method.

    The arms are built AND materialized concurrently (guide §2.6).
    Threading only the construction (r12) left the arm subtrees
    evaluating sequentially inside the one final union action —
    measured r13: full query 5.31 s ≈ Σ isolated arms 5.42 s, zero
    overlap. Each thread persists its arm's bounded (≤ n_queries·k
    rows) frame and counts it, so the arm jobs overlap on the cluster
    and the final action unions tiny cached frames: wall-clock ≈
    max(arm), not Σ(arm). Spark's job group, description and tags are
    thread-local, so every thread target is wrapped in
    ``inheritable_thread_target``: the arm jobs carry the caller's.

    The pq and ivfpq arms share ONE persisted PQ encode frame
    (optimization r12; without it the Arrow encode pass runs once per
    arm). Their threads race to fill it; BlockManager's per-partition
    cache locking makes one compute and the other wait. Everything
    persisted here is freed when the caller's ``runtime.query_scope``
    ends: the arm threads inherit its job group.
    """
    truth = persist(
        ann_topk_bruteforce(embeddings, n_queries, k).select("query_id", "cand_id")
    )
    enc = persist(_pq_encoded(embeddings, _pq_codebook(embeddings), PQ_M, PQ_KS, 64))
    builders = {
        "ivf": lambda: ann_topk_ivf(embeddings, n_queries, k),
        "ivfpq": lambda: ann_topk_ivfpq(embeddings, n_queries, k, enc=enc),
        "lsh": lambda: ann_topk_lsh(embeddings, n_queries, k),
        "pq": lambda: ann_topk_pq(embeddings, n_queries, k, enc=enc),
        "sq8": lambda: ann_topk_sq8(embeddings, n_queries, k),
    }

    def _arm(fn):
        m = persist(fn().select(*cols))
        m.count()
        return m

    inherit = inheritable_thread_target(embeddings.sparkSession)
    with ThreadPoolExecutor(max_workers=len(builders) + 1) as pool:
        tf = pool.submit(inherit(truth.count))
        arm = inherit(_arm)
        futures = {name: pool.submit(arm, fn) for name, fn in builders.items()}
        methods = {name: fut.result() for name, fut in futures.items()}
        tf.result()
    return reduce(
        DataFrame.unionByName,
        [score(name, m, truth) for name, m in methods.items()],
    ).orderBy("method")


def ann_method_eval(
    embeddings: DataFrame, n_queries: int = 8, k: int = 10
) -> DataFrame:
    """Evaluation harness as a query: recall@k (and precision) of
    every approximate ANN index against the exact bruteforce top-k —
    the ``dedup_method_eval`` pattern applied to similarity search,
    so the recall numbers that justify each index live in a catalog
    entry instead of scattered docstrings.

    All result sets are persisted once (``_eval_arms``); hits are
    equi-joins on (query_id, cand_id) and the final table is one
    bounded aggregate row per method — nothing beyond what the indexes
    themselves compute. At corpus scale this is the standard
    index-acceptance gate run on a sampled query set.
    """

    def score(name: str, m: DataFrame, truth: DataFrame) -> DataFrame:
        return _hit_counts(m, truth).select(
            F.lit(name).alias("method"),
            "n_results",
            "n_truth",
            "n_hit",
            ratio(F.expr("n_hit / nullif(n_results, 0)")).alias("precision"),
            ratio(F.expr("n_hit / nullif(n_truth, 0)")).alias("recall"),
        )

    return _eval_arms(embeddings, n_queries, k, ["query_id", "cand_id"], score)


#: Rank-aware retrieval eval: query/k defaults shared with
#: ann_method_eval; the DCG gain table is micro-quantized (the tfidf
#: idf_micro precedent) so cross-engine float identity holds.
RETRIEVAL_EVAL_QUERIES = 8
RETRIEVAL_EVAL_K = 10


def retrieval_idcg_micro(k: int = RETRIEVAL_EVAL_K) -> int:
    """Ideal DCG@k in half-up micro-units — ONE Python-computed
    integer constant embedded verbatim in both the Spark plan and the
    DuckDB oracle, so the normalizer cannot drift between engines."""
    import math

    return sum(
        int(math.floor(1e6 / math.log2(i + 1) + 0.5)) for i in range(1, k + 1)
    )


def retrieval_rank_eval(
    embeddings: DataFrame,
    n_queries: int = RETRIEVAL_EVAL_QUERIES,
    k: int = RETRIEVAL_EVAL_K,
) -> DataFrame:
    """Rank-AWARE IR metrics per ANN method against the exact
    bruteforce top-k (binary relevance = membership in the exact
    set) — the ranking-quality half ``ann_method_eval``'s set
    recall/precision can't see (a method can score recall 1.0 while
    burying every true neighbor at the bottom of its list):

      - MRR        — mean reciprocal rank of the first relevant hit
      - nDCG@k     — DCG with 1/log2(rank+1) gains over the shared
                     IDCG@k normalizer (every query has exactly k
                     relevant items by construction)
      - MAP@k      — mean average precision, precision@r summed at
                     each relevant hit / k

    Cross-engine determinism (the tfidf ``idf_micro`` precedent):
    every per-hit gain/precision/reciprocal is rounded to integer
    MICRO-units first — ``round(1e6 / log2(rank+1))`` etc. — so all
    aggregation is exact integer summation (order-independent) and
    the only double operations are one final division per metric plus
    the 6-dp ratio round. Queries a method misses entirely contribute
    zero (the denominators are the fixed ``n_queries``/``k``).

    Scale: reuses the five index frames the catalog already computes;
    hits are (query_id, cand_id) equi-joins against the persisted
    truth, per-query state is a bounded window over ≤k hit rows, and
    the output is one row per method.
    """
    idcg = retrieval_idcg_micro(k)
    w = Window.partitionBy("query_id").orderBy("rank")
    gain = F.round(F.lit(1e6) / F.log2(F.col("rank") + 1), 0).cast("long")
    prec = F.round(F.lit(1e6) * F.col("i") / F.col("rank"), 0).cast("long")
    rr = F.round(F.lit(1e6) / F.col("first_rank"), 0).cast("long")

    def score(name: str, m: DataFrame, truth: DataFrame) -> DataFrame:
        per_q = (
            m.join(truth, ["query_id", "cand_id"])
            .withColumn("i", F.row_number().over(w))
            .groupBy("query_id")
            .agg(
                F.min("rank").alias("first_rank"),
                F.sum(gain).alias("dcg_micro"),
                F.sum(prec).alias("ap_micro"),
            )
        )
        return per_q.agg(
            F.count(F.lit(1)).cast("long").alias("n_hit_queries"),
            F.coalesce(F.sum(rr), F.lit(0)).alias("srr"),
            F.coalesce(F.sum("dcg_micro"), F.lit(0)).alias("sdcg"),
            F.coalesce(F.sum("ap_micro"), F.lit(0)).alias("sap"),
        ).select(
            F.lit(name).alias("method"),
            "n_hit_queries",
            ratio(F.col("srr") / F.lit(float(n_queries * 10**6))).alias("mrr"),
            ratio(F.col("sdcg") / F.lit(float(n_queries * idcg))).alias(
                "ndcg_at_k"
            ),
            ratio(F.col("sap") / F.lit(float(n_queries * k * 10**6))).alias(
                "map_at_k"
            ),
        )

    return _eval_arms(
        embeddings, n_queries, k, ["query_id", "cand_id", "rank"], score
    )


# Matryoshka truncation sweep: prefix lengths evaluated against the
# full-dim ground truth. Single-sourced with the DuckDB oracle
# generator in __spark_entry__.py (emb[1:d] slices).
ANN_RECALL_DIMS = (8, 16, 32, 64)


def ann_recall_vs_dim(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    dims: tuple[int, ...] = ANN_RECALL_DIMS,
) -> DataFrame:
    """Matryoshka-style truncation sweep (Kusupati et al. 2022, public
    methodology): recall@k of EXACT cosine search over prefix-truncated
    embeddings vs the full-dim exact top-k, one row per prefix length.
    This is the measurement that justifies a dimension-reduction stage
    in front of an ANN index — at 100 TB, scanning 8 of 64 components
    is an 8× bandwidth cut, and this sweep prices its recall cost on
    the corpus itself instead of trusting a model card.

    Truncation is ``F.slice(embedding, 1, d)`` — a pure projection, no
    Python. Each per-dim search is ``ann_topk_bruteforce`` on the
    sliced frame: queries broadcast, one scan of the candidate side,
    per-partition partial top-k. All result sets are bounded
    (n_queries×k rows) and persisted once; the final table is one row
    per dim. The full-dim entry (d = native dim) must score recall
    1.0 — asserted in tests, which pins the harness itself.
    """
    truth = persist(
        ann_topk_bruteforce(embeddings, n_queries, k).select(
            "query_id", "cand_id"
        )
    )
    outs = []
    for d in dims:
        trunc = embeddings.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        m = persist(
            ann_topk_bruteforce(trunc, n_queries, k).select(
                "query_id", "cand_id"
            )
        )
        outs.append(
            _hit_counts(m, truth).select(
                F.lit(d).alias("dim"),
                "n_results",
                "n_truth",
                "n_hit",
                ratio(F.expr("n_hit / nullif(n_truth, 0)")).alias("recall"),
            )
        )
    return reduce(DataFrame.unionByName, outs).orderBy("dim")


# ── Nearest-query routing (the stream-safe ANN scoring shape) ────────────────

ROUTE_THRESHOLD_MICRO = 150_000  # 0.15 at 6 dp, exact integer compare
ROUTE_N_QUERIES = 8  # frozen routing set size (single-sourced with the oracle)


def collect_route_queries(
    embeddings: DataFrame, n_queries: int = 8
) -> list[tuple[int, list[float], float]]:
    """(query_id, embedding, norm) for the frozen routing set — a
    BOUNDED collect (n_queries rows, the IVF-centroid pattern); norms
    fold sequentially in Python exactly like the Catalyst
    ``columns.norm`` fold, so they bit-match the oracle's."""
    rows = sorted(
        embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    out = []
    for r in rows:
        q = [float(x) for x in r.embedding]
        nsq = 0.0
        for x in q:
            nsq += x * x
        out.append((int(r.vec_id), q, nsq**0.5))
    return out


def route_scores_array(
    queries: list[tuple[int, list[float], float]], emb: Column
) -> Column:
    """array<long> of integer micro-cosines against every frozen query
    (ordered by query_id) — pure per-row folds over literal vectors,
    NO join, NO state: the shape a streaming router needs
    (lang_id_ngram's joinless-scoring precedent). Each query adds one
    64-step fold to the projection, so the expression tree suits the
    small frozen sets routed here (``ROUTE_N_QUERIES``). Micro-units
    are embedding_label_stats' convention so rank order cannot drift
    between engines. A zero-norm embedding (or query) scores NULL
    against every query (``columns.cosine``); ``array_max`` skips the
    NULLs, so such a vector routes nowhere."""
    en = norm(emb)
    return F.array(
        *[
            F.round(
                cosine(dot(emb, F.expr(_darray_sql(q))), en, F.lit(qn)) * 1e6,
                0,
            ).cast("long")
            for _, q, qn in queries
        ]
    )


def route_cols_from_scores(
    queries: list[tuple[int, list[float], float]],
    cms: Column,
    threshold_micro: int = ROUTE_THRESHOLD_MICRO,
) -> tuple[Column, Column, Column]:
    """(best_query_id, best_cos_micro, n_above) over an ALREADY
    MATERIALIZED micro-cosine array column. The two-step split is
    load-bearing (the ckan/shingle_table lesson): referencing each
    fold from the argmax chain, the max, and the threshold count would
    re-inline the 64-step dot fold ~3× per query; with the array
    behind its own projection the folds evaluate once per row
    (measured 2.1 s → interpreted-fold-free at sf0.1).

    ``array_position(cms, array_max(cms))`` is FIRST-of-max = lowest
    query_id, since the array is query_id-ordered. An all-NULL array (a
    zero-norm vector) has no best query: the explicit guard is needed
    because codegen'd ``element_at`` over a literal array returns its
    LAST element for a NULL index (Spark 4.1.2)."""
    best_cm = F.array_max(cms)
    pos = F.array_position(cms, best_cm)
    best_id = F.when(
        best_cm.isNotNull(),
        F.element_at(F.array(*[F.lit(qid) for qid, _, _ in queries]), pos.cast("int")),
    )
    n_above = F.size(F.filter(cms, lambda c: c >= F.lit(threshold_micro)))
    return best_id, best_cm, n_above


def route_nearest_query(
    embeddings: DataFrame,
    n_queries: int = ROUTE_N_QUERIES,
    threshold_micro: int = ROUTE_THRESHOLD_MICRO,
) -> DataFrame:
    """Route every non-query vector to its nearest frozen query: the
    batch twin of the streaming ANN router (score incoming embeddings
    against a fixed set of centroids/queries and tag matches above a
    threshold — the production 'which known cluster does this new
    document belong to' shape).

    Scale: the query set is index METADATA (bounded collect); scoring
    is a single-scan pure projection — no join, no shuffle except the
    presentation sort, and the identical expressions serve the
    Structured Streaming twin (streaming/ann_route.py) with zero
    state. A zero-norm vector gets NULL ``best_query_id`` and
    ``best_cosine`` and 0 above the threshold; a zero-norm query is
    never anyone's best.
    """
    queries = collect_route_queries(embeddings, n_queries)
    best_id, best_cm, n_above = route_cols_from_scores(
        queries, F.col("cms"), threshold_micro
    )
    scored = (
        spread(embeddings)
        .where(F.col("vec_id") >= n_queries)
        .select(
            "vec_id",
            route_scores_array(queries, F.col("embedding")).alias("cms"),
        )
    )
    return scored.select(
        "vec_id",
        best_id.alias("best_query_id"),
        (best_cm.cast("double") / 1e6).alias("best_cosine"),
        n_above.alias("n_above_threshold"),
    ).orderBy("vec_id")


def embedding_drift_report(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding distribution-shift report against the
    GLOBAL centroid: vector share, the label centroid's cosine to the
    global centroid, and the members' average cosine to the global
    centroid. Where ``embedding_label_stats`` measures INTRA-cluster
    cohesion (members vs their own centroid), this measures
    INTER-slice drift — the check a training pipeline runs per
    source/label batch to catch a slice whose embedding distribution
    has moved away from the corpus (bad encoder version, topic shift,
    adversarial injection) before it poisons dedup thresholds or
    curriculum mixes.

    Scale: the centroid builds posexplode straight into map-side
    combinable (label, dim) / (dim) means — NOTHING corpus-sized is
    ever cached (an exploded corpus×dims cache would dwarf the source
    table at 100 TB; the two consumers pay one extra column-pruned
    scan each instead, the ``embedding_outlier_report`` trade). Only
    the ONE-ROW global-centroid frame is persisted, because its two
    broadcast consumers would otherwise each recompute the full
    per-dim mean scan. Per-vector scoring joins that broadcast row
    and folds the cosine in-codegen. Per-dim means are 6-dp rounded
    before any cosine (the ``embedding_label_stats`` convention), and
    the per-label average uses integer micro-cosines so summation
    order cannot drift the 6-dp result.
    """
    cent_arr = _centroid_arrays(embeddings, ["label"], "centroid")
    glob_arr = persist(_centroid_arrays(embeddings, [], "global_centroid"))
    gnorm = norm("global_centroid")
    member = embeddings.join(F.broadcast(glob_arr)).select(
        "label",
        ratio(
            cosine(dot("embedding", "global_centroid"), norm("embedding"), gnorm)
        ).alias("cos"),
    )
    micro = F.round(F.col("cos") * 1e6, 0)
    # per feeds both the final select and the share total; persisting
    # the ≤-labels-row frame keeps the member scoring scan to ONE pass
    # (unpersisted, Catalyst re-runs the branch for the total as a
    # label-only scan — column-pruned but still a full table pass)
    per = persist(
        member.groupBy("label").agg(
            F.count("*").alias("n_vecs"),
            (F.round(F.avg(micro), 0) / 1e6).alias(
                "avg_member_cos_to_global"
            ),
        )
    )
    cent_vs_glob = cent_arr.join(F.broadcast(glob_arr)).select(
        "label",
        ratio(norm("centroid")).alias("centroid_norm"),
        ratio(
            cosine(dot("centroid", "global_centroid"), norm("centroid"), gnorm)
        ).alias("centroid_cos_to_global"),
    )
    totals = per.agg(F.sum("n_vecs").alias("t_vecs"))
    return (
        per.join(cent_vs_glob, "label")
        .join(F.broadcast(totals))
        .select(
            "label",
            "n_vecs",
            micro_div("n_vecs", "t_vecs").alias("vec_share_ppm"),
            "centroid_norm",
            "centroid_cos_to_global",
            "avg_member_cos_to_global",
        )
        .orderBy("label")
    )


#: Hard-negative mining window: per anchor, the top `skip` most-similar
#: candidates are treated as latent positives/near-duplicates and
#: excluded; the next `k` are the hard negatives. A cosine ceiling
#: additionally guards against a duplicate-heavy corpus where even
#: rank skip+1 is still a copy.
HARD_NEG_SKIP = 5
HARD_NEG_HI = 0.9


def hard_negative_mining(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    skip: int = HARD_NEG_SKIP,
    hi: float = HARD_NEG_HI,
) -> DataFrame:
    """Per-anchor hard-negative candidates for contrastive training:
    skip the top ``skip`` most-similar vectors (latent positives /
    near-duplicates), take the next ``k`` as negatives — the standard
    "sample negatives from the top of the ranking, excluding likely
    positives" mining recipe next to in-batch negatives — with a
    cosine ceiling ``hi`` guarding the duplicate-heavy case where
    rank ``skip+1`` is still a copy. Anchors follow
    ``ann_topk_bruteforce``'s frozen-query convention
    (vec_id < n_queries); ``overall_rank`` keeps each negative's
    position in the full ranking for sampling-curriculum use.

    Scale: identical shape to ``ann_topk_bruteforce`` — anchors
    broadcast, candidate norms computed once before the fan-out, the
    ceiling filter prunes before the per-anchor rank window (at
    100 TB the bruteforce scan is the recall baseline; the banded
    IVF/LSH variants generate candidates for the same window). The
    ceiling compares against the 6-dp-rounded cosine, so the boundary
    verdict is engine-exact. A NULL cosine (zero-norm anchor or
    candidate) fails the ceiling, so zero vectors are never mined.
    """
    scored = _bruteforce_scored(embeddings, n_queries).where(F.col("cosine") < hi)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("cand_id")
    )
    return (
        scored.withColumn("overall_rank", F.row_number().over(w))
        .where(
            (F.col("overall_rank") > skip)
            & (F.col("overall_rank") <= skip + k)
        )
        .select(
            "query_id",
            (F.col("overall_rank") - skip).alias("rank"),
            "cand_id",
            "cosine",
            "overall_rank",
        )
        .orderBy("query_id", "rank")
    )


#: RRF smoothing constant (the standard k=60 from Cormack et al.) and
#: the frozen text-query → anchor-vector pairing for the hybrid
#: benchmark set: each BM25 text query is fused with one frozen dense
#: anchor (ann_topk_bruteforce's vec_id < n convention).
RRF_K = 60
HYBRID_QUERY_ANCHORS: tuple[tuple[str, int], ...] = (
    ("q_join", 0),
    ("q_scan", 1),
    ("q_window", 2),
    ("q_customer", 3),
)


def hybrid_rrf_topk(
    documents: DataFrame,
    embeddings: DataFrame,
    k: int = 10,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: fuse each frozen
    text query's BM25 ranking with its paired dense anchor's cosine
    ranking — RRF(d) = Σ 1/(rrf_k + rank_i(d)) over the rankers that
    returned d — the standard modern hybrid-search shape (sparse
    catches lexical matches dense misses; dense catches paraphrases
    sparse misses; RRF needs no score calibration between them).

    Engine-portable fusion: each 1/(rrf_k + rank) contribution is an
    exact half-up integer micro-division, and the fused score is the
    sum of at most two such longs — no float ever orders the ranking;
    ties break on doc_id.

    Scale: both input rankings are top-k per query (bounded —
    queries·k rows each), so the fusion itself is a full outer join +
    projection over tiny frames; the heavy lifting stays inside
    ``bm25_topk`` / ``ann_topk_bruteforce`` (or any banded ANN/ppjoin
    variant swapped in as the candidate generator at corpus scale).
    """
    from forest_open_data_pipelines_spark.operators.textops import bm25_topk

    spark = documents.sparkSession
    anchors = spark.createDataFrame(
        list(HYBRID_QUERY_ANCHORS), "query_id string, anchor_vec long"
    )
    sparse = bm25_topk(documents, k=k).select(
        "query_id",
        "doc_id",
        F.col("rank").alias("sparse_rank"),
    )
    dense = (
        ann_topk_bruteforce(embeddings, k=k)
        .withColumnRenamed("query_id", "anchor_id")
        .join(
            F.broadcast(anchors),
            F.col("anchor_id") == F.col("anchor_vec"),
        )
        .select(
            "query_id",
            F.col("cand_id").alias("doc_id"),
            F.col("rank").alias("dense_rank"),
        )
    )
    fused = sparse.join(dense, ["query_id", "doc_id"], "full_outer")
    rrf = F.coalesce(
        micro_div("1", f"{rrf_k} + sparse_rank"), F.lit(0)
    ) + F.coalesce(micro_div("1", f"{rrf_k} + dense_rank"), F.lit(0))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.asc("doc_id")
    )
    return (
        fused.select(
            "query_id", "doc_id", "sparse_rank", "dense_rank",
            rrf.alias("rrf_micro"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "rank", "doc_id",
            "sparse_rank", "dense_rank", "rrf_micro",
        )
        .orderBy("query_id", "rank")
    )


#: Margin-kNN bitext mining defaults: neighborhood depth for the
#: margin denominator and the acceptance threshold (Artetxe & Schwenk
#: 2019 "ratio" margin; CCMatrix mines at ~1.06 on LASER embeddings —
#: the synthetic near-orthogonal corpus needs the neutral 1.0 floor
#: plus mutual-best to stay selective, and the threshold is the knob).
BITEXT_KNN = 4
BITEXT_MARGIN = 1.0


def bitext_mining(
    documents: DataFrame,
    embeddings: DataFrame,
    src_lang: str = "en",
    tgt_lang: str = "es",
    k: int = BITEXT_KNN,
    margin_threshold: float = BITEXT_MARGIN,
    n_planes: int = ANN_LSH_PLANES,
    bands: int = ANN_LSH_BANDS,
    dim: int = 64,
) -> DataFrame:
    """Cross-lingual parallel-pair mining, the CCMatrix/LASER shape
    (Artetxe & Schwenk margin criterion, public methodology): candidate
    (src, tgt) pairs come from the hyperplane-LSH band join ACROSS the
    two language slices, each pair scores margin(x, y) =
    cos(x, y) / ((avg kNN-cos of x in tgt) + (avg kNN-cos of y in
    src)) / 2, and a pair is mined when it is the MUTUAL margin-best
    of both sides and clears ``margin_threshold``. This is the
    training-data op that turns a multilingual crawl into translation
    pairs.

    Scale: the all-pairs scoring real miners avoid is avoided the
    same way here — candidates are the band-bucket equi-join
    (``ann_topk_lsh``'s geometry; margin denominators use the
    candidate neighborhoods, which is exactly the FAISS-kNN
    approximation production mining uses). Everything downstream of
    the band join reduces the bounded pair table: two rank windows for
    the kNN averages, two for mutual-best.

    Determinism: cosines are 6-dp ratios, kNN averages are exact
    integer micro-cosine means, the margin divides those and rounds to
    6 dp, and every rank window tie-breaks on ids — the same
    conventions as the rest of the embedding family.
    """
    langs = documents.select(F.col("doc_id").alias("vec_id"), "lang")
    tagged = embeddings.join(langs, "vec_id")
    src = tagged.where(F.col("lang") == src_lang).select(
        F.col("vec_id").alias("src_id"), F.col("embedding").alias("s_emb")
    )
    tgt = tagged.where(F.col("lang") == tgt_lang).select(
        F.col("vec_id").alias("tgt_id"), F.col("embedding").alias("t_emb")
    )
    sb = banded_signatures(src, "src_id", "s_emb", n_planes, bands, dim)
    tb = banded_signatures(tgt, "tgt_id", "t_emb", n_planes, bands, dim)
    cos = ratio(cosine(dot("s_emb", "t_emb"), F.col("s_norm"), F.col("t_norm")))
    # Distinct-then-verify (the dedup_embedding_lsh-adjudicated shape):
    # at this recall-first geometry (2-bit band keys) a candidate pair
    # collides in ~2.25 bands on average (measured at sf0.1: 490,858
    # collisions -> 218,032 distinct pairs), so scoring inside the band
    # join paid the 64-dim cosine fold once PER COLLISION and shuttled
    # the 8x-replicated embeddings through the band shuffle. The band
    # join now carries ids only; embeddings re-attach once per distinct
    # pair with the identical fold expressions (norms bit-match the
    # kernel's `nrm` by the shared sequential-accumulation contract).
    cand = (
        sb.join(tb, ["band", "key"]).select("src_id", "tgt_id").distinct()
    )
    se = src.select("src_id", "s_emb", norm(F.col("s_emb")).alias("s_norm"))
    te = tgt.select("tgt_id", "t_emb", norm(F.col("t_emb")).alias("t_norm"))
    pairs = persist(
        cand.join(se, "src_id")
        .join(te, "tgt_id")
        .select("src_id", "tgt_id", cos.alias("cosine"))
    )
    micro = F.round(F.col("cosine") * 1e6, 0).cast("long")
    w_src = Window.partitionBy("src_id").orderBy(
        F.desc("cosine"), F.asc("tgt_id")
    )
    w_tgt = Window.partitionBy("tgt_id").orderBy(
        F.desc("cosine"), F.asc("src_id")
    )
    knn_src = (
        pairs.withColumn("r", F.row_number().over(w_src))
        .where(F.col("r") <= k)
        .groupBy("src_id")
        .agg(F.round(F.avg(micro), 0).cast("long").alias("src_knn_micro"))
    )
    knn_tgt = (
        pairs.withColumn("r", F.row_number().over(w_tgt))
        .where(F.col("r") <= k)
        .groupBy("tgt_id")
        .agg(F.round(F.avg(micro), 0).cast("long").alias("tgt_knn_micro"))
    )
    den = (
        (F.col("src_knn_micro") + F.col("tgt_knn_micro")).cast("double")
        / 2.0
        / 1e6
    )
    margin = ratio(F.col("cosine") / F.nullif(den, F.lit(0.0)))
    scored = persist(
        pairs.join(knn_src, "src_id")
        .join(knn_tgt, "tgt_id")
        .select("src_id", "tgt_id", "cosine", margin.alias("margin"))
    )
    m_src = Window.partitionBy("src_id").orderBy(
        F.desc("margin"), F.asc("tgt_id")
    )
    m_tgt = Window.partitionBy("tgt_id").orderBy(
        F.desc("margin"), F.asc("src_id")
    )
    best = (
        scored.withColumn("sr", F.row_number().over(m_src))
        .withColumn("tr", F.row_number().over(m_tgt))
        .where(
            (F.col("sr") == 1)
            & (F.col("tr") == 1)
            & (F.col("margin") >= margin_threshold)
        )
    )
    return best.select("src_id", "tgt_id", "cosine", "margin").orderBy(
        "src_id"
    )


#: Outlier flag threshold in global z-score units.
EMB_OUTLIER_Z = 3.0


def embedding_outlier_report(
    embeddings: DataFrame, z_threshold: float = EMB_OUTLIER_Z
) -> DataFrame:
    """Per-vector embedding QC: every vector's norm and cosine to the
    GLOBAL centroid with global z-scores for both, flagging |z| >
    ``z_threshold`` — the corrupt-embedding gate (zero/truncated/
    mis-scaled vectors, encoder glitches) a pipeline runs before
    trusting embeddings for dedup or ANN. A zero vector has norm 0.0
    and a NULL ``cos_to_global`` (``columns.cosine``); its norm z-score
    flags it. Complements
    ``embedding_drift_report`` (per-label shift) and
    ``embedding_label_stats`` (cluster cohesion) at the per-vector
    grain.

    Determinism: norms and cosines are 6-dp ratios; the global
    mean/std derive from EXACT decimal sums of their integer micro
    values (Σx, Σx² as DECIMAL(38,0) — overflow-safe at any corpus
    size, the zipf-moment convention), so no summation order can move
    a z-score; z itself is the only double math and rounds to 6 dp.

    Scale: one posexplode builds the global centroid (bounded by
    dims); scoring joins the broadcast one-row centroid; the moment
    aggregate reduces the per-vector stats to ONE row. Two passes
    over the persisted per-vector stats frame, nothing corpus-sized
    shuffles.
    """
    glob_arr = _centroid_arrays(embeddings, [], "gcent")
    vnorm = norm("embedding")
    stats = persist(
        embeddings.join(F.broadcast(glob_arr)).select(
            "vec_id",
            "label",
            ratio(vnorm).alias("norm"),
            ratio(cosine(dot("embedding", "gcent"), vnorm, norm("gcent"))).alias(
                "cos_to_global"
            ),
        )
    )
    nm = F.round(F.col("norm") * 1e6, 0).cast("decimal(38,0)")
    cm = F.round(F.col("cos_to_global") * 1e6, 0).cast("decimal(38,0)")
    # the cos axis counts only defined cosines: a zero vector's NULL
    # cos_to_global is left out of Σ, so it must not enter n either
    mom = stats.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(nm).alias("sn"),
        F.sum(nm * nm).alias("snn"),
        F.count(cm).cast("decimal(38,0)").alias("nc"),
        F.sum(cm).alias("sc"),
        F.sum(cm * cm).alias("scc"),
    )

    def _z(x_micro, cnt, s, ss):
        n = F.col(cnt).cast("double")
        mean = F.col(s).cast("double") / n
        var = (
            n * F.col(ss).cast("double")
            - F.col(s).cast("double") * F.col(s).cast("double")
        ) / (n * n)
        return ratio(
            (x_micro.cast("double") - mean)
            / F.nullif(F.sqrt(var), F.lit(0.0))
        )

    z_norm = _z(F.round(F.col("norm") * 1e6, 0), "n", "sn", "snn")
    z_cos = _z(F.round(F.col("cos_to_global") * 1e6, 0), "nc", "sc", "scc")
    return (
        stats.join(F.broadcast(mom))
        .select(
            "vec_id",
            "label",
            "norm",
            "cos_to_global",
            z_norm.alias("z_norm"),
            z_cos.alias("z_cos"),
            # a degenerate axis (zero variance — e.g. unit-normalized
            # vectors have identical norms) yields NULL z; an
            # undefined z is NOT an outlier, so each term coalesces
            # to false instead of letting NULL poison the OR
            (
                F.coalesce(F.abs(z_norm) > z_threshold, F.lit(False))
                | F.coalesce(F.abs(z_cos) > z_threshold, F.lit(False))
            ).alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


# ── IVFPQ with RESIDUAL encoding (the faithful IndexIVFPQ) ─────────────────


def _ivfpq_residual_encoded(
    cells_frame: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebook: list[list[list[float]]],
    m: int,
    ks: int,
    dim: int,
) -> DataFrame:
    """(vec_id, cell_id, codes, recon_nsq) with RESIDUAL codes: one
    Arrow pass subtracts the assigned coarse centroid, assigns each
    residual sub-vector to its codeword (9-dp-rounded squared-L2
    argmin, first-of-min ties — the _pq_encoded convention), and folds
    ‖x̂‖² of the COMPOSED reconstruction x̂ = centroid + codeword
    sequentially (j within s, then s order) so the DuckDB twin's
    list_reduce chain reproduces it bit-for-bit.

    Scale: same as _pq_encoded — streaming kernel, no join beyond the
    cell map already joined in, 12 bytes of codes + one norm out."""
    import numpy as np

    sub = dim // m
    C = np.array(codebook, dtype=np.float64)  # (m, ks, sub)
    # sized by MAX id, filled by id: a gapped seed vec_id space (fewer
    # than n_cells centroids, ids non-contiguous) stays keyed correctly
    CENT = np.zeros((max(cid for cid, _ in centroids) + 1, dim))
    for cid, c in centroids:
        CENT[cid] = c

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            e = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cell = pdf["cell_id"].to_numpy().astype(np.int64)
            r = e - CENT[cell]
            n = len(pdf)
            codes = np.zeros((n, m), dtype=np.int32)
            rnsq = np.zeros(n)
            for s in range(m):
                x = r[:, s * sub : (s + 1) * sub]
                d = np.zeros((n, ks))
                for j in range(sub):  # sequential over dims == fold order
                    diff = x[:, j, None] - C[s, :, j][None, :]
                    d = d + diff * diff
                c = np.argmin(np.round(d, 9), axis=1)
                codes[:, s] = c
                # per-s subtotal of the composed reconstruction norm,
                # sequential over j, then accumulated in s order
                xc = CENT[cell, s * sub : (s + 1) * sub] + C[s, c, :]
                t = np.zeros(n)
                for j in range(sub):
                    t = t + xc[:, j] * xc[:, j]
                rnsq = rnsq + t
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell_id": cell,
                    "codes": list(codes),
                    "recon_nsq": rnsq,
                }
            )

    return cells_frame.select("vec_id", "embedding", "cell_id").mapInPandas(
        gen, "vec_id bigint, cell_id int, codes array<int>, recon_nsq double"
    )


def ann_topk_ivfpq_residual(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = PQ_M,
    ks: int = PQ_KS,
    dim: int = 64,
    trained: bool = True,
) -> DataFrame:
    """IVFPQ with RESIDUAL encoding — the faithful FAISS IndexIVFPQ
    (Jégou et al. 2011 §IV): codes quantize x − centroid(cell), not x,
    so the codebook spends its 12 bytes on the within-cell displacement
    (much lower variance than the raw vector) and the ADC score adds
    back the exactly-known query·centroid term:

        ⟨q, x̂⟩ = ⟨q, c_cell⟩ + Σ_s LUT[s][code_s]

    with ‖x̂‖ carried exactly from the encode kernel (the composed
    c + r̂ norm). ``ann_topk_ivfpq`` keeps the raw-encoding variant as
    the composition-of-shipped-pieces baseline; this entry is the
    production shape.

    The residual codebook is Lloyd-TRAINED on the residual frame by
    default (``train_pq_codebook`` — memoized; ``trained=False`` keeps
    the seed-residual A/B). Measured honestly on this corpus
    (2026-08-15): seed-residual UNDERSHOOTS raw encoding (0.5375 /
    0.5625 vs 0.5875 at sf0.001/0.01 — the first ks residuals span the
    residual space poorly), trained-residual recovers to 0.5875 /
    0.6125 — ≥ the raw variant at both SFs (asserted in tests), with
    the gain bounded by the documented no-cluster-structure ceiling
    (residuals to a near-meaningless centroid barely shrink variance;
    on clustered corpora this is where IndexIVFPQ earns its keep).

    Scale: identical to ann_topk_ivfpq — n_probe/n_cells of the corpus
    scanned at 12 bytes/candidate — plus one 128-row broadcast of
    per-(query, cell) centroid dots; every new arithmetic path
    (residual subtraction, composed norm, centroid dot) is
    fold-ordered to match the DuckDB twin bit-for-bit.
    """
    centroids = train_ivf_centroids(embeddings, n_cells, 0)
    cell_scored = _cell_scored(_centroid_literal(centroids))
    e = spread(embeddings).select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("v_norm")
    )
    cells_frame = e.select(
        "vec_id",
        "embedding",
        (-F.array_max(cell_scored)["neg_cell_id"]).cast("int").alias("cell_id"),
    )
    # ONE residual definition for both codebook paths: a KEYED map
    # lookup (not a positional array — a gapped seed vec_id space
    # would silently shift positions) subtracting each row's assigned
    # centroid in Catalyst.
    # ONE parsed SQL literal (the _centroid_literal rationale): the
    # n_cells·dim F.lit py4j round-trips dominated this plan's build
    # time; the parsed map is value-identical.
    cent_map = F.expr(
        "map_from_arrays(array("
        + ",".join(str(int(cid)) for cid, _ in centroids)
        + "), array("
        + ",".join(_darray_sql(c) for _, c in centroids)
        + "))"
    )
    res_frame = cells_frame.select(
        "vec_id",
        F.zip_with(
            "embedding",
            F.element_at(cent_map, F.col("cell_id")),
            lambda x, c: x.cast("double") - c,
        ).alias("embedding"),
    )
    codebook = (
        train_pq_codebook(res_frame, m, ks, dim)
        if trained
        else _pq_codebook(res_frame, m, ks, dim)
    )
    enc = _ivfpq_residual_encoded(cells_frame, centroids, codebook, m, ks, dim)
    cands = enc.select(
        F.col("vec_id").alias("cand_id"),
        "cell_id",
        F.col("codes").alias("c_codes"),
        F.col("recon_nsq").alias("c_nsq"),
    )
    top_cells = F.slice(F.reverse(F.array_sort(cell_scored)), 1, n_probe)
    probes = (
        e.where(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.explode(top_cells).alias("pc"))
        .select("query_id", (-F.col("pc.neg_cell_id")).cast("int").alias("cell_id"))
    )
    # per-(query, cell) centroid dots, driver-side from bounded inputs
    # (n_queries rows × n_cells), sequential like list_dot_product;
    # the SAME collected query rows feed the LUT builder (one job)
    q_rows = sorted(
        embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    qc_rows = []
    for r in q_rows:
        q = [float(x) for x in r.embedding]
        for cid, c in centroids:
            acc = 0.0
            for j in range(dim):
                acc += q[j] * c[j]
            qc_rows.append((int(r.vec_id), int(cid), acc))
    qc = embeddings.sparkSession.createDataFrame(
        qc_rows, "query_id bigint, cell_id int, qc_dot double"
    )
    luts = _pq_query_luts(
        embeddings, codebook, n_queries, m, ks, dim, q_rows=q_rows
    )
    queries = F.broadcast(
        probes.join(F.broadcast(qc), ["query_id", "cell_id"]).join(
            F.broadcast(luts), "query_id"
        )
    )
    cos = ratio(
        cosine(F.col("qc_dot") + _adc(m), F.col("q_norm"), F.sqrt(F.col("c_nsq")))
    )
    scored = (
        cands.join(queries, "cell_id")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cos.alias("cosine_pq"))
    )
    return _rank_topk(scored, "cosine_pq", k).select(
        "query_id", "rank", "cand_id", "cosine_pq"
    )
