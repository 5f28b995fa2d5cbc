"""Blocked entity resolution (record linkage) with ground-truth eval.

No reference counterpart (the reference has no record-linkage layer);
this is part of the large-scale training-data mandate: merging noisy
near-duplicate RECORDS (author strings, site names, user profiles)
is the structured-data sibling of document dedup, and the standard
scale shape is Fellegi–Sunter-style BLOCKING (Fellegi & Sunter 1969;
Christen 2012 "Data Matching", public methodology): derive a cheap
blocking key, equi-join within blocks only — never the n² cross join —
then verify each candidate pair with a bounded string-distance
predicate.

Because every test table is synthetic (TPC-H names are sequential
``Customer#000000123`` strings — fuzzy matching over them is
vacuous), the operator derives its record feed CLOSED-FORM from
``c_custkey`` (the c4_sentenceify precedent): a deterministic
first/last name from 16×16 word lists, a numeric family suffix so
names are near-unique per entity, plus two labelled corruption
channels — a TYPO variant (2nd character of the last token dropped,
``ck % 3 == 0``) and a CASE variant (upper-cased, ``ck % 5 == 0``).
The last-name list deliberately contains the near-pair
``Silva``/``Silvas`` so cross-entity false positives exist and the
ground-truth labels are non-vacuous in BOTH directions.  The oracle
regenerates the identical records CTE, so pairs, distances, and
labels are hash-checked end to end.

Scale: records are ~1.5 rows per customer; the block key (lower first
letters of both name tokens) gives ≤ 256 blocks whose sizes are
uniform by construction (custkey arithmetic) — the candidate-pair
mass is Σ_b |b|², quadratic per block but equi-join-shaped (shuffle
on block_key, no cartesian — plan-guarded), and the verify predicate
is one integer Levenshtein on short strings per candidate.  Because
every accepted pair lies inside one block, so does every cluster:
``entity_clusters`` closes components per block in one aggregation,
O(|b|²) per block like the candidate join, with no global iterative
closure.  At 100 TB the same plan holds with a finer key (more
initials, phonetic codes); skewed blocks follow the documented salting
path, and a block too large for one row's label map would need the
global ``dedup.connected_components`` closure instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from forest_open_data_pipelines_spark.runtime import persist


#: 16×16 deterministic name parts.  First letters are pairwise
#: distinct within each list (16 first-initials × 16 last-initials =
#: 256 blocks); ``Silva``/``Silvas`` share an initial ON PURPOSE —
#: they are the cross-entity near-match channel.
ER_FIRST = (
    "Ana", "Bruno", "Carla", "Diego", "Elena", "Fabio", "Gilda",
    "Hugo", "Irene", "Jorge", "Katia", "Luis", "Marta", "Nuno",
    "Olga", "Paulo",
)
ER_LAST = (
    "Silva", "Torres", "Ueda", "Vargas", "Wolff", "Ximenes",
    "Yamada", "Zanetti", "Almeida", "Barros", "Costa", "Duarte",
    "Estevez", "Ferraz", "Gomes", "Silvas",
)

#: Verify threshold: lowercase Levenshtein ≤ 1 keeps the typo channel
#: (distance exactly 1), the case channel (distance 0), and the
#: Silva/Silvas + one-digit-suffix false-positive channels.
ER_MAX_EDIT = 1


def _pick(words: tuple[str, ...], idx: Column) -> Column:
    return F.element_at(
        F.array(*[F.lit(w) for w in words]), (idx + 1).cast("int")
    )


def er_records(customer: DataFrame) -> DataFrame:
    """The closed-form record feed: one canonical record per customer
    plus the labelled typo/case corruption rows (rec_id encodes the
    channel: ck·10 canonical, +1 typo, +2 case)."""
    ck = F.col("c_custkey")
    first = _pick(ER_FIRST, ck % 16)
    last_word = _pick(ER_LAST, F.expr("c_custkey div 16") % 16)
    last = F.concat(last_word, F.expr("c_custkey div 256").cast("string"))
    name = F.concat(first, F.lit(" "), last)
    typo_name = F.concat(
        first,
        F.lit(" "),
        F.substring(last, 1, 1),
        F.substring(last, 3, 1000),
    )
    base = customer.select(
        (ck * 10).alias("rec_id"),
        ck.alias("entity_id"),
        name.alias("name"),
        F.lit("canonical").alias("kind"),
    )
    typo = customer.where(ck % 3 == 0).select(
        (ck * 10 + 1).alias("rec_id"),
        ck.alias("entity_id"),
        typo_name.alias("name"),
        F.lit("typo").alias("kind"),
    )
    case = customer.where(ck % 5 == 0).select(
        (ck * 10 + 2).alias("rec_id"),
        ck.alias("entity_id"),
        F.upper(name).alias("name"),
        F.lit("case").alias("kind"),
    )
    return base.unionByName(typo).unionByName(case)


def _block_key(name: Column) -> Column:
    """Initials of both name tokens plus the surname's LAST character,
    lowercased — survives every corruption channel by construction
    (the typo drops the 2nd char, the case change is folded, the
    family suffix keeps its final digit), while the extra character
    keeps block sizes sublinear in the suffix range (without it the
    one-digit-apart suffix pairs make candidate mass grow
    quadratically with the customer count — measured 190k → ~30k
    emitted pairs at sf0.1)."""
    toks = F.split(name, " ")
    last_tok = toks.getItem(1)
    return F.concat(
        F.lower(F.substring(toks.getItem(0), 1, 1)),
        F.lower(F.substring(last_tok, 1, 1)),
        F.lower(F.substring(last_tok, -1, 1)),
    )


def _keyed(customer: DataFrame) -> DataFrame:
    """Records + block key.  A null ``c_custkey`` has no name and no
    rec_id, so it can never pair; it is dropped here, before any
    grouping keys a map on rec_id."""
    return er_records(customer.where(F.col("c_custkey").isNotNull())).withColumn(
        "block_key", _block_key(F.col("name"))
    )


def _keyed_records(customer: DataFrame) -> DataFrame:
    """Records + block key, persisted once — the self-join and the
    eval's truth join both re-read THIS frame, not the dim table."""
    return persist(_keyed(customer))


def _resolve_pairs(recs: DataFrame, max_edit: int) -> DataFrame:
    left = recs.select(
        "block_key",
        F.col("rec_id").alias("left_rec_id"),
        F.col("entity_id").alias("left_entity"),
        F.col("name").alias("left_name"),
        F.col("kind").alias("left_kind"),
    )
    right = recs.select(
        "block_key",
        F.col("rec_id").alias("right_rec_id"),
        F.col("entity_id").alias("right_entity"),
        F.col("name").alias("right_name"),
        F.col("kind").alias("right_kind"),
    )
    return (
        left.join(right, "block_key")
        .where(F.col("left_rec_id") < F.col("right_rec_id"))
        .withColumn(
            "edit_distance",
            F.levenshtein(
                F.lower(F.col("left_name")), F.lower(F.col("right_name"))
            ),
        )
        .where(F.col("edit_distance") <= max_edit)
        .select(
            "block_key",
            "left_rec_id",
            "right_rec_id",
            "left_name",
            "right_name",
            "left_kind",
            "right_kind",
            F.col("edit_distance").cast("int").alias("edit_distance"),
            (F.col("left_entity") == F.col("right_entity")).alias(
                "is_true_match"
            ),
        )
    )


def entity_resolution(
    customer: DataFrame, max_edit: int = ER_MAX_EDIT
) -> DataFrame:
    """Candidate pairs from the block equi-join, verified by
    lowercase Levenshtein ≤ ``max_edit``, labelled against the
    closed-form ground truth (``is_true_match``: same entity)."""
    return _resolve_pairs(_keyed_records(customer), max_edit).orderBy(
        "left_rec_id", "right_rec_id"
    )


def entity_clusters(
    customer: DataFrame, max_edit: int = ER_MAX_EDIT
) -> DataFrame:
    """Canonicalization step: connected components over the pairs the
    matcher ACCEPTED (no truth access — exactly what production ER
    does), then per-cluster PURITY against the closed-form truth:
    ``n_entities`` > 1 marks an over-merged cluster (transitive
    closure chaining through near-miss false positives — the classic
    ER failure mode this report exists to surface), and the
    component's min rec_id is the canonical survivor.

    Block confinement: every accepted pair comes from the equi-join on
    ``block_key``, so both ends of every edge share a block and every
    component lies inside ONE block.  The closure therefore needs no
    global iteration (``dedup.connected_components``' pointer jumping
    is for pair graphs not confined to a key): each block's records
    are grouped into one row with the block's pairs, and one
    ``aggregate`` folds the edges over a ``rec_id → label`` map,
    relabelling the larger of an edge's two labels to the smaller, so
    every label ends as its component's min rec_id whatever the edge
    order.  The two labels are read once per edge (the one-element
    ``transform`` binds them; inlined into ``transform_values`` they
    would be looked up once per map entry), so an edge costs
    O(|block|) and a block O(|block|²) — the order the candidate join
    already pays.  It is all one lazy plan: no loop, no persist, no
    checkpoint, no job while the frame is built; the cluster stats are
    windows over rows already partitioned by ``block_key``.

    The oracle is still a different algorithm: a recursive-CTE
    reachability closure over the global edge list (the
    dedup_clusters adjudication — closure-by-recursion cannot share a
    bug with closure-by-fold)."""
    recs = _keyed(customer)
    edges = (
        _resolve_pairs(recs, max_edit)
        .groupBy("block_key")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("left_rec_id").alias("a"),
                    F.col("right_rec_id").alias("b"),
                )
            ).alias("edges")
        )
    )
    blocks = (
        recs.groupBy("block_key")
        .agg(
            F.collect_list(F.struct("rec_id", "entity_id")).alias("members")
        )
        .join(edges, "block_key", "left")
    )
    ids = F.array_distinct(F.col("members.rec_id"))

    def merge(labels: Column, edge: Column) -> Column:
        ends = F.struct(
            labels[edge["a"]].alias("la"), labels[edge["b"]].alias("lb")
        )
        return F.element_at(
            F.transform(
                F.array(ends),
                lambda e: F.transform_values(
                    labels,
                    lambda _, v: F.when(
                        v == F.greatest(e["la"], e["lb"]),
                        F.least(e["la"], e["lb"]),
                    ).otherwise(v),
                ),
            ),
            1,
        )

    closed = F.aggregate(
        F.coalesce(F.col("edges"), F.array().cast(edges.schema["edges"].dataType)),
        F.map_from_arrays(ids, ids),
        merge,
    )
    # the closed map is staged as a column: inlined into the member
    # lambda below it would be re-folded once per member. Rows come
    # from the members, not the map's keys, so a duplicated custkey
    # still yields one row per record.
    rows = (
        blocks.select("block_key", "members", closed.alias("labels"))
        .select(
            "block_key",
            F.inline(
                F.transform(
                    "members",
                    lambda m: F.struct(
                        m["rec_id"].alias("rec_id"),
                        m["entity_id"].alias("entity_id"),
                        F.col("labels")[m["rec_id"]].alias("cluster_id"),
                    ),
                )
            ),
        )
    )
    from pyspark.sql import Window

    cluster = Window.partitionBy("block_key", "cluster_id")
    return rows.select(
        "rec_id",
        "cluster_id",
        F.count(F.lit(1)).over(cluster).alias("cluster_size"),
        F.size(F.collect_set("entity_id").over(cluster))
        .cast("long")
        .alias("n_entities"),
        (F.col("rec_id") == F.col("cluster_id")).alias("is_canonical"),
    ).orderBy("rec_id")


#: Holdout channel for the incremental classifier: entities with
#: ``ck % ER_HOLDOUT_MOD == ER_HOLDOUT_RESIDUE`` are withheld from
#: the canonical index, so their records arrive with NO true match —
#: some land 'new', and some match a NEAR NEIGHBOR's canonical
#: (suffix one edit away), firing the is_correct=false channel.
ER_HOLDOUT_MOD = 7
ER_HOLDOUT_RESIDUE = 3


def er_classify_against_index(
    incoming: DataFrame, index: DataFrame, max_edit: int = ER_MAX_EDIT
) -> DataFrame:
    """Classify incoming records against a static canonical index —
    the record-linkage ingest gate (the ``dedup_incremental``
    shape): block equi-join for candidates, Levenshtein verify,
    best-match = (distance ASC, base rec_id ASC), 'new' when no
    candidate survives.  ``is_correct`` labels matched rows against
    the closed-form truth (NULL for 'new' — there is nothing to be
    correct about).  Pure function of (record, index): the streaming
    twin replays this per micro-batch, verdict-identical."""
    idx = index.select(
        "block_key",
        F.col("rec_id").alias("base_rec_id"),
        F.col("entity_id").alias("base_entity"),
        F.col("name").alias("base_name"),
    )
    cand = (
        incoming.select("block_key", "rec_id", "entity_id", "name", "kind")
        .join(idx, "block_key")
        .withColumn(
            "edit_distance",
            F.levenshtein(
                F.lower(F.col("name")), F.lower(F.col("base_name"))
            ),
        )
        .where(F.col("edit_distance") <= max_edit)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("rec_id").orderBy("edit_distance", "base_rec_id")
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "rec_id",
            F.col("base_rec_id").alias("matched_rec_id"),
            F.col("base_entity").alias("matched_entity"),
            F.col("edit_distance").cast("int").alias("edit_distance"),
        )
    )
    matched = F.col("matched_rec_id").isNotNull()
    return (
        incoming.select("rec_id", "entity_id", "name", "kind")
        .join(best, "rec_id", "left")
        .select(
            "rec_id",
            "name",
            "kind",
            "matched_rec_id",
            "matched_entity",
            "edit_distance",
            F.when(matched, F.lit("matched")).otherwise(F.lit("new")).alias(
                "status"
            ),
            F.when(
                matched, F.col("matched_entity") == F.col("entity_id")
            ).alias("is_correct"),
        )
        .orderBy("rec_id")
    )


def er_incremental_classify(
    customer: DataFrame, max_edit: int = ER_MAX_EDIT
) -> DataFrame:
    """The catalog composition: canonical records of non-held-out
    entities form the index; every corruption variant PLUS the
    held-out canonicals stream in.  Outcomes by construction:
    matched-correct (variants finding their canonical),
    matched-WRONG (held-out records one edit from a neighbor's
    canonical — the silent-misattribution channel an ingest gate
    must surface), and 'new' (held-out records with no neighbor in
    range)."""
    recs = _keyed_records(customer)
    held_out = (
        F.pmod(F.col("entity_id"), F.lit(ER_HOLDOUT_MOD))
        == ER_HOLDOUT_RESIDUE
    )
    index = recs.where((F.col("kind") == "canonical") & ~held_out)
    incoming = recs.where((F.col("kind") != "canonical") | held_out)
    return er_classify_against_index(incoming, index, max_edit)


def entity_resolution_eval(
    customer: DataFrame, max_edit: int = ER_MAX_EDIT
) -> DataFrame:
    """Precision / recall of the blocked matcher vs the closed-form
    truth, per corruption channel — the acceptance harness the pairs
    entry feeds (ann_method_eval precedent).

    Recall denominator: all true (canonical, variant) record pairs of
    the same entity (the pairs a perfect matcher must emit; both
    variants of a ck%15 entity also pair with each other).  Precision
    numerator: emitted pairs that are true matches.
    """
    from ..functions.columns import ratio

    recs = _keyed_records(customer)
    pairs = _resolve_pairs(recs, max_edit)
    emitted = pairs.groupBy("left_kind", "right_kind").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("is_true_match"), 1).otherwise(0)).alias(
            "n_true"
        ),
    )
    # ground truth: every same-entity record pair, keyed by kinds
    a = recs.select(
        F.col("entity_id").alias("e"),
        F.col("rec_id").alias("ra"),
        F.col("kind").alias("left_kind"),
    )
    b = recs.select(
        F.col("entity_id").alias("e"),
        F.col("rec_id").alias("rb"),
        F.col("kind").alias("right_kind"),
    )
    truth = (
        a.join(b, "e")
        .where(F.col("ra") < F.col("rb"))
        .groupBy("left_kind", "right_kind")
        .agg(F.count(F.lit(1)).alias("n_truth"))
    )
    return (
        emitted.join(truth, ["left_kind", "right_kind"], "full_outer")
        .select(
            "left_kind",
            "right_kind",
            F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
            F.coalesce(F.col("n_true"), F.lit(0)).alias("n_true"),
            F.coalesce(F.col("n_truth"), F.lit(0)).alias("n_truth"),
            ratio(
                F.coalesce(F.col("n_true"), F.lit(0))
                / F.greatest(F.coalesce(F.col("n_pairs"), F.lit(0)), F.lit(1))
            ).alias("precision"),
            ratio(
                F.coalesce(F.col("n_true"), F.lit(0))
                / F.greatest(F.coalesce(F.col("n_truth"), F.lit(0)), F.lit(1))
            ).alias("recall"),
        )
        .orderBy("left_kind", "right_kind")
    )
