"""Plan-shape regression tests: the physical plans Catalyst picks for
the headline queries must keep the properties the 100 TB design relies
on — filter pushdown into the parquet scan, column pruning, broadcast
joins for dims, and no Python row evaluation outside the multimodal
stubs. A refactor that silently loses one of these still returns
correct rows at test SF but regresses 100× at scale."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_DIR

from forest_open_data_pipelines_spark.plans.catalog import QUERIES


def _plan(spark, name: str) -> str:
    return (
        QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    )


def _read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: struct<([^>]*)", plan)


def test_q1_filter_pushed_and_columns_pruned(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # filter reached the scan
    (schema,) = _read_schemas(plan)
    # 7 needed columns, not the full 16-column lineitem
    assert "l_comment" not in schema and "l_orderkey" not in schema


def test_q5_dims_broadcast_not_shuffled(spark):
    plan = _plan(spark, "q5_region_volume")
    assert "EqualTo(r_name,ASIA)" in plan  # region filter pushed
    assert plan.count("BroadcastHashJoin") >= 3
    # region/nation scans read only join/filter columns
    assert any(s.strip() == "r_regionkey:int,r_name:string" for s in _read_schemas(plan))


def test_timeseries_enrichment_broadcasts_dims(spark):
    plan = _plan(spark, "monthly_by_region")
    assert "BroadcastHashJoin" in plan
    # orders scan reads only the 3 needed columns
    assert any(
        set(s.split(",")) <= {"o_custkey:bigint", "o_totalprice:double", "o_orderdate:timestamp_ntz"}
        and "o_custkey:bigint" in s
        for s in _read_schemas(plan)
    )


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_volume",
        "top_customers",
        "monthly_by_region",
        "rolling_12m",
        "freshness_cadence",
        "events_sessionize",
        "text_quality",
        "dedup_exact",
        "dedup_minhash",
        "ann_topk_bruteforce",
        "ann_topk_lsh",
    ],
)
def test_no_python_row_eval_in_hot_paths(spark, name):
    """Everything except the multimodal stubs must stay JVM-side:
    no BatchEvalPython (row-at-a-time UDF), no ArrowEvalPython."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name


def test_ann_bruteforce_broadcasts_queries_no_shuffle_of_candidates(spark):
    plan = _plan(spark, "ann_topk_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the candidate side must NOT be exchanged before the join
    join_idx = plan.find("Broadcast")
    assert "Exchange hashpartitioning(cand_id" not in plan[:join_idx]


def test_asof_join_single_shuffle_no_range_join(spark):
    """The as-of join must stay a keyed-window plan: no broadcast
    nested loop / cartesian range join, and the only wide exchanges
    hash-partition on the join key."""
    plan = _plan(spark, "events_asof_attribution")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # it is not a join at all
    assert plan.count("hashpartitioning(user_id") >= 1


def test_range_window_join_is_equi_join(spark):
    """The range join must execute as a hash/merge equi-join on
    (key, bucket) with the time predicate as a join filter — never a
    nested-loop range join."""
    plan = _plan(spark, "clicks_before_purchase")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_rollup_single_scan(spark):
    """ROLLUP computes every level from ONE orders scan (the reference
    makes one pass per matrix)."""
    plan = _plan(spark, "region_nation_rollup")
    orders_scans = [s for s in _read_schemas(plan) if "o_custkey" in s]
    assert len(orders_scans) == 1
    # and the scan is pruned to exactly the join key + measure
    assert orders_scans[0].strip() == "o_custkey:bigint,o_totalprice:double"


def test_anti_join_projects_key_only(spark):
    """The anti-join's orders side must shuffle only the key column."""
    plan = _plan(spark, "customers_without_orders")
    orders_scans = [s for s in _read_schemas(plan) if "o_custkey" in s]
    assert orders_scans, "orders scan missing"
    for s in orders_scans:
        cols = {c.split(":")[0] for c in s.split(",")}
        assert cols <= {"o_custkey", "o_orderdate"}, cols
    assert "GreaterThanOrEqual(o_orderdate" in plan  # cutoff pushed to scan


def test_ivf_assignment_is_projection_no_fanout_shuffle(spark):
    """IVF cell assignment must be a pure projection against the
    centroid array literal: no Exchange between the embeddings scan and
    the cell assignment (the only hash exchange allowed is the final
    per-query top-k window), and no 16x join fan-out argmin."""
    plan = _plan(spark, "ann_topk_ivf")
    hash_parts = re.findall(r"hashpartitioning\((\w+)", plan)
    assert hash_parts and set(hash_parts) == {"query_id"}, hash_parts
    # assignment must not ride a row_number window on vec_id
    assert "hashpartitioning(vec_id" not in plan


def test_region_rank_lookup_is_projection_no_join(spark):
    """The 54-key state→região lookup must stay an in-codegen literal
    map (pure projection), never a dim-table join: the only join-free
    shuffle is the ≤6-key region aggregate + rank window."""
    plan = _plan(spark, "region_rank")
    assert "Join" not in plan
    (schema,) = _read_schemas(plan)
    assert schema == "event_id:bigint"  # full column pruning


def test_painel_links_prunes_to_doc_id_no_join(spark):
    plan = _plan(spark, "painel_pdf_links")
    assert "Join" not in plan  # regexp parse is a pure projection
    (schema,) = _read_schemas(plan)
    assert schema == "doc_id:bigint"


def test_mensal_augmentation_reuses_cached_inputs(spark):
    """The matrix and mensal frames feed the guards AND the union
    branches; both must come from the cache, not re-run enrichment
    joins per reference (r4 plan audit: 42 scans without the persist)."""
    plan = _plan(spark, "nation_month_matrix_augmented")
    assert plan.count("InMemoryTableScan") >= 4


@pytest.mark.parametrize(
    "name",
    [
        "payload_merge_dedupe",
        "monthly_chart_spec_scoped",
        "anp_panel_payloads",
        "annual_reference_extract",
        "mensal_links",
        "govbr_freshness_labels",
        "dedup_ngram_ppjoin",
        "corpus_curation",
        "dedup_ngram_jaccard",
    ],
)
def test_round5_ops_no_python_row_eval(spark, name):
    """Round-5 operators stay JVM-side (the one sanctioned Python
    stage is the simhash signature kernel, excluded here)."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name


def test_mensal_links_and_govbr_are_pure_projections(spark):
    """Both listing/label parsers prune to doc_id and never join; the
    only shuffle is mensal's keep-last rank window (yyyymm keys)."""
    for name in ("mensal_links", "govbr_freshness_labels"):
        plan = _plan(spark, name)
        assert "Join" not in plan, name
        (schema,) = _read_schemas(plan)
        assert schema == "doc_id:bigint", (name, schema)


def test_chart_spec_scoped_single_fact_aggregation(spark):
    """The carousel spec derives every scope from ONE grouping-sets
    aggregate of the fact scan, localCheckpoint-ed so the ref/pivot/
    spine consumers read the materialized rows instead of re-running
    the scan+expand (the round-8 scan audit): the aggregate phase
    shows Expand over a single fact scan, and the downstream plan
    shows zero fact scans — only the checkpointed RDD."""
    from forest_open_data_pipelines_spark.operators.social import (
        carousel_scope_aggregate,
    )
    from forest_open_data_pipelines_spark.operators.timeseries import (
        orders_enriched,
    )
    from forest_open_data_pipelines_spark.sources import load_table

    enriched = orders_enriched(
        *[load_table(spark, SF_DIR, t)
          for t in ("orders", "customer", "nation", "region")]
    )
    agg_plan = (
        carousel_scope_aggregate(enriched)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in agg_plan  # grouping sets, not per-scope passes
    assert len([s for s in _read_schemas(agg_plan) if "o_custkey" in s]) == 1

    plan = _plan(spark, "monthly_chart_spec_scoped")
    assert "Scan ExistingRDD" in plan  # all consumers read the checkpoint
    orders_scans = [s for s in _read_schemas(plan) if "o_custkey" in s]
    assert orders_scans == [], orders_scans


def test_ppjoin_prefix_join_no_cartesian(spark):

    plan = _plan(spark, "dedup_ngram_ppjoin")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name", ["quality_repetition", "ckan_resource_select", "supranational_items"]
)
def test_round5b_ops_no_python_row_eval(spark, name):
    """Second round-5 tranche stays JVM-side (pack_sequences' Arrow
    kernel and dedup_clusters' checkpointed loop are the sanctioned
    Python/driver stages, covered by their own shape tests)."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name


@pytest.mark.parametrize("name", ["ckan_resource_select", "supranational_items"])
def test_resource_classifiers_prune_to_doc_id_no_join(spark, name):
    """Both resource classifiers are pure projections off the doc_id
    column (+ one bounded rank window for the CKAN cut): no joins, and
    the scan must prune every other documents column."""
    plan = _plan(spark, name)
    assert "Join" not in plan
    for s in _read_schemas(plan):
        assert s == "doc_id:bigint", s


def test_pack_sequences_single_shuffle_one_arrow_kernel(spark):
    """Packing is ONE shuffle on the stream key into ONE Arrow
    applyInPandas kernel — no extra exchanges, no row-at-a-time UDF."""
    plan = _plan(spark, "pack_sequences")
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in plan
    # exactly one hash exchange (the groupBy source); the trailing
    # rangepartitioning belongs to the presentation orderBy
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_dedup_clusters_output_reads_checkpoint_not_replay(spark, sf_dir):
    """The returned plan must read the final labels from the
    checkpointed RDD (Scan ExistingRDD), not replay the iterative
    label-propagation join tree."""
    from forest_open_data_pipelines_spark.operators.dedup import (
        dedup_clusters,
    )
    from forest_open_data_pipelines_spark.sources import load_table

    df = dedup_clusters(load_table(spark, sf_dir, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "hashes" not in plan  # the shingle pipeline is fully absent


def test_order_priority_semijoin_is_left_semi_with_pushed_filters(spark):
    plan = _plan(spark, "order_priority_semijoin")
    assert "LeftSemi" in plan
    assert "Distinct" not in plan  # semi join, not fan-out + distinct
    assert "EqualTo(l_returnflag,R)" in plan.replace(" ", "") or (
        "l_returnflag" in plan and "PushedFilters" in plan
    )


def test_customer_order_distribution_prunes_and_single_scan_each(spark):
    plan = _plan(spark, "customer_order_distribution")
    cust_scans = [s for s in _read_schemas(plan) if "c_custkey" in s]
    order_scans = [s for s in _read_schemas(plan) if "o_custkey" in s]
    assert len(cust_scans) == 1 and cust_scans[0].strip() == "c_custkey:bigint"
    assert len(order_scans) == 1
    cols = {c.split(":")[0] for c in order_scans[0].split(",")}
    assert cols == {"o_custkey", "o_orderkey", "o_orderpriority"}


def test_disjunctive_revenue_pushes_factored_bounds_single_scan(spark):
    """The OR-of-ANDs must stay ONE equi-join (no per-branch union):
    one lineitem scan, one part scan, and the factored common bounds
    pushed into both."""
    plan = _plan(spark, "disjunctive_promo_revenue")
    li_scans = [s for s in _read_schemas(plan) if "l_quantity" in s]
    p_scans = [s for s in _read_schemas(plan) if "p_size" in s]
    assert len(li_scans) == 1 and len(p_scans) == 1
    flat = plan.replace(" ", "")
    assert "GreaterThanOrEqual(l_quantity,1.0)" in flat
    assert "LessThanOrEqual(l_quantity,30.0)" in flat
    assert "LessThanOrEqual(p_size,15)" in flat


def test_returned_item_ranking_broadcasts_nation_pushes_filters(spark):
    plan = _plan(spark, "returned_item_ranking")
    assert "BroadcastHashJoin" in plan
    flat = plan.replace(" ", "")
    assert "EqualTo(l_returnflag,R)" in flat
    assert "IsNotNull(o_orderdate)" in flat or "o_orderdate" in flat


def test_event_funnel_single_user_exchange(spark):
    """All three step mins must ride ONE user-partition exchange
    (stacked Window operators), not one shuffle per step."""
    plan = _plan(spark, "event_funnel")
    assert len(re.findall(r"Exchange hashpartitioning\(user_id", plan)) == 1
    assert "BatchEvalPython" not in plan


def test_lang_id_ngram_scoring_joinless(spark):
    """Profiles are a bounded collect (≤ langs·top_n rows); scoring must
    be a single-scan codegen array_intersect fold — no join, no wide
    shuffle anywhere in the served plan."""
    plan = _plan(spark, "lang_id_ngram")
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_pairs_explode_off_distinct_words(spark):
    """Pair counting must run off the word-count table (bounded by
    vocabulary), i.e. exactly two wide aggregations: words and pairs."""
    plan = _plan(spark, "bpe_merge_candidates")
    assert len(re.findall(r"Exchange hashpartitioning\(w[#,]", plan)) == 1
    assert len(re.findall(r"Exchange hashpartitioning\(pair", plan)) == 1


def test_cheapest_supplier_dims_join_after_agg(spark):
    """Q2-shape guard: the fact table aggregates FIRST; part/supplier/
    nation broadcast onto the per-(part,supplier) aggregate — the fact
    stream itself must never broadcast-join a dimension."""
    plan = _plan(spark, "cheapest_supplier_per_part")
    assert plan.count("BroadcastHashJoin") == 3
    # exactly one wide exchange for the fact aggregation + the window's
    assert len(re.findall(r"Exchange hashpartitioning\(l_partkey", plan)) == 2
    assert "BatchEvalPython" not in plan


def test_q8_market_share_single_pass_conditional_agg(spark):
    """Q8-shape guard: the share is a conditional sum inside ONE
    groupBy(year) over the fact stream — no second scan joined back —
    and region/nation/part dims broadcast onto the fact side."""
    plan = _plan(spark, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 3
    # ONE wide exchange total (the year aggregation; the group key
    # shows as _groupingexpression): everything else is broadcast, no
    # self-join of two aggregated branches
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan


def test_q17_threshold_joins_bounded_aggregate_back(spark):
    """Q17-shape guard: the per-part (sum, count) aggregate broadcasts
    back onto the brand-filtered fact; the brand filter reaches both
    scans via the broadcast part dim."""
    plan = _plan(spark, "q17_small_quantity_revenue")
    assert "BroadcastHashJoin" in plan
    # the per-part aggregate (bounded by |parts of brand|) is the
    # broadcast side of the threshold join
    assert re.search(r"BroadcastExchange.*\n.*agg_partkey", plan) or (
        plan.count("BroadcastHashJoin") >= 2
    )
    assert "BatchEvalPython" not in plan


def test_large_orders_having_before_joins(spark):
    """Q18-shape guard: the quantity HAVING runs on the per-order
    aggregate before orders/customer attach (customer broadcast)."""
    plan = _plan(spark, "large_orders")
    assert "BroadcastHashJoin" in plan
    # the qty filter sits above the aggregate, not above the joins:
    # scan-side it must not appear as a parquet pushed filter on orders
    assert re.search(r"Filter.*qty_d", plan) or re.search(
        r"\(sum\(.*l_quantity.*\) >= ", plan
    )


def test_idle_balance_anti_join_on_filtered_orders(spark):
    """Q22-shape guard: LEFT ANTI against date-filtered order keys with
    the date filter pushed to the orders scan."""
    plan = _plan(spark, "idle_balance_customers")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the scalar avg only


def test_q6_all_predicates_pushed_no_join(spark):
    """Q6-shape guard: every predicate reaches the lineitem scan and
    the plan is scan -> partial agg -> single-row final agg."""
    plan = _plan(spark, "revenue_change_forecast")
    assert "Join" not in plan
    # the PushedFilters list renders truncated, so assert via the
    # residual Filter node that every predicate made it below the agg
    assert "(l_shipdate" in plan and "(l_discount" in plan
    assert "(l_quantity" in plan
    (schema,) = _read_schemas(plan)
    cols = {c.split(":")[0] for c in schema.split(",")}
    assert cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_q15_max_from_reaggregation_not_window(spark):
    """Q15-shape guard: the global max re-aggregates the per-supplier
    table (one-row broadcast), never a window over all suppliers and
    never a second lineitem scan."""
    plan = _plan(spark, "top_supplier_by_revenue")
    assert "Window" not in plan
    lineitem_scans = [s for s in _read_schemas(plan) if "l_suppkey" in s]
    assert len(lineitem_scans) <= 2  # per_supp + its re-aggregation reuse
    # the one-row max attaches via a broadcast (Catalyst turns the
    # equality into a broadcast hash join key)
    assert "BroadcastExchange" in plan


@pytest.mark.parametrize(
    "name",
    [
        "focos_llm_payload",
        "boletins_integrados_links",
        "cvm_latest_yearly_csvs",
        "fenced_json_extract",
        "eia_xls_picks",
        "eia_series_combinations",
    ],
)
def test_round6_ops_no_python_row_eval(spark, name):
    """Round-6 operators stay JVM-side: regex parsing, JSON checks,
    the brace-depth fold and the payload math are all Catalyst
    expressions (corpus_curation's banded default keeps its one
    sanctioned Arrow signature kernel, covered separately)."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, name
    assert "ArrowEvalPython" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_q9_dims_broadcast_single_fact_agg(spark):
    """Q9-shape guard: part, supplier⋈nation broadcast onto the fact;
    lineitem⋈orders is the only wide join; ONE aggregation exchange
    (nation, year)."""
    plan = _plan(spark, "q9_product_type_profit")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # one wide exchange for the (nation, year) aggregate; the
    # lineitem⋈orders equi-join contributes its own two sides at most
    assert plan.count("Exchange hashpartitioning") <= 3


def test_q12_year_filter_pushed_single_agg(spark):
    """Q12-shape guard: the ship-year filter reaches the lineitem scan
    and the delay buckets aggregate in ONE pass (conditional sums, no
    second scan or join-back)."""
    plan = _plan(spark, "q12_shipping_delay")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or re.search(
        r"PushedFilters: \[.*l_shipdate", plan
    )
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "BatchEvalPython" not in plan


def test_q16_anti_join_broadcast_distinct_agg(spark):
    """Q16-shape guard: complaint suppliers exclude via a broadcast
    LEFT ANTI join (never NOT-IN over a shuffle); the distinct-supplier
    count is a partial-deduplicating aggregate."""
    plan = _plan(spark, "q16_supplier_part_variety")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_q20_totals_reduce_aggregate_not_fact(spark):
    """Q20-shape guard: per-part totals reduce the PERSISTED
    per-(part, supplier) aggregate — the lineitem fact is scanned once
    (both the totals branch and the threshold probe read the cache);
    totals broadcast back (bounded by |parts|)."""
    plan = _plan(spark, "q20_dominant_suppliers")
    # both consumers (totals + threshold probe) read the cache; the
    # plan string prints the cached subtree once PER CONSUMER, so
    # count consumers, and require all lineitem scans to be the one
    # cached-aggregate feed (identical pruned schema)
    assert plan.count("InMemoryTableScan") >= 2
    lineitem_scans = {s for s in _read_schemas(plan) if "l_quantity" in s}
    assert len(lineitem_scans) == 1, lineitem_scans
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_q21_windows_reuse_aggregate_exchange(spark):
    """Q21-shape guard: the per-order windows run over the
    per-(order, supplier) aggregate partitioned by the same key — no
    extra exchange for the windows, no fact self-join."""
    plan = _plan(spark, "q21_sole_latest_shipper")
    # exactly one exchange keyed on l_orderkey beyond the join: the
    # groupBy(l_orderkey, l_suppkey); Window reuses it
    assert "Window" in plan
    n_lokey_exchanges = len(
        re.findall(r"Exchange hashpartitioning\(l_orderkey", plan)
    )
    assert n_lokey_exchanges <= 3  # join sides + the (okey, supp) agg
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_route_nearest_query_joinless_single_scan(spark):
    """Routing-shape guard: the frozen query set is literal metadata
    (bounded collect), so serving is ONE scan with pure per-row folds —
    no join, no wide shuffle, no Python eval (the lang_id_ngram
    joinless-scoring contract)."""
    plan = _plan(spark, "route_nearest_query")
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_novelty_never_joins_grams_to_corpus(spark):
    """Novelty-shape guard: novel counts come from REDUCING the gram
    table (groupBy(gram).min → groupBy(first_doc)) — the only join in
    the plan is the final two small per-doc aggregates; the exploded
    gram stream itself must never be a join input."""
    plan = _plan(spark, "ngram_novelty")
    # one join: per_doc ⋈ novel (both already aggregated down to ≤ n_docs)
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") == 1
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_vocab_growth_window_over_bounded_curve(spark):
    """Heaps-curve guard: the cumulative window runs over the bucket
    table (≤ n_docs/bucket rows), never the token stream — a single
    partition is CORRECT there because the input is bounded."""
    plan = _plan(spark, "vocab_growth")
    assert "Window" in plan
    # the token aggregate is the only wide exchange; the window rides
    # a singleton range after the tiny bucket aggregate
    assert len(re.findall(r"Exchange hashpartitioning\(tok", plan)) == 1
    assert "BatchEvalPython" not in plan


def test_multimodal_dedup_payloads_never_shuffle(spark):
    """Media-dedup guard: only (digest, id) columns cross the exchange —
    the binary payload must be projected away before any shuffle."""
    plan = _plan(spark, "multimodal_dedup")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # every wide exchange partitions on the 64-hex digest, never the
    # binary payload column
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert keys and all(k.startswith(("sha256", "g_sha")) for k in keys), keys


def test_duplicate_spans_plan_no_python_single_window_shuffle(spark):
    """The span extraction must stay JVM-side (no Python eval) and the
    islands merge + final aggregate must ride the doc_id exchange the
    windows already created (hash(doc_id) satisfies the aggregate's
    clustering) — no extra exchange between them."""
    plan = _plan(spark, "duplicate_spans")
    assert "Python" not in plan
    # exchanges: spread round-robin, window-key hash, doc_id hash,
    # presentation range sort — and nothing else
    assert plan.count("Exchange") <= 4


def test_strip_duplicate_spans_plan_no_second_explode(spark):
    """The rebuild path must filter tokens with codegen expressions
    over the spans array — one Generate (the window posexplode), no
    token-level explode, no Python."""
    plan = _plan(spark, "strip_duplicate_spans")
    assert "Python" not in plan
    assert plan.count("Generate") == 1


def test_runtime_bloom_filter_injects_on_shuffle_joins(spark):
    """At 100 TB the big fact joins are shuffle joins whose probe-side
    scan clears the 10 GB application-side threshold, and Spark then
    injects a runtime Bloom filter built from the filtered build side
    into the probe scan (row-level semi-join pruning before the
    exchange). Pin that contract on this engine version: with the scan
    threshold lowered to test scale and broadcast off, the selective
    orders filter must produce a might_contain() gate on the lineitem
    side. Broadcast joins never get one (the hash join itself already
    drops non-matching rows before the shuffle they don't have)."""
    from pyspark.sql import functions as F

    from forest_open_data_pipelines_spark.sources import load_table

    app_key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bc_key = "spark.sql.autoBroadcastJoinThreshold"
    old_app, old_bc = spark.conf.get(app_key), spark.conf.get(bc_key)
    try:
        assert spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled"
        ) == "true"
        def joined():
            # rebuilt per config state: a DataFrame memoizes its
            # queryExecution, and the bloom filter injects at
            # optimization time
            li = load_table(spark, SF_DIR, "lineitem")
            orders = load_table(spark, SF_DIR, "orders").where(
                F.col("o_orderpriority") == "1-URGENT"
            )
            return (
                li.join(orders, li.l_orderkey == orders.o_orderkey)
                .groupBy("o_orderpriority")
                .count()
            )

        spark.conf.set(app_key, "0")
        spark.conf.set(bc_key, "-1")
        smj_plan = joined()._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in smj_plan

        spark.conf.set(bc_key, old_bc)
        bhj_plan = joined()._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" not in bhj_plan
    finally:
        spark.conf.set(app_key, old_app)
        spark.conf.set(bc_key, old_bc)


def test_winnowing_plans_banded_no_python(spark):
    """Both winnowing entries must stay JVM-side and pair through the
    fingerprint equi-join — no cartesian anywhere in the executed
    plan, and the pair/classify joins are hash/sort-merge on fp."""
    for name in ("dedup_winnowing", "winnowing_incremental"):
        plan = _plan(spark, name)
        assert "Python" not in plan, name
        assert "CartesianProduct" not in plan, name
        # the scalar n_docs cap rides a broadcast nested loop (one-row
        # side); every other join must be keyed
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "event_transitions",
        "sampled_revenue_estimate",
        "daily_anomaly_report",
        "part_affinity_pairs",
        "monthly_seasonal_index",
        "supplier_concentration_hhi",
    ],
)
def test_extension_ops_stay_jvm_side_no_cartesian(spark, name):
    """The extension-session analytics ops must stay pure Catalyst:
    no Python eval anywhere, and the only nested-loop joins allowed
    are one-row scalar broadcasts (n_orders / bounds / totals), never
    a data-sized cartesian."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
    assert "CartesianProduct" not in plan, name


def test_part_affinity_joins_on_order_key(spark):
    """The pair generation must be the l_orderkey self-join (fan-out
    bounded by lines-per-order), never a part-level join — and the
    five branches over the distinct lines frame must read the persisted
    cache, not re-scan the fact (unpersisted: 5 lineitem scans)."""
    plan = _plan(spark, "part_affinity_pairs")
    assert "hashpartitioning(l_orderkey" in plan
    assert plan.count("InMemoryTableScan") >= 4


def test_hhi_dims_broadcast(spark):
    plan = _plan(spark, "supplier_concentration_hhi")
    assert plan.count("BroadcastHashJoin") >= 2  # supplier + nation


def test_dynamic_partition_pruning_injects_on_star_joins(spark, tmp_path):
    """The partition-level sibling of the runtime Bloom contract: a
    star join whose dim side is filtered must inject a dynamicpruning
    expression into the fact scan's PartitionFilters, so at 100 TB the
    fact reads ONLY the partitions the dim filter selects — pruning
    decided at runtime from the dim's build side, no manual predicate
    duplication. Pin the contract on this engine version."""
    from pyspark.sql import functions as F

    from forest_open_data_pipelines_spark.sources import load_table

    assert (
        spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
        == "true"
    )
    fact_path = str(tmp_path / "orders_by_year")
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "year", F.year("o_orderdate")
    )
    orders.write.partitionBy("year").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [(1995, "target"), (1996, "other")], "year int, tag string"
    ).where(F.col("tag") == "target")
    joined = fact.join(dim, "year").groupBy("tag").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower()
    assert joined.first()["count"] == orders.where(F.col("year") == 1995).count()


def test_bm25_topk_no_term_shuffle_join(spark):
    """The query-term match must be a broadcast join (df/idf attached
    on the tiny literal side) — never a sort-merge/shuffle join on
    term — and no cartesian anywhere."""
    plan = _plan(spark, "bm25_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan or "doc_id" in plan.split(
        "SortMergeJoin"
    )[1][:200], "term-keyed SMJ crept into the match path"


def test_bm25_route_is_joinless_projection(spark):
    """The route scores against frozen literal index metadata: zero
    joins, a single documents scan, no shuffle except the final sort."""
    plan = _plan(spark, "bm25_route")
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_retrieval_diagnostics_single_live_fact_scan(spark):
    """token_zipf_fit / tokenizer_fertility / embedding_drift_report
    keep their fact table at ONE live scan (persisted shared frames;
    scans under InMemoryRelation materialize once)."""
    import re as _re

    from forest_open_data_pipelines_spark.runtime import query_scope

    for name in (
        "token_zipf_fit", "tokenizer_fertility", "embedding_drift_report"
    ):
        with query_scope(spark, name):
            plan = _plan(spark, name)
            live = 0
            for ln in plan.splitlines():
                if _re.search(r"(?:File)?Scan parquet\b", ln):
                    live += 1
                if "InMemoryRelation" in ln:
                    break  # everything below the first cache is cached lineage
            assert live <= 2, (name, live)


def test_incremental_cache_plan_scans_orders_once(spark):
    """Both decision sides read the persisted years-sized fingerprint
    frame: exactly one orders scan (InMemoryTableScan covers the other
    consumer) and the decision join broadcasts the manifests side."""
    plan = _plan(spark, "incremental_cache_plan")
    live = 0
    for ln in plan.splitlines():
        if re.search(r"(?:File)?Scan parquet\b", ln):
            live += 1
        if "InMemoryRelation" in ln:
            break  # below the first cache is cached lineage
    assert live == 0, plan  # both sides read the cached fingerprints
    assert plan.count("InMemoryTableScan") >= 2
    assert "BroadcastHashJoin" in plan
    # the scan reads only the two needed order columns
    assert all(
        "o_orderkey" not in s and "o_custkey" not in s
        for s in _read_schemas(plan)
    )


def test_freshness_observations_append_single_shuffle_window(spark):
    """The append contract is the sessionize shape: ONE exchange on the
    (watch, resource) key feeding the lag window; the batch cutoff is
    a broadcast scalar, not a second shuffle of events."""
    plan = _plan(spark, "freshness_observations_append")
    # exactly one hash exchange over the watch/resource key
    assert plan.count("hashpartitioning(watch_id") == 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "PythonUDF" not in plan


def test_reports_catalog_scans_documents_once(spark):
    """The envelope-status scalar reads the persisted reports-sized
    frame, not a second documents scan."""
    plan = _plan(spark, "reports_catalog")
    live = 0
    for ln in plan.splitlines():
        if re.search(r"(?:File)?Scan parquet\b", ln):
            live += 1
        if "InMemoryRelation" in ln:
            break  # below the first cache is cached lineage
    assert live == 0, plan  # both consumers read the shaped cache
    assert plan.count("InMemoryTableScan") >= 2


def test_report_prompts_is_metric_frame_projection(spark):
    """The prompt pair renders off the one-row metric frame: no
    Python row evaluation, dims broadcast in the enrichment, and the
    orders scan column-pruned like the monthly chain's."""
    plan = _plan(spark, "report_prompts")
    assert "PythonUDF" not in plan
    assert "BroadcastHashJoin" in plan
    assert all("o_comment" not in s for s in _read_schemas(plan))


def test_scd2_single_fact_exchange(spark):
    """The whole fact path — change flag, run numbering, run collapse,
    AND the lead() over runs — rides ONE hash exchange on user_id:
    hash(user_id) clusters (user_id, version, state) for the agg and
    user_id for the final window, so Catalyst inserts no further
    shuffle until the presentation sort. The scan must prune to the
    4 needed columns."""
    plan = _plan(spark, "scd2_user_state_history")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "PythonUDF" not in plan
    (schema,) = _read_schemas(plan)
    assert "value" not in schema and "props" not in schema


def test_session_interval_join_equi_key_no_cartesian(spark):
    """The interval join must ride the user_id EQUI key (hash or
    sort-merge; the range predicate is the residual condition) —
    never a nested-loop/cartesian over the fact table — and both
    scans stay column-pruned."""
    plan = _plan(spark, "session_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "PythonUDF" not in plan
    assert all("props" not in s for s in _read_schemas(plan))


def test_vocab_coverage_single_scan_two_exchanges(spark):
    """One documents scan feeds everything; the only corpus-sized
    shuffle is the (lang, token) frequency aggregate — the rank window
    adds one vocabulary-sized exchange on lang, and the per-cutoff
    unfold is an inline array explode over the bounded per-lang frame
    (no per-cutoff rescans)."""
    plan = _plan(spark, "vocab_coverage")
    assert len(re.findall(r"Scan parquet", plan)) == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "PythonUDF" not in plan


def test_purchase_state_attribution_equi_key_open_interval(spark):
    """The point-in-time join rides the user_id EQUI key with the
    open-ended validity residual — never a nested-loop over the fact
    table — and both event projections stay column-pruned."""
    plan = _plan(spark, "purchase_state_attribution")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "PythonUDF" not in plan


def test_effective_monthly_series_broadcast_merge_no_extra_shuffle(spark):
    """The effective-series merge is broadcast-only past the two input
    aggregations (both persisted): the reference instant, latest-zip-
    year, currency flag, and <=12-row period-mark set all arrive as
    BroadcastExchange inputs — nothing fact-sized is nested-loop-
    joined, each table has ONE live scan, and the events side prunes
    to the columns the feed needs."""
    from tools.scan_audit import live_scans

    plan = _plan(spark, "effective_monthly_series")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "PythonUDF" not in plan
    assert all(n == 1 for n in live_scans(plan).values()), live_scans(plan)
    assert all("props" not in s for s in _read_schemas(plan))


def test_effective_overview_metrics_rides_persisted_series(spark):
    """Every metric aggregate reads the PERSISTED months-sized
    effective series (InMemoryTableScan substitutes everywhere): the
    consumption layer adds ZERO live fact scans, so it is
    metadata-weight at any fact scale."""
    from tools.scan_audit import live_scans

    plan = _plan(spark, "effective_overview_metrics")
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    assert not live_scans(plan), live_scans(plan)


def test_rule_gate_entries_single_scan_no_shuffle(spark):
    """The Gopher and C4 rule gates are scan-stage cleaning: pure
    per-row codegen over ONE documents scan — no hash exchange, no
    Python, only the presentation sort's range partition."""
    from tools.scan_audit import live_scans

    for name in ("gopher_quality_rules", "c4_line_filters"):
        plan = _plan(spark, name)
        assert "Exchange hashpartitioning" not in plan, name
        assert "PythonUDF" not in plan, name
        assert live_scans(plan) == {"documents": 1}, (name, live_scans(plan))


def test_media_decode_report_single_stage_no_join(spark):
    """Round-11 decode entry: documents scan → synth kernel → decode
    kernel compose as chained ArrowEvalPython/MapInPandas in ONE
    pipeline — no join anywhere (media_kind re-derives from media_id
    in Catalyst), no hash exchange, one live scan; payload bytes never
    shuffle (only the presentation sort's range partition moves the
    metadata-weight report rows)."""
    from tools.scan_audit import live_scans

    plan = _plan(spark, "media_decode_report")
    assert "Join" not in plan, plan
    assert "Exchange hashpartitioning" not in plan
    assert live_scans(plan) == {"documents": 1}, live_scans(plan)
    assert plan.count("MapInPandas") == 2  # synth + decode, same stage


def test_gopher_repetition_rules_zero_shuffle_projection(spark):
    """Optimization r12 (guide §2.4): the catalog entry runs the
    zero-shuffle projection twin — ONE documents scan, no gram-stream
    explode, no hash exchange (the only exchange left is the
    presentation orderBy's range partition), no Python anywhere.
    Value equality with the aggregate twin is pinned by
    test_repetition_gates_row_cols_match_aggregate_twins plus the
    unchanged oracle hashes at three SFs."""
    from tools.scan_audit import live_scans

    plan = _plan(spark, "gopher_repetition_rules")
    assert "PythonUDF" not in plan
    assert live_scans(plan) == {"documents": 1}, live_scans(plan)
    assert "Exchange hashpartitioning" not in plan
    assert "Generate explode" not in plan


def test_gopher_repetition_rules_aggregate_twin_combinable(spark):
    """The cross-checked AGGREGATE formulation (kept in the tree as
    the reference implementation): ONE documents scan feeds the tagged
    gram streams through a single explode, and both aggregations are
    partial (map-side combinable); no Python anywhere."""
    from forest_open_data_pipelines_spark.operators.textops import (
        gopher_repetition_rules,
    )
    from forest_open_data_pipelines_spark.sources import load_table
    from tools.scan_audit import live_scans

    df = gopher_repetition_rules(load_table(spark, SF_DIR, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan
    assert live_scans(plan) == {"documents": 1}, live_scans(plan)
    assert "partial_" in plan  # map-side combine before the exchange


def test_repetition_row_twin_zero_shuffle_projection(spark):
    """Round 12: the row twin feeding curation_gate_matrix computes
    BOTH repetition gates as ONE codegen projection over the staged
    arrays — no exchange, no explode, no Python anywhere. At 100 TB
    this removes the former gram shuffle (~9× the corpus token mass),
    the largest exchange in the curation pipeline."""
    from forest_open_data_pipelines_spark.operators.textops import (
        repetition_gates_row_cols,
        staged_repetition_arrays,
    )
    from forest_open_data_pipelines_spark.sources import load_table
    from tools.scan_audit import live_scans

    df = repetition_gates_row_cols(
        staged_repetition_arrays(load_table(spark, SF_DIR, "documents"))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "Generate explode" not in plan
    assert "PythonUDF" not in plan
    assert live_scans(plan) == {"documents": 1}, live_scans(plan)


def test_spacesaving_one_scan_one_wide_exchange(spark):
    """Sharded SpaceSaving: ONE pruned events scan (3 columns), ONE
    data-weight exchange — a RANGE partition on the shard key so each
    of the n_shards ids lands alone (hash co-location idled shards,
    r11 ADVICE; the second range partition is the presentation orderBy
    over k·n_shards summary rows), the sketch kernel grouped, no join.
    At 100 TB this is scan → one shuffle of 3 narrow columns → O(k)
    state per shard."""
    from tools.scan_audit import live_scans

    plan = _plan(spark, "spacesaving_hitters")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("Exchange rangepartitioning") == 2
    assert live_scans(plan) == {"events": 1}, live_scans(plan)
    # mapInPandas streams Arrow batches incrementally (grouped
    # applyInPandas would materialize the whole shard — rejected)
    assert "MapInPandas" in plan and "FlatMapGroupsInPandas" not in plan
    (schema,) = _read_schemas(plan)
    assert set(schema.split(",")) == {
        "event_id:bigint", "ts:timestamp_ntz", "user_id:bigint",
    }, schema


def test_quantile_rollup_sketch_state_weight_shuffle(spark):
    """Quantile rollup: the daily kernel streams Arrow batches
    incrementally (MapInPandas, never a whole-shard pandas frame);
    the ONLY grouped-pandas stage is the monthly merge over the daily
    SKETCH frame (≤31 state rows per group); no row-at-a-time Python.
    Two events scans total: the sketch branch plus the documented
    exact-percentile observability branch (the distinct_rollup_sketch
    adjudication — production drops it)."""
    from tools.scan_audit import live_scans

    plan = _plan(spark, "quantile_rollup_sketch")
    assert "MapInPandas" in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert live_scans(plan) == {"events": 2}, live_scans(plan)


def test_priority_sample_take_ordered_no_full_sort(spark):
    """Priority sampling ranks via a global top-(n+1) — the plan must
    show TakeOrderedAndProject (per-partition top-k + driver merge of
    n+1 rows), never a full range-partitioned sort of the corpus; no
    Python anywhere."""
    plan = _plan(spark, "priority_sample")
    assert "TakeOrderedAndProject" in plan
    assert "PythonUDF" not in plan


def test_session_concurrency_bucket_carry_shape(spark):
    """Sweep-line concurrency: ONE events scan, exactly TWO data-weight
    hash exchanges (per-user sessionize, then the hour bucket), and the
    only single-partition window runs on the bucket-totals frame
    (row count = distinct hours, never the corpus) — the prefix-sum
    decomposition that replaces the impossible global-order window."""
    from tools.scan_audit import live_scans

    plan = _plan(spark, "session_concurrency")
    assert live_scans(plan) == {"events": 1}, live_scans(plan)
    assert plan.count("Exchange hashpartitioning") == 2
    # the carry window's single partition sits ABOVE the bucket
    # aggregate (HashAggregate keys=[bucket...]), not on raw deltas
    single = plan.index("Exchange SinglePartition")
    assert "HashAggregate" in plan[single:], plan[single : single + 400]
    assert "PythonUDF" not in plan


def test_part_skyline_two_scans_broadcast_frontier(spark):
    """Skyline: the part table is touched exactly twice — the
    combinable price-group aggregate and the row-recovery probe —
    with the groups frame persisted so the carry and survivor branches
    share one evaluation; the frontier joins back as a BROADCAST
    (never a shuffled self-join), and no SortMergeJoin appears."""
    from tools.scan_audit import live_scans

    df = QUERIES["part_skyline"](spark, SF_DIR)
    df.collect()  # materialize so the cached groups frame pins
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert live_scans(plan) == {"part": 2}, live_scans(plan)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan  # shared groups frame


def test_cusum_one_scan_broadcast_stats(spark):
    """CUSUM: one events scan feeds the persisted daily frame (the
    counts frame is types×days rows), the per-series stats join back
    as a BROADCAST, and the running sum/min pair stays in two bounded
    per-series windows — no SortMergeJoin, no Python. The events scan
    sits under the InMemoryRelation (live_scans hides cached
    subtrees; each consumer branch re-prints the cached subtree, so
    raw scan-node counts overstate — one materialized build is
    daily_event_counts' own guarded contract)."""
    from tools.scan_audit import live_scans

    plan = _plan(spark, "cusum_change_points")
    assert live_scans(plan) == {}, live_scans(plan)  # all cached
    assert "InMemoryRelation" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "PythonUDF" not in plan


def test_distinct_rollup_sketch_mapside_combinable(spark):
    """HLL rollup: both sketch stages are ObjectHashAggregates with
    partial (map-side) combine — sketch binaries merge before the
    exchange, the property that makes the rollup O(groups·2^lg_k)
    instead of a fact re-shuffle. The second events scan is the exact
    verification branch (dropped in production; the sketch path alone
    reads the fact once)."""
    from tools.scan_audit import live_scans

    plan = _plan(spark, "distinct_rollup_sketch")
    assert "partial_hll_sketch_agg" in plan
    assert "partial_hll_union_agg" in plan
    assert live_scans(plan) == {"events": 2}, live_scans(plan)
    assert "PythonUDF" not in plan


def test_overlapping_pairs_grid_equi_join_no_cartesian(spark):
    """Interval-overlap join: the pair generation is the hour-grid
    EQUI join over the persisted bucket frame (both sides read the
    cache — zero live scans pre-materialization), with the range and
    once-per-pair predicates as residuals; never a CartesianProduct
    or BroadcastNestedLoopJoin."""
    from tools.scan_audit import live_scans

    plan = _plan(spark, "overlapping_session_pairs")
    assert live_scans(plan) == {}, live_scans(plan)
    assert "InMemoryRelation" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan


def test_entity_resolution_block_equi_join_no_cartesian(spark):
    """Blocked ER: candidate pairs come ONLY from the block-key EQUI
    self-join over the persisted records frame (both sides read the
    cache — zero live scans pre-materialization); the Levenshtein
    verify is a JVM-side residual, never a CartesianProduct /
    BroadcastNestedLoopJoin / Python UDF."""
    from tools.scan_audit import live_scans

    plan = _plan(spark, "entity_resolution")
    assert live_scans(plan) == {}, live_scans(plan)
    assert "InMemoryRelation" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PythonUDF" not in plan
    assert "levenshtein" in plan


def test_cuped_one_scan_scalar_broadcast(spark):
    """CUPED: one events scan shuffled once to per-user cents; the
    pooled-moment frame is a ONE-ROW broadcast onto the 2-row arm
    aggregate (a scalar nested-loop broadcast is fine; a data-sized
    one is not) — no Python, no SortMergeJoin."""
    from tools.scan_audit import live_scans

    plan = _plan(spark, "cuped_ab_metrics")
    # per-user cents frame persisted: both moment branches read
    # the cache, zero live scans pre-materialization
    assert live_scans(plan) == {}, live_scans(plan)
    assert "InMemoryRelation" in plan
    assert "SortMergeJoin" not in plan
    assert "PythonUDF" not in plan


def test_survival_curve_one_scan_day_frame_windows(spark):
    """KM curve: ONE pruned events scan (ts pushdown filter from the
    lifetime truncation reaches the scan), one shuffle to per-user
    last days; the single-partition windows run on the DAY-level
    frame above the per-day aggregate — never on raw rows."""
    from tools.scan_audit import live_scans

    plan = _plan(spark, "survival_churn_curve")
    # per-user and per-day frames persisted: all consumers read
    # the caches, zero live scans pre-materialization
    assert live_scans(plan) == {}, live_scans(plan)
    assert "InMemoryRelation" in plan
    assert "PythonUDF" not in plan
    single = plan.index("Exchange SinglePartition")
    assert "HashAggregate" in plan[single:]


def test_part_bfs_bounded_supersteps(spark):
    """BFS: the final plan is the union of max_hops+1 checkpointed
    frontier frames (lineage cut per superstep — ScanExistingRDD
    roots, no parquet rescans in the result plan), every expansion
    join keyed (no Cartesian), no Python."""
    plan = _plan(spark, "part_bfs_hops")
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan  # all supersteps checkpointed
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan
