"""Classic relational analytics (bench headliners).

These exercise the engine's join/aggregate/window breadth the way the
reference's report builders exercise pandas groupby/merge — expressed
declaratively so Catalyst does pushdown, pruning, join selection and
AQE does runtime re-planning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from forest_open_data_pipelines_spark.functions.columns import micro_div, money, ratio, scaled_round
from forest_open_data_pipelines_spark.runtime import checkpoint, persist, unpersist


def q1_pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1 pricing summary.

    Pure scan→partial-agg→final-agg: at 100 TB this is the ideal shape
    (map-side combine on 6 groups, filter pushed to parquet).
    """
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money(F.sum("l_quantity")).alias("sum_qty"),
            money(F.sum("l_extendedprice")).alias("sum_base_price"),
            money(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("sum_disc_price"),
            money(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                )
            ).alias("sum_charge"),
            ratio(F.avg("l_quantity")).alias("avg_qty"),
            ratio(F.avg("l_extendedprice")).alias("avg_price"),
            ratio(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    date: str = "1998-03-15",
) -> DataFrame:
    """TPC-H Q3 adapted to the testdata columns.

    Filters are applied before the joins so they push into the scans;
    orders⋈lineitem shuffles on orderkey (AQE coalesces), customer side
    is filtered before joining.
    """
    d = F.lit(date).cast("timestamp")
    return (
        customer.where(F.col("c_mktsegment") == segment)
        .join(orders.where(F.col("o_orderdate") < d), F.col("c_custkey") == F.col("o_custkey"))
        .join(
            lineitem.where(F.col("l_shipdate") > d),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            money(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def q5_region_volume(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    region_name: str = "ASIA",
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5 adapted: revenue by customer nation within a region,
    where the supplier is in the same nation as the customer.

    Six-way join: region+nation broadcast; customer⋈orders⋈lineitem⋈
    supplier shuffle on their keys with AQE join re-selection.
    """
    dims = F.broadcast(
        nation.join(
            F.broadcast(region.where(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    return (
        customer.join(dims, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            orders.where(
                (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("s_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            money(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


def region_nation_rollup(enriched: DataFrame) -> DataFrame:
    """Hierarchical rollup: (region, nation) → (region) → grand total.

    The reference materializes the state×year and biome matrices as
    separate passes (bdqueimadas_incremental.py consolidate step); a
    ROLLUP computes every level in ONE scan with map-side partial
    aggregation — at 100 TB this replaces three full passes with one.
    ``grouping_id`` disambiguates levels (0 = leaf, 1 = region
    subtotal, 3 = grand total); NULL group keys are labeled 'ALL' so
    output ordering is engine-independent.
    """
    return (
        enriched.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("int").alias("grouping_level"),
            F.count("*").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "grouping_level",
            "n_orders",
            "total_price",
        )
        .orderBy("grouping_level", "region_name", "nation_name")
    )


def region_nation_cube(enriched: DataFrame) -> DataFrame:
    """CUBE over (region, nation): all four grouping sets — leaf,
    per-region, per-nation, grand total — in one scan.

    Complements ``region_nation_rollup``: the cube additionally yields
    the per-nation-across-regions margin (grouping_level 2), which the
    reference would compute as yet another full pass.
    """
    return (
        enriched.cube("r_name", "n_name")
        .agg(
            F.grouping_id().cast("int").alias("grouping_level"),
            F.count("*").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "grouping_level",
            "n_orders",
            "total_price",
        )
        .orderBy("grouping_level", "region_name", "nation_name")
    )


def part_brand_stats(part: DataFrame) -> DataFrame:
    """Per-brand part-catalog rollup: counts, distinct types/sizes,
    retail price stats (catalog_summary analog on the part dimension)."""
    return (
        part.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.countDistinct("p_type").alias("n_types"),
            F.countDistinct("p_size").alias("n_sizes"),
            money(F.min("p_retailprice")).alias("min_price"),
            money(F.max("p_retailprice")).alias("max_price"),
            ratio(F.avg("p_retailprice")).alias("avg_price"),
        )
        .orderBy("p_brand")
    )


def customers_without_orders(
    customer: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    since: str = "1998-01-01",
) -> DataFrame:
    """Customers with no orders since a cutoff, rolled up per nation
    (anti-join; churn-style report).

    LEFT ANTI join keeps the plan a single shuffle on custkey (orders
    side is filtered — pushed to the scan — and projected to the key
    column only before the join, so the shuffle moves 8 bytes/row, not
    the fact row); nation is broadcast.
    """
    no_orders = customer.join(
        orders.where(F.col("o_orderdate") >= F.lit(since).cast("timestamp")).select(
            "o_custkey"
        ),
        customer.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return (
        no_orders.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            ratio(F.avg("c_acctbal")).alias("avg_acctbal"),
        )
        .orderBy("n_name")
    )


def nations_trade_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q7-style cross-nation trade: revenue shipped from the
    supplier's nation to a DIFFERENT customer nation, per ship year.

    Fact-side joins (lineitem⋈orders⋈customer⋈supplier) shuffle on
    their keys with AQE; the nation dim is broadcast twice under two
    aliases — the fact side is never reshuffled for dimension lookups.
    """
    # DECIMAL(18,4) summation is exact and order-independent, and the
    # 2dp rounding happens while still in decimal — with double sums,
    # groups landing exactly on a .xx5 boundary round differently per
    # engine depending on the binary double below the boundary.
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    supp_nation = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
    )
    cust_nation = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
        )
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(supp_nation, F.col("s_nationkey") == F.col("sn_key"))
        .join(cust_nation, F.col("c_nationkey") == F.col("cn_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


def promo_revenue_share(
    lineitem: DataFrame,
    part: DataFrame,
    date_from: str = "1997-01-01",
    date_to: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q14-style promo revenue share per month.

    The ship-date filter pushes to the lineitem scan; part⋈lineitem
    shuffles on partkey (part scales with SF, so it is NOT broadcast —
    AQE may still choose broadcast at small scale, which is the right
    call there too).
    """
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev)
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("period"))
        .agg(
            money(F.sum(promo)).alias("promo_revenue"),
            money(F.sum(rev)).alias("total_revenue"),
            ratio(F.coalesce(F.sum(promo), F.lit(0.0)) * 100.0 / F.sum(rev)).alias(
                "promo_share_pct"
            ),
        )
        .orderBy("period")
    )


def order_priority_percentiles(
    orders: DataFrame, exact: bool = True, accuracy: int = 10_000
) -> DataFrame:
    """Percentiles (p25/p50/p75/p90) of order value per priority class.

    ``exact=True`` (default) uses the built-in exact ``percentile``
    aggregate (JVM-side, partial-aggregation-capable); 5 groups means
    the per-group state stays tiny even at 100 TB, but the exact
    aggregate buffers every VALUE per group — for billion-row groups
    pass ``exact=False`` for ``percentile_approx`` (Greenwald-Khanna
    sketch, O(accuracy) state per group, relative rank error ≤
    1/accuracy; returns an actual order statistic instead of the
    continuous interpolation — the divergence is bounded by the
    neighbor-gap at the cut and measured in tests). Kept exact by
    default so the DuckDB oracle (``quantile_cont``) matches
    bit-for-bit after 2dp rounding.
    """
    pct = (
        (lambda c, p: F.percentile(c, p))
        if exact
        else (lambda c, p: F.percentile_approx(c, p, accuracy))
    )
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            money(pct("o_totalprice", 0.25)).alias("p25"),
            money(pct("o_totalprice", 0.5)).alias("p50"),
            money(pct("o_totalprice", 0.75)).alias("p75"),
            money(pct("o_totalprice", 0.9)).alias("p90"),
        )
        .orderBy("o_orderpriority")
    )


def top_customers(
    customer: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    limit: int = 20,
) -> DataFrame:
    """Top customers by lifetime order value with per-nation rank.

    Window ranks run AFTER the aggregation (one row per customer), and
    the window partitions by nation — no global single-partition sort
    of raw data at scale.
    """
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(money(F.sum("o_totalprice")).alias("lifetime_value"), F.count("*").alias("n_orders"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "n_name", "lifetime_value", "n_orders")
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("lifetime_value"), "c_custkey")
    return (
        per_cust.withColumn("rank_in_nation", F.row_number().over(w))
        .orderBy(F.desc("lifetime_value"), "c_custkey")
        .limit(limit)
    )


def customer_order_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 shape: the distribution of customers by order count,
    zero-order customers included, counting only orders whose priority
    is specified.

    Scale: the left join shuffles both sides on custkey (AQE-planned);
    the per-customer count is map-side-combinable and the final
    distribution agg runs over ≤ max-order-count rows.
    """
    o = orders.where(F.col("o_orderpriority") != "4-NOT SPECIFIED").select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        customer.select("c_custkey")
        .join(o, customer["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def order_priority_semijoin(
    orders: DataFrame,
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q4 shape adapted to the testdata columns: orders per
    priority within a date window having at least one RETURNED line
    shipped after the order date — expressed as a LEFT SEMI join (one
    probe, no fan-out-then-distinct; the returnflag and date filters
    push into the scans).
    """
    o = orders.where(
        (F.col("o_orderdate") >= F.lit(date_from))
        & (F.col("o_orderdate") < F.lit(date_to))
    )
    li = lineitem.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_shipdate"
    )
    sj = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"]) & (li["l_shipdate"] > o["o_orderdate"]),
        "left_semi",
    )
    return (
        sj.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def disjunctive_promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: revenue from an OR-of-ANDs of (brand,
    size-range, quantity-range) clauses over lineitem⋈part — the
    classic disjunctive-predicate plan test. The join stays an
    equi-join on partkey with the disjunction as a post-join filter;
    the common sub-predicates (quantity ceiling, size floor) are
    written factored so Catalyst pushes them into BOTH scans, which
    is exactly what survives at 100× scale (a naive per-branch union
    would scan lineitem three times).

    Output: one row per matched brand clause with revenue
    (sum l_extendedprice·(1−l_discount), 2dp).
    """
    li = lineitem.select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    p = part.select("p_partkey", "p_brand", "p_size")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    clause = (
        F.when(
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11),
            F.lit("Brand#1"),
        )
        .when(
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20),
            F.lit("Brand#2"),
        )
        .when(
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30),
            F.lit("Brand#3"),
        )
    )
    return (
        j.where(
            # factored common bounds reach both scans as pushed filters
            F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 30)
            & clause.isNotNull()
        )
        .groupBy(clause.alias("brand_clause"))
        .agg(
            scaled_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("brand_clause")
    )


def returned_item_ranking(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-07-01",
    top_n: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: top-N customers by revenue lost to returned
    items in a half-year window. customer⋈nation broadcast; the
    orders window filter and the returnflag filter push into the fact
    scans; rank window with c_custkey tie-break for determinism.
    """
    o = orders.where(
        (F.col("o_orderdate") >= F.lit(date_from))
        & (F.col("o_orderdate") < F.lit(date_to))
    ).select("o_orderkey", "o_custkey")
    li = lineitem.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            scaled_round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    c = customer.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        customer["c_nationkey"] == F.col("n_nationkey"),
    ).select("c_custkey", "c_name", "n_name")
    ranked = (
        rev.join(c, rev["o_custkey"] == c["c_custkey"])
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("revenue"), "c_custkey")
            ),
        )
        .where(F.col("rank") <= top_n)
    )
    return ranked.select(
        "rank", "c_custkey", "c_name", "n_name", "revenue"
    ).orderBy("rank")


def cheapest_supplier_per_part(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q2-style minimum-cost supplier, adapted to this schema
    (no partsupp table): each part's cheapest OBSERVED supplier by
    average unit price over shipped lineitems, ties broken by supplier
    key.

    Scale shape: one map-side-combinable aggregation over the fact
    table on (partkey, suppkey); the min-per-part is a window over the
    aggregated table (|parts|·|suppliers-per-part| rows, orders of
    magnitude smaller than the fact); part/supplier/nation dims
    broadcast onto the RESULT, never onto the fact stream.
    """
    per_ps = (
        lineitem.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("price_sum"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("qty_sum"),
        )
        # decimal sums are exact; the division is scaled to integer
        # MICRO-units before rounding because synthetic prices are
        # exact multiples of quantity — quotients land exactly on 6-dp
        # boundaries where round(x, 6) differs between Spark's
        # decimal-string HALF_UP and DuckDB's binary round. N.5 doubles
        # are exactly representable, so round-to-integer agrees on both
        # engines for every input.
        .withColumn(
            "unit_price",
            F.round(
                F.col("price_sum").cast("double")
                * F.lit(1000000.0)
                / F.col("qty_sum").cast("double"),
                0,
            )
            / F.lit(1000000.0),
        )
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_price", "l_suppkey")
    best = per_ps.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        best.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("p_partkey").alias("partkey"),
            "p_brand",
            "p_type",
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("supp_nation"),
            "unit_price",
        )
        .orderBy("partkey")
    )


def part_revenue_concentration(
    lineitem: DataFrame, part: DataFrame, min_share_x: float = 1.5
) -> DataFrame:
    """TPC-H Q11-style value concentration, adapted (no partsupp):
    parts whose revenue exceeds ``min_share_x`` times the average
    per-part revenue — the 'which SKUs dominate the book' cut.

    Scale shape: one aggregation over the fact on partkey; the global
    (total, n_parts) scalar comes from re-aggregating THAT table (tiny)
    and broadcasts back as a one-row cross join — the canonical
    two-pass global-threshold plan, no fact rescan.
    """
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    # persist: the per-part aggregate feeds BOTH the totals
    # re-aggregation and the threshold filter — without it the "no
    # fact rescan" claim is false (Spark recomputes the scan per
    # consumer; caught via tools/explain.py)
    per_part = persist(
        lineitem.groupBy("l_partkey").agg(F.sum(rev).alias("revenue_d"))
    )
    totals = per_part.agg(
        F.sum("revenue_d").alias("total_d"), F.count("*").alias("n_parts")
    )
    out = (
        per_part.crossJoin(F.broadcast(totals))
        # exact decimal compare: revenue · n_parts > x · total. The
        # multiplier is quantized at decimal(12,6) — six fractional
        # digits, so any float literal a caller can reasonably write
        # survives exactly (the r5 decimal(6,2) cast silently folded
        # 1.505 → 1.51 away from the documented 'x times average')
        .where(
            F.col("revenue_d") * F.col("n_parts")
            > F.col("total_d") * F.lit(min_share_x).cast("decimal(12,6)")
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("p_partkey").alias("partkey"),
            "p_brand",
            "p_type",
            F.round(F.col("revenue_d"), 2).cast("double").alias("revenue"),
            ratio(
                F.col("revenue_d").cast("double") / F.col("total_d").cast("double")
                * 100.0
            ).alias("share_pct"),
        )
        .orderBy(F.desc("revenue"), "partkey")
    )
    return out


def large_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    min_qty: int = 200,
) -> DataFrame:
    """TPC-H Q18 large-volume orders: orders whose total lineitem
    quantity reaches ``min_qty``, with their customer.

    Scale shape: the HAVING filter runs on the per-order aggregate
    BEFORE any dimension join, so only the ~top percent of orders ever
    join customer (broadcast) and orders (shuffle on the already-
    aggregated key set).
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("qty_d"))
        .where(F.col("qty_d") >= min_qty)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            money(F.col("o_totalprice")).alias("totalprice"),
            F.round(F.col("qty_d"), 2).cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), "orderkey")
    )


def idle_balance_customers(
    customer: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    since: str = "2000-01-01",
) -> DataFrame:
    """TPC-H Q22-style sales-opportunity cut: customers whose balance
    beats the positive-balance average but who placed NO order since
    ``since``, grouped per nation.

    Scale shape: the scalar threshold is a one-row broadcast; the
    'no recent order' test is a LEFT ANTI join against the DATE-FILTERED
    order keys (filter pushed to the orders scan, distinct custkeys far
    smaller than the order table); nation broadcasts onto the final
    ≤|nations| aggregate.
    """
    avg_bal = customer.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit(since).cast("timestamp")
    ).select("o_custkey")
    rich = (
        customer.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        rich.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_balance"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "n_customers", "total_balance")
        .orderBy("n_name")
    )


def revenue_change_forecast(
    lineitem: DataFrame,
    year: int = 1997,
    disc_lo: float = 0.05,
    disc_hi: float = 0.07,
    max_qty: int = 24,
) -> DataFrame:
    """TPC-H Q6 forecasting-revenue-change: the revenue that would be
    recovered by eliminating small discounts on low-quantity lines in
    one year — the purest pushdown query in the suite.

    Scale shape: every predicate reaches the parquet scan
    (PushedFilters on shipdate/discount/quantity, plan-guarded), then
    a single map-side-combinable global sum over the surviving rows —
    no join, no wide shuffle beyond the 1-row final aggregate.
    """
    rev = (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
            & (F.col("l_discount") >= disc_lo)
            & (F.col("l_discount") <= disc_hi)
            & (F.col("l_quantity") < max_qty)
        )
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


def top_supplier_by_revenue(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    date_from: str = "1997-01-01",
    date_to: str = "1997-04-01",
) -> DataFrame:
    """TPC-H Q15 top supplier: supplier(s) achieving the MAXIMUM
    revenue in a quarter (all of them on a tie, per the spec's
    correlated-max semantics).

    Scale shape: one aggregation over the date-filtered fact on
    suppkey; the global max is a re-aggregation of THAT table
    broadcast back as one row (no second fact scan, no window over
    the whole supplier space); supplier/nation broadcast onto the
    ≤|ties| result.
    """
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )

    # persisted for the same two-consumer reason as
    # part_revenue_concentration (max re-aggregation + the filter)
    per_supp = persist(
        lineitem.where(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev).alias("revenue_d"))
    )
    max_rev = per_supp.agg(F.max("revenue_d").alias("max_rev"))
    return (
        per_supp.crossJoin(F.broadcast(max_rev))
        .where(F.col("revenue_d") == F.col("max_rev"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("supp_nation"),
            F.round(F.col("revenue_d"), 2).cast("double").alias("revenue"),
        )
        .orderBy("suppkey")
    )


def q8_market_share(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    region_name: str = "ASIA",
    supp_nation_name: str = "NATION_0",
    part_type: str = "ECONOMY",
) -> DataFrame:
    """TPC-H Q8 adapted: per order year, the share of a region's
    part-type market captured by suppliers from one nation.

    For customers in ``region_name`` buying parts of ``part_type``:
    ``mkt_share = Σ volume(supplier ∈ supp_nation) / Σ volume`` with
    volume = extendedprice·(1−discount).

    ONE pass over the fact side — the share is a conditional sum in
    the same groupBy(year) aggregate, not two scans joined. Region,
    nation, and the type-filtered part dim are broadcast; lineitem⋈
    orders⋈customer shuffle on their keys with AQE. Sums stay in
    DECIMAL(18,4) (exact, order-independent) until the final 6-dp
    share and 2-dp volume roundings.
    """
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    mkt_dims = F.broadcast(
        nation.join(
            F.broadcast(region.where(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("mkt_nkey"))
    )
    supp_nation = F.broadcast(
        nation.where(F.col("n_name") == supp_nation_name).select(
            F.col("n_nationkey").alias("target_nkey")
        )
    )
    parts = F.broadcast(
        part.where(F.col("p_type") == part_type).select("p_partkey")
    )
    is_target = F.col("target_nkey").isNotNull()
    return (
        lineitem.join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(mkt_dims, F.col("c_nationkey") == F.col("mkt_nkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            supp_nation, F.col("s_nationkey") == F.col("target_nkey"), "left"
        )
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(is_target, vol).otherwise(F.lit(0).cast("decimal(18,4)")))
            .alias("nation_volume_d"),
            F.sum(vol).alias("total_volume_d"),
        )
        .select(
            "o_year",
            # both exact decimal sums cast to double BEFORE the divide:
            # engine-specific decimal-division scale rules never enter,
            # both engines divide the same IEEE doubles
            ratio(
                F.col("nation_volume_d").cast("double")
                / F.col("total_volume_d").cast("double")
            ).alias("mkt_share"),
            F.round(F.col("nation_volume_d"), 2).cast("double").alias(
                "nation_volume"
            ),
            F.round(F.col("total_volume_d"), 2).cast("double").alias(
                "total_volume"
            ),
        )
        .orderBy("o_year")
    )


def q17_small_quantity_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#11",
) -> DataFrame:
    """TPC-H Q17 adapted: average yearly revenue lost if small-quantity
    orders of one brand's parts moved to bulk fulfilment — lineitems
    whose quantity is below 20% of their part's average quantity.

    The avg-quantity threshold compare is EXACT integer/decimal
    arithmetic on both engines: ``qty < 0.2·avg`` is evaluated as
    ``qty · 5 · cnt < Σqty`` over DECIMAL(18,4) values, so no float
    rounding boundary can flip a lineitem between engines.

    Two-phase shape: per-part (Σqty, cnt) aggregates over the
    brand-filtered fact FIRST (map-side combinable, brand dim
    broadcast), the bounded per-part aggregate broadcasts back onto
    the same filtered fact for the threshold cut — the fact table is
    scanned twice but never shuffled on a non-key.
    """
    parts = F.broadcast(
        part.where(F.col("p_brand") == brand).select("p_partkey")
    )
    branded = lineitem.join(parts, F.col("l_partkey") == F.col("p_partkey"))
    qty = F.col("l_quantity").cast("decimal(18,4)")
    per_part = branded.groupBy(F.col("l_partkey").alias("agg_partkey")).agg(
        F.sum(qty).alias("sum_qty"),
        F.count("*").alias("cnt"),
    )
    return (
        branded.join(
            F.broadcast(per_part),
            F.col("l_partkey") == F.col("agg_partkey"),
        )
        .where(
            qty * F.lit(5).cast("decimal(18,4)") * F.col("cnt")
            < F.col("sum_qty")
        )
        .agg(
            # exact decimal sum → double → /7.0 in double → 2-dp
            # scale-then-round: identical arithmetic on both engines
            money(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast(
                    "double"
                )
                / F.lit(7.0)
            ).alias("avg_yearly"),
            F.count("*").alias("n_small_lineitems"),
        )
    )


def q9_product_type_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_token: str = "red",
) -> DataFrame:
    """TPC-H Q9 adapted: profit by supplier nation and order year for
    parts whose name contains ``name_token``. The testdata carries no
    partsupp, so unit cost is proxied by half the part's retail price:
    ``amount = extendedprice·(1−discount) − 0.5·retailprice·quantity``.

    The per-row amount is one double expression (identical IEEE
    operands on both engines) cast to DECIMAL(18,4) BEFORE the sum, so
    the aggregate is exact and partial-agg order cannot drift — the
    q8_market_share convention.

    Plan shape: the name-filtered part dim and supplier⋈nation both
    broadcast onto the fact; lineitem⋈orders shuffle on orderkey (AQE
    re-selects); one groupBy(nation, year) with map-side combine.
    """
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,4)")
    parts = F.broadcast(
        part.where(F.col("p_name").contains(name_token)).select(
            "p_partkey", "p_retailprice"
        )
    )
    supp_nation = F.broadcast(
        supplier.join(
            nation, F.col("s_nationkey") == F.col("n_nationkey")
        ).select("s_suppkey", "n_name")
    )
    return (
        lineitem.join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(amount).alias("profit_d"))
        .select(
            "nation",
            "o_year",
            F.round(F.col("profit_d"), 2).cast("double").alias("sum_profit"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


def q12_shipping_delay(
    orders: DataFrame, lineitem: DataFrame, year: int = 1997
) -> DataFrame:
    """TPC-H Q12 adapted: the testdata has no shipmode or commit/receipt
    dates, so the Q12 question — does slow fulfilment correlate with
    order priority? — is asked of the ship delay instead: bucket each
    lineitem shipped in ``year`` by datediff(shipdate, orderdate) and
    count critical (1-URGENT / 2-HIGH) vs other-priority lineitems per
    bucket, exactly Q12's conditional-sum form.

    Plan shape: one lineitem⋈orders shuffle on orderkey (both filters
    pushed to the scans), then a 3-group aggregate with map-side
    combine; datediff on timestamps is exact integer arithmetic so
    bucket edges cannot drift between engines.
    """
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay < 30, "under_30d")
        .when(delay < 90, "30_to_89d")
        .otherwise("90d_plus")
    )
    is_critical = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lineitem.where(F.year("l_shipdate") == year)
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(is_critical, 1).otherwise(0)).alias(
                "high_priority_count"
            ),
            F.sum(F.when(is_critical, 0).otherwise(1)).alias(
                "low_priority_count"
            ),
        )
        .orderBy("delay_bucket")
    )


def q16_supplier_part_variety(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    excl_brand: str = "Brand#11",
    excl_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q16 adapted: how many distinct suppliers can ship each
    (brand, type, size) of part, excluding one brand, one part type,
    and "complaint" suppliers — proxied as negative account balance
    since the testdata has no supplier comments. Shipment evidence
    comes from lineitem (no partsupp in the testdata).

    Plan shape: part filters push to the dim scan (broadcast);
    excluded suppliers are a broadcast LEFT ANTI join (never a
    NOT-IN-over-shuffle); distinct suppliers per group is ONE
    count_distinct aggregate — Spark plans it as partial de-dup then
    final count, both map-side combinable.
    """
    parts = F.broadcast(
        part.where(
            (F.col("p_brand") != excl_brand) & (F.col("p_type") != excl_type)
        ).select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_suppliers = F.broadcast(
        supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    )
    return (
        lineitem.join(
            bad_suppliers, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


def q20_dominant_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_token: str = "red",
    year: int = 1997,
    pct_num: int = 3,
    pct_den: int = 10,
) -> DataFrame:
    """TPC-H Q20 adapted: suppliers who dominated a part's supply —
    shipped more than ``pct_num/pct_den`` (default 30%) of the total
    ``year`` volume of some part whose name contains ``name_token`` —
    with their nation, the promotion-candidate list Q20 builds from
    partsupp availability (absent here; shipped volume is the proxy).

    The threshold compare is EXACT: both sides are integer-scaled
    decimal sums (``qty_sp · pct_den > total · pct_num``), so no
    engine can disagree on a boundary part.

    Plan shape: per-(supp, part) sums aggregate the filtered fact once
    (map-side combine) and PERSIST — the totals reduce that cached
    aggregate and the threshold join probes it again, so the fact
    scans once (Catalyst alone would recompute the shared subtree on
    both sides of the self-consumption); totals broadcast back onto
    the supplier-part aggregate; the surviving supplier keys collapse
    via distinct and join the broadcast supplier⋈nation dim.
    """
    parts = F.broadcast(
        part.where(F.col("p_name").contains(name_token)).select("p_partkey")
    )
    qty = F.col("l_quantity").cast("decimal(18,4)")
    fact = (
        lineitem.where(F.year("l_shipdate") == year)
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
    )
    per_sp = persist(
        fact.groupBy("l_partkey", "l_suppkey").agg(F.sum(qty).alias("qty_sp"))
    )
    per_part = per_sp.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("qty_sp").alias("qty_total")
    )
    dominant = (
        per_sp.join(
            F.broadcast(per_part), F.col("l_partkey") == F.col("t_partkey")
        )
        .where(
            F.col("qty_sp") * F.lit(pct_den).cast("decimal(18,4)")
            > F.col("qty_total") * F.lit(pct_num).cast("decimal(18,4)")
        )
        .select("l_suppkey")
        .distinct()
    )
    supp_dim = F.broadcast(
        supplier.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        ).select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )
    return (
        dominant.join(supp_dim, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "nation")
        .orderBy("s_name")
    )


def q21_sole_latest_shipper(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    status: str = "F",
) -> DataFrame:
    """TPC-H Q21 adapted: suppliers most often the SOLE bottleneck of a
    multi-supplier order — the only supplier whose shipment hit the
    order's latest ship date (the commit/receipt columns Q21 blames
    don't exist in the testdata) on a finished (``status``) order.
    Preserves Q21's exists (another supplier on the order) /
    not-exists (another equally-late supplier) semantics — the oracle
    states it as correlated EXISTS subqueries; here it is one
    per-order aggregate joined back, the Spark-native equivalent.

    Plan shape: ONE fact scan, ONE shuffle — groupBy(order, supplier)
    reduces the fact to per-(order, supplier) latest ship dates, and
    every per-order question (order max, supplier count, how many
    suppliers tie the max) is a window over that aggregate PARTITIONED
    BY THE SAME KEY, so the windows reuse the aggregate's exchange
    (no second shuffle); supplier dim broadcast; final count map-side
    combinable. No self-join of the fact, no cross join.
    """
    fact = lineitem.join(
        orders.where(F.col("o_orderstatus") == status).select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select("l_orderkey", "l_suppkey", "l_shipdate")
    per_os = fact.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("s_max")
    )
    w = Window.partitionBy("l_orderkey")
    ann = per_os.select(
        "l_orderkey",
        "l_suppkey",
        "s_max",
        F.max("s_max").over(w).alias("max_ship"),
        F.count("*").over(w).alias("n_suppliers"),
    ).withColumn(
        "n_latest",
        F.sum(
            F.when(F.col("s_max") == F.col("max_ship"), 1).otherwise(0)
        ).over(w),
    )
    blamed = ann.where(
        (F.col("s_max") == F.col("max_ship"))
        & (F.col("n_suppliers") >= 2)
        & (F.col("n_latest") == 1)
    )
    return (
        blamed.join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


def sampled_revenue_estimate(
    lineitem: DataFrame, rate_inv: int = 100, unit_scale: int = 1_000_000
) -> DataFrame:
    """Approximate-query-processing harness: per return flag, the exact
    revenue, a 1/``rate_inv`` hash-sample ESTIMATE, and the estimate's
    absolute error in ppm — the sanity report a team runs before
    letting dashboards query a sample table instead of the 100 TB
    fact. The sample predicate is a pure function of the row key
    (md5(orderkey#linenumber) % rate_inv == 0), so the sample table
    can be MAINTAINED incrementally with the same predicate at ingest
    and both engines agree row-for-row on membership.

    All arithmetic is exact: sums ride decimal(18,4) (the prices'
    true scale), scaled totals are longs, and the ppm error is an
    integral division through decimal(38,0) (the intermediate
    |diff|·10⁶ overflows a long at fact scale). One scan — exact and
    sampled sums are conditional aggregates over the same pass,
    map-side combinable.

    CAPACITY CONTRACT: long totals bound per-group revenue at
    2^63/unit_scale (~9.2e12 currency units at the default micro
    scale — roughly TPC-H sf80 per flag). Past that, pass
    ``unit_scale=10_000`` (still EXACT for the 4-dp prices, headroom
    ~9.2e14 units); under this session's ANSI mode an overflow FAILS
    FAST rather than silently nulling, so a mis-sized scale cannot
    corrupt the report. A flag group with ZERO total revenue emits
    NULL abs_err_ppm (nullif-guarded divisor) instead of an ANSI
    divide-by-zero failure.
    """
    key = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", "l_orderkey", "l_linenumber")), 1, 15
        ),
        16,
        10,
    ).cast("long")
    in_sample = key % rate_inv == F.lit(0)
    dec = F.col("l_extendedprice").cast("decimal(18,4)")
    agg = (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(in_sample, 1).otherwise(0)).alias("n_sampled"),
            (F.sum(dec) * unit_scale).cast("long").alias("revenue_micro"),
            (
                F.coalesce(F.sum(F.when(in_sample, dec)), F.lit(0).cast("decimal(18,4)"))
                * rate_inv
                * unit_scale
            )
            .cast("long")
            .alias("estimate_micro"),
        )
    )
    err_ppm = F.expr(
        "cast(abs(estimate_micro - revenue_micro) as decimal(38,0))"
        " * 1000000 div nullif(cast(revenue_micro as decimal(38,0)), 0)"
    )
    return agg.select(
        "l_returnflag",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_sampled").cast("long").alias("n_sampled"),
        "revenue_micro",
        "estimate_micro",
        err_ppm.cast("long").alias("abs_err_ppm"),
        (F.col("estimate_micro") > F.col("revenue_micro")).alias("est_high"),
    ).orderBy("l_returnflag")


def part_affinity_pairs(lineitem: DataFrame, min_support: int = 5) -> DataFrame:
    """Market-basket co-occurrence: pairs of parts ordered together,
    with support (share of orders containing both, ppm) and LIFT
    (observed co-occurrence over the independence expectation,
    micro-units) — the association-rule shape behind
    bought-together recommendations and co-loaded-dataset analysis.

    All scoring is exact integer arithmetic through ``micro_div``:
    lift = (n_ab·N) / (n_a·n_b) with both products inside a long at
    this fact's cardinalities (n_ab·N·10⁶ ≤ ~1e17; at cardinalities
    where that overflows, widen the two products to decimal(38,0) —
    the err_ppm pattern).

    Scale: the pair generation is a SELF-JOIN ON THE ORDER KEY, so
    fan-out is bounded by lines-per-order choose 2 (~21 for TPC-H-like
    data) regardless of corpus size — never a part×part cartesian;
    per-part counts and the order total are map-side-combinable
    aggregates, and the scalar N rides a one-row broadcast.
    """
    # five plan branches read this frame (pair self-join a/b, per-part
    # counts, the order total) — persisted, the fact scans ONCE and the
    # distinct shuffle never repeats (the Q20 shared-aggregate pattern;
    # unpersisted the executed plan showed 5 lineitem scans)
    lines = persist(lineitem.select("l_orderkey", "l_partkey").distinct())
    a = lines.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = lines.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pair_counts = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_support)
    )
    part_counts = lines.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    n_orders = F.broadcast(
        lines.select("l_orderkey")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    joined = (
        pair_counts.join(
            part_counts.select(
                F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a")
            ),
            "part_a",
        )
        .join(
            part_counts.select(
                F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")
            ),
            "part_b",
        )
        .crossJoin(n_orders)
    )
    return joined.select(
        "part_a",
        "part_b",
        F.col("n_ab").cast("long").alias("n_ab"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        micro_div("n_ab", "n_orders").alias("support_ppm"),
        micro_div("n_ab * n_orders", "n_a * n_b").alias("lift_micro"),
    ).orderBy("part_a", "part_b")


def supplier_concentration_hhi(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """Market-concentration report: per supplier nation, the
    Herfindahl–Hirschman index of supplier revenue shares (Σ share² —
    the antitrust-style 'is this market one big player or many small
    ones' number), plus the top-supplier share and supplier count.

    Exactness: revenue sums ride decimal(18,4) micro longs, each
    supplier share is half-up ppm through decimal(38,0) (DuckDB:
    HUGEINT — rev·10⁶ overflows micro_div's long fast path at fact
    scale, caught by the 3-SF parity run), and HHI folds the
    ALREADY-ROUNDED
    ppm shares — Σ share_ppm² div 10⁶ — so the metric is a pure
    integer function of values the engines agree on. HHI_ppm ranges
    0..10⁶ (10⁶ = monopoly).

    Scale: one fact aggregate to (nation, supplier) revenue (map-side
    combine), dims broadcast; the share/HHI windows run over the
    supplier-count-sized aggregate, never the fact.
    """
    rev = (
        lineitem.groupBy("l_suppkey")
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,4)")) * 1_000_000)
            .cast("long")
            .alias("rev_micro")
        )
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", "l_suppkey", "rev_micro")
    )
    tot_w = Window.partitionBy("n_name")
    # share in ppm through decimal(38,0): rev_micro·10⁶ overflows a
    # long at fact scale (micro_div's long fast path does not apply);
    # the half-up comparison stays in decimal too: a remainder above
    # 2^62 would wrap negative under long *2 and round the wrong way
    # exactly in the regime the widening exists for
    share_ppm = F.expr(
        "cast(cast(rev_micro as decimal(38,0)) * 1000000"
        " div cast(nation_total as decimal(38,0)) as long)"
        " + CASE WHEN (cast(rev_micro as decimal(38,0)) * 1000000"
        " % cast(nation_total as decimal(38,0))) * 2"
        " >= cast(nation_total as decimal(38,0)) THEN 1 ELSE 0 END"
    )
    shares = (
        rev.withColumn("nation_total", F.sum("rev_micro").over(tot_w))
        .select("n_name", share_ppm.alias("share_ppm"))
    )
    return (
        shares.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.max("share_ppm").alias("top_share_ppm"),
            F.expr(
                "sum(share_ppm * share_ppm) div 1000000"
                " + CASE WHEN (sum(share_ppm * share_ppm) % 1000000) * 2"
                " >= 1000000 THEN 1 ELSE 0 END"
            )
            .cast("long")
            .alias("hhi_ppm"),
        )
        .select(
            "n_name",
            F.col("n_suppliers").cast("long").alias("n_suppliers"),
            F.col("top_share_ppm").cast("long").alias("top_share_ppm"),
            "hhi_ppm",
        )
        .orderBy("n_name")
    )


def co_order_edges(lineitem: DataFrame, min_support: int) -> DataFrame:
    """Undirected co-order part edges — the shared graph builder of
    ``part_pagerank`` and ``part_communities``: distinct (order, part)
    lines, the order-key self-join (fan-out bounded by lines-per-order,
    never a part×part cartesian), support filter, both directions
    materialized so every node has outdegree ≥ 1. Returns the
    PERSISTED (src, dst) edge frame; the DuckDB twins share the
    matching CTE text via one generator the same way."""
    lines = persist(lineitem.select("l_orderkey", "l_partkey").distinct())
    a = lines.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = lines.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_support)
    )
    return persist(
        pairs.select(
            F.col("part_a").alias("src"), F.col("part_b").alias("dst")
        ).unionByName(
            pairs.select(
                F.col("part_b").alias("src"), F.col("part_a").alias("dst")
            )
        )
    )


#: PageRank constants — damping 0.85 as an integer percent and rank
#: mass in PICO-units (10¹²): every arithmetic step is a truncating
#: integer op identical on both engines, so 5 iterations stay
#: bit-exact end-to-end. Single-sourced with the DuckDB unrolled-CTE
#: twin in __spark_entry__.py.
PAGERANK_ITERS = 5
PAGERANK_DAMP_PCT = 85
PAGERANK_SCALE = 10**12


def part_pagerank(
    lineitem: DataFrame,
    min_support: int = 2,
    iters: int = PAGERANK_ITERS,
) -> DataFrame:
    """PageRank centrality over the co-order part graph (Page et al.
    1999, public methodology) — the iterative-graph-algorithm shape on
    DataFrames (the Pregel loop): which parts sit at the center of the
    basket graph, beyond what raw degree sees. Edges are the
    ``part_affinity_pairs`` co-occurrence pairs (support ≥
    ``min_support`` — default 2, NOT affinity's 5: centrality wants
    the connected fabric, where the affinity entry's higher support is
    its association-precision knob), undirected (both directions
    materialized), so
    every node has outdegree ≥ 1 and no dangling-mass redistribution
    is needed.

    EXACT INTEGER ranks: mass lives in pico-units (Σ ≈ 10¹²);
    per-edge contribution is ``(pr · 85) div (100 · outdeg)``
    (truncating, positive-domain — floor == trunc on both engines) and
    the teleport base is ``(10¹² · 15) div (100 · N)``, so every
    iteration is engine-identical with NO float in the loop; only the
    final display column rounds (6 dp scale-then-round vs the oracle's
    native round — the documented-identical pairing).

    Scale: the edge list joins the node-sized rank frame on src and
    aggregates contributions by dst — one shuffle per iteration over
    the EDGE table (the Pregel-on-DataFrames shape), with the
    iteration count FIXED (5) and each round's rank frame
    localCheckpoint-ed — NOT merely persisted: the plan must TRUNCATE
    at the previous round or the analyzed lineage nests exponentially
    (the ``dedup.connected_components`` discipline; persist-only
    compiled to an 878 KB plan tree here). The static edge/degree
    frames stay persisted. The pair
    generation itself is the order-key self-join (fan-out bounded by
    lines-per-order), never a part×part cartesian. N is one bounded
    driver scalar (≤ distinct parts), the seed-centroid convention.
    """
    edges = co_order_edges(lineitem, min_support)
    deg = persist(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    )
    n_nodes = deg.count()
    if n_nodes == 0:
        return deg.select(
            F.col("src").alias("part_id"),
            F.col("outdeg").alias("degree"),
            F.lit(0).cast("long").alias("rank_pico"),
            F.lit(0.0).alias("rank"),
        )
    base = (PAGERANK_SCALE * (100 - PAGERANK_DAMP_PCT)) // (100 * n_nodes)
    edges_deg = persist(edges.join(deg, "src"))
    pr = checkpoint(
        deg.select(
            F.col("src").alias("node"),
            F.lit(PAGERANK_SCALE // n_nodes).cast("long").alias("pr"),
        )
    )
    for _ in range(iters):
        contrib = (
            edges_deg.join(pr, edges_deg["src"] == pr["node"])
            .select(
                "dst",
                F.expr(
                    f"(pr * {PAGERANK_DAMP_PCT}) div (100 * outdeg)"
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        pr = checkpoint(
            deg.join(contrib, deg["src"] == contrib["dst"], "left").select(
                F.col("src").alias("node"),
                (
                    F.lit(base).cast("long")
                    + F.coalesce(F.col("s"), F.lit(0).cast("long"))
                ).alias("pr"),
            )
        )
    return (
        pr.join(deg, pr["node"] == deg["src"])
        .select(
            F.col("node").alias("part_id"),
            F.col("outdeg").alias("degree"),
            F.col("pr").alias("rank_pico"),
            ratio(F.col("pr") / F.lit(float(PAGERANK_SCALE))).alias("rank"),
        )
        .orderBy("part_id")
    )


LPA_ITERS = 5


def part_communities(
    lineitem: DataFrame,
    min_support: int = 2,
    iters: int = LPA_ITERS,
) -> DataFrame:
    """Synchronous label-propagation communities over the support-2
    co-order graph (Raghavan et al. 2007, public methodology) — the
    community-granularity companion to ``dedup.connected_components``
    (which only answers reachability) and ``part_pagerank``
    (centrality): label(v) ← the most frequent neighbor label, ties to
    the SMALLEST label, run ``iters`` synchronous rounds from
    label = node id. Fixed-round synchronous updates make the result a
    pure function of the edge list — no RNG, no async sweep order —
    so the DuckDB unrolled-CTE twin reproduces it exactly (integer
    labels end-to-end; sync LPA may oscillate on bipartite structures,
    which a FIXED round count renders deterministic rather than
    divergent).

    Scale: per round, one shuffle of the edge table keyed by (dst,
    neighbor label) for the frequency count and one node-sized window
    for the argmax — the Pregel shape again; each round's label frame
    is localCheckpoint-ed (the lineage discipline part_pagerank and
    connected_components share).
    """
    edges = co_order_edges(lineitem, min_support)
    nodes = persist(edges.select(F.col("src").alias("node")).distinct())
    labels = checkpoint(nodes.select("node", F.col("node").alias("label")))
    w = Window.partitionBy("dst").orderBy(
        F.desc("n_votes"), F.col("label")
    )
    for _ in range(iters):
        votes = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("n_votes"))
        )
        winner = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("dst").alias("node"), "label")
        )
        labels = checkpoint(winner)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("community_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("part_id"),
            F.col("label").alias("community"),
            "community_size",
        )
        .orderBy("part_id")
    )


def part_triangles(lineitem: DataFrame, min_support: int = 2) -> DataFrame:
    """Exact triangle counts + local clustering coefficient per part
    over the support-2 co-order graph — the third classic distributed
    graph primitive next to ``part_pagerank`` / ``part_communities``
    (how CLIQUISH is each part's basket neighborhood, the signal
    behind bundle detection and graph-density audits).

    Algorithm: degree-ordered edge orientation (Suri & Vassilvitskii
    2011, "the curse of the last reducer", public methodology) — each
    undirected edge points from its (degree, id)-smaller endpoint to
    the larger, so every triangle is enumerated EXACTLY once as
    u→v, v→w, u→w and, crucially, each node's oriented out-
    neighborhood is O(√m): the hub that would otherwise fan out
    deg² wedge candidates contributes only its few higher-degree
    neighbors. Per-node counts credit all three corners; the
    clustering coefficient is 2·tri / (deg·(deg−1)) on the true
    undirected degree (6-dp ratio, NULL below degree 2).

    Scale: two node-keyed equi-joins over the oriented edge table
    (wedge build + closing-edge check) — no part×part product
    anywhere; the orientation bounds the wedge fan-out, the
    per-corner explode is 3 rows per triangle, and the final
    aggregate is map-side combinable on part_id.
    """
    edges = co_order_edges(lineitem, min_support)
    deg = persist(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    )
    pairs = edges.where(F.col("src") < F.col("dst"))
    da = deg.select(F.col("src").alias("pa"), F.col("degree").alias("dega"))
    db = deg.select(F.col("src").alias("pb"), F.col("degree").alias("degb"))
    first_is_smaller = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("src") < F.col("dst"))
    )
    oriented = persist(
        pairs.join(da, pairs["src"] == da["pa"])
        .join(db, pairs["dst"] == db["pb"])
        .select(
            F.when(first_is_smaller, F.col("src"))
            .otherwise(F.col("dst"))
            .alias("u"),
            F.when(first_is_smaller, F.col("dst"))
            .otherwise(F.col("src"))
            .alias("v"),
        )
    )
    e2 = oriented.select(F.col("u").alias("v2"), F.col("v").alias("w"))
    e3 = oriented.select(F.col("u").alias("u3"), F.col("v").alias("w3"))
    triangles = (
        oriented.join(e2, F.col("v") == F.col("v2"))
        .join(
            e3,
            (F.col("u") == F.col("u3")) & (F.col("w") == F.col("w3")),
            "left_semi",
        )
        .select("u", "v", "w")
    )
    corners = (
        triangles.select(F.explode(F.array("u", "v", "w")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.select(F.col("src").alias("part_id"), "degree")
        .join(corners, "part_id", "left")
        .select(
            "part_id",
            "degree",
            F.coalesce("n_triangles", F.lit(0).cast("long")).alias(
                "n_triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                ratio(
                    2.0
                    * F.coalesce("n_triangles", F.lit(0).cast("long"))
                    / (F.col("degree") * (F.col("degree") - 1))
                ),
            ).alias("clustering_coeff"),
        )
        .orderBy("part_id")
    )


def part_skyline(part: DataFrame, price_bucket_width: float = 100.0) -> DataFrame:
    """2-D Pareto skyline of parts: cheapest-AND-biggest frontier.

    A part is on the skyline iff no other part dominates it — lower or
    equal price AND greater or equal size, strict in at least one.
    Equal (price, size) duplicates do not dominate each other (all
    stay).  The preference-query class (Börzsönyi et al. 2001, "The
    Skyline Operator", ICDE) the catalog lacked.

    Spark-first shape — NOT the quadratic dominance self-join:

    1. collapse to PRICE GROUPS: max size per exact price (map-side
       combinable, one shuffle on price) — inside a group, everything
       below the max size is dominated by the group max;
    2. a group survives iff its max size strictly exceeds every max
       size at a strictly lower price: a PREFIX MAX over price order,
       decomposed exactly like ``session_concurrency`` — within
       fixed-width price buckets via a bounded window, across buckets
       via a prefix max over the bucket-totals frame (bucket-count
       rows, the only single-partition window);
    3. join the surviving (price, max-size) frontier — expected
       O(log n) rows on independent dimensions — BROADCAST back to
       recover all tied part rows.

    The DuckDB oracle runs the textbook quadratic NOT EXISTS, so the
    hash match cross-checks the prefix-max reformulation.

    The price-groups frame (distinct prices — already reduced by the
    combinable aggregate) is PERSISTED: both the bucket-carry input
    and the survivor filter consume it, and without the pin Spark
    re-evaluates the aggregation subtree per consumer (a second full
    part scan, caught by the plan guard).  The trailing part probe is
    the row-recovery scan, filtered by the broadcast frontier.
    """
    groups = persist(
        part.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    )
    bucketed = groups.withColumn(
        "bucket", F.floor(F.col("p_retailprice") / F.lit(price_bucket_width))
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = bucketed.withColumn("prev_in_bucket", F.max("gmax").over(w_in))
    bucket_tot = within.groupBy("bucket").agg(
        F.max("gmax").alias("bucket_max")
    )
    w_carry = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    carry = bucket_tot.select(
        "bucket", F.max("bucket_max").over(w_carry).alias("carry")
    )
    survivors = (
        within.join(F.broadcast(carry), "bucket")
        .withColumn("smax", F.greatest("prev_in_bucket", "carry"))
        .where(F.col("smax").isNull() | (F.col("gmax") > F.col("smax")))
        .select(
            F.col("p_retailprice").alias("sky_price"),
            F.col("gmax").alias("sky_size"),
        )
    )
    return (
        part.join(
            F.broadcast(survivors),
            (F.col("p_retailprice") == F.col("sky_price"))
            & (F.col("p_size") == F.col("sky_size")),
        )
        .select("p_partkey", "p_brand", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


#: part_bfs_hops runs on SUPPORT-1 edges (every co-order pair), unlike
#: the support-2 default the other graph entries share: the support-2
#: graph FRAGMENTS as the part space outgrows repeat co-orders (12
#: reachable rows at sf0.1 vs 725 at sf0.01 — the r11 VERDICT item 3),
#: so the traversal evidence stayed meaningful only at small SFs.
#: Single-sourced with the DuckDB recursive-CTE twin.
BFS_MIN_SUPPORT = 1


def part_bfs_hops(
    lineitem: DataFrame, max_hops: int = 4, min_support: int = BFS_MIN_SUPPORT
) -> DataFrame:
    """Single-source BFS hop distances over the co-order part graph —
    the graph-traversal class (reachability / shortest unweighted
    path), seeded at the highest-degree hub (ties broken by smallest
    part id) and run on support-1 edges (``BFS_MIN_SUPPORT``) so the
    traversal exercises real expansion at every SF — the min-id seed
    sat in a 2-node component and the support-2 graph itself fragments
    to a 12-row reach at sf0.1.

    Spark-first iteration: the frontier expands one hop per round
    (bounded ``max_hops`` rounds — a Pregel superstep each: frontier ⋈
    edges, dedup, anti-join visited), with ``localCheckpoint`` per
    round cutting the lineage the way every iterative operator here
    does (pagerank/communities precedent).  Each round is one
    bounded-key shuffle; state is the visited set, never paths.

    The DuckDB oracle is a RECURSIVE CTE with set semantics (UNION
    dedups (part, hop) pairs per level, so path blow-up never
    materializes) + min(hop) — the first iterative catalog entry with
    a true SQL twin rather than a rows-only check.
    """
    edges = co_order_edges(lineitem, min_support)
    visited = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .orderBy(F.desc("deg"), F.asc("src"))
        .limit(1)
        .select(
            F.col("src").cast("long").alias("part_id"),
            F.lit(0).cast("int").alias("hop"),
        )
    )
    visited = checkpoint(visited, eager=True)
    for d in range(1, max_hops + 1):
        frontier = (
            visited.where(F.col("hop") == d - 1)
            .join(edges, visited["part_id"] == edges["src"])
            .select(F.col("dst").alias("part_id"))
            .distinct()
            .join(visited.select("part_id"), "part_id", "left_anti")
            .select("part_id", F.lit(d).cast("int").alias("hop"))
        )
        # eager: the new visited set is materialized here, so the
        # previous round's checkpoint is read no more
        prev, visited = visited, checkpoint(
            visited.unionByName(frontier), eager=True
        )
        unpersist(prev)
    return visited.orderBy("hop", "part_id")
