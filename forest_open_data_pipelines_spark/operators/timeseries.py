"""Time-series report engine.

Spark-first re-expression of the reference's report builders
(``reports/builders/bdqueimadas_overview.py`` and
``bdqueimadas_incremental.py``): monthly/annual detection series at
national, state (≈ nation) and biome (≈ region) grain, top-N tables
with year-over-year comparison, rolling-12-month windows, YTD and
month-of-year comparisons.

Mapping onto the driver testdata: ``orders`` rows ≈ fire detections,
``o_orderdate`` ≈ detection timestamp, ``nation`` ≈ state/UF,
``region`` ≈ biome, ``o_totalprice`` ≈ an additive measure (FRP-like).

Scale notes (100 TB):
- The fact scan aggregates FIRST (map-side partial sums on
  (period[, dim]) — thousands of groups max), so every window/topN
  below operates on a tiny post-aggregation frame. No window function
  ever runs over raw fact rows.
- nation/region are broadcast; the orders⋈customer join shuffles on
  the key with AQE handling skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from forest_open_data_pipelines_spark.functions.columns import (
    micro_div,
    money,
    period_month,
    ratio,
    safe_pct_change,
)
from forest_open_data_pipelines_spark.runtime import checkpoint, persist


def orders_enriched(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """orders ⋈ customer ⋈ nation ⋈ region with broadcast dims.

    Reference: bdqueimadas_incremental.py enriches each detection row
    with state and biome columns before aggregating; here the dims are
    relational and the small sides (nation, region — fixed cardinality
    even at 100 TB) are explicitly broadcast. customer is a real join
    (shuffle) because it scales with the fact data.
    """
    dims = F.broadcast(
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
    )
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(dims, customer.c_nationkey == dims.n_nationkey)
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "n_name",
            "r_name",
        )
    )


def _series(df: DataFrame, keys: list[Column | str], order: list[str]) -> DataFrame:
    return (
        df.groupBy(*keys)
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("total_price"),
        )
        .orderBy(*order)
    )


def monthly_series(enriched: DataFrame) -> DataFrame:
    """National monthly series (monthly_all_df analog,
    bdqueimadas_incremental.py consolidate step)."""
    return _series(
        enriched.select(period_month(F.col("o_orderdate")).alias("period"), "o_totalprice"),
        ["period"],
        ["period"],
    )


def monthly_by_region(enriched: DataFrame) -> DataFrame:
    """Monthly-by-biome analog (monthly_by_biome_df)."""
    return _series(
        enriched.select(
            period_month(F.col("o_orderdate")).alias("period"), "r_name", "o_totalprice"
        ),
        ["period", "r_name"],
        ["period", "r_name"],
    )


def annual_series(enriched: DataFrame) -> DataFrame:
    """Annual totals (annual_all_df)."""
    return _series(
        enriched.select(F.year("o_orderdate").alias("year"), "o_totalprice"),
        ["year"],
        ["year"],
    )


def annual_by_region(enriched: DataFrame) -> DataFrame:
    return _series(
        enriched.select(F.year("o_orderdate").alias("year"), "r_name", "o_totalprice"),
        ["year", "r_name"],
        ["year", "r_name"],
    )


def nation_year_matrix(enriched: DataFrame) -> DataFrame:
    """state×year matrix (state_year_all_df)."""
    return _series(
        enriched.select(F.year("o_orderdate").alias("year"), "n_name", "o_totalprice"),
        ["n_name", "year"],
        ["n_name", "year"],
    )


def nation_month_matrix(enriched: DataFrame) -> DataFrame:
    """state×month matrix (state_month_all_df)."""
    return _series(
        enriched.select(
            period_month(F.col("o_orderdate")).alias("period"), "n_name", "o_totalprice"
        ),
        ["n_name", "period"],
        ["n_name", "period"],
    )


def _yoy_top(
    enriched: DataFrame, dim: str, limit: int
) -> DataFrame:
    """Top-N groups by latest-year volume with previous-year comparison.

    Reference: bdqueimadas_overview.py:922-970 (``_build_top_states_table``)
    and :972-1020 (``_build_top_biomes_context``): take latest/previous
    year present in the annual series, rank groups by current-year
    total, attach previous-year total and pct change.
    """
    by_year = enriched.groupBy(dim, F.year("o_orderdate").alias("year")).agg(
        F.count("*").alias("n")
    )
    # Tiny frame from here on (|dims| × |years|); the max-year scalar is
    # attached via a broadcast cross join so the plan stays fully
    # declarative (no driver collect).
    latest = by_year.agg(F.max("year").alias("latest_year"))
    pivoted = (
        by_year.join(F.broadcast(latest))
        .groupBy(dim, "latest_year")
        .agg(
            F.sum(F.when(F.col("year") == F.col("latest_year"), F.col("n"))).alias(
                "current_year_total"
            ),
            F.sum(F.when(F.col("year") == F.col("latest_year") - 1, F.col("n"))).alias(
                "previous_year_total"
            ),
        )
        .select(
            F.col(dim),
            F.col("latest_year"),
            F.coalesce("current_year_total", F.lit(0)).alias("current_year_total"),
            F.coalesce("previous_year_total", F.lit(0)).alias("previous_year_total"),
        )
    )
    return (
        pivoted.withColumn(
            "pct_change",
            safe_pct_change(F.col("current_year_total"), F.col("previous_year_total")),
        )
        .orderBy(F.desc("current_year_total"), F.col(dim))
        .limit(limit)
    )


def top_nations_yoy(enriched: DataFrame, limit: int = 10) -> DataFrame:
    return _yoy_top(enriched, "n_name", limit)


def top_regions_yoy(enriched: DataFrame, limit: int = 5) -> DataFrame:
    return _yoy_top(enriched, "r_name", limit)


def rolling_12m(monthly: DataFrame) -> DataFrame:
    """Rolling 12-month totals with the prior-12-month window and pct
    change, per period.

    Reference: bdqueimadas_overview.py:1821-1859
    (``_compute_rolling_12m_metrics``) computes recent/prior 12-row
    windows over the national monthly series. The series is tiny
    (#months) post-aggregation, so an unpartitioned ordered window is
    safe on any cluster; per-group variants would add partitionBy.
    """
    w_recent = Window.orderBy("period").rowsBetween(-11, 0)
    w_prior = Window.orderBy("period").rowsBetween(-23, -12)
    return monthly.select(
        "period",
        F.sum("n_orders").over(w_recent).alias("recent_12m_total"),
        F.sum("n_orders").over(w_prior).alias("prior_12m_total"),
        (F.count("n_orders").over(w_prior) == 12).alias("has_full_prior_window"),
        safe_pct_change(
            F.sum("n_orders").over(w_recent).cast("double"),
            F.sum("n_orders").over(w_prior).cast("double"),
        ).alias("pct_change"),
    ).orderBy("period")


def ytd_comparison(monthly: DataFrame, avg_window: int = 5) -> DataFrame:
    """Single-row YTD report for the latest period.

    Reference: bdqueimadas_overview.py:301-332 — YTD of the latest year
    through the last closed month, vs previous-year YTD over the same
    months, vs the N-year historical average of that YTD (years with a
    positive YTD only).
    """
    m = monthly.select(
        F.col("period"),
        F.col("n_orders").cast("double").alias("value"),
        F.substring("period", 1, 4).cast("int").alias("year"),
        F.substring("period", 6, 2).cast("int").alias("month"),
    )
    latest = m.agg(
        F.max("period").alias("latest_period"),
    ).select(
        "latest_period",
        F.substring("latest_period", 1, 4).cast("int").alias("latest_year"),
        F.substring("latest_period", 6, 2).cast("int").alias("latest_month"),
    )
    # latest LEFT-joins the (post-aggregation, tiny) monthly frame so an
    # EMPTY series still yields the one-row fallback shape (all-null
    # metrics) instead of zero rows — the reference hard-errors upstream
    # on an empty consolidated series (bdqueimadas_overview.py:136) and
    # renders `_build_fallback_analysis` text instead; returning the
    # well-formed null row is the relational analog of that fallback.
    with_latest = latest.join(
        F.broadcast(m), F.col("month") <= F.col("latest_month"), "left"
    )
    per_year_ytd = with_latest.groupBy(
        "latest_period", "latest_year", "latest_month", "year"
    ).agg(F.sum("value").alias("ytd"))
    return per_year_ytd.groupBy("latest_period", "latest_year", "latest_month").agg(
        F.sum(F.when(F.col("year") == F.col("latest_year"), F.col("ytd"))).alias(
            "ytd_current_year"
        ),
        F.sum(F.when(F.col("year") == F.col("latest_year") - 1, F.col("ytd"))).alias(
            "ytd_previous_year"
        ),
        ratio(
            F.avg(
                F.when(
                    (F.col("year") >= F.col("latest_year") - avg_window)
                    & (F.col("year") < F.col("latest_year"))
                    & (F.col("ytd") > 0),
                    F.col("ytd"),
                )
            )
        ).alias("ytd_5yr_avg"),
    ).select(
        "latest_period",
        "ytd_current_year",
        "ytd_previous_year",
        safe_pct_change(F.col("ytd_current_year"), F.col("ytd_previous_year")).alias(
            "ytd_pct_change"
        ),
        "ytd_5yr_avg",
        safe_pct_change(F.col("ytd_current_year"), F.col("ytd_5yr_avg")).alias(
            "ytd_vs_5yr_avg_pct"
        ),
    )


def same_month_prev_year(nation_month: DataFrame, limit: int = 10) -> DataFrame:
    """Per nation: latest-month total vs same month of previous year.

    Reference: bdqueimadas_overview.py:1432-1452
    (``_build_top_states_month_comparison``) + :1360-1366
    (``_month_same_month_prev_year_periods``).
    """
    latest = nation_month.agg(F.max("period").alias("cur_period")).select(
        "cur_period",
        F.concat(
            (F.substring("cur_period", 1, 4).cast("int") - 1).cast("string"),
            F.substring("cur_period", 5, 3),
        ).alias("prev_period"),
    )
    joined = nation_month.join(F.broadcast(latest)).where(
        (F.col("period") == F.col("cur_period"))
        | (F.col("period") == F.col("prev_period"))
    )
    agg = joined.groupBy("n_name", "cur_period", "prev_period").agg(
        F.sum(F.when(F.col("period") == F.col("cur_period"), F.col("n_orders")))
        .alias("cur"),
        F.sum(F.when(F.col("period") == F.col("prev_period"), F.col("n_orders")))
        .alias("prev"),
    )
    return (
        agg.select(
            "n_name",
            F.col("cur_period").alias("period"),
            F.coalesce("cur", F.lit(0)).alias("current_month_total"),
            F.coalesce("prev", F.lit(0)).alias("previous_month_total"),
        )
        .withColumn(
            "pct_change",
            safe_pct_change(F.col("current_month_total"), F.col("previous_month_total")),
        )
        .orderBy(F.desc("current_month_total"), "n_name")
        .limit(limit)
    )


def state_biome_monthly_series(enriched: DataFrame) -> DataFrame:
    """Combined monthly series at every (state, biome) grain in ONE scan:
    (ALL, ALL) national, (biome, ALL), (ALL, state), (biome, state).

    Reference: bdqueimadas_overview.py:1538
    (``_build_state_biome_monthly_series_records``) upserts four
    separately-built pandas frames into one (period, biome, state) map;
    here the four grains are one GROUPING SETS aggregation, so the fact
    table is read once and partial aggregation is map-side combined for
    all grains together. NULL grouping keys are coalesced to the
    reference's 'ALL' sentinel (ALL_BIOMES_VALUE) before ordering —
    Spark and DuckDB order NULLs differently, 'ALL' sorts identically.
    """
    base = enriched.select(
        period_month(F.col("o_orderdate")).alias("period"),
        F.col("r_name").alias("biome"),
        F.col("n_name").alias("state"),
    )
    return (
        base.groupingSets(
            [
                ["period"],
                ["period", "biome"],
                ["period", "state"],
                ["period", "biome", "state"],
            ],
            "period",
            "biome",
            "state",
        )
        .agg(F.count("*").alias("value"))
        .select(
            "period",
            F.substring("period", 1, 4).cast("int").alias("year"),
            F.coalesce("biome", F.lit("ALL")).alias("biome"),
            F.coalesce("state", F.lit("ALL")).alias("state"),
            "value",
        )
        .orderBy("period", "biome", "state")
    )


def top_biomes_month_comparison(monthly_by_region: DataFrame, limit: int = 5) -> DataFrame:
    """Per biome: latest-month total vs same month of the previous year,
    with absolute and pct change, ranked by volume.

    Reference: bdqueimadas_overview.py:1454-1521
    (``_build_top_biomes_month_comparison`` / ``_build_top_biomes_month_merged``
    with the outer merge's 0-fill, plus ``_sort_top_biomes_month``'s
    volume ordering: current desc, previous desc).
    """
    latest = monthly_by_region.agg(F.max("period").alias("cur_period")).select(
        "cur_period",
        F.concat(
            (F.substring("cur_period", 1, 4).cast("int") - 1).cast("string"),
            F.substring("cur_period", 5, 3),
        ).alias("prev_period"),
    )
    joined = monthly_by_region.join(F.broadcast(latest)).where(
        (F.col("period") == F.col("cur_period"))
        | (F.col("period") == F.col("prev_period"))
    )
    agg = joined.groupBy("r_name", "cur_period", "prev_period").agg(
        F.sum(F.when(F.col("period") == F.col("cur_period"), F.col("n_orders")))
        .alias("cur"),
        F.sum(F.when(F.col("period") == F.col("prev_period"), F.col("n_orders")))
        .alias("prev"),
    )
    return (
        agg.select(
            F.col("r_name").alias("biome"),
            F.col("cur_period").alias("period"),
            F.coalesce("cur", F.lit(0)).alias("current_month_total"),
            F.coalesce("prev", F.lit(0)).alias("previous_month_total"),
        )
        .withColumn(
            "absolute_change",
            F.col("current_month_total") - F.col("previous_month_total"),
        )
        .withColumn(
            "pct_change",
            safe_pct_change(F.col("current_month_total"), F.col("previous_month_total")),
        )
        .orderBy(
            F.desc("current_month_total"), F.desc("previous_month_total"), "biome"
        )
        .limit(limit)
    )


def overview_metric_frame(
    monthly: DataFrame, recent_months: int | None = None
) -> DataFrame:
    """ONE-row scalar frame of the overview builder's metric inputs
    (bdqueimadas_overview.py:259-295 derivation): latest/first year and
    period, coverage counts, current/previous annual totals, the
    rolling 12/prior-12 sums — shared by ``highlights`` (the strip
    renderer) and ``report_fallback_blocks`` (the analysis-text
    renderer), so the two surfaces can never drift apart.

    Scale: all arithmetic happens on the post-aggregation monthly frame
    (#months rows), so the unpartitioned ``row_number`` window and the
    two broadcast scalar joins are safe at any fact-table size.
    """
    w = Window.orderBy("period")
    m = monthly.select(
        "period",
        F.col("n_orders").cast("bigint").alias("value"),
        F.substring("period", 1, 4).cast("int").alias("year"),
        F.substring("period", 6, 2).cast("int").alias("month"),
    ).select("*", F.row_number().over(w).alias("rn"))
    base = m.agg(
        F.max("period").alias("latest_period"),
        F.max("year").alias("latest_year"),
        F.min("year").alias("first_year"),
        F.coalesce(F.sum("value"), F.lit(0)).alias("total_rows_processed"),
        F.countDistinct("year").alias("file_count_used"),
        F.count("*").alias("n_periods"),
    )
    base_cols = [
        "latest_period",
        "latest_year",
        "first_year",
        "total_rows_processed",
        "file_count_used",
        "n_periods",
    ]
    in_recent = F.col("rn") > F.col("n_periods") - 12
    in_prior = (F.col("rn") > F.col("n_periods") - 24) & ~in_recent
    # base (always exactly one row) LEFT-joins the tiny monthly frame so
    # an EMPTY series still produces the five-row strip with zeroed
    # totals — the relational analog of the reference's fallback
    # rendering (the reference hard-errors upstream at
    # bdqueimadas_overview.py:136; `_build_fallback_analysis` is what
    # its reports show when comparisons cannot be formed).
    scal = (
        base.join(F.broadcast(m), F.lit(True), "left")
        .groupBy(*base_cols)
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("year") == F.col("latest_year"), F.col("value"))),
                F.lit(0),
            ).alias("current_year_total"),
            F.max(F.when(F.col("year") < F.col("latest_year"), F.col("year"))).alias(
                "previous_year"
            ),
            F.coalesce(
                F.sum(F.when(in_recent, F.col("value"))), F.lit(0)
            ).alias("recent_12m_total"),
            F.sum(F.when(in_prior, F.col("value"))).alias("prior_12m_sum"),
            F.count(F.when(in_prior, F.lit(1))).alias("prior_12m_n"),
        )
    )
    # previous_year / latest_period are data-dependent, so everything
    # conditioned on them rides ONE second (equally tiny) pass: the
    # previous-year annual total plus the report renderer's extras
    # (latest-month / same-month-prev-year / YTD aggregates and the
    # editorial window bounds, bdqueimadas_overview.py:290-319) —
    # folding them here costs zero extra jobs and keeps highlights and
    # report_fallback_blocks reading one shared frame.
    latest_mm = F.substring(F.col("latest_period"), 6, 2).cast("int")
    same_prev_period = F.concat(
        F.col("previous_year").cast("string"),
        F.lit("-"),
        F.substring(F.col("latest_period"), 6, 2),
    )
    final = (
        scal.join(F.broadcast(m), F.lit(True), "left")
        .groupBy(*base_cols, *scal.columns[len(base_cols) :])
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("year") == F.col("previous_year"), F.col("value"))
                ),
                F.lit(0),
            ).alias("previous_year_total"),
            F.coalesce(
                F.sum(
                    F.when(F.col("period") == F.col("latest_period"), F.col("value"))
                ),
                F.lit(0),
            ).alias("latest_month_total"),
            F.coalesce(
                F.sum(F.when(F.col("period") == same_prev_period, F.col("value"))),
                F.lit(0),
            ).alias("same_month_prev_year_total"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("year") == F.col("latest_year"))
                        & (F.col("month") <= latest_mm),
                        F.col("value"),
                    )
                ),
                F.lit(0),
            ).alias("ytd_current_year"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("year") == F.col("previous_year"))
                        & (F.col("month") <= latest_mm),
                        F.col("value"),
                    )
                ),
                F.lit(0),
            ).alias("ytd_previous_year"),
            F.min(
                F.when(
                    F.col("rn")
                    > F.col("n_periods")
                    - (
                        REPORT_RECENT_MONTHS
                        if recent_months is None
                        else recent_months
                    ),
                    F.col("period"),
                )
            ).alias("analysis_window_start"),
            F.max("period").alias("analysis_window_end"),
        )
    )
    return final


def highlights(monthly: DataFrame) -> DataFrame:
    """Headline metric selection: the five (id, value, comparison,
    pct_change) rows of the report's highlight strip.

    Reference: bdqueimadas_overview.py:1022-1075 (``_build_highlights``)
    with its input derivation — current/previous annual totals
    :259-267 (previous year = latest year strictly before the newest
    with data, :907-910 ``_find_previous_year``; total 0 when absent),
    rolling 12-row windows :1821-1859 (``_compute_rolling_12m_metrics``:
    prior total only counts when the prior window has all 12 rows, else
    coerced to 0 at :281), coverage/latest-period bookkeeping :259-262.
    ``value`` is a string column because the reference mixes counts with
    labels ('2024-05', '1992-1998') in one strip; ``pct_change`` is the
    shared ``_safe_pct_change`` (null on zero base).

    Scale: see ``overview_metric_frame`` (the shared one-row metric
    derivation this renders from).
    """
    final = overview_metric_frame(monthly)
    prior_total = F.when(F.col("prior_12m_n") == 12, F.col("prior_12m_sum")).otherwise(
        F.lit(0)
    )
    has_prev = F.col("previous_year").isNotNull()
    nolong = F.lit(None).cast("bigint")
    nopct = F.lit(None).cast("double")

    def _row(pos, hid, value, comparison, pct):
        return F.struct(
            F.lit(pos).alias("pos"),
            F.lit(hid).alias("id"),
            value.cast("string").alias("value"),
            comparison.cast("bigint").alias("comparison_value"),
            pct.cast("double").alias("pct_change"),
        )

    rows = F.array(
        _row(
            1,
            "current_year_total",
            F.col("current_year_total"),
            F.when(has_prev, F.col("previous_year_total")),
            F.when(
                has_prev,
                safe_pct_change(
                    F.col("current_year_total").cast("double"),
                    F.col("previous_year_total").cast("double"),
                ),
            ),
        ),
        _row(
            2,
            "recent_12m_total",
            F.col("recent_12m_total"),
            prior_total,
            safe_pct_change(
                F.col("recent_12m_total").cast("double"), prior_total.cast("double")
            ),
        ),
        _row(
            3,
            "coverage_year_range",
            F.concat_ws("-", "first_year", "latest_year"),
            nolong,
            nopct,
        ),
        _row(
            4,
            "total_rows_processed",
            F.col("total_rows_processed"),
            F.col("file_count_used"),
            nopct,
        ),
        _row(5, "latest_period", F.col("latest_period"), nolong, nopct),
    )
    return (
        final.select(F.explode(rows).alias("h"))
        .select("h.pos", "h.id", "h.value", "h.comparison_value", "h.pct_change")
        .orderBy("pos")
    )


def month_year_comparison(monthly: DataFrame, avg_window: int = 5) -> DataFrame:
    """Month-of-year grid: latest-year value, previous-year value, and
    historical average per calendar month.

    Reference: bdqueimadas_overview.py:1943-2039
    (``_build_monthly_year_comparison_records``).
    """
    m = monthly.select(
        F.col("n_orders").cast("double").alias("value"),
        F.substring("period", 1, 4).cast("int").alias("year"),
        F.substring("period", 6, 2).cast("int").alias("month"),
    )
    latest = m.agg(F.max(F.col("year") * 100 + F.col("month")).alias("yy")).select(
        (F.col("yy") / 100).cast("int").alias("latest_year")
    )
    return (
        m.join(F.broadcast(latest))
        .groupBy("month")
        .agg(
            F.sum(F.when(F.col("year") == F.col("latest_year"), F.col("value"))).alias(
                "latest_year_value"
            ),
            F.sum(
                F.when(F.col("year") == F.col("latest_year") - 1, F.col("value"))
            ).alias("previous_year_value"),
            ratio(
                F.avg(
                    F.when(
                        (F.col("year") >= F.col("latest_year") - avg_window)
                        & (F.col("year") < F.col("latest_year")),
                        F.col("value"),
                    )
                )
            ).alias("historical_avg"),
        )
        .orderBy("month")
    )


# ── Partial-month ("mensal") augmentation ───────────────────────────────────


def mensal_counts_from_events(
    events: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Shape the events stream as the fresher partial-current-month feed.

    Reference: bdqueimadas_overview.py consumes ``mensal_counts`` — the
    current calendar month's per-state detection counts taken from the
    *monthly* feed, which updates ahead of the consolidated matrix. Here
    the events table plays the fresher feed: per-nation event count and
    value sum. The feed is period-less (it is "now" by definition);
    ``augment_with_mensal`` stamps the matrix's current period on it.

    Scale: events is the unbounded side — one hash aggregate collapses
    it to ≤|nation| rows before any use; customer joins shuffle-wise
    (it scales with the facts), nation broadcasts.
    """
    dims = F.broadcast(nation.select("n_nationkey", "n_name"))
    return (
        events.join(customer, events.user_id == customer.c_custkey)
        .join(dims, customer.c_nationkey == dims.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum("value")).alias("total_price"),
        )
    )


def augment_with_mensal(matrix: DataFrame, mensal: DataFrame, key: str) -> DataFrame:
    """Replace the matrix's current-period rows with the fresher mensal
    feed; pass the matrix through untouched when the feed is empty.

    Reference: bdqueimadas_overview.py:1368-1430
    (``_augment_state_month_with_mensal`` and its by-biome sibling):
    drop ALL rows of ``current_period`` from the matrix, then concat one
    row per mensal key — replacement, not coalesce, and only when the
    feed has keys (``if not by_state: return df``). The
    mensal_is_current / calendar-year guards collapse to the empty-feed
    guard here because the shaped feed is current by construction.

    Scale: both guards are single-row broadcast scalars (max(period),
    count of a ≤|key| frame); the matrix side is one broadcast-join
    filter — no extra shuffle of the matrix.
    """
    cur = matrix.agg(F.max("period").alias("cur_period"))
    feed_size = mensal.agg(F.count("*").alias("n_mensal"))
    cols = matrix.columns
    base = (
        matrix.join(F.broadcast(cur))
        .join(F.broadcast(feed_size))
        .where((F.col("period") != F.col("cur_period")) | (F.col("n_mensal") == 0))
        .select(*cols)
    )
    extra = (
        mensal.join(F.broadcast(cur))
        .join(F.broadcast(feed_size))
        .where(F.col("n_mensal") > 0)
        .select(
            F.col(key),
            F.col("cur_period").alias("period"),
            "n_orders",
            "total_price",
        )
        .select(*cols)
    )
    return base.unionByName(extra).orderBy(key, "period")


def nation_month_matrix_augmented(
    enriched: DataFrame,
    events: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """state×month matrix with the current partial month replaced by the
    fresher mensal feed (the shape every live reference report renders).

    Both inputs are persisted through the augmentation: each is
    referenced from multiple subtrees (the scalar guards plus the
    union branches), and without the persist Spark re-runs the full
    enrichment joins / events aggregation once per reference (plan
    audit: 42 parquet scans → 8). Both frames are post-aggregation
    bounded (≤ |nation|·|month| and ≤ |nation| rows), so caching them
    is metadata-sized at any fact scale; freed when the caller's
    ``runtime.query_scope`` ends, like the LSH signature tables.
    """
    return augment_with_mensal(
        persist(nation_month_matrix(enriched)),
        persist(mensal_counts_from_events(events, customer, nation)),
        "n_name",
    )


def mensal_counts_from_events_by_region(
    events: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """By-biome shape of the fresher mensal feed (events enriched to the
    region grain; see ``mensal_counts_from_events``)."""
    dims = F.broadcast(
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "r_name")
    )
    return (
        events.join(customer, events.user_id == customer.c_custkey)
        .join(dims, customer.c_nationkey == dims.n_nationkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum("value")).alias("total_price"),
        )
    )


def monthly_by_region_augmented(
    enriched: DataFrame,
    events: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """monthly-by-biome matrix with the current partial month replaced
    by the fresher mensal feed — the by-biome sibling of
    ``nation_month_matrix_augmented``
    (bdqueimadas_overview.py:1400-1430
    ``_augment_monthly_by_biome_with_mensal``)."""
    return augment_with_mensal(
        persist(monthly_by_region(enriched)),
        persist(mensal_counts_from_events_by_region(events, customer, nation, region)),
        "r_name",
    )


def effective_monthly_series(
    enriched: DataFrame,
    events: DataFrame,
    reference_month_mode: str = "current",
) -> DataFrame:
    """The overview metric frame's truncate-then-substitute national
    monthly series — the reference's ``mensal_is_current`` branch
    (bdqueimadas_overview.py:209-310 guard + metric substitution,
    :1749-1785 ``_truncate_mensal_counts``, :1800-1819
    ``_build_effective_national_monthly_series``): when the monthly
    CSV feed is FRESHER than the consolidated zips, the highlights /
    YTD / rolling-12m inputs come from the mensal per-month counts
    truncated at the chosen reference month, merged OVER the
    zip-derived series (mensal overrides a shared period, zip rows
    pass through elsewhere); when the feed is not current the zip
    series flows through untouched.

    Semantics mirrored exactly:
    - reference month = month of the freshest mensal observation
      (``current`` mode) or the month before it (``previous`` mode —
      the reference's reference_month_mode switch, :214-225);
    - truncation drops mensal months AFTER the reference month
      (``_truncate_mensal_counts``) — boundary pinned in tests;
    - currency guard = truncated feed non-empty AND the mensal
      calendar year is STRICTLY past the zips' latest year
      (``_mensal_is_current``, :209-213; reference_year ==
      calendar_year holds by construction here because the reference
      instant derives from the feed itself);
    - merge = dict-update then sort: mensal value REPLACES the zip
      value for a shared period and extends past it
      (``_build_effective_national_monthly_series``).

    ``source`` tags each row's winning feed so the substitution is
    observable (and oracle-checked) per period.

    Scale: both inputs aggregate FIRST — the zip side is the
    post-aggregation monthly series (≤ #months rows), the mensal side
    collapses events to ≤ 12 rows before any use. The reference
    instant, latest-zip-year, and currency guards are one-row
    broadcast scalars; the override is a broadcast left join against
    the ≤12-row period set — no extra shuffle of either series at any
    fact scale.
    """
    offset = 0 if reference_month_mode == "current" else 1
    zip_series = persist(monthly_series(enriched))
    # the 1-row reference instant is consumed by the mensal aggregate
    # AND (twice, via the currency flag) by the merge branches —
    # persisted so the ts-pruned events scan underneath runs once
    ref = persist(
        events.agg(
            F.year(F.max("ts")).alias("cal_year"),
            (F.month(F.max("ts")) - F.lit(offset)).alias("ref_month"),
        )
    )
    mensal = persist(
        events.join(F.broadcast(ref))
        .where(
            (F.year("ts") == F.col("cal_year"))
            & (F.month("ts") <= F.col("ref_month"))
        )
        .groupBy(period_month(F.col("ts")).alias("period"))
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum("value")).alias("total_price"),
        )
    )
    return effective_series_merge(zip_series, mensal, ref)


def effective_series_merge(
    zip_series: DataFrame, mensal: DataFrame, ref: DataFrame
) -> DataFrame:
    """The truncate-then-substitute MERGE tail shared verbatim by the
    batch operator above and the streaming recompute
    (``streaming.effective_series``): currency guard (truncated feed
    non-empty AND its calendar year strictly past the zips' latest
    year), then dict-update-then-sort — mensal REPLACES a shared
    period and extends past it, zip rows pass through elsewhere.
    ``ref`` is the one-row reference instant carrying ``cal_year``.

    Scale: all guards are one-row broadcast scalars; the override is a
    broadcast left join against the ≤12-row mensal period set.
    """
    zip_latest = zip_series.agg(
        F.max(F.substring("period", 1, 4).cast("int")).alias("zip_latest_year")
    )
    flags = F.broadcast(
        mensal.agg(F.count("*").alias("n_mensal"))
        .join(F.broadcast(ref.select("cal_year")))
        .join(F.broadcast(zip_latest))
        .select(
            (
                (F.col("n_mensal") > 0)
                & (F.col("cal_year") > F.col("zip_latest_year"))
            ).alias("is_cur")
        )
    )
    marks = F.broadcast(mensal.select("period", F.lit(True).alias("in_mensal")))
    base = (
        zip_series.join(marks, "period", "left")
        .join(flags)
        .where(~F.col("is_cur") | F.col("in_mensal").isNull())
        .select(
            "period",
            "n_orders",
            "total_price",
            F.lit("zip").alias("source"),
        )
    )
    extra = (
        mensal.join(flags)
        .where(F.col("is_cur"))
        .select(
            "period",
            "n_orders",
            "total_price",
            F.lit("mensal").alias("source"),
        )
    )
    return base.unionByName(extra).orderBy("period")


def effective_overview_metrics(
    enriched: DataFrame,
    events: DataFrame,
    reference_month_mode: str = "current",
) -> DataFrame:
    """The overview metric row CONSUMING the effective series — the
    reference's branch-resolved headline inputs
    (bdqueimadas_overview.py:261-310): current-year total and YTD
    (``_sum_mensal_until`` over the truncated feed when mensal is
    current, the zip annual/YTD sums otherwise), latest-month total
    (feed value at the reference month, 0 when absent), previous year
    (the zips' latest year when current, the second-latest otherwise)
    with its total, and the rolling-12m window evaluated AT the
    effective latest period (:269-276 feeds
    ``_compute_rolling_12m_metrics`` the effective series, not the
    zip series).

    Both branches collapse to ONE set of expressions over the merged
    series ``effective_monthly_series`` emits — e.g. current-year
    total = the latest effective year's sum, which IS the truncated
    mensal sum when the feed substituted (its year is strictly past
    every zip year) and the zip annual total otherwise; the branch
    flag rides along as ``mensal_is_current``. The YTD equality
    (annual total = months-through-latest sum on the latest year)
    holds by construction on a consolidated series, mirrored in the
    oracle.

    Scale: ONE fused pass over the post-aggregation effective series
    (≤ #months rows, persisted once): a single-partition window pair
    (row rank by period DESC for the rolling-12m windows and the
    latest month, dense year rank for current/previous-year totals)
    feeds ONE conditional aggregate — the r10 shape's three broadcast
    scalar self-joins fused away (VERDICT r10 item 7; values
    bitwise-identical, same oracle). The unpartitioned window is the
    rolling_12m precedent — safe on a #months-row frame anywhere.
    """
    eff = persist(
        effective_monthly_series(enriched, events, reference_month_mode)
    )
    rn = Window.orderBy(F.desc("period"))
    yr = F.substring("period", 1, 4).cast("int")
    ranked = eff.select(
        "period",
        "n_orders",
        "source",
        yr.alias("year"),
        F.row_number().over(rn).alias("rn"),
        F.dense_rank().over(Window.orderBy(F.desc(yr))).alias("yrank"),
    )
    agg = ranked.agg(
        F.max("period").alias("latest_period"),
        F.max("year").alias("latest_year"),
        F.max(F.col("source") == "mensal").alias("mensal_is_current"),
        F.sum(F.when(F.col("yrank") == 1, F.col("n_orders"))).alias(
            "current_year_total"
        ),
        F.sum(F.when(F.col("rn") == 1, F.col("n_orders"))).alias(
            "latest_month_total"
        ),
        F.max(F.when(F.col("yrank") == 2, F.col("year"))).alias(
            "previous_year"
        ),
        F.sum(F.when(F.col("yrank") == 2, F.col("n_orders"))).alias(
            "previous_year_total_raw"
        ),
        # rolling-12m AT the latest period: the 12 newest rows are the
        # recent window, rows 13-24 the prior window (rolling_12m's
        # rowsBetween(-11,0)/(-23,-12) evaluated at the series head)
        F.sum(F.when(F.col("rn") <= 12, F.col("n_orders"))).alias(
            "recent_12m_total"
        ),
        F.sum(
            F.when(F.col("rn").between(13, 24), F.col("n_orders"))
        ).alias("prior_12m_raw"),
        F.count(F.when(F.col("rn").between(13, 24), F.lit(1))).alias(
            "n_prior_rows"
        ),
    )
    has_full = F.col("n_prior_rows") == 12
    return (
        # the where keeps the empty-series contract (0 rows, like the
        # r10 join shape and the oracle's latest-join)
        agg.where(F.col("latest_period").isNotNull()).select(
            "latest_period",
            "latest_year",
            "mensal_is_current",
            "current_year_total",
            # on a consolidated series the latest year's total IS its
            # YTD through the latest period (no later months exist);
            # both reference branches emit that value (:261-268, :301-310)
            F.col("current_year_total").alias("ytd_current_year"),
            F.coalesce(
                F.col("latest_month_total"), F.lit(0).cast("long")
            ).alias("latest_month_total"),
            "previous_year",
            # reference :266-268: previous_year_total falls back to 0
            # (not None) when no year precedes the latest
            F.coalesce(
                F.col("previous_year_total_raw"), F.lit(0).cast("long")
            ).alias("previous_year_total"),
            "recent_12m_total",
            # the reference only emits a prior total when the prior
            # window is a FULL 12 rows (:1849-1852 prior_total=None
            # unless len==12; the consumer coalesces None→0 at :281)
            # — a 13-23-month series gets 0/NULL, never a partial sum
            F.when(has_full, F.col("prior_12m_raw"))
            .otherwise(F.lit(0).cast("long"))
            .alias("prior_12m_total"),
            F.when(
                has_full,
                safe_pct_change(
                    F.col("recent_12m_total").cast("double"),
                    F.col("prior_12m_raw").cast("double"),
                ),
            ).alias("rolling_pct_change"),
        )
    )


# ── Annual reference CSV extraction mapping ─────────────────────────────────

ANNUAL_REF_YEARLESS_ZIP = "focos_br_ref_total.zip"
ANNUAL_REF_RECENT_YEARS = 5


def annual_reference_extract(
    annual: DataFrame, recent_years: int | None = ANNUAL_REF_RECENT_YEARS
) -> DataFrame:
    """Zip→extracted-CSV mapping for the annual reference files, joined
    to the annual series totals.

    Reference: bdqueimadas_monthly_chart.py:242-268
    (``extract_annual_reference_csvs``): select the reference ZIPs via
    ``_select_zip_files`` (bdqueimadas_overview.py:838-860 — year
    parsed from the filename with RE_YEAR, year-bearing files sorted
    year-DESC and capped at ``recent_years``, yearless files always
    appended, final list re-sorted by name) and map each
    ``focos_br_ref_*.zip`` to its ``<stem>.csv`` extraction target.
    The filesystem copy itself is I/O (covered by the zipped-CSV
    source, sources/archives.py); the compute re-expressed here is the
    selection + naming, joined to each year's annual totals. The
    zip names derive from the annual series' years plus one fixed
    yearless file (exercising the ``without_years`` append path —
    NULL year, NULL totals), and the year is re-parsed from the name
    with the RE_YEAR pattern exactly as the reference does.

    Scale: runs entirely on the post-aggregation annual frame (one row
    per year) — the rank window orders ≤ #years rows.
    """
    # lazy localCheckpoint: the named projection, the yearless count
    # and the two year-split branches all read the annual frame, and
    # each re-ran the enriched fact scan + aggregate underneath
    # (3 fact scans for a #years-row result; round-8 scan audit —
    # persist() alone does not reliably substitute into every branch).
    annual = checkpoint(annual)
    named = annual.select(
        F.concat(
            F.lit("focos_br_ref_"), F.col("year").cast("string"), F.lit(".zip")
        ).alias("zip_name"),
        F.col("n_orders"),
        F.col("total_price"),
    )
    yearless = annual.groupBy().agg(F.count("*").alias("_n")).select(
        F.lit(ANNUAL_REF_YEARLESS_ZIP).alias("zip_name"),
        F.lit(None).cast("long").alias("n_orders"),
        F.lit(None).cast("double").alias("total_price"),
    )
    cand = named.unionByName(yearless).select(
        "zip_name",
        F.nullif(
            F.regexp_extract("zip_name", r"((?:19|20)\d{2})", 1), F.lit("")
        )
        .cast("int")
        .alias("year"),
        "n_orders",
        "total_price",
    )
    with_years = cand.where(F.col("year").isNotNull())
    if recent_years is not None:
        w = Window.orderBy(F.desc("year"))
        with_years = (
            with_years.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= recent_years)
            .drop("rnk")
        )
    selected = with_years.unionByName(cand.where(F.col("year").isNull()))
    return selected.select(
        "zip_name",
        F.regexp_replace("zip_name", r"\.zip$", ".csv").alias("csv_name"),
        "year",
        "n_orders",
        "total_price",
    ).orderBy("zip_name")


def monthly_seasonal_index(monthly: DataFrame) -> DataFrame:
    """Classical seasonal index by ratio-to-centered-moving-average:
    each month's order count over its centered 13-month MA, averaged
    per calendar month — the decomposition step that answers 'is
    August always low, or is THIS August low' before any YoY claim.

    Every step is EXACT integer arithmetic (no float anywhere, so the
    oracle hash cannot drift): the ratio n/(s/13) is computed as
    micro_div(n·13, s) with half-up micro rounding, ratios sum as
    longs (partition-order-invariant where a double mean is not), and
    the per-month mean is the same half-up integral division.
    Edge periods without a full 13-month window are excluded.

    Scale: windows run over the POST-AGGREGATION monthly series
    (#months rows — the rolling_12m unpartitioned-window precedent:
    metadata-weight on any cluster; per-group variants would add
    partitionBy).
    """
    # month spine: a calendar month with zero orders emits no series
    # row, and a ROWS frame would then span 14+ calendar months —
    # attributing ratios to the wrong season. Fill interior gaps with
    # n=0 so the 13-row window IS 13 calendar months.

    # the monthly series feeds the bounds aggregate AND the fill join;
    # unpersisted, the whole enrichment pipeline behind it ran twice
    # (audit: 2 fact scans, 8 parquet scans total)
    monthly = persist(monthly)
    bounds = monthly.agg(
        F.min(F.to_date(F.concat(F.col("period"), F.lit("-01")))).alias("d0"),
        F.max(F.to_date(F.concat(F.col("period"), F.lit("-01")))).alias("d1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 month"))
        ).alias("m")
    ).select(F.date_format("m", "yyyy-MM").alias("period"))
    filled = spine.join(monthly, "period", "left").select(
        "period", F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders")
    )
    w = Window.orderBy("period").rowsBetween(-6, 6)
    ratios = (
        filled.select(
            "period",
            F.col("n_orders").cast("long").alias("n"),
            F.sum(F.col("n_orders").cast("long")).over(w).alias("s"),
            F.count("n_orders").over(w).alias("c"),
        )
        # s > 0 guard: 13+ consecutive zero-filled months would make a
        # full window with s = 0 and micro_div would divide by zero
        # (ANSI crash, found by review) — an all-zero window carries no
        # seasonal signal, so those rows contribute no ratio
        .where((F.col("c") == 13) & (F.col("s") > 0))
        .select(
            F.substring("period", 6, 2).cast("int").alias("month"),
            micro_div("n * 13", "s").alias("ratio_micro"),
        )
    )
    return (
        ratios.groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("ratio_micro").alias("sum_rm"),
        )
        .select(
            "month",
            F.col("n_obs").cast("long").alias("n_obs"),
            micro_div("sum_rm", "n_obs * 1000000")
            .cast("long")
            .alias("seasonal_index_micro"),
        )
        .orderBy("month")
    )


# ── report fallback analysis blocks ─────────────────────────────────────────
# Verbatim template text from the reference's deterministic fallback
# builder (reports/builders/bdqueimadas_overview.py:1078-1200
# ``_build_fallback_analysis`` + :1340-1357/:1689-1713 format helpers)
# — data constants required for text parity, not copied logic: the
# assembly below is Spark column concatenation over the shared
# overview metric frame.

PT_MONTH_ABBR = (
    "Jan", "Fev", "Mar", "Abr", "Mai", "Jun",
    "Jul", "Ago", "Set", "Out", "Nov", "Dez",
)
EN_MONTH_ABBR = (
    "Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
)
REPORT_RECENT_MONTHS = 24  # reports/definitions/base.py:119 default


def _fmt_int_en(col: Column) -> Column:
    """f'{v:,}' — comma thousands grouping."""
    return F.format_number(col.cast("bigint"), 0)


def _fmt_int_pt(col: Column) -> Column:
    """f'{v:,}'.replace(',', '.') — dot thousands grouping."""
    return F.translate(_fmt_int_en(col), ",", ".")


def _fmt_pct_en(col: Column) -> Column:
    """f'{v:,.2f}%' with the None branch; the value is pre-rounded at
    2 dp through ``scaled_round`` (the anp fallback-text convention:
    pre-rounding keeps every formatter off tie inputs)."""
    from forest_open_data_pipelines_spark.functions.columns import scaled_round

    return F.when(col.isNull(), F.lit("no comparable base")).otherwise(
        F.concat(
            F.format_number(scaled_round(col, 2) + F.lit(0.0), 2), F.lit("%")
        )
    )


def _fmt_pct_pt(col: Column) -> Column:
    """The pt variant: swap ',' and '.' (simultaneous translate), None
    → 'sem base comparável'."""
    from forest_open_data_pipelines_spark.functions.columns import scaled_round

    return F.when(col.isNull(), F.lit("sem base comparável")).otherwise(
        F.concat(
            F.translate(
                F.format_number(scaled_round(col, 2) + F.lit(0.0), 2), ",.", ".,"
            ),
            F.lit("%"),
        )
    )


def _month_label(period: Column, abbrs: tuple[str, ...]) -> Column:
    """'YYYY-MM' → 'Abr/YYYY' (reference ``_month_label_pt/en``)."""
    return F.concat(
        F.element_at(
            F.array(*[F.lit(a) for a in abbrs]),
            F.substring(period, 6, 2).cast("int"),
        ),
        F.lit("/"),
        F.substring(period, 1, 4),
    )


def report_fallback_blocks(
    monthly: DataFrame, recent_months: int = REPORT_RECENT_MONTHS
) -> DataFrame:
    """The report's deterministic bilingual analysis blocks — the
    (block, locale, text) rows ``_build_fallback_analysis`` produces
    and ``_normalize_fallback_blocks`` guarantees for BOTH locales
    (reports/llm/base.py:90-108): what the published report shows
    whenever the LLM half is disabled or fails. 4 blocks × pt/en =
    8 rows.

    Reference: bdqueimadas_overview.py:1078-1200. Semantics mirrored:
    - the ``previous_year is None`` branch swaps headline/comparison
      for the no-prior-year texts;
    - mom/ytd/yoy/rolling pcts are ``_safe_pct_change`` (NULL on zero
      base → 'sem base comparável' / 'no comparable base');
    - int formatting is thousands-grouped (',' en / '.' pt), pcts
      2-dp with the pt comma-decimal swap (:1340-1357);
    - month labels are abbr/year (:1689-1713);
    - the analysis window is the LAST ``recent_months`` periods of the
      monthly series (:290-292, cfg default 24);
    - inputs derive from the SAME ``overview_metric_frame`` the
      highlights strip renders, plus the latest-month / same-month /
      YTD conditional aggregates (:300-319).

    Deviation (documented): pcts are pre-rounded at 2 dp before
    formatting (both engines agree bit-for-bit; the reference formats
    the raw double — display-identical away from x.yz5 ties).

    Scale: ``overview_metric_frame``'s argument — everything runs on
    the #months-row frame; two broadcast scalar joins, no shuffle
    grows with the fact table. The input monthly frame is PERSISTED
    first: the metric chain reads it from four aggregate subtrees,
    and without the persist each one re-runs the enriched fact scan
    + groupBy underneath (measured 2.6 s → 0.9 s at sf0.1).
    """
    scal = overview_metric_frame(persist(monthly), recent_months=recent_months)
    latest_mm = F.substring(F.col("latest_period"), 6, 2)
    same_prev_period = F.concat(
        F.col("previous_year").cast("string"), F.lit("-"), latest_mm
    )
    prior_12m_total = F.when(
        F.col("prior_12m_n") == 12, F.col("prior_12m_sum")
    ).otherwise(F.lit(0))
    pct = lambda new, old: safe_pct_change(new.cast("double"), old.cast("double"))
    yoy = pct(F.col("current_year_total"), F.col("previous_year_total"))
    r12 = pct(F.col("recent_12m_total"), prior_12m_total)
    mom = pct(F.col("latest_month_total"), F.col("same_month_prev_year_total"))
    ytd = pct(F.col("ytd_current_year"), F.col("ytd_previous_year"))
    year_range = F.concat_ws("-", "first_year", "latest_year")
    has_prev = F.col("previous_year").isNotNull()
    lm_pt = _month_label(F.col("latest_period"), PT_MONTH_ABBR)
    lm_en = _month_label(F.col("latest_period"), EN_MONTH_ABBR)
    pm_pt = _month_label(same_prev_period, PT_MONTH_ABBR)
    pm_en = _month_label(same_prev_period, EN_MONTH_ABBR)

    headline_pt = F.when(
        ~has_prev,
        F.concat(
            F.lit("A base processada cobre "), year_range,
            F.lit(" e o período mais recente vai até "), F.col("latest_period"),
            F.lit(", com "), _fmt_int_pt(F.col("current_year_total")),
            F.lit(" focos em "), F.col("latest_year").cast("string"), F.lit("."),
        ),
    ).otherwise(
        F.concat(
            lm_pt, F.lit(": "), _fmt_int_pt(F.col("latest_month_total")),
            F.lit(" focos ("), _fmt_pct_pt(mom), F.lit(" vs "), pm_pt, F.lit(")."),
        )
    )
    headline_en = F.when(
        ~has_prev,
        F.concat(
            F.lit("The processed dataset covers "), year_range,
            F.lit(" and the most recent period reaches "), F.col("latest_period"),
            F.lit(", with "), _fmt_int_en(F.col("current_year_total")),
            F.lit(" hotspots in "), F.col("latest_year").cast("string"), F.lit("."),
        ),
    ).otherwise(
        F.concat(
            lm_en, F.lit(": "), _fmt_int_en(F.col("latest_month_total")),
            F.lit(" hotspots ("), _fmt_pct_en(mom), F.lit(" vs "), pm_en, F.lit(")."),
        )
    )
    comparison_pt = F.when(
        ~has_prev,
        F.lit(
            "Ainda não há ano anterior processado no escopo atual para "
            "comparação anual direta."
        ),
    ).otherwise(
        F.concat(
            F.lit("Comparação mensal ("), lm_pt, F.lit("): "),
            _fmt_int_pt(F.col("latest_month_total")), F.lit(" focos vs "),
            _fmt_int_pt(F.col("same_month_prev_year_total")),
            F.lit(" no mesmo mês de "), F.col("previous_year").cast("string"),
            F.lit(" ("), _fmt_pct_pt(mom), F.lit("). Acumulado jan–"), lm_pt,
            F.lit(": "), _fmt_int_pt(F.col("ytd_current_year")), F.lit(" vs "),
            _fmt_int_pt(F.col("ytd_previous_year")), F.lit(" em "),
            F.col("previous_year").cast("string"),
            F.lit(" ("), _fmt_pct_pt(ytd), F.lit("). No total anual: "),
            _fmt_int_pt(F.col("current_year_total")), F.lit(" em "),
            F.col("latest_year").cast("string"), F.lit(" vs "),
            _fmt_int_pt(F.col("previous_year_total")), F.lit(" em "),
            F.col("previous_year").cast("string"),
            F.lit(" ("), _fmt_pct_pt(yoy), F.lit(")."),
        )
    )
    comparison_en = F.when(
        ~has_prev,
        F.lit(
            "There is not yet a previous processed year within the current "
            "scope for a direct annual comparison."
        ),
    ).otherwise(
        F.concat(
            F.lit("Monthly comparison ("), lm_en, F.lit("): "),
            _fmt_int_en(F.col("latest_month_total")), F.lit(" hotspots vs "),
            _fmt_int_en(F.col("same_month_prev_year_total")),
            F.lit(" in the same month of "), F.col("previous_year").cast("string"),
            F.lit(" ("), _fmt_pct_en(mom), F.lit("). YTD Jan–"), lm_en,
            F.lit(": "), _fmt_int_en(F.col("ytd_current_year")), F.lit(" vs "),
            _fmt_int_en(F.col("ytd_previous_year")), F.lit(" in "),
            F.col("previous_year").cast("string"),
            F.lit(" ("), _fmt_pct_en(ytd), F.lit("). Annual total: "),
            _fmt_int_en(F.col("current_year_total")), F.lit(" in "),
            F.col("latest_year").cast("string"), F.lit(" vs "),
            _fmt_int_en(F.col("previous_year_total")), F.lit(" in "),
            F.col("previous_year").cast("string"),
            F.lit(" ("), _fmt_pct_en(yoy), F.lit(")."),
        )
    )
    overview_pt = F.concat(
        F.lit("Foram processadas "), _fmt_int_pt(F.col("total_rows_processed")),
        F.lit(" linhas distribuídas em "), F.col("file_count_used").cast("string"),
        F.lit(" arquivos anuais. Na janela editorial recente de "),
        F.col("analysis_window_start"), F.lit(" a "), F.col("analysis_window_end"),
        F.lit(", os 12 meses mais recentes somam "),
        _fmt_int_pt(F.col("recent_12m_total")), F.lit(" focos, contra "),
        _fmt_int_pt(prior_12m_total),
        F.lit(" nos 12 meses imediatamente anteriores, o que corresponde a "),
        _fmt_pct_pt(r12), F.lit("."),
    )
    overview_en = F.concat(
        _fmt_int_en(F.col("total_rows_processed")),
        F.lit(" rows were processed across "), F.col("file_count_used").cast("string"),
        F.lit(" annual files. In the recent editorial window from "),
        F.col("analysis_window_start"), F.lit(" to "), F.col("analysis_window_end"),
        F.lit(", the latest 12 months total "),
        _fmt_int_en(F.col("recent_12m_total")), F.lit(" hotspots, versus "),
        _fmt_int_en(prior_12m_total),
        F.lit(" in the immediately previous 12 months, which corresponds to "),
        _fmt_pct_en(r12), F.lit("."),
    )
    limitations_pt = F.lit(
        "O texto é descritivo e não estabelece causalidade. "
        "A leitura editorial permanece concentrada na janela recente, "
        "embora as visualizações publiquem o histórico disponível. "
        "O ano corrente pode estar incompleto."
    )
    limitations_en = F.lit(
        "This text is descriptive and does not establish causality. "
        "The editorial reading remains focused on the recent window, "
        "although the visualizations publish the available history. "
        "The current year may be incomplete."
    )
    blocks = F.array(
        *[
            F.struct(
                F.lit(key).alias("block"),
                F.lit(locale).alias("locale"),
                text.alias("text"),
            )
            for key, locale, text in (
                ("headline", "pt", headline_pt),
                ("headline", "en", headline_en),
                ("overview", "pt", overview_pt),
                ("overview", "en", overview_en),
                ("comparison", "pt", comparison_pt),
                ("comparison", "en", comparison_en),
                ("limitations", "pt", limitations_pt),
                ("limitations", "en", limitations_en),
            )
        ]
    )
    return (
        scal.select(F.explode(blocks).alias("b"))
        .select("b.block", "b.locale", "b.text")
        .orderBy("block", "locale")
    )


# ── Report LLM prompt pair (reports/llm/base.py:111-199 twin) ───────────────
# Verbatim prompt text from the reference's ``_build_prompts`` — data
# constants required for byte parity (the focos/anp prompt precedent),
# not copied logic: assembly below is Spark column concatenation over
# the overview metric frame. The ast-parity test re-renders the
# reference function with an empty context and asserts head/tail/system
# equality.

REPORT_PROMPT_ID = "bdqueimadas_overview"
REPORT_MAX_CHARS_PER_BLOCK = 700  # reports/definitions/base.py:113
REPORT_REQUIRED_KEYS = ("headline", "overview", "comparison", "limitations")
_KEYS_REPR = "['headline', 'overview', 'comparison', 'limitations']"

REPORT_SYSTEM_PT = (
    "Você é um analista descritivo de dados públicos de incêndios e focos de calor. "
    "Sua função é redigir observações factuais, calibradas e não especulativas, fiéis exclusivamente "
    "aos números fornecidos no contexto. Não invente causalidade, não atribua causas climáticas ou "
    "humanas sem que estejam explicitadas, e não extrapole tendências além do período descrito. "
    "Escreva como analista de dados - objetivo, direto, sem sensacionalismo. "
    "Responda exclusivamente com um objeto JSON puro, sem markdown, sem comentários, "
    f"contendo exatamente estas chaves: {_KEYS_REPR}."
)
REPORT_USER_HEAD_PT = (
    f"report_id: {REPORT_PROMPT_ID}\n"
    f"max_chars_por_bloco: {REPORT_MAX_CHARS_PER_BLOCK}\n"
    "contexto_estruturado:\n"
)
REPORT_USER_TAIL_PT = (
    "\n\nInstruções de saída:\n"
    "- headline: frase curta (máximo 140 caracteres), adequada para título da notícia. "
    "Use somente mês/ano do período mais recente, valor absoluto de focos e UMA comparação principal "
    "(vs ano anterior OU vs média de 5 anos). Não incluir acumulado do ano no headline.\n"
    "- overview: leitura geral da janela de análise recente. "
    "Use somente os números e percentuais já calculados em monthly_analysis.rolling_12_months. "
    "Não calcule percentuais nem deduza valores. Se pct_change ou prior_total forem null, "
    "omita essa comparação em vez de escrever que ela não é calculável. "
    "Comente a posição do ano corrente em relação à série histórica disponível, sem especular sobre causas.\n"
    "- comparison: texto corrido (sem listas nem marcadores) que aborde, em prosa fluida, "
    "as seguintes comparações na ordem dada: "
    "o mês mais recente frente ao mesmo mês do ano anterior (valores absolutos e variação %); "
    "o mesmo mês frente à média histórica dos últimos 5 anos (valores e %); "
    "o acumulado jan–mês_atual do ano corrente versus mesmo período do ano anterior (valores e %); "
    "e esse acumulado frente à média acumulada dos últimos 5 anos (valores e %). "
    "Use apenas estatísticas já presentes em monthly_analysis, sem recalcular; "
    "se algum percentual vier null, omita essa comparação. "
    "Use frases completas com verbos, conectivos e valores numéricos precisos; "
    "evite enumerações, traços ou qualquer formatação de lista.\n"
    "- limitations: ressalva metodológica curta - ano corrente pode estar incompleto, "
    "a leitura é descritiva e não estabelece causalidade.\n"
    "Responda apenas com JSON."
)
REPORT_SYSTEM_EN = (
    "You are a descriptive analyst of public wildfire and hotspot data. "
    "Your job is to write factual, calibrated, non-speculative observations strictly faithful to the numbers "
    "provided in the context. Do not invent causality, do not attribute climatic or human causes unless "
    "explicitly stated, and do not extrapolate trends beyond the described period. "
    "Write as a data analyst - objective, direct, no sensationalism. "
    "Respond exclusively with a pure JSON object, with no markdown and no comments, "
    f"containing exactly these keys: {_KEYS_REPR}."
)
REPORT_USER_HEAD_EN = (
    f"report_id: {REPORT_PROMPT_ID}\n"
    f"max_chars_per_block: {REPORT_MAX_CHARS_PER_BLOCK}\n"
    "structured_context:\n"
)
REPORT_USER_TAIL_EN = (
    "\n\nOutput instructions:\n"
    "- headline: short sentence (max 140 characters), suitable for a news title. "
    "Use only the latest month/year, hotspot absolute value and ONE main comparison "
    "(vs previous year OR vs 5-year average). Do not include YTD in the headline.\n"
    "- overview: general reading of the recent analysis window. "
    "Use only the numbers and percentages already calculated in monthly_analysis.rolling_12_months. "
    "Do not calculate percentages or infer values. If pct_change or prior_total are null, "
    "omit that comparison instead of saying it is not calculable. "
    "Comment on where the current year stands relative to the available historical series, without speculating about causes.\n"
    "- comparison: flowing prose (no bullet points, no numbered lists) covering "
    "in order: the latest month vs the same month of the previous year (absolute values and % change); "
    "that month vs the 5-year historical average for the same month (values and %); "
    "the YTD Jan–current_month total of the current year vs the same period of the previous year (values and %); "
    "and that YTD total vs the cumulative 5-year average for the same period (values and %). "
    "Use only statistics already present in monthly_analysis, without recalculating; "
    "if any percentage is null, omit that comparison. "
    "Write in complete sentences with connectives and precise numbers; "
    "avoid enumerations, dashes, or any list formatting.\n"
    "- limitations: short methodological caveat - current year may be incomplete, "
    "the reading is descriptive and does not establish causality.\n"
    "Respond with JSON only."
)


def _json_int(col: Column) -> Column:
    """Integer JSON scalar: plain digits, NULL → 'null'."""
    return F.coalesce(col.cast("bigint").cast("string"), F.lit("null"))


def _json_pct2(col: Column) -> Column:
    """2-dp JSON number rendered from integer CENTS of the 2-dp
    pre-round (sign split out) — the report_fallback_blocks formatter
    minus grouping, so both engines agree at every boundary. NULL →
    'null'. Rendering deviation (documented): always two decimals
    where json.dumps prints the shortest repr."""
    from forest_open_data_pipelines_spark.functions.columns import scaled_round

    r = scaled_round(col, 2) + F.lit(0.0)
    cents = F.round(F.abs(r) * 100, 0).cast("long")
    body = F.concat(
        F.when(r < 0, F.lit("-")).otherwise(F.lit("")),
        (cents / 100).cast("long").cast("string"),
        F.lit("."),
        F.lpad((cents % 100).cast("string"), 2, "0"),
    )
    return F.when(col.isNull(), F.lit("null")).otherwise(body)


def report_prompt_context_json(scal: DataFrame) -> Column:
    """The indent-2 ``context_json`` block — the scalar subset of the
    reference's ``analysis_context`` (bdqueimadas_overview.py:387-456)
    the overview metric frame certifies, serialized with json.dumps
    field order/indentation by literal concatenation so the DuckDB
    twin renders byte-identically. List-valued context fields
    (top_states/top_biomes/cache_stats) are the payload-frame family
    covered by anp_panel_payloads/focos_llm_payload and are OMITTED
    here (documented subset)."""
    from forest_open_data_pipelines_spark.functions.columns import (
        safe_pct_change,
        scaled_round,
    )

    prior_zeroed = F.when(
        F.col("prior_12m_n") == 12, F.col("prior_12m_sum")
    ).otherwise(F.lit(0))
    pct = lambda new, old: scaled_round(
        safe_pct_change(new.cast("double"), old.cast("double")), 2
    )
    r12 = pct(F.col("recent_12m_total"), prior_zeroed)
    mom = pct(F.col("latest_month_total"), F.col("same_month_prev_year_total"))
    ytd = pct(F.col("ytd_current_year"), F.col("ytd_previous_year"))
    q = lambda col: F.concat(F.lit('"'), col, F.lit('"'))  # no escapables
    qs = lambda col: F.coalesce(q(col), F.lit("null"))
    return F.concat(
        F.lit('{\n  "coverage_first_year": '),
        _json_int(F.col("first_year")),
        F.lit(',\n  "coverage_latest_year": '),
        _json_int(F.col("latest_year")),
        F.lit(',\n  "coverage_year_range": '),
        # F.concat NULL-propagates (concat_ws would render "" on the
        # empty-series fallback row while every sibling field renders
        # null) — matching the oracle's ||-built expression
        qs(
            F.concat(
                F.col("first_year").cast("string"),
                F.lit("-"),
                F.col("latest_year").cast("string"),
            )
        ),
        F.lit(',\n  "coverage_latest_period": '),
        qs(F.col("latest_period")),
        F.lit(',\n  "analysis_window_months": '),
        F.lit(str(REPORT_RECENT_MONTHS)),
        F.lit(',\n  "analysis_window_start_period": '),
        qs(F.col("analysis_window_start")),
        F.lit(',\n  "analysis_window_end_period": '),
        qs(F.col("analysis_window_end")),
        F.lit(',\n  "latest_year": '),
        _json_int(F.col("latest_year")),
        F.lit(',\n  "previous_year": '),
        _json_int(F.col("previous_year")),
        F.lit(',\n  "latest_period": '),
        qs(F.col("latest_period")),
        F.lit(',\n  "current_year_total": '),
        _json_int(F.col("current_year_total")),
        F.lit(',\n  "previous_year_total": '),
        _json_int(F.col("previous_year_total")),
        F.lit(',\n  "recent_12m_total": '),
        _json_int(F.col("recent_12m_total")),
        F.lit(',\n  "prior_12m_total": '),
        _json_int(F.col("prior_12m_sum")),
        F.lit(',\n  "rolling_12m_pct_change": '),
        _json_pct2(r12),
        F.lit(',\n  "total_rows_processed": '),
        _json_int(F.col("total_rows_processed")),
        F.lit(',\n  "file_count_used": '),
        _json_int(F.col("file_count_used")),
        F.lit(',\n  "monthly_analysis": {\n    "latest_period": '),
        qs(F.col("latest_period")),
        F.lit(',\n    "latest_month_total": '),
        _json_int(F.col("latest_month_total")),
        F.lit(',\n    "same_month_prev_year_total": '),
        _json_int(F.col("same_month_prev_year_total")),
        F.lit(',\n    "latest_month_pct_change_vs_prev_year": '),
        _json_pct2(mom),
        F.lit(',\n    "ytd_current_year": '),
        _json_int(F.col("ytd_current_year")),
        F.lit(',\n    "ytd_previous_year": '),
        _json_int(F.col("ytd_previous_year")),
        F.lit(',\n    "ytd_pct_change": '),
        _json_pct2(ytd),
        F.lit(',\n    "rolling_12_months": {\n      "window_end_period": '),
        qs(F.col("latest_period")),
        F.lit(',\n      "recent_total": '),
        _json_int(F.col("recent_12m_total")),
        F.lit(',\n      "prior_total": '),
        _json_int(prior_zeroed),
        F.lit(',\n      "pct_change": '),
        _json_pct2(r12),
        F.lit(',\n      "has_full_prior_window": '),
        F.when(F.col("prior_12m_n") == 12, F.lit("true")).otherwise(
            F.lit("false")
        ),
        F.lit("\n    }\n  }\n}"),
    )


def report_prompts(monthly: DataFrame) -> DataFrame:
    """The bilingual report (system_prompt, user_prompt) pair —
    reports/llm/base.py:111-199 ``_build_prompts``: per locale the
    fixed system text (required-keys repr interpolated) and the user
    prompt 'report_id / max_chars / context header' + the indent-2
    ``context_json`` + the per-locale output instructions. The last
    deterministic prompt surface the reference assembles before its
    LLM call (the social twins are focos/anp_prompt_texts; the
    fallback the prompts replace is ``report_fallback_blocks``).

    Output: (locale, system_prompt, user_prompt, context_json) — 2
    rows. Scale: everything renders off the ONE-row overview metric
    frame; the monthly input is persisted for the same four-subtree
    reason as report_fallback_blocks.
    """
    scal = overview_metric_frame(persist(monthly))
    ctx = report_prompt_context_json(scal)
    rows = F.array(
        F.struct(
            F.lit("pt").alias("locale"),
            F.lit(REPORT_SYSTEM_PT).alias("system_prompt"),
            F.concat(
                F.lit(REPORT_USER_HEAD_PT), ctx, F.lit(REPORT_USER_TAIL_PT)
            ).alias("user_prompt"),
        ),
        F.struct(
            F.lit("en").alias("locale"),
            F.lit(REPORT_SYSTEM_EN).alias("system_prompt"),
            F.concat(
                F.lit(REPORT_USER_HEAD_EN), ctx, F.lit(REPORT_USER_TAIL_EN)
            ).alias("user_prompt"),
        ),
    )
    return (
        scal.select(ctx.alias("context_json"), F.explode(rows).alias("r"))
        .select("r.locale", "r.system_prompt", "r.user_prompt", "context_json")
        .orderBy("locale")
    )
