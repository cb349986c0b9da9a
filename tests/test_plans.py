"""Plan-shape tests (SURVEY.md §4): these pin the *scale* properties —
pushdown reaching the scan, broadcast joins for small dims, bounded
shuffle counts — not just row values. A regression here means a query
that still passes correctness but would fall over at 100 TB."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pandrs_spark import plans
from pandrs_spark.catalog import load_table
from pandrs_spark.operators.util import small_local_df


def test_filter_pushed_to_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    pushed = plans.pushed_filters(q)
    assert any("l_quantity" in p for p in pushed), pushed


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    cols = plans.read_schema_columns(q)
    assert set(cols) == {"l_orderkey", "l_quantity"}


def test_small_dim_join_broadcasts(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    q = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    assert plans.has_broadcast_join(q)
    # broadcast join must not shuffle either side
    assert plans.num_shuffles(q) <= 1  # at most the broadcast exchange


def test_partial_aggregation_single_shuffle(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    # map-side partial agg means exactly one Exchange for the final agg
    assert plans.num_shuffles(q) == 1


def test_wholestage_codegen_present(spark, sf_dir):
    # AQE wraps the plan and defers codegen; disable it at plan time so
    # the codegen subtrees are statically visible.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        li = load_table(spark, sf_dir, "lineitem")
        q = li.filter("l_discount > 0.05").groupBy("l_returnflag").count()
        assert plans.wholestage_codegen_spans(q) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_flagship_query_plan_shape(spark):
    """q01 at sf0.001: filter pushed down, one shuffle for the agg."""
    import __spark_entry__ as entry

    df = entry.queries()["q01_pricing_summary"](spark, "/root/testdata/sf0.001")
    text = plans.plan_text(df)
    assert "PushedFilters" in text
    # group-by (1 shuffle) + global sort (1 shuffle) is the expected shape
    assert plans.num_shuffles(df) <= 2


import pytest


# Operators that set a session conf for as long as they run: the
# streaming runs (scoped_state_partitions sets and restores
# spark.sql.shuffle.partitions session-wide) and the frontier walks (the
# walk plans its rounds with AQE off and a right-sized shuffle width).
# A query whose source calls one of them is found by this scan.
CONF_SCOPERS = {
    "streaming state width": r"\b(scoped_state_partitions|run_available_now)\(",
    "frontier walk": (
        r"\b(bfs_hops|closeness_centrality|strongly_connected_components"
        r"|_frontier_walk)\("
    ),
}

# Queries that write catalog tables or shared warehouse/tmp paths.
SHARED_PATH_WRITERS = frozenset({
    "q168_upsert_latest_orders",
    "q174_io_roundtrip_agg",
    "q198_scd2_priority_history",
    "q200_zorder_buckets",
    "q243_bucketed_join_revenue",
    "q354_orc_roundtrip_agg",
    "q383_small_file_compaction",
    "q394_snapshot_time_travel",
    "q728_shard_export_manifest",
    "q170_event_transitions",
})


def conf_scoping_queries() -> dict[str, set[str]]:
    """Registry queries per ``CONF_SCOPERS`` entry whose source calls it."""
    import inspect
    import re

    import __spark_entry__ as entry

    sources = {n: inspect.getsource(fn) for n, fn in entry.queries().items()}
    return {
        what: {n for n, src in sources.items() if re.search(pattern, src)}
        for what, pattern in CONF_SCOPERS.items()
    }


def sequential_queries() -> frozenset[str]:
    """Queries that MUTATE shared session state, so the registry plan
    sweep builds them one at a time after the thread pool."""
    return SHARED_PATH_WRITERS.union(*conf_scoping_queries().values())


@pytest.fixture(scope="module")
def registry_plan_texts(spark):
    """Build every registered query ONCE and cache its simple-mode
    physical plan text — shared by all registry-wide hygiene sweeps
    (cartesian products, partitionless windows, row-at-a-time UDFs) so
    the suite pays the full-registry plan-build cost a single time.

    Round 12 (suite runtime, guide §2.6 "overlap independent jobs"):
    the sequential sweep was the suite's single most expensive item
    (576 s — many queries run real driver actions while building:
    derivation counts, iterative-loop rounds, MLlib fits). Most builds
    are independent, so they run through a small thread pool; those in
    ``sequential_queries()`` build one at a time afterwards. Pool failures
    retry once in the sequential calm (preserving the old retry
    semantics for transient warehouse collisions)."""
    import __spark_entry__ as entry

    from pandrs_spark.frame import release_persisted

    spark.conf.set("spark.sql.debug.maxToStringFields", "2000")
    qs = entry.queries()
    texts: dict[str, str] = {}
    errors: dict[str, str] = {}

    def _build(name):
        return plans.plan_text(qs[name](spark, "/root/testdata/sf0.001"), "simple")

    from concurrent.futures import ThreadPoolExecutor

    sequential = sequential_queries()
    pooled = [n for n in qs if n not in sequential]
    retry: list[str] = []

    def _pooled_build(name):
        try:
            return name, _build(name), None
        except Exception as e:  # noqa: BLE001 — plan-only sweep
            return name, None, str(e)
        finally:
            # the persists belong to this worker thread's context; the
            # session teardown releases only the main thread's
            release_persisted()

    with ThreadPoolExecutor(max_workers=6) as pool:
        for name, text, err in pool.map(_pooled_build, pooled):
            if err is None:
                texts[name] = text
            else:
                retry.append(name)
    for name in retry + [n for n in qs if n in sequential]:
        try:
            texts[name] = _build(name)
        except Exception:  # noqa: BLE001
            try:
                texts[name] = _build(name)
            except Exception as e:  # noqa: BLE001
                errors[name] = f"build error {e}"
    assert not errors, errors
    return texts


def test_sequential_covers_state_scoping_queries():
    """The source scan behind ``sequential_queries`` still finds the
    queries that open a conf scope: a renamed operator would leave every
    such query in the thread pool. The q69 frontier walk and the q180
    stream are known members."""
    found = conf_scoping_queries()
    for what, names in found.items():
        assert names, f"no query calls a {what}: stale scan?"
    assert "q180_streaming_tumbling_counts" in found["streaming state width"]
    assert "q69_trade_bfs_hops" in found["frontier walk"]


def test_no_accidental_cartesian_products(spark, registry_plan_texts):
    """Sweep every registered query's physical plan: a CartesianProduct
    (non-broadcast cross join) would melt down at scale. Intentional
    cross joins here always pair with a broadcast/1-row side, which
    plans as BroadcastNestedLoopJoin instead."""
    offenders = [
        name
        for name, text in registry_plan_texts.items()
        if "CartesianProduct" in text
    ]
    assert not offenders, offenders


def test_no_row_at_a_time_python_udfs(spark, registry_plan_texts):
    """Registry-wide fence: no plan may contain BatchEvalPython — the
    row-at-a-time (pickled, non-Arrow) Python UDF executor, 10-100×
    slower than vectorized ArrowEvalPython / pandas UDFs. The UDF
    registry's vectorized=False escape hatch exists for API parity but
    must never appear in a registered query's hot path."""
    offenders = [
        name
        for name, text in registry_plan_texts.items()
        if "BatchEvalPython" in text
    ]
    assert not offenders, offenders


def test_sort_values_no_single_partition_exchange(spark, sf_dir):
    """Frame.sort_values derives the global order via range-sort +
    per-partition window + offset map — the physical plan must not
    contain a SinglePartition exchange (the old unpartitioned
    Window.orderBy collapsed everything onto one task)."""
    from pandrs_spark.frame import Frame

    f = Frame(load_table(spark, sf_dir, "orders")).sort_values("o_totalprice")
    text = plans.plan_text(f._df, "extended")
    assert "SinglePartition" not in text, text[-2000:]


def test_head_is_take_ordered(spark, sf_dir):
    from pandrs_spark.frame import Frame

    f = Frame(load_table(spark, sf_dir, "orders")).head(7)
    text = plans.plan_text(f._df, "extended")
    assert "TakeOrdered" in text or "GlobalLimit" in text
    assert "SinglePartition" not in text, text[-2000:]


def test_bucketed_join_skips_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key must join with ZERO shuffle
    exchanges — the write-time pre-shuffle is the whole point of
    bucketing at 100 TB (fact-to-fact joins where neither side
    broadcasts)."""
    from pandrs_spark.sources import io as pio

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pio.write_bucketed_table(
        orders.select("o_orderkey", "o_totalprice"),
        "t_orders_b", ["o_orderkey"], n_buckets=8,
    )
    pio.write_bucketed_table(
        li.select("l_orderkey", "l_quantity"),
        "t_lineitem_b", ["l_orderkey"], n_buckets=8,
    )
    a = pio.read_table(spark, "t_orders_b")
    b = pio.read_table(spark, "t_lineitem_b")
    joined = a.join(b, a.o_orderkey == b.l_orderkey).groupBy("o_orderkey").count()
    # AQE may still add the agg exchange; the JOIN itself must not
    # shuffle either side. Disable broadcast to force the sort-merge path.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = a.join(b, a.o_orderkey == b.l_orderkey)
        n = plans.num_shuffles(j)
        assert n == 0, plans.plan_text(j)[-1500:]
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_partition_pruning_reaches_scan(spark, sf_dir, tmp_path):
    """A filter on a hive-partition column must appear as a
    PartitionFilter on the scan (pruned at planning, files never
    listed), not as a post-scan Filter."""
    from pyspark.sql import functions as F

    from pandrs_spark.sources import io as pio

    path = str(tmp_path / "orders_by_prio")
    orders = load_table(spark, sf_dir, "orders")
    pio.write_parquet(
        orders.select("o_orderkey", "o_totalprice", "o_orderpriority"),
        path,
        partition_by=["o_orderpriority"],
    )
    q = pio.read_parquet(spark, path, predicate="o_orderpriority = '1-URGENT'")
    text = plans.plan_text(q, "formatted")
    assert "PartitionFilters" in text and "1-URGENT" in text, text[-1500:]


def test_pii_redaction_is_map_only(spark, sf_dir):
    """redact_pii + the int8 quantizer are regexp/HOF projections — a
    shuffle in either would be a 100 TB regression."""
    from pandrs_spark.operators.similarity import quantize_embeddings_int8
    from pandrs_spark.operators.text import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select("doc_id", redact_pii("text").alias("r"))
    assert plans.num_shuffles(q) == 0, plans.plan_text(q)

    emb = load_table(spark, sf_dir, "embeddings")
    q2 = quantize_embeddings_int8(emb, "embedding", "vec_id")
    assert plans.num_shuffles(q2) == 0, plans.plan_text(q2)


def test_incremental_dedup_anti_join_shape(spark, sf_dir):
    """Delta dedup must plan as an anti join on the fingerprint — never
    a cartesian — and the in-batch keep-first adds one agg shuffle."""
    from pandrs_spark.operators.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    kept = incremental_dedup(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        "text",
        "doc_id",
    )
    txt = plans.plan_text(kept)
    assert "CartesianProduct" not in txt
    assert "LeftAnti" in txt or "left_anti" in txt.lower(), txt


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """The benchmark gram table must reach the candidate side as a
    broadcast — a shuffled gram join would move the full exploded
    corpus at 100 TB."""
    from pandrs_spark.operators.text import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    q = decontaminate(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
    )
    assert plans.has_broadcast_join(q)


def test_zorder_layout_is_range_exchange(spark, sf_dir):
    """Z-order clustering must compile to ONE range exchange (Spark's
    native sampled range partitioner), not a global sort."""
    from pandrs_spark.operators.layout import zorder_layout

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    q = zorder_layout(li, ["l_partkey", "l_suppkey"], bits=10, num_partitions=8)
    txt = plans.plan_text(q)
    assert "rangepartitioning" in txt.lower()
    assert plans.num_shuffles(q) == 1


def test_profile_columns_single_aggregate_pass(spark, sf_dir):
    """The whole profile must be ONE aggregate over ONE scan (one
    shuffle), not a scan per column."""
    from pandrs_spark.operators.profile import profile_columns

    cust = load_table(spark, sf_dir, "customer")
    q = profile_columns(cust, ["c_custkey", "c_mktsegment"], exact_distinct=False)
    txt = plans.plan_text(q)
    # the formatted plan prints each scan once in the tree and once in
    # the detail section — one physical scan == one Location line
    assert txt.count("Location: InMemoryFileIndex") == 1
    assert plans.num_shuffles(q) <= 1


def test_headline_queries_shuffle_budget(spark):
    """Regression fence: every headline bench query must stay within a
    small shuffle budget (agg/join/window + final sort only). A new
    Exchange here means a plan regression that multiplies at 100 TB."""
    import __spark_entry__ as entry

    budgets = {
        "q01_pricing_summary": 2,
        "q02_forecast_revenue": 2,
        "q03_unshipped_revenue_topk": 3,
        "q05_region_nation_revenue": 3,
        "q10_top3_orders_per_customer": 2,
        "q12_rolling_avg_price": 2,
        "q16_event_type_counts": 2,
        "q21_part_name_words": 2,
    }
    over = {}
    for name, budget in budgets.items():
        df = entry.queries()[name](spark, "/root/testdata/sf0.001")
        n = plans.num_shuffles(df)
        if n > budget:
            over[name] = (n, budget)
    assert not over, over


def test_bucketed_sorted_join_skips_shuffle_and_sort(spark, sf_dir):
    """Bucketed AND bucket-sorted tables (one file per bucket) must
    merge-join with zero exchanges and zero Sort nodes — the write-time
    pre-shuffle + pre-sort that makes repeated fact-fact merge joins
    O(read) at 100 TB. Spark only trusts the on-disk sort order when
    each bucket holds exactly one file, hence the repartition before
    the write."""
    from pandrs_spark.sources import io as pio

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pio.write_bucketed_table(
        orders.select("o_orderkey", "o_totalprice").repartition(4, "o_orderkey"),
        "t_orders_bs", ["o_orderkey"], n_buckets=4, sort_cols=["o_orderkey"],
    )
    pio.write_bucketed_table(
        li.select("l_orderkey", "l_quantity").repartition(4, "l_orderkey"),
        "t_lineitem_bs", ["l_orderkey"], n_buckets=4, sort_cols=["l_orderkey"],
    )
    a = pio.read_table(spark, "t_orders_bs")
    b = pio.read_table(spark, "t_lineitem_bs")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # Spark 3+ ignores on-disk bucket sort order unless this is on
        # (SPARK-28632; it requires the one-file-per-bucket layout the
        # repartition above guarantees).
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        j = a.join(b, a.o_orderkey == b.l_orderkey)
        assert plans.num_shuffles(j) == 0, plans.plan_text(j)[-1500:]
        txt = plans.plan_text(j, "simple")
        assert "- Sort " not in txt, txt[-1500:]  # Sort NODES (not SortMergeJoin)
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
        )
        spark.sql("DROP TABLE IF EXISTS t_orders_bs")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_bs")


# Partitionless windows that remain by design: each operates on a
# POST-AGGREGATION series whose cardinality is bounded by the domain,
# not the row count — calendar days/weeks/months (~10^3 at any SF),
# histogram/contingency cells, distinct category labels, bootstrap
# replicates, p-value families, feature lists, deciles — or on the
# distributed-ranks design where the window runs over per-distinct-
# value counts (orders below row count for quantized measures).
_BOUNDED_WINDOW_WHITELIST = {
    # fixed-size distributions / cells / shares
    "q16_event_type_counts",       # running share over ~6 event types
    "q59_chi_square_flag_status",  # contingency cells (flags × status)
    "q60_totalprice_histogram",    # fixed histogram bins
    "q166_benford_digit_audit",    # 9 leading digits
    "q254_revenue_share_of_parent",  # share-of-total over region groups
    "q92_categorical_encode",      # distinct category labels
    "q119_feature_selection",      # ranked feature list (#features)
    "q283_balance_decile_gains",   # 10 deciles
    "q101_pvalue_corrections",     # p-value family (#hypotheses)
    "q94_bootstrap_ci_mean",       # bootstrap replicate means (fixed B)
    # calendar-bounded daily/weekly/monthly series
    "q46_monthly_trend", "q47_rolling_daily_stats", "q48_daily_revenue_acf",
    "q49_gap_fill_methods", "q55_weekly_range_rolling",
    "q80_weekly_decomposition", "q83_adf_stationarity",
    "q84_cusum_changepoint", "q85_runs_test", "q105_kpss_stationarity",
    "q107_weekly_decomposition_mult", "q109_pacf",
    "q117_seasonality_periodogram", "q118_ar2_forecast",
    "q127_linear_trend_forecast", "q132_smoothing_winsorize",
    "q133_split_mean_changepoints", "q135_arima_210_forecast",
    "q334_kaplan_meier_engagement",  # KM prefix windows over DISTINCT
    # day-valued durations — bounded by the observation calendar span
    "q350_order_backlog_monthly",  # running sum over the ~80-month spine
    "q356_seasonal_naive_backtest",  # 12-month lag over the month spine
    "q388_embedding_dimension_energy",  # ranked cum-share over the fixed
    # embedding dimensionality (64 dims) — never data-sized
    "q389_neyman_allocation",  # largest-remainder ranking over the fixed
    # 25-nation stratum set
    "q402_logrank_conversion_arms",  # risk-set cumulative over DISTINCT
    # day durations — bounded by the observation calendar (q334 argument)
    "q413_quantile_normalization",  # per-segment offset cumsum over the
    # FIXED 5-segment table (ranks themselves ride global_row_number)
    "q415_ljung_box_whiteness",  # monthly row index — calendar-bounded
    # (q48 argument)
    "q418_decomposition_strength",  # centered 7-day MA over the daily
    # calendar series (q80 argument)
    "q450_nelson_aalen_hazard",  # NA prefix windows over DISTINCT
    # day durations — bounded by the observation calendar (q334 argument)
    "q457_competing_risks_cif",  # CIF prefix windows over DISTINCT
    # day durations (q334 argument)
    "q459_forecast_ensemble_mase",  # month index + lag over the
    # ~80-month calendar spine (q350/q356 argument)
    "q460_engle_granger_cointegration",  # residual lag over the
    # ~80-month calendar spine (q83 argument)
    "q461_page_hinkley_drift",  # prefix sums over the daily calendar
    # spine (q84 argument)
    "q462_bass_diffusion_grid_fit",  # cumulative adopters over the
    # weekly calendar spine
    "q463_rmst_median_survival",  # KM prefix windows over DISTINCT
    # day durations (q334 argument)
    "q478_chained_laspeyres_index",  # chained log-index over the
    # ~80-month calendar spine (q350/q356 argument)
    "q484_pettitt_changepoint",  # ranks + prefix sums over the
    # ~80-month calendar spine (q350/q356 argument)
    "q485_chow_structural_break",  # month index over the calendar spine
    "q486_durbin_watson",  # month index over the calendar spine
    "q489_breusch_pagan",  # month index over the calendar spine
    "q494_kendalls_w_brand_judges",  # three rank orders over the
    # FIXED ~25-brand rollup (q389 argument)
    "q520_theils_u_forecast",  # month index over the calendar spine
    "q521_seasonal_factors_rma",  # centered 12-month MA over the
    # calendar spine (q80 argument)
    "q531_dixon_q_nation_revenue",  # order statistics over the FIXED
    # 25-nation rollup (q389 argument)
    "q533_hodges_lehmann_growth",  # month index over the calendar spine
    "q535_catalog_activation",  # running first-sale share over the
    # calendar spine (q350 argument)
    "q537_lilliefors_normality",  # EDF ranks over the ~80-month
    # calendar spine (q350 argument)
    "q538_newey_west_trend_se",  # month index over the calendar spine
    "q539_wls_trend_fit",  # month index over the calendar spine
    "q544_var_cvar_daily_returns",  # day index + return ranks over the
    # daily calendar spine (q48 argument)
    "q549_granger_orders_to_revenue",  # month index over the calendar
    # spine (q486 argument)
    "q550_cross_correlation_lags",  # month index over the calendar spine
    "q551_variance_ratio_rw_test",  # day index + overlapping 5-sums over
    # the daily calendar spine (q48 argument)
    "q552_arch_lm_residuals",  # month index over the calendar spine
    "q553_cox_stuart_trend",  # month index over the calendar spine
    "q561_sample_entropy_monthly",  # month index over the calendar spine
    "q562_permutation_entropy_monthly",  # month index over the spine
    "q566_forecast_tracking_signal",  # 12-month lag over the month spine
    "q584_kupiec_var_backtest",  # day index over the daily calendar
    # spine (q544 argument)
    "q585_cusum_squares_variance",  # prefix sums over the month spine
    "q587_gbm_parameter_mle",  # day index over the daily calendar spine
    "q588_partial_correlation_price",  # month index over the calendar
    # spine (q549 argument)
    "q591_hosmer_lemeshow_oot",  # probability-bin ranks over the FIXED
    # 25-nation rollup (q389 argument)
    "q592_mann_kendall_trend",  # month index over the calendar spine
    "q596_hhi_concentration_trend",  # month index over the calendar spine
    "q598_shewhart_xbar_r_chart",  # weekly subgroup spine (calendar)
    "q599_ewma_control_chart",  # month index over the calendar spine
    "q602_integrated_autocorr_time",  # month index over the calendar spine
    "q620_spectral_entropy_monthly",  # month index over the calendar spine
    "q626_mean_reversion_half_life",  # month index over the calendar spine
    "q628_cooks_distance_months",  # month index over the calendar spine
    "q631_pinball_loss_seasonal_naive",  # 12-month lag over the month spine
    "q632_crps_forecast_ensemble",  # lag joins over the month spine
    "q633_roll_effective_spread",  # month index over the calendar spine
    "q635_amihud_illiquidity",  # day index over the calendar spine
    "q636_sharpe_sortino_calmar",  # month spine index + running max
    "q637_ulcer_index_pain_ratio",  # month spine index + running max
    "q638_cornish_fisher_var",  # month index over the calendar spine
    "q651_press_loocv",  # month index over the calendar spine
    "q652_studentized_residuals",  # month index over the calendar spine
    "q653_glejser_harvey_godfrey",  # month index over the calendar spine
    "q654_goldfeld_quandt",  # month index over the calendar spine
    "q655_ramsey_reset",  # month index over the calendar spine
    "q656_breusch_godfrey_lm",  # month index over the calendar spine
    "q663_variance_ratio_test",  # month index over the calendar spine
    "q664_theta_method_mase",  # month index over the calendar spine
    "q665_dfa_scaling_exponent",  # month spine index + profile prefix sum
    "q667_cowles_jones_ratio",  # month index over the calendar spine
    "q694_core_periphery_fit",  # degree rank over the 25-nation graph
    "q700_quade_test_quarters",  # block-range rank over the year spine
    "q716_tail_dependence_rev_orders",  # rank margins over the month spine
    "q717_records_trend_test",  # prefix-max records over the month spine
    "q723_kuiper_dow_uniformity",  # ECDF over the 7-day-of-week rollup
}
# (The rank-statistics ECDF family — q71/q72/q73/q95/q111 — was also
# migrated off partitionless windows onto global_prefix_counts in
# round 5: distinct-value cardinality of a continuous measure is NOT
# bounded, so it does not belong on this whitelist.)


def test_no_unbounded_partitionless_windows(spark, registry_plan_texts):
    """Registry-wide fence: NO query plan may contain a partitionless
    Window over unbounded input (Spark's 'No Partition Defined' one-task
    collapse) outside the bounded whitelist above. This is the permanent
    regression gate for the bm25_topk / quantile_bins / q53 / q96 class
    of scale-killer fixed in round 5 — a new query that sneaks in a
    global row_number over a raw table fails here."""
    offenders = []
    for name, text in registry_plan_texts.items():
        if name in _BOUNDED_WINDOW_WHITELIST:
            continue
        offs = plans.unbounded_partitionless_windows_text(text)
        if offs:
            offenders.append(f"{name}: {offs[0][:120]}")
    assert not offenders, offenders


def test_global_row_number_matches_window_and_plan(spark):
    """global_row_number == row_number() OVER (ORDER BY ...) exactly,
    with zero SinglePartition exchange in the plan."""
    from pandrs_spark.frame import release_persisted
    from pandrs_spark.operators.windows import global_row_number, ntile_from_rank
    from pyspark.sql import Window

    df = spark.range(0, 997).select(
        (F.col("id") * 2654435761 % 1000).alias("v"), F.col("id").alias("id")
    ).repartition(8)
    got = global_row_number(df, [F.asc("v"), F.asc("id")], "rn")
    assert "SinglePartition" not in plans.plan_text(got, "extended")
    w = Window.orderBy("v", "id")
    want = df.withColumn("rn_w", F.row_number().over(w))
    joined = got.join(want, ["v", "id"])
    assert joined.filter(F.col("rn") != F.col("rn_w")).count() == 0
    # ntile_from_rank parity for a k that does not divide n
    k = 7
    nt = joined.select(
        "v", "id", ntile_from_rank(F.col("rn"), 997, k).alias("nt"),
        F.ntile(k).over(w).alias("nt_w"),
    )
    assert nt.filter(F.col("nt") != F.col("nt_w")).count() == 0
    release_persisted()


def test_plan_census_classifier_discriminates(spark, sf_dir):
    """The round-8 census classifier (tools/plan_report.py) must call a
    scalar-aggregate crossJoin build BENIGN and a data-sized broadcast
    build SUSPICIOUS — this is the fence that makes the next q446-class
    broadcast mistake self-catching."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.plan_report import walk_classify

    li = load_table(spark, sf_dir, "lineitem")

    # benign: scalar aggregate carried via broadcast crossJoin
    scalar = li.agg(F.avg("l_quantity").alias("m"))
    benign = li.crossJoin(F.broadcast(scalar)).select(
        (F.col("l_quantity") - F.col("m")).alias("dev")
    )
    c1 = walk_classify(benign._jdf.queryExecution().executedPlan())
    assert c1["bnlj_benign"] >= 1 and c1["bnlj_suspicious"] == 0, c1

    # suspicious: a RAW data-sized frame forced into a nested-loop
    # broadcast build via a non-equi condition (nothing bounds it)
    raw = li.select(F.col("l_orderkey").alias("k"), "l_linenumber")
    suspicious = li.join(
        F.broadcast(raw), F.col("l_orderkey") > F.col("k")
    )
    c2 = walk_classify(suspicious._jdf.queryExecution().executedPlan())
    assert c2["bnlj_suspicious"] >= 1, c2

    # single-key grouped aggregate build → the keyed_agg DOMAIN-claim
    # category (neither benign nor suspicious)
    keys = li.select("l_orderkey").distinct()
    keyed = li.join(
        F.broadcast(keys.withColumnRenamed("l_orderkey", "k")),
        F.col("l_orderkey") > F.col("k"),
    )
    c2b = walk_classify(keyed._jdf.queryExecution().executedPlan())
    assert c2b["bnlj_keyed_agg"] >= 1 and c2b["bnlj_suspicious"] == 0, c2b

    # multi-key grouped aggregate build → its OWN bucket (round 10,
    # ADVICE r9): a (orderkey, linenumber) tuple can be data-scaled, so
    # it must not blend into the single-key domain-claim category —
    # plan_report counts it suspicious unless the query is on the
    # assert_bounded-backed KEYED_AGG_MULTI_WHITELIST
    keys2 = li.select("l_orderkey", "l_linenumber").distinct()
    keyed2 = li.join(
        F.broadcast(
            keys2.withColumnRenamed("l_orderkey", "k").withColumnRenamed(
                "l_linenumber", "k2"
            )
        ),
        F.col("l_orderkey") > F.col("k"),
    )
    c2c = walk_classify(keyed2._jdf.queryExecution().executedPlan())
    assert c2c["bnlj_keyed_agg_multi"] >= 1 and c2c["bnlj_keyed_agg"] == 0, c2c

    # SinglePartition split: a scalar agg's exchange is benign...
    c3 = walk_classify(scalar._jdf.queryExecution().executedPlan())
    assert c3["sp_benign"] >= 1 and c3["sp_suspicious"] == 0, c3
    # ...while a global data-sized sort to one partition is suspicious
    glob = li.repartition(1).select("l_orderkey")
    c4 = walk_classify(glob._jdf.queryExecution().executedPlan())
    assert c4["sp_suspicious"] >= 1, c4


def test_strip_initial_sections_and_sig_norm():
    """Round-9 census text tooling: executed-cache Final/Initial
    dual-printing is stripped (branch-bar-aware depth), and line
    signatures normalize scaffold/codegen/plan_id noise."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.plan_report import _norm_sig, strip_initial_sections

    text = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- == Final Plan ==",
        "   *(2) BroadcastNestedLoopJoin BuildRight, Cross",
        "   :- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=4]",
        "+- == Initial Plan ==",
        "   BroadcastNestedLoopJoin BuildRight, Cross",
        "   :- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]",
        "   :  +- == Initial Plan ==",
        "   :     Exchange SinglePartition, nested, [plan_id=2]",
        "Project [x]",
    ])
    s = strip_initial_sections(text)
    assert s.count("BroadcastNestedLoopJoin") == 1
    assert s.count("Exchange SinglePartition") == 1
    assert "Project [x]" in s  # sibling after the section survives
    # deeper ':'-scaffolded Initial marker must not end the outer skip
    assert "nested" not in s
    a = _norm_sig("   :  +- *(7) BroadcastNestedLoopJoin BuildRight, Cross, [plan_id=12]")
    b = _norm_sig("BroadcastNestedLoopJoin BuildRight, Cross")
    assert a == b


def test_knn_topk_edges_method_dispatch(spark):
    """knn_topk_edges: the IVF path returns the same contract as the
    exact baseline (id_a, id_b, rank), never self-pairs, respects k;
    exact ranking agrees with the brute-force 1-NN operator."""
    import pytest
    from pandrs_spark.operators.similarity import (
        knn_topk_edges,
        nearest_neighbors,
    )

    rows = [(i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(8)])
            for i in range(30)]
    df = small_local_df(spark, rows, "vec_id bigint, embedding array<double>")
    exact = knn_topk_edges(df, k=3, method="exact").collect()
    assert {r["rank"] for r in exact} == {1, 2, 3}
    assert all(r["id_a"] != r["id_b"] for r in exact)
    nn1 = {r["vec_id"]: r["nn_id"] for r in nearest_neighbors(df).collect()}
    top1 = {r["id_a"]: r["id_b"] for r in exact if r["rank"] == 1}
    assert top1 == nn1
    ivf = knn_topk_edges(df, k=3, method="ivf",
                         n_centroids=4, n_probe=2).collect()
    assert ivf and all(r["id_a"] != r["id_b"] for r in ivf)
    assert all(1 <= r["rank"] <= 3 for r in ivf)
    per_q = {}
    for r in ivf:
        per_q.setdefault(r["id_a"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    # ivfadc (round 10): same contract through the compressed-domain
    # path — coarse cells + PQ residual codes + ADC scan
    adc = knn_topk_edges(df, k=3, method="ivfadc",
                         n_centroids=4, n_probe=2, n_sub=4, k_sub=4,
                         dim=8).collect()
    assert adc and all(r["id_a"] != r["id_b"] for r in adc)
    assert all(1 <= r["rank"] <= 3 for r in adc)
    per_q = {}
    for r in adc:
        per_q.setdefault(r["id_a"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    with pytest.raises(ValueError, match="unknown method"):
        knn_topk_edges(df, k=3, method="bogus")


def test_keyed_agg_arity_truncation_marker():
    # ADVICE r10: spark.sql.debug.maxToStringFields truncates long key
    # lists to "... N more fields" on the captured line; a truncated
    # body must classify conservatively as multi-key (2), never
    # single-key — truncation only fires when the list is long, and a
    # fence tool must not undercount its own evidence.
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "plan_report",
        os.path.join(os.path.dirname(__file__), "..", "tools", "plan_report.py"),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    assert m._keyed_agg_arity("HashAggregate(keys=[a], functions=[sum(x)])") == 1
    assert m._keyed_agg_arity("HashAggregate(keys=[a, b], functions=[f])") == 2
    assert m._keyed_agg_arity("HashAggregate(keys=[], functions=[f])") == 0
    assert (
        m._keyed_agg_arity(
            "HashAggregate(keys=[a, ... 5 more fields], functions=[f])"
        )
        == 2
    )
    assert m._keyed_agg_arity("SortAggregate(keys=[x ... 12 more fields]") == 2
    # every masking_review ack row refers to a real ledger key shape
    assert all(
        isinstance(k, tuple) and len(k) == 2 and isinstance(j, str) and j
        for k, j in m.MASKING_REVIEW_ACK.items()
    )
