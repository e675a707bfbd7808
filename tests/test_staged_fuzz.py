"""Fuzzed oracle parity for the wave B-H operators
(operators/staged_r6..r12): the same adversarial micro-fixtures as
tests/test_fuzz_parity.py (duplicate timestamps, null JSON, unicode
tokens, month-boundary dates, empty tables), so the waves are
edge-tested, not only fixture-shaped.

max_examples is kept small (the waves are wide); derandomize=True
keeps the run deterministic.
"""

from __future__ import annotations

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_intraday_bidask_spark.registry import load_all_operators
from tests.test_fuzz_parity import (
    _stage,
    docs_strategy,
    events_strategy,
    orders_strategy,
)
from tests.test_parity import normalize

REGISTRY = load_all_operators()

# Battery tier (VERDICT r14 item 6): the staged-wave fuzz suites are
# the single heaviest block of the battery (~8 min); builder cadence.
pytestmark = pytest.mark.battery

EVENT_OPS = [
    # wave-G additions (round 7)
    "events_stickiness_dau_wau",
    "events_session_bounce_rate",
    "events_interval_union_coverage",
    "sessionize_timeout_sensitivity",
    "graph_reciprocity_directed",
    "dq_error_rate_wilson_bound",
    "ts_runs_test_exact",
    "ts_median3_smoother",
    "ts_peak_prominence_daily",
    "bidask_impact_decay_profile",
    "bidask_anchored_vwap_monthly",
    "graph_rich_club_topdeg",
    "join_asof_nearest",
    "cep_transition_matrix",
    "events_active_users_rolling",
    "events_seasonality_profile",
    "bidask_roll_spread",
    "agg_heavy_hitters_cms",
    "bidask_kyle_lambda_daily",
    "graph_kcore_peel",
    "win_bollinger_bands",
    "win_drawdown_duration",
    "cep_top_paths",
    "bidask_bar_resample_check",
    "graph_link_prediction_jaccard",
    "sample_purged_time_folds",
    "stream_topk_per_window",
    "bidask_quote_trade_ratio",
    "ts_seasonal_naive_residuals",
    "events_lifecycle_stages",
    "graph_degree_distribution",
    "embed_drift_split_halves",
    "bidask_market_beta_per_user",
    "events_power_user_curve",
    "graph_clustering_coefficient",
    "events_cumulative_uniques",
    "events_hazard_curve",
    "dq_bot_regularity_detect",
    "bidask_tick_rule_signed_volume",
    "win_first_touch_attribution",
    "agg_funnel_time_to_convert",
    "sessionize_cross_device",
    "bidask_l2_depth_imbalance",
    "dq_freshness_sla",
    "agg_bitmap_rollup_multigrain",
    "anomaly_winsorized_zscore",
    "win_median_sliding_hourly",
    "bidask_returns_acf",
    "bidask_volume_clock",
    "date_spine_business_days",
    "graph_triangle_count",
    "scan_metadata_columns",
    # Wave D (round 6): the ML-evaluation family over the scored
    # events stream. Degenerate fuzz fixtures (empty, one-class,
    # single-arm) exercise the nullif/CASE div-by-zero armor: Spark
    # ANSI errors on a hard zero divisor while DuckDB yields NULL,
    # so every guard below is load-bearing for parity.
    "eval_auc_exact",
    "eval_threshold_sweep",
    "eval_calibration_bins",
    "eval_pr_auc_exact",
    "eval_lift_gain_deciles",
    "eval_ks_statistic",
    "eval_f1_threshold_sweep",
    "eval_group_auc_by_dow",
    "eval_psi_score_drift",
    "eval_information_value_bins",
    "eval_mcnemar_paired_rules",
    "eval_mrr_first_purchase",
    "eval_recall_at_k_per_user",
    "eval_auc_bootstrap_ci",
    "eval_ndcg_at5_per_user",
    "eval_brier_binned",
    "eval_expected_calibration_error",
    "eval_calibration_per_segment",
    "feature_chi2_independence",
    "eval_slice_balance_audit",
    "eval_auc_rank_identity",
    "eval_spearman_value_vs_time",
    "eval_auc_delta_champion",
    "eval_label_flip_sensitivity",
    "eval_decile_boundary_drift",
    "eval_ab_srm_check",
    "feature_target_encode_loo",
    "sample_group_kfold",
    "sample_time_series_cv_expanding",
    "feature_missingness_profile",
    "feature_hashed_cross_bucket",
    "churn_label_weekly",
    "feature_time_since_last_bucket",
    "feature_session_position",
    "feature_serving_freshness_age",
    "feature_count_encode_type_hour",
    "sample_negative_hard_mining",
    "feature_multi_horizon",
    "graph_two_hop_reach",
    # Wave H (round 8): window mechanics, exact nonparametric time
    # series, microstructure wave 4, governance audits over events —
    # degenerate fixtures exercise the div-by-zero armor (the n > 2
    # Ljung-Box guard and the < 2-day Holt gate were written for
    # exactly these inputs).
    "win_frame_exclude_current",
    "win_nth_from_last",
    "win_reset_running_sum",
    "win_mode_sliding",
    "sql_order_by_all_nulls",
    "set_symmetric_diff_census",
    "agg_kendall_tau_daily",
    "ts_ljung_box_q",
    "ts_holt_linear_fold",
    "ts_hurst_rs_daily",
    "ts_subseries_median_profile",
    "ts_variance_ratio_test",
    "bidask_microprice_deviation",
    "bidask_lee_ready_classify",
    "bidask_effective_over_quoted",
    "bidask_round_size_clustering",
    "etl_late_data_impact",
    "dq_monotonic_ts_audit",
    "sample_block_bootstrap_days",
    "graph_scc_transition_bounded",
    "graph_triangle_participation",
    # Wave E (round 6): time-series/liquidity/attribution over events.
    "ts_stl_lite_hourly",
    "ts_changepoint_binseg",
    "ts_spectral_goertzel_daily",
    "ts_hampel_outliers",
    "ts_mase_seasonal_naive",
    "ts_seasonal_strength",
    "ts_pacf_lag2_exact",
    "ts_tracking_signal",
    "bidask_amihud_illiquidity",
    "bidask_vpin_volume_buckets",
    "bidask_garman_klass_vol",
    "bidask_corwin_schultz_spread",
    "bidask_rv_signature_plot",
    "bidask_trade_size_profile",
    "bidask_intraday_u_profile",
    "events_interarrival_burstiness",
    "dq_error_burst_poisson",
    "attr_time_decay",
    "attr_linear_multitouch",
    "attr_position_u_shaped",
    "attr_campaign_overlap",
    "attr_incrementality_did",
    "attr_markov_removal_effect",
    # Wave F (round 6). Streaming ops (checkpoint recovery,
    # incremental batches, state metrics) are excluded: each fuzz
    # example would pay multi-second stream startups; their recovery
    # semantics are pinned by dedicated tests instead.
    "events_kaplan_meier_weekly",
    "events_funnel_by_dow",
    "events_session_velocity_audit",
    "events_user_temporal_entropy",
    "events_simpson_diversity",
    "events_markov_stationary",
    "events_activity_powerlaw_fit",
    "ts_stl_anomaly_days",
    "bidask_donchian_channel_daily",
    "bidask_glosten_harris_decomp",
    "stream_watermark_delay_sweep",
    "eval_threshold_capacity_planner",
    "ab_sequential_bound_check",
    "eval_demographic_parity_80pct",
    "eval_equalized_odds_gap",
    "eval_precision_at_k_curve",
    "eval_score_histogram_by_class",
    "sessionize_dwell_profile",
    "graph_edge_weight_distribution",
    "graph_degree_assortativity",
]

DOC_OPS = [
    "text_compression_ratio_proxy",
    "corpus_source_syndication_matrix",
    "multimodal_fixed_chunking",
    "corpus_quality_length_matrix",
    "corpus_tokenizer_fertility",
    "corpus_dup_threshold_curve",
    "corpus_langid_confusion",
    "gov_pii_exposure_scan",
    "text_oov_rate_split",
    "multimodal_binary_dedup",
    "corpus_length_psi_drift",
    "corpus_split_contamination",
    "text_zipf_fit",
    "text_vocab_overlap_matrix",
    "corpus_ngram_novelty_rate",
    "text_code_detect_heuristic",
    "dedup_cross_source_exact",
    "sample_importance_reweight",
    "multimodal_shard_manifest",
    "sample_largest_remainder_alloc",
    "text_readability_score",
    "dedup_incremental_batch",
    "text_boilerplate_prefix_detect",
    "dq_split_leakage_check",
    "text_unicode_profile",
    "dedup_lsh_band_sweep",
]

# Wave-H doc-driven additions (round 8)
DOC_OPS_H = [
    "text_word_length_profile",
    "text_token_gini_by_lang",
    "text_rake_keyword_lite",
    "corpus_dedup_survivorship_matrix",
    "corpus_heaps_law_checkpoints",
    "corpus_length_quantiles_by_source",
    "multimodal_mime_sniff_census",
]

# Wave-G doc-driven additions (round 7)
DOC_OPS_G = [
    "text_hapax_legomena_ratio",
    "text_vocab_coverage_topk",
    "text_token_length_histogram",
    "text_cdc_chunk_boundaries",
    "multimodal_byte_entropy",
    "multimodal_aspect_bucket_stats",
    "corpus_js_divergence_sources",
    "text_term_burstiness_fano",
]

ORDER_OPS = [
    # Wave H (round 8)
    "sql_distinct_on_emulation",
    "sql_exists_flag_projection",
    "join_tier_range_dim",
    "dq_schema_drift_typed",
    "etl_scd2_integrity_audit",
    "gov_t_closeness_audit",
    "orders_growth_contribution",
    "orders_repurchase_interval",
    "orders_cohort_ltv_curve",
    "orders_dow_anova_fstat",
    "orders_customer_hhi_by_nation",
    "ts_backtest_linear_origins",
    "gov_access_tiering_plan",
    "gov_column_profile_drift",
    "gov_l_diversity_audit",
    "gov_forget_cascade_audit",
    "orders_calendar_heatmap",
    "orders_order_to_cash_cycle",
    "win_topk_with_ties",
    "sql_unpivot_multi_measure",
    "graph_bipartite_projection",
    "graph_hits_hubs_authorities",
    "eval_entity_split_leakage",
    "eval_regression_metrics_exact",
    "orders_forecast_pinball_loss",
    "feature_pit_rfm_snapshot",
    "set_intersect_except_all",
    "win_share_of_parent_nested",
    "join_dim_snapshot_asof",
    "orders_cohort_retention",
    "orders_rfm_segments",
    "agg_pareto_cumshare",
    "agg_gini_concentration",
    "orders_revenue_bridge",
    "dq_cusum_shift_detect",
    "agg_concurrent_intervals",
    "agg_histogram_equi_depth",
    "join_bitemporal_pit",
    "dq_benford_first_digit",
    "dq_duplicate_payment_detect",
    "etl_lineage_provenance_hash",
    "etl_merkle_reconcile",
    "subquery_correlated_scalar",
    "pivot_multi_metric",
    "orders_seasonal_index_monthly",
    "orders_aging_buckets",
    "dq_categorical_entropy",
    "dq_key_gap_detect",
    "merge_upsert_scd3",
    "orders_mix_shift_yoy",
    "etl_retention_prune_plan",
    "orders_new_vs_repeat_monthly",
    "orders_fiscal_445_calendar",
    "orders_quarter_end_concentration",
    "agg_trimmed_mean_exact",
    "agg_geometric_mean_ln",
    "agg_mutual_information_priority_status",
    "eval_cohens_kappa_rules",
    "sql_values_inline_table",
    "join_full_outer_reconcile",
    "subquery_not_in_null_trap",
    "orders_net_revenue_retention",
    "win_rolling_percentile_rank",
    "eval_topk_overlap_champion",
    "agg_mann_whitney_u_exact",
    "orders_rfm_migration_matrix",
]

# Wave-B lineitem op: the fuzz lineitem's CONSTANT l_tax (zero variance)
# makes the OLS normal equations singular on every example — exactly the
# det==0 guard this list exists to exercise.
LINEITEM_OPS = [
    # Wave H (round 8)
    "lineitem_charge_reconcile_ties",
    "dq_referential_census_all_fks",
    "parts_safety_stock_plan",
    "parts_eoq_reorder_point",
    "parts_demand_intermittency",
    "orders_basket_size_profile",
    "dq_range_contract_audit",
    "dq_price_consistency_audit",
    "orders_promo_cannibalization",
    "gov_partition_skew_audit",
    "orders_price_elasticity_bands",
    "lineitem_return_rate_monthly",
    "agg_ols_normal_equations",
    "agg_corr_matrix_pairwise",
    "join_exists_flag_mark",
    "etl_compaction_plan",
    "sql_window_clause_shared",
    "parts_abc_xyz_matrix",
    "orders_sla_breach_by_priority",
    "orders_fill_rate",
    "dq_orphan_rate_monthly",
    "lineitem_tax_discount_matrix",
    "scan_selectivity_census",
    "etl_partition_backfill_plan",
    "orders_backlog_timeseries",
    "orders_price_index_laspeyres",
    "parts_supplier_concentration",
]


def _assert_staged_parity(spark, variant: str, ops: list[str]) -> None:
    import duckdb

    from etl_intraday_bidask_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{variant}/{name}.parquet')"
        )
    try:
        for op in ops:
            spec = REGISTRY[op]
            df = spec.spark_fn(spark, variant)
            s_rows, s_cols = df.collect(), df.columns
            rel = con.sql(spec.oracle_sql)
            d_rows, d_cols = rel.fetchall(), list(rel.columns)
            assert len(s_rows) == len(d_rows), (
                f"{op}: rows {len(s_rows)} vs {len(d_rows)} on fuzz fixture"
            )
            assert normalize(s_rows, s_cols) == normalize(d_rows, d_cols), (
                f"{op}: engines diverge on fuzz fixture"
            )
    finally:
        con.close()


_SETTINGS = dict(
    max_examples=3,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(rows=events_strategy)
def test_staged_event_ops_fuzzed(spark, tmp_path_factory, rows):
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[3] / 100.0 for r in rows], pa.float64()),
            "props": pa.array(
                [
                    None if r[4] is None else '{"k": %d}' % r[4]
                    for r in rows
                ],
                pa.string(),
            ),
        }
    )
    variant = _stage(
        str(tmp_path_factory.mktemp("sfuzz_ev")), "events", tbl
    )
    _assert_staged_parity(spark, variant, EVENT_OPS)


@settings(**_SETTINGS)
@given(rows=docs_strategy)
def test_staged_doc_ops_fuzzed(spark, tmp_path_factory, rows):
    texts = [" ".join(toks) for toks, _, _ in rows]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(rows)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([r[1] for r in rows], pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    variant = _stage(
        str(tmp_path_factory.mktemp("sfuzz_doc")), "documents", tbl
    )
    _assert_staged_parity(spark, variant, DOC_OPS + DOC_OPS_G + DOC_OPS_H)


@settings(**_SETTINGS)
@given(rows=orders_strategy)
def test_staged_order_ops_fuzzed(spark, tmp_path_factory, rows):
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(len(rows)), pa.int64()),
            "o_custkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
            "o_totalprice": pa.array(
                [r[3] / 100.0 for r in rows], pa.float64()
            ),
            "o_orderdate": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "o_orderpriority": pa.array([r[4] for r in rows], pa.string()),
        }
    )
    variant = _stage(
        str(tmp_path_factory.mktemp("sfuzz_ord")), "orders", tbl
    )
    _assert_staged_parity(spark, variant, ORDER_OPS)


from tests.test_fuzz_parity import lineitem_strategy  # noqa: E402


@settings(**_SETTINGS)
@given(rows=lineitem_strategy)
def test_staged_lineitem_ops_fuzzed(spark, tmp_path_factory, rows):
    tbl = pa.table(
        {
            "l_orderkey": pa.array(
                [i // 2 for i in range(len(rows))], pa.int64()
            ),
            "l_partkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_suppkey": pa.array([r[1] for r in rows], pa.int64()),
            "l_linenumber": pa.array(
                [i % 2 + 1 for i in range(len(rows))], pa.int64()
            ),
            "l_quantity": pa.array(
                [float(r[2]) for r in rows], pa.float64()
            ),
            "l_extendedprice": pa.array(
                [r[3] / 100.0 for r in rows], pa.float64()
            ),
            "l_discount": pa.array(
                [r[4] / 100.0 for r in rows], pa.float64()
            ),
            "l_tax": pa.array([0.05] * len(rows), pa.float64()),
            "l_returnflag": pa.array([r[5] for r in rows], pa.string()),
            "l_linestatus": pa.array(
                ["O" if i % 3 else "F" for i in range(len(rows))],
                pa.string(),
            ),
            "l_shipdate": pa.array(
                [r[6] for r in rows], pa.timestamp("us")
            ),
        }
    )
    variant = _stage(
        str(tmp_path_factory.mktemp("sfuzz_li")), "lineitem", tbl
    )
    _assert_staged_parity(spark, variant, LINEITEM_OPS)


def test_kcore_path_graph_counter_example(spark, tmp_path_factory):
    """ADVICE r5 regression pin: on the path graph a-b, b-c (hour 1:
    users 1,2 purchase; hour 2: users 2,3), peel 1 keeps {b} but kills
    both edges — the keep-set census is (1, 0), NOT (0, 0): a kept node
    whose edges all died stays counted this peel and falls out next
    peel (peel 2 = (0, 0)). This is exactly where the edge-incident
    census and the keep-set census diverge."""
    import datetime as dt

    h1 = dt.datetime(1997, 3, 1, 10, 0, 0)
    h2 = dt.datetime(1997, 3, 1, 11, 0, 0)
    rows = [(1, h1), (2, h1), (2, h2), (3, h2)]
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array(["purchase"] * len(rows), pa.string()),
            "value": pa.array([10.0] * len(rows), pa.float64()),
            "props": pa.array([None] * len(rows), pa.string()),
        }
    )
    variant = _stage(
        str(tmp_path_factory.mktemp("kcore_path")), "events", tbl
    )
    got = {
        r["peel"]: (r["n_nodes"], r["n_edges"])
        for r in REGISTRY["graph_kcore_peel"]
        .spark_fn(spark, variant)
        .collect()
    }
    assert got == {0: (3, 2), 1: (1, 0), 2: (0, 0)}
    _assert_staged_parity(spark, variant, ["graph_kcore_peel"])


# Wave-E customer-table ops (round-9 coverage close: these three were
# the only oracled wave-E ops in no fuzz battery). Edge targets: names
# shorter than 3 chars (the sequence(1,0)-is-descending gotcha the
# trigram op guards), unicode and duplicated names (fuzzy matches must
# actually fire), negative balances on and off the $1000 band boundary
# (the oracle's negative-floor-division correction), and shared
# (nation, segment) quasi-identifier tuples (k-anonymity classes of
# size 1 through 6+).
CUSTOMER_OPS = [
    "gov_k_anonymity_census",
    "gov_pseudonymize_consistent",
    "join_trigram_fuzzy_names",
]

_NAMES = [
    "Customer#One",
    "Customer#Two",
    "Custamer#One",  # one-typo twin: trigram-Jaccard candidate
    "ab",            # shorter than a trigram: must yield no grams
    "",              # empty name
    "日本語の名前",   # multi-byte: substr is character-based on both
    "x" * 30,        # single repeated char: one distinct trigram
]

customer_strategy = st.lists(
    st.tuples(
        st.sampled_from(_NAMES),
        st.integers(min_value=0, max_value=3),        # c_nationkey
        st.integers(min_value=-250000, max_value=250000),  # cents
        st.sampled_from(["SEG_A", "SEG_B"]),
    ),
    min_size=0,
    max_size=25,
)


@settings(**_SETTINGS)
@given(rows=customer_strategy)
def test_staged_customer_ops_fuzzed(spark, tmp_path_factory, rows):
    cents = [
        # force band-boundary hits: every 5th row lands exactly on a
        # $1000 multiple (cents % 100000 == 0, the no-correction arm)
        (r[2] // 100000) * 100000 if i % 5 == 0 else r[2]
        for i, r in enumerate(rows)
    ]
    tbl = pa.table(
        {
            "c_custkey": pa.array(range(len(rows)), pa.int64()),
            "c_name": pa.array([r[0] for r in rows], pa.string()),
            "c_nationkey": pa.array([r[1] for r in rows], pa.int32()),
            "c_acctbal": pa.array(
                [c / 100.0 for c in cents], pa.float64()
            ),
            "c_mktsegment": pa.array([r[3] for r in rows], pa.string()),
        }
    )
    variant = _stage(
        str(tmp_path_factory.mktemp("sfuzz_cust")), "customer", tbl
    )
    _assert_staged_parity(spark, variant, CUSTOMER_OPS)


def test_trigram_fuzzy_match_fires_on_typo_twin(spark, tmp_path_factory):
    """The hypothesis battery above cannot guarantee the fuzzy-match
    arm executes (the typo twins must co-occur WITH equal nationkey
    inside 3 derandomized examples), so this deterministic fixture
    pins it: two names one substitution apart share >80% of their
    trigrams and MUST match; the control pair must not. Both engines
    agree (oracle driven through the same fixture)."""
    import duckdb

    # One substitution changes 3 trigrams; Jaccard = (n-3)/(n+3) > 0.8
    # needs n > 27 distinct trigrams, so the twins are 40 chars long.
    name_a = "Customer#AlphaBetaGammaDeltaEpsilonZeta9"
    name_b = "Custamer#AlphaBetaGammaDeltaEpsilonZeta9"
    tbl = pa.table(
        {
            "c_custkey": pa.array([1, 2, 3], pa.int64()),
            "c_name": pa.array([name_a, name_b, "Zq"], pa.string()),
            "c_nationkey": pa.array([7, 7, 7], pa.int32()),
            "c_acctbal": pa.array([10.0, 20.0, 30.0], pa.float64()),
            "c_mktsegment": pa.array(["S", "S", "S"], pa.string()),
        }
    )
    variant = _stage(
        str(tmp_path_factory.mktemp("trigram_pin")), "customer", tbl
    )
    spec = REGISTRY["join_trigram_fuzzy_names"]
    row = spec.spark_fn(spark, variant).collect()[0]
    assert row["n_fuzzy_matches"] == 1, row
    assert row["max_shared_grams"] >= 12, row
    con = duckdb.connect()
    try:
        for name in ("customer",):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{variant}/{name}.parquet')"
            )
        d = con.sql(spec.oracle_sql).fetchall()[0]
        assert d[0] == 1 and d[2] == row["max_shared_grams"]
    finally:
        con.close()
