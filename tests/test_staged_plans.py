"""Physical-plan audits for the wave B-H operators
(operators/staged_r6..r12): each op's scale claim names a plan property
— the same discipline as tests/test_plans.py."""

from __future__ import annotations

import contextlib
import io

import pytest

from etl_intraday_bidask_spark.registry import load_all_operators
from tests.conftest import SF_SMALL
from tests.test_parity import module_ops

REGISTRY = load_all_operators()


def staged_plan(spark, name: str) -> str:
    df = REGISTRY[name].spark_fn(spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_sweepline_no_cartesian_single_running_window(spark):
    """agg_concurrent_intervals' whole point is sweep-line, not a
    day-spine range join: no nested-loop/cartesian anywhere, and the
    only Window is the one running sum over the pre-combined day
    grain."""
    plan = staged_plan(spark, "agg_concurrent_intervals")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("(Window") + plan.count(") Window") >= 1
    # the +1/-1 deltas must be pre-combined per day BEFORE the window:
    # a HashAggregate has to appear below the Window in the tree, which
    # formatted-explain renders as the aggregate having a HIGHER node id.
    assert "HashAggregate" in plan


def test_active_users_uses_explode_not_range_join(spark):
    """events_active_users_rolling claims bounded explode fan-out of the
    (day,user) grain instead of a day-range join: Generate (explode)
    must be present and no nested-loop join may appear."""
    plan = staged_plan(spark, "events_active_users_rolling")
    assert "Generate" in plan, "explode fan-out missing from plan"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cms_is_pure_equi_join_aggregate(spark):
    """agg_heavy_hitters_cms: the sketch build/probe is hash joins and
    aggregates over md5 arithmetic — JVM-side end to end, no Python
    eval, no nested loop."""
    plan = staged_plan(spark, "agg_heavy_hitters_cms")
    for banned in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "BatchEvalPython",
        "ArrowEvalPython",
    ):
        assert banned not in plan, f"{banned} in CMS plan"


def test_bitemporal_pit_joins_on_custkey_equi(spark):
    """join_bitemporal_pit: the version join must be an equi join on
    custkey (fan-out bounded by the 3 versions), with the valid_from
    inequality as a post-join condition — never a nested loop over
    orders x versions."""
    plan = staged_plan(spark, "join_bitemporal_pit")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_ols_is_single_pass_aggregate(spark):
    """agg_ols_normal_equations is one map-side-combinable aggregate:
    no window, no join — the nine power sums reduce in one exchange."""
    plan = staged_plan(spark, "agg_ols_normal_equations")
    assert "Window" not in plan
    for banned in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert banned not in plan
    assert "HashAggregate" in plan


def test_roll_spread_partitions_by_day(spark):
    """bidask_roll_spread windows partition by day — the plan must not
    contain a global (empty-partition-spec) window sort."""
    plan = staged_plan(spark, "bidask_roll_spread")
    assert "CartesianProduct" not in plan
    # every Window's partition spec carries the day column d
    for seg in plan.split("Arguments: ")[1:]:
        head = seg.split("\n")[0]
        if "windowspecdefinition" in head:
            assert "d#" in head, f"unpartitioned window: {head[:120]}"


def test_revenue_bridge_pushes_year_filter(spark):
    """orders_revenue_bridge filters to two years before aggregating;
    the year predicate must reach the scan (as a pushed filter or a
    scan-adjacent Filter), and the plan is join-free."""
    plan = staged_plan(spark, "orders_revenue_bridge")
    for banned in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert banned not in plan
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "o_orderdate" in pushed, (
        "two-year range predicate not pushed to the Parquet scan"
    )


# --- wave C (staged_r7) plan audits ---


def test_merkle_digests_are_pure_aggregates(spark):
    """etl_merkle_reconcile's whole point is mergeable sum-of-digest
    buckets: hash aggregates + one equi join on bucket, no Python
    eval, no nested loop, no window."""
    plan = staged_plan(spark, "etl_merkle_reconcile")
    for banned in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "BatchEvalPython",
        "ArrowEvalPython",
        "Window",
    ):
        assert banned not in plan, f"{banned} in merkle plan"
    assert "HashAggregate" in plan


def test_market_beta_broadcasts_market_series(spark):
    """The hourly market series must BROADCAST onto the (user, hour)
    grain — shuffling the fact side against a calendar-bounded series
    would be backwards."""
    plan = staged_plan(spark, "bidask_market_beta_per_user")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ols_and_corr_are_join_free_single_aggregates(spark):
    """The exact-moment statistics reduce in one pass: no joins in the
    moment computation (corr's 3-row assembly unions scalar rows)."""
    for name in ("agg_corr_matrix_pairwise",):
        plan = staged_plan(spark, name)
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "HashAggregate" in plan


def test_dup_payment_join_is_equi_on_amount(spark):
    """dq_duplicate_payment_detect claims amount-as-blocking-key: the
    self-join must be a hash/sort-merge EQUI join (custkey, cents),
    never a nested loop over all order pairs."""
    plan = staged_plan(spark, "dq_duplicate_payment_detect")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_cumulative_uniques_windows_on_day_grain_only(spark):
    """The growth curve's running sum must consume the per-day
    aggregate, not raw events: a HashAggregate must sit below the
    Window."""
    plan = staged_plan(spark, "events_cumulative_uniques")
    assert "HashAggregate" in plan
    assert plan.count("Exchange") >= 1
    assert "CartesianProduct" not in plan


# ---- generic scale-killer sweep for waves D-H (round 6) ------------
# Same two assertions as tests/test_plan_sweep.py: no unkeyed
# CartesianProduct (BroadcastNestedLoopJoin is allowed — every
# occurrence broadcasts a tiny side), and no Python evaluation anywhere
# (no wave D-H op declares a Python-boundary op).

_PY_MARKERS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "PythonUDTF",
)

# Side-effecting on build (streaming runs / parquet stages execute
# eagerly) or driver-looping (iterative localCheckpoint chains whose
# plan is not one static tree): exercised by the parity tests instead.
_SKIP_PLAN = {
    "attr_markov_removal_effect",
    "events_markov_stationary",
    "stream_checkpoint_recovery",
    "stream_incremental_batches",
    "stream_state_store_metrics",
    "sql_set_dedup_semantics",
    # wave H: write-on-build roundtrips / streaming replays /
    # driver-looping fixpoint — exercised by parity + direct pins
    "source_binaryfile_manifest",
    "sink_json_lines_partitioned",
    "source_text_lines_census",
    "scan_decimal_parquet_roundtrip",
    "scan_partition_file_census",
    "stream_chained_windows",
    "stream_union_two_sources",
    "graph_component_size_histogram",
}

_WAVE_DE = module_ops(
    "staged_r8", "staged_r9", "staged_r10", "staged_r11", "staged_r12"
)


@pytest.mark.parametrize(
    "name", [n for n in _WAVE_DE if n not in _SKIP_PLAN]
)
def test_wave_de_plan_has_no_scale_killers(spark, name):
    plan = staged_plan(spark, name)
    assert "CartesianProduct" not in plan, (
        f"{name}: unkeyed cartesian join — add an equi/blocking key"
    )
    hits = [m for m in _PY_MARKERS if m in plan]
    assert not hits, (
        f"{name}: Python evaluation {hits} — waves D/E are JVM-only"
    )
