"""Wave-D tests (operators/staged_r8.py).

``test_staged_r8_parity`` keeps this module's per-operator test IDs;
it calls the one registry parity check in tests/test_parity.py
and replays that check's verdict when it has already run.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tests.test_parity import REGISTRY, check_parity, module_ops


@pytest.mark.parametrize("name", module_ops("staged_r8"))
def test_staged_r8_parity(spark, duck_small, parity_verdicts, name):
    check_parity(spark, duck_small, parity_verdicts, name)


def test_auc_agrees_with_threshold_sweep_extremes(spark):
    """Cross-check: with threshold 0 every row is predicted positive,
    so recall must be 10000 bp and precision must equal the base rate
    — derive both from eval_calibration_bins' totals."""

    bins = REGISTRY["eval_calibration_bins"].spark_fn(
        spark, SF_SMALL
    ).collect()
    n = sum(r["n"] for r in bins)
    n_pos = sum(r["n_pos"] for r in bins)
    auc_row = REGISTRY["eval_auc_exact"].spark_fn(
        spark, SF_SMALL
    ).collect()[0]
    assert auc_row["n_pos"] == n_pos
    assert auc_row["n_pos"] + auc_row["n_neg"] == n
    assert 0.0 <= auc_row["auc"] <= 1.0


def test_grid_rank_decomposition_handles_null_keys(spark):
    """The SCALE.md §26 rank decomposition (grid-cumulative + per-cell
    row_number, null-safe join) must agree with Spark's own global
    row_number on inputs containing NULL keys — the round-7 review
    found a null-unsafe grid join silently dropped NULL-key rows while
    the totals still counted them. Pinned on a synthetic frame because
    the fixtures are null-free (the divergence is latent there)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from etl_intraday_bidask_spark.operators.staged_r8 import _grid_before

    rows = [(i, [10, None, 20, 10, None, 30][i % 6]) for i in range(40)]
    df = spark.createDataFrame(rows, "event_id int, s int")

    for descending in (False, True):
        order = F.col("s").desc() if descending else F.col("s")
        expected = df.select(
            "event_id",
            F.row_number()
            .over(Window.orderBy(order, "event_id"))
            .alias("rn"),
        )
        got = (
            df.join(
                _grid_before(df, "s", descending=descending),
                F.col("s").eqNullSafe(F.col("gk_s")),
            )
            .select(
                "event_id",
                (
                    F.col("before_s")
                    + F.row_number().over(
                        Window.partitionBy("s").orderBy("event_id")
                    )
                ).alias("rn"),
            )
        )
        e = sorted(map(tuple, expected.collect()))
        g = sorted(map(tuple, got.collect()))
        assert e == g, f"descending={descending}: decomposition != window"
        assert len(g) == 40, "null-key rows must not be dropped"
