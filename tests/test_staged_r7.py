"""Wave-C tests (operators/staged_r7.py).

``test_staged_r7_parity`` keeps this module's per-operator test IDs;
it calls the one registry parity check in tests/test_parity.py
and replays that check's verdict when it has already run.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tests.test_parity import REGISTRY, check_parity, module_ops, normalize


@pytest.mark.parametrize("name", module_ops("staged_r7"))
def test_staged_r7_parity(spark, duck_small, parity_verdicts, name):
    check_parity(spark, duck_small, parity_verdicts, name)


def test_dq_detectors_nonvacuous(spark, tmp_path):
    """Both DQ detectors grade 0-rows-vs-0-rows at the driver's SFs
    (the synthetic orderkey space is dense and no two orders share a
    customer+amount within 7 days), which makes their hash grades
    vacuous — the same trap dedup_cross_source_exact hit in round 6.
    Inject both defect classes into an orders variant and re-run the
    full oracle parity on NON-EMPTY results: three duplicated payments
    (same customer, same cents, +3 days, fresh keys) and two carved
    key-gaps."""
    import os

    import duckdb

    from etl_intraday_bidask_spark.tables import TABLE_NAMES

    variant = str(tmp_path / "dqfix")
    os.makedirs(variant)
    con = duckdb.connect()
    con.execute(f"""
        COPY (
            SELECT * FROM read_parquet('{SF_SMALL}/orders.parquet')
            WHERE o_orderkey NOT BETWEEN 100 AND 104
              AND o_orderkey != 700
            UNION ALL
            SELECT o_orderkey + 2000 AS o_orderkey, o_custkey,
                   o_orderstatus, o_totalprice,
                   o_orderdate + INTERVAL 3 DAY AS o_orderdate,
                   o_orderpriority
            FROM read_parquet('{SF_SMALL}/orders.parquet')
            WHERE o_orderkey IN (10, 20, 30)
        ) TO '{variant}/orders.parquet' (FORMAT parquet)
    """)
    con.close()
    for name in TABLE_NAMES:
        dst = os.path.join(variant, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF_SMALL, f"{name}.parquet"), dst)

    vcon = duckdb.connect()
    for name in TABLE_NAMES:
        vcon.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{variant}/{name}.parquet')"
        )
    try:
        for op, min_rows in [
            ("dq_duplicate_payment_detect", 3),
            ("dq_key_gap_detect", 3),
        ]:
            spec = REGISTRY[op]
            df = spec.spark_fn(spark, variant)
            s_rows, s_cols = df.collect(), df.columns
            rel = vcon.sql(spec.oracle_sql)
            d_rows, d_cols = rel.fetchall(), list(rel.columns)
            assert len(s_rows) >= min_rows, (
                f"{op}: injection produced only {len(s_rows)} rows — "
                "the non-vacuous check is itself vacuous"
            )
            assert len(s_rows) == len(d_rows)
            assert normalize(s_rows, s_cols) == normalize(d_rows, d_cols), (
                f"{op}: engines diverge on the injected-defect fixture"
            )
    finally:
        vcon.close()
