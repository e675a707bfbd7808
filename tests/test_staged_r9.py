"""Wave-E tests (operators/staged_r9.py).

``test_staged_r9_parity`` keeps this module's per-operator test IDs;
it calls the one registry parity check in tests/test_parity.py
and replays that check's verdict when it has already run.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from tests.test_parity import REGISTRY, check_parity, module_ops


@pytest.mark.parametrize("name", module_ops("staged_r9"))
def test_staged_r9_parity(spark, duck_small, parity_verdicts, name):
    check_parity(spark, duck_small, parity_verdicts, name)


def test_metadata_size_audit_matches_filesystem(spark):
    """Pin the rows-only _metadata audit to ground truth: the reported
    file_bytes must equal the actual on-disk parquet size and n_rows
    the actual row count."""
    import os

    import duckdb

    rows = (
        REGISTRY["scan_metadata_size_audit"]
        .spark_fn(spark, SF_SMALL)
        .collect()
    )
    assert len(rows) == 1
    r = rows[0]
    path = os.path.join(SF_SMALL, "lineitem.parquet")
    assert r["file_bytes"] == os.path.getsize(path)
    con = duckdb.connect()
    n = con.sql(
        f"SELECT count(*) FROM read_parquet('{path}')"
    ).fetchone()[0]
    con.close()
    assert r["n_rows"] == n
