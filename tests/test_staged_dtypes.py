"""Dtype-kind parity for the wave D-H operators (operators/staged_r8..r12).

``test_staged_dtype_parity`` keeps this module's per-operator test IDs; it
calls the analysis-only dtype check of tests/test_parity.py, which also
covers embed_pca_top2_deflation in the default tier without executing it.
"""

from __future__ import annotations

import pytest

from tests.test_parity import REGISTRY, check_dtypes, module_ops

ORACLED = [
    n
    for n in module_ops(
        "staged_r8", "staged_r9", "staged_r10", "staged_r11", "staged_r12"
    )
    if REGISTRY[n].oracle_sql
]


@pytest.mark.parametrize("name", ORACLED)
def test_staged_dtype_parity(spark, duck_small, name):
    check_dtypes(spark, duck_small, name)
