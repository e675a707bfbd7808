"""Wave-G tests (operators/staged_r11.py).

``test_staged_r11_parity`` keeps this module's per-operator test IDs;
it calls the one registry parity check in tests/test_parity.py
and replays that check's verdict when it has already run.
"""

from __future__ import annotations

import pytest

from tests.test_parity import check_parity, module_ops


@pytest.mark.parametrize("name", module_ops("staged_r11"))
def test_staged_r11_parity(spark, duck_small, parity_verdicts, name):
    check_parity(spark, duck_small, parity_verdicts, name)
