"""Pins for tools/rule_exclusion_ab.py's rule-time profile parser.
Pure-python: no SparkSession needed."""

from __future__ import annotations

from tools.rule_exclusion_ab import rule_profile

DUMP = """\
=== Metrics of Analyzer/Optimizer Rules ===
Total number of runs: 100
Total time: 0.5 seconds

Rule                                                        Effective Time / Total Time                     Effective Runs / Total Runs

org.apache.spark.sql.execution.datasources.SchemaPruning            0 / 3000000                                   0 / 11
org.apache.spark.sql.execution.datasources.v2.SchemaPruning         0 / 2000000                                   0 / 7
org.apache.spark.sql.catalyst.optimizer.PruneFilters                5 / 1000000                                   1 / 11
"""


def test_same_short_name_candidates_are_profiled_apart():
    candidates = {
        "org.apache.spark.sql.execution.datasources.SchemaPruning",
        "org.apache.spark.sql.execution.datasources.v2.SchemaPruning",
    }
    profile, total_ns = rule_profile(DUMP, candidates)
    # Both candidates present: no spurious profile_incomplete abort.
    assert set(profile) == candidates
    assert profile[
        "org.apache.spark.sql.execution.datasources.v2.SchemaPruning"
    ] == {"total_ms": 2.0, "runs": 7, "effective_runs": 0}
    assert total_ns == 6_000_000
