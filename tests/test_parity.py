"""Oracle-parity tests: for every registered operator with an oracle,
run the PySpark plan and the DuckDB SQL on the same parquet fixtures and
assert column, dtype-kind, row-count and value equality — the same check
as the t2 grading gate, at sf0.001 for speed (SURVEY.md §5). Rows-only
operators must return at least one row.

:func:`check_parity` is the one parity check. The per-module test IDs in
``tests/test_staged_r*.py`` call it too and replay its session verdict.
"""

from __future__ import annotations

import math

import pytest

from etl_intraday_bidask_spark.registry import load_all_operators
from tests.conftest import SF_SMALL

REGISTRY = load_all_operators()

# ~320 s at sf0.001 on 4 cores, over 40% of this file's wall: battery tier
# only (pytest.ini), everything else runs in the default tier.
_BATTERY_ONLY = {"embed_pca_top2_deflation"}

HASH_CHECKED = [
    pytest.param(n, marks=pytest.mark.battery) if n in _BATTERY_ONLY else n
    for n in sorted(n for n, s in REGISTRY.items() if s.oracle_sql)
]
ROWS_ONLY = sorted(n for n, s in REGISTRY.items() if not s.oracle_sql)


def module_ops(*modules: str) -> list[str]:
    """Sorted registry keys whose ``spark_fn`` is defined in one of the
    named ``etl_intraday_bidask_spark.operators`` modules."""
    wanted = {f"etl_intraday_bidask_spark.operators.{m}" for m in modules}
    return sorted(
        n for n, s in REGISTRY.items() if s.spark_fn.__module__ in wanted
    )


def normalize(rows: list[tuple], colnames: list[str]) -> list[tuple]:
    """Order-insensitive, type-tolerant canonical form of a result set.

    Columns are sorted by name (the driver does the same before
    hashing), floats go through repr of a 4-dp-stable form, timestamps
    to isoformat.
    """
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def canon(v):
        if v is None:
            return "∅"
        if isinstance(v, bool):
            return f"b:{v}"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            # collapse -0.0 and .4f-stable representations
            return f"f:{v + 0.0:.10g}"
        if isinstance(v, int):
            return f"i:{v}"
        if hasattr(v, "isoformat"):
            return f"t:{v.isoformat()}"
        return f"s:{v}"

    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def run_spark(spark, name: str, sf_dir: str):
    df = REGISTRY[name].spark_fn(spark, sf_dir)
    return df.collect(), df.columns, dict(df.dtypes)


def duck_types(rel) -> dict[str, str]:
    return {c: str(t).upper() for c, t in zip(rel.columns, rel.types)}


def run_duck(con, name: str):
    rel = con.sql(REGISTRY[name].oracle_sql)
    return rel.fetchall(), list(rel.columns), duck_types(rel)


# Type *kind* each engine's result column materializes as once it reaches
# the driver's hasher (pandas-mediated): integers, floats, booleans,
# strings, timestamps. DuckDB HUGEINT deliberately maps to FLOAT kind —
# that is what pandas does to int128, and exactly how the driver caught
# dedup_simhash in round 1 while the old type-insensitive local gate
# stayed green. An oracle column typed HUGEINT is a policy violation
# (registry docstring: computed integer columns are cast to BIGINT).
_SPARK_KIND = {
    "bigint": "i", "int": "i", "smallint": "i", "tinyint": "i",
    "double": "f", "float": "f",
    "boolean": "b", "string": "s", "timestamp": "t", "timestamp_ntz": "t",
    "date": "d", "binary": "y",
}


def _duck_kind(t: str) -> str:
    if t in ("HUGEINT", "UHUGEINT"):
        return "f"  # pandas coerces int128 to float64 — driver-visible
    if t in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT",
             "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT"):
        return "i"
    if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
        return "f"
    if t == "BOOLEAN":
        return "b"
    if t == "VARCHAR":
        return "s"
    if t.startswith("TIMESTAMP"):
        return "t"
    if t == "DATE":
        return "d"
    if t == "BLOB":
        return "y"
    return t  # unmapped kinds must match verbatim


def assert_dtype_parity(name: str, s_types: dict, d_types: dict) -> None:
    huge = [c for c, t in d_types.items() if t in ("HUGEINT", "UHUGEINT")]
    assert not huge, (
        f"{name}: oracle columns {huge} are HUGEINT — cast to BIGINT in the "
        "oracle SQL (driver hash-fails on pandas int128→float64 coercion)"
    )
    for c in s_types:
        sk = _SPARK_KIND.get(s_types[c], s_types[c])
        dk = _duck_kind(d_types.get(c, "?"))
        assert sk == dk, (
            f"{name}.{c}: dtype kind differs: spark {s_types[c]} ({sk}) "
            f"vs duckdb {d_types.get(c)} ({dk})"
        )


def _check(spark, duck, name: str) -> None:
    s_rows, s_cols, s_types = run_spark(spark, name, SF_SMALL)
    if not REGISTRY[name].oracle_sql:
        assert s_cols, f"{name}: no columns"
        assert len(s_rows) >= 1, f"{name}: rows-only op returned no rows"
        return
    d_rows, d_cols, d_types = run_duck(duck, name)
    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column names differ: spark={s_cols} duckdb={d_cols}"
    )
    assert_dtype_parity(name, s_types, d_types)
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count differs: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    s_norm = normalize([tuple(r) for r in s_rows], s_cols)
    d_norm = normalize(d_rows, d_cols)
    mismatches = [
        (a, b) for a, b in zip(s_norm, d_norm) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first 3: {mismatches[:3]}"
    )


def check_parity(spark, duck, verdicts: dict, name: str) -> None:
    """Parity of registry key ``name`` at sf0.001: hash parity against its
    oracle, or at least one row for a rows-only op. ``verdicts`` (the
    session's ``parity_verdicts`` fixture) keeps the first run's outcome;
    a repeat call re-raises or passes on that outcome."""
    if name not in verdicts:
        try:
            _check(spark, duck, name)
        except Exception as exc:
            verdicts[name] = exc
        else:
            verdicts[name] = None
    if verdicts[name] is not None:
        raise verdicts[name]


def check_dtypes(spark, duck, name: str) -> None:
    """Dtype-kind parity of oracled key ``name`` from plan analysis alone
    (nothing executes)."""
    s_types = dict(REGISTRY[name].spark_fn(spark, SF_SMALL).dtypes)
    d_types = duck_types(duck.sql(REGISTRY[name].oracle_sql))
    assert sorted(s_types) == sorted(d_types), (
        f"{name}: column names differ: {sorted(s_types)} vs {sorted(d_types)}"
    )
    assert_dtype_parity(name, s_types, d_types)


@pytest.mark.parametrize("name", HASH_CHECKED)
def test_hash_parity(spark, duck_small, parity_verdicts, name):
    check_parity(spark, duck_small, parity_verdicts, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, duck_small, parity_verdicts, name):
    check_parity(spark, duck_small, parity_verdicts, name)


def test_hll_partial_merge_accuracy(spark, duck_small):
    """agg_hll_partial_merge is rows-only (DuckDB cannot reproduce the
    DataSketches estimator), so its accuracy is asserted here against
    the exact distinct counts: within the lgConfigK=12 standard-error
    envelope (~1.6%; 5% asserted for slack)."""
    rows, _, _ = run_spark(spark, "agg_hll_partial_merge", SF_SMALL)
    exact = dict(
        duck_small.execute(
            "SELECT event_type, count(DISTINCT user_id) "
            "FROM events GROUP BY 1"
        ).fetchall()
    )
    assert {r.event_type for r in rows} == set(exact)
    for r in rows:
        rel_err = abs(r.approx_users - exact[r.event_type]) / exact[r.event_type]
        assert rel_err < 0.05, (r.event_type, r.approx_users, exact[r.event_type])


def test_kll_quantile_merge_accuracy(spark, duck_small):
    """agg_kll_quantile_merge is rows-only; assert the merged-sketch
    quantiles sit within the KLL k=200 rank-error envelope (~1.65%)
    of the exact quantiles — 5 rank-percent slack asserted."""
    rows, _, _ = run_spark(spark, "agg_kll_quantile_merge", SF_SMALL)
    for r in rows:
        lo50, hi50, lo95, hi95 = duck_small.execute(
            "SELECT quantile_cont(value, 0.45), quantile_cont(value, 0.55),"
            "       quantile_cont(value, 0.90), quantile_cont(value, 1.00) "
            "FROM events WHERE event_type = ?",
            [r.event_type],
        ).fetchone()
        assert lo50 <= r.p50 <= hi50, (r.event_type, r.p50, lo50, hi50)
        assert lo95 <= r.p95 <= hi95, (r.event_type, r.p95, lo95, hi95)


def test_theta_audience_overlap_accuracy(spark, duck_small):
    """agg_theta_audience_overlap is rows-only; assert the set-algebra
    estimates are within 5% of the exact overlap counts."""
    rows, _, _ = run_spark(spark, "agg_theta_audience_overlap", SF_SMALL)
    (r,) = rows
    either, both, click_only = duck_small.execute(
        """
        SELECT (SELECT count(DISTINCT user_id) FROM events
                WHERE event_type IN ('click', 'purchase')),
               (SELECT count(*) FROM
                 (SELECT user_id FROM events WHERE event_type = 'click'
                  INTERSECT
                  SELECT user_id FROM events WHERE event_type = 'purchase')),
               (SELECT count(*) FROM
                 (SELECT user_id FROM events WHERE event_type = 'click'
                  EXCEPT
                  SELECT user_id FROM events WHERE event_type = 'purchase'))
        """
    ).fetchone()
    for est, exact in ((r.either, either), (r.both, both),
                       (r.click_only, click_only)):
        assert abs(est - exact) <= max(1, 0.05 * max(exact, 1)), (est, exact)
