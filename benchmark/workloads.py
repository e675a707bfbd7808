"""The benchmark's workloads: what each one runs, under which confs, and
how each operation's output is checked.

An *op* is one closed-loop client request: a call into the engine that
returns a materialised pandas frame. Each workload is a list of ops that
one pass runs; the seed permutes the op order inside every pass.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import pandas as pd

# The 11 headline queries of the engine's graded bench (bench.py).
HEADLINE = (
    "agg_pricing_summary",
    "join_broadcast_dims",
    "win_topk_per_group",
    "stream_tumbling_1h",
    "stream_session_30m",
    "agg_rollup",
    "json_get",
    "array_explode_tokens",
    "knn_cosine_topk",
    "join_asof_bidask",
    "text_tfidf_topk",
)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# DuckDB form of the star pipeline's ``serve`` stage, written from the
# pipeline's documented semantics (not taken from the engine): revenue
# per (region, order year) over orders x lineitem x customer's region.
STAR_SERVE_SQL = """
    SELECT r_name AS region,
           year(o_orderdate) AS order_year,
           count(*) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                         AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    # Parquet row-group size of the generated tables; None = one group.
    row_group_rows: int | None
    # shuffle partitions as a multiple of the core count, or absolute.
    shuffle_partitions: Callable[[int], int]
    # Runtime SQL confs set after session.build_spark(); nothing else.
    confs: dict[str, str] = field(default_factory=dict)
    kind: str = "headline"


WORKLOADS = {
    # bench.py's fixture-scale session: AQE off, 4 MB splits, 4 shuffle
    # partitions, single-row-group tables.
    "sf01_headline": Workload(
        name="sf01_headline",
        sf=0.1,
        row_group_rows=None,
        shuffle_partitions=lambda cpus: 4,
        confs={
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
        },
    ),
    # Engine defaults (AQE on), 8 MB splits, 2 x cpus shuffle partitions,
    # 100k-row row groups so scans split.
    "sf01_ingest": Workload(
        name="sf01_ingest",
        sf=0.1,
        row_group_rows=100_000,
        shuffle_partitions=lambda cpus: 2 * cpus,
        confs={"spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024)},
        kind="ingest",
    ),
}


@dataclass
class Op:
    """One request: ``run()`` returns the materialised result;
    ``oracle`` is the DuckDB SQL its rows must equal."""

    name: str
    run: Callable[[], pd.DataFrame]
    oracle: str
    # Spark-side DataFrame factory, for the traced run's layer split
    # (construct -> plan -> execute). None for eager ops.
    frame: Callable[[], object] | None = None


def headline_ops(spark, registry, fixture_dir: str) -> list[Op]:
    ops = []
    for name in HEADLINE:
        fn = registry[name].spark_fn

        def frame(fn=fn):
            return fn(spark, fixture_dir)

        ops.append(Op(
            name=name,
            run=lambda frame=frame: frame().toPandas(),
            oracle=registry[name].oracle_sql,
            frame=frame,
        ))
    return ops


def ingest_ops(spark, registry, fixture_dir: str, scratch: str) -> list[Op]:
    from etl_intraday_bidask_spark.plans.pipeline import build_star_pipeline
    from etl_intraday_bidask_spark.streaming import replay

    def star_etl() -> pd.DataFrame:
        out = tempfile.mkdtemp(prefix="mart_", dir=scratch)
        try:
            ctx = build_star_pipeline(fixture_dir, out).run(spark)
            return ctx["serve"].toPandas()
        finally:
            shutil.rmtree(out, ignore_errors=True)

    return [
        Op("star_etl", star_etl, STAR_SERVE_SQL),
        Op(
            "replay_session_30m",
            lambda: replay.stream_session_30m(spark, fixture_dir).toPandas(),
            registry["stream_session_30m"].oracle_sql,
        ),
        Op(
            "replay_tumbling_1h",
            lambda: replay.stream_tumbling_1h(spark, fixture_dir).toPandas(),
            registry["stream_tumbling_1h"].oracle_sql,
        ),
    ]


def make_ops(workload: Workload, spark, registry, fixture_dir, scratch):
    if workload.kind == "headline":
        return headline_ops(spark, registry, fixture_dir)
    return ingest_ops(spark, registry, fixture_dir, scratch)


class Oracle:
    """DuckDB over the same fixture files, with the engine's test-suite
    canonical form (order-insensitive, columns sorted by name)."""

    def __init__(self, fixture_dir: str):
        from tests.test_parity import normalize

        self._normalize = normalize
        self._con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(fixture_dir, f"{t}.parquet")
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def matches(self, op: Op, result: pd.DataFrame) -> bool:
        cur = self._con.execute(op.oracle)
        want = self._normalize(
            cur.fetchall(), [d[0] for d in cur.description]
        )
        got = self._normalize(_python_rows(result), list(result.columns))
        return got == want

    def close(self) -> None:
        self._con.close()


def _python_rows(frame: pd.DataFrame) -> list[tuple]:
    """Rows of a pandas frame as tuples of Python scalars, nulls as None
    (the form DuckDB's ``fetchall`` returns)."""
    cols = [
        frame[c].astype(object).where(frame[c].notna(), None).tolist()
        for c in frame.columns
    ]
    return list(zip(*cols))
