"""Declarative ETL pipeline runner — the engine's answer to the
reference's Airflow DAG (extract → transform → load → data-quality
gate), without an external scheduler.

A :class:`Pipeline` is a DAG of named stages; each stage is a function
of (SparkSession, context-dict) returning a value stored under its
name. Stages run in dependency (topological) order on the driver, while
all heavy lifting stays inside Spark plans — the runner never collects
datasets, it only sequences actions (writes, DQ gates).

``etl_star_pipeline`` is the end-to-end job: conform dims, build a
revenue fact, land it as year-partitioned Parquet (the lake layout that
enables partition pruning), re-read once, and serve an aggregate from the
mart — the full round trip a lake ETL performs per run.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_intraday_bidask_spark.functions.parity import exact_sum
from etl_intraday_bidask_spark.registry import register
from etl_intraday_bidask_spark.tables import load, scratch_dir

StageFn = Callable[[SparkSession, dict], object]


@dataclass
class Pipeline:
    """Minimal DAG of ETL stages with topological execution."""

    name: str
    _stages: dict[str, tuple[StageFn, tuple[str, ...]]] = field(
        default_factory=dict
    )

    def stage(
        self, name: str, *, depends_on: tuple[str, ...] = ()
    ) -> Callable[[StageFn], StageFn]:
        def deco(fn: StageFn) -> StageFn:
            if name in self._stages:
                raise ValueError(f"duplicate stage {name!r}")
            self._stages[name] = (fn, depends_on)
            return fn

        return deco

    def run(self, spark: SparkSession) -> dict:
        graph = {n: set(deps) for n, (_, deps) in self._stages.items()}
        ctx: dict = {}
        for name in TopologicalSorter(graph).static_order():
            fn, _ = self._stages[name]
            ctx[name] = fn(spark, ctx)
        return ctx


class DataQualityError(RuntimeError):
    """Raised when a pipeline's DQ gate fails; carries the failed rows."""


def build_star_pipeline(sf_dir: str, out_dir: str) -> Pipeline:
    pipe = Pipeline("star-etl")

    @pipe.stage("extract")
    def extract(spark: SparkSession, ctx: dict) -> dict[str, DataFrame]:
        return {
            name: load(spark, sf_dir, name)
            for name in ("orders", "lineitem", "customer", "nation", "region")
        }

    @pipe.stage("conform_dims", depends_on=("extract",))
    def conform_dims(spark: SparkSession, ctx: dict) -> DataFrame:
        t = ctx["extract"]
        return (
            t["customer"]
            .join(
                F.broadcast(t["nation"]),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
            .join(
                F.broadcast(t["region"]),
                F.col("n_regionkey") == F.col("r_regionkey"),
            )
            .select(
                "c_custkey",
                F.col("n_name").alias("nation"),
                F.col("r_name").alias("region"),
                "c_mktsegment",
            )
        )

    @pipe.stage("fact_revenue", depends_on=("extract", "conform_dims"))
    def fact_revenue(spark: SparkSession, ctx: dict) -> DataFrame:
        t = ctx["extract"]
        return (
            t["orders"]
            .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
            .join(
                F.broadcast(ctx["conform_dims"]),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .select(
                "o_orderkey",
                "nation",
                "region",
                "c_mktsegment",
                F.year("o_orderdate").alias("order_year"),
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).alias("net_revenue"),
            )
        )

    @pipe.stage("load_mart", depends_on=("fact_revenue",))
    def load_mart(spark: SparkSession, ctx: dict) -> str:
        path = os.path.join(out_dir, "fact_revenue")
        # Year partitioning == partition pruning for the dominant filter
        # dimension of the reference workload.
        ctx["fact_revenue"].write.mode("overwrite").partitionBy(
            "order_year"
        ).parquet(path)
        return path

    @pipe.stage("read_mart", depends_on=("fact_revenue", "load_mart"))
    def read_mart(spark: SparkSession, ctx: dict) -> DataFrame:
        # One read back, shared by the DQ gate and serving. The schema is
        # the written frame's in partition-discovery order (data columns,
        # then order_year), so no schema-inference job runs.
        written = ctx["fact_revenue"].schema
        schema = T.StructType(
            [f for f in written if f.name != "order_year"]
            + [written["order_year"]]
        )
        return spark.read.schema(schema).parquet(ctx["load_mart"])

    @pipe.stage("dq_gate", depends_on=("read_mart",))
    def dq_gate(spark: SparkSession, ctx: dict) -> DataFrame:
        report = ctx["read_mart"].agg(
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(F.col("net_revenue") < 0, 1)).alias("neg_revenue"),
            F.count(F.when(F.col("nation").isNull(), 1)).alias("null_nation"),
        )
        row = report.collect()[0]
        if row["rows"] == 0 or row["neg_revenue"] or row["null_nation"]:
            raise DataQualityError(f"DQ gate failed: {row.asDict()}")
        return report

    @pipe.stage("serve", depends_on=("read_mart", "dq_gate"))
    def serve(spark: SparkSession, ctx: dict) -> DataFrame:
        return (
            ctx["read_mart"].groupBy("region", "order_year")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                exact_sum("net_revenue", 10000).alias("revenue"),
            )
            .orderBy("region", "order_year")
        )

    return pipe


@register(
    "etl_star_pipeline",
    oracle_sql=None,  # round-trips through a parquet sink — rows-only.
    description="End-to-end lake ETL DAG (extract → conform dims → "
    "revenue fact → year-partitioned parquet mart → DQ gate → serve), "
    "the reference's Airflow-job shape run as one Spark pipeline.",
)
def etl_star_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir = scratch_dir("star_mart")
    pipe = build_star_pipeline(sf_dir, out_dir)
    ctx = pipe.run(spark)
    return ctx["serve"]


@register(
    "etl_docs_pipeline",
    oracle_sql="""
        WITH norm AS (
            SELECT doc_id, lang,
                   trim(regexp_replace(lower(text), ' +', ' ', 'g')) AS t
            FROM documents
        ),
        feat AS (
            SELECT doc_id, lang, md5(t) AS h,
                   CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(string_split(t, ' '),
                            s -> s IN ('the', 'a', 'join', 'hash', 'row')))
                        AS BIGINT) AS n_stop
            FROM norm
        ),
        quality AS (
            SELECT * FROM feat
            WHERE n_tokens >= 20 AND n_stop * 10 < n_tokens * 3
        ),
        unique_docs AS (
            SELECT lang, h, min(doc_id) AS keeper,
                   min(n_tokens) AS n_tokens
            FROM quality GROUP BY lang, h
        )
        SELECT f.lang,
               count(*) AS docs_in,
               CAST(count(*) FILTER (WHERE f.n_tokens >= 20
                                       AND f.n_stop * 10 < f.n_tokens * 3)
                    AS BIGINT) AS docs_quality,
               (SELECT count(*) FROM unique_docs u WHERE u.lang = f.lang)
                   AS docs_unique,
               (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
                FROM unique_docs u WHERE u.lang = f.lang)
                   AS tokens_kept
        FROM feat f
        GROUP BY f.lang
        ORDER BY f.lang
    """,
    description="End-to-end LLM training-data ingest pipeline over "
    "documents: normalize (lowercase, collapse whitespace, trim) -> "
    "quality gate (>=20 tokens, <30% stop-token ratio via exact "
    "cross-multiplied integers) -> exact dedup on the md5 content key "
    "(keep lowest doc_id) -> per-language survival report (docs in / "
    "passing quality / unique, tokens kept). One narrow projection, one "
    "(lang, hash) groupBy, one lang groupBy - at 100 TB the dedup "
    "shuffle carries distinct content keys only (map-side combine), the "
    "report is a tiny final aggregate, and each stage is the graded "
    "primitive (text_normalize_hash, text_quality_score, dedup_exact) "
    "composed into the DAG a real ingest run executes.",
)
def etl_docs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in ("the", "a", "join", "hash", "row")])
    t = F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " "))
    norm = docs.select("doc_id", "lang", t.alias("t"))
    toks = F.split("t", " ")
    feat = norm.select(
        "doc_id",
        "lang",
        F.md5("t").alias("h"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.filter(toks, lambda s: F.array_contains(stop_arr, s)))
        .cast("bigint")
        .alias("n_stop"),
    )
    is_quality = (F.col("n_stop") * 10 < F.col("n_tokens") * 3) & (
        F.col("n_tokens") >= 20
    )
    unique_docs = (
        feat.where(is_quality)
        .groupBy("lang", "h")
        .agg(
            F.min("doc_id").alias("keeper"),
            F.min("n_tokens").alias("n_tokens"),
        )
    )
    survived = unique_docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs_unique"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("bigint").alias(
            "tokens_kept"
        ),
    )
    report = feat.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(is_quality.cast("bigint")).cast("bigint").alias("docs_quality"),
    )
    return (
        report.join(F.broadcast(survived), "lang", "left")
        .select(
            "lang",
            "docs_in",
            "docs_quality",
            F.coalesce("docs_unique", F.lit(0)).alias("docs_unique"),
            F.coalesce("tokens_kept", F.lit(0)).alias("tokens_kept"),
        )
        .orderBy("lang")
    )
