"""Structured Streaming twins of the event-time operators (SURVEY.md
§2.9, §3.3).

Each batch operator in ``operators/timeseries.py`` has a streaming
form here: the events table replayed through ``spark.readStream`` with
an event-time watermark, executed with ``trigger(availableNow=True)``
(finite replay, one or more micro-batches), landing in a memory sink.
Spark's unified model guarantees the accumulated complete/append output
equals the batch computation on the same finite input — asserted in
tests/test_streaming.py.

At production scale the same topology runs continuously: the file
source becomes Kafka/S3-landing, ``availableNow`` becomes a continuous
micro-batch trigger, and state (window aggregates, dedup keys) lives in
the executor state stores, bounded by the watermark.
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_intraday_bidask_spark.functions.parity import exact_avg, exact_sum
from etl_intraday_bidask_spark.tables import (
    ensure_session_confs,
    normalize_event_time,
    read_parquet,
    scratch_dir,
)


_STAGE_DIRS: dict[str, str] = {}


def _stage_dir(sf_dir: str) -> str:
    """The streaming file source requires a directory; the fixtures are
    single files. Stage a per-sf_dir temp directory holding a symlink to
    events.parquet (testdata is read-only, so no copy into it)."""
    if sf_dir not in _STAGE_DIRS:
        d = scratch_dir("events_stream")
        os.symlink(f"{sf_dir}/events.parquet", f"{d}/events.parquet")
        _STAGE_DIRS[sf_dir] = d
    return _STAGE_DIRS[sf_dir]


def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded stream with ts normalized to µs."""
    ensure_session_confs(spark)
    # Streaming sources need an explicit schema; take it from the batch
    # reader (the file's footer, no Spark job), then normalize ts from
    # whatever physical shape the fixture currently has (long nanos /
    # NTZ µs / tz µs) — same canonicalization as tables.load, derived
    # from the actual schema, not assumed.
    batch_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    raw = spark.readStream.schema(batch_schema).parquet(_stage_dir(sf_dir))
    return normalize_event_time(raw, "ts")


def _run_to_memory(df: DataFrame, output_mode: str) -> DataFrame:
    """Execute a finite availableNow replay into a memory sink and
    return the accumulated result as a batch DataFrame."""
    name = f"replay_{uuid.uuid4().hex[:12]}"
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", scratch_dir("ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    spark = df.sparkSession
    return spark.table(name)


def stream_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.timeseries.stream_tumbling_1h."""
    ev = _read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("value", 100).alias("sum_value"),
            exact_avg("value", 100).alias("avg_value"),
        )
        .select(
            F.unix_micros("w.start").alias("bucket_us"),
            "event_type",
            "n",
            "sum_value",
            "avg_value",
        )
    )
    return _run_to_memory(agg, "complete")


def stream_sliding_1h_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.timeseries.stream_sliding_1h_15m."""
    ev = _read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("value", 100).alias("sum_value"),
        )
        .select(
            F.unix_micros("w.start").alias("win_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "complete")


def stream_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.timeseries.stream_session_30m —
    stateful session_window aggregation under a watermark."""
    ev = _read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    agg = (
        ev.groupBy(
            F.col("user_id"), F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 100).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "complete")


def stream_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.timeseries.stream_ohlc_bars."""
    ev = _read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.count(F.lit(1)).alias("n"),
            exact_sum("value", 100).alias("volume"),
        )
        .select(
            F.unix_micros("w.start").alias("bucket_us"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n",
            "volume",
        )
    )
    return _run_to_memory(agg, "complete")


def stream_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup on event_id under a 1-hour watermark,
    summarized per event_type (twin of the batch rows-only operator)."""
    ev = _read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicates(["event_id"])
    out = _run_to_memory(
        deduped.select("event_id", "event_type"), "append"
    )
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique_events"))
        .orderBy("event_type")
    )


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.timeseries.stream_interval_join — a
    true stream-stream inner join: two watermarked streams over the same
    replayed source, joined on user_id with a 30-minute event-time bound.
    The time bound + watermarks let Spark evict join state; output mode
    is append (interval-join matches are final once the watermark
    passes)."""
    clicks = (
        _read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("cts"),
        )
        .withWatermark("cts", "1 hour")
    )
    purchases = (
        _read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_b"),
            F.col("ts").alias("pts"),
        )
        .withWatermark("pts", "1 hour")
    )
    j = clicks.join(
        purchases,
        F.expr(
            "user_id = user_b AND pts >= cts "
            "AND pts <= cts + interval 30 minutes"
        ),
    )
    out = j.select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("pts") - F.unix_micros("cts")).alias("lag_us"),
    )
    return _run_to_memory(out, "append")


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.timeseries.stream_static_enrich —
    stream-static join (static side broadcast each micro-batch) feeding
    a windowed aggregate."""
    from etl_intraday_bidask_spark.tables import load

    ev = _read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    agg = (
        ev.join(F.broadcast(cust), ev.user_id == F.col("c_custkey"))
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("c_nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("value", 100).alias("sum_value"),
        )
        .select(
            F.unix_micros("w.start").alias("bucket_us"),
            F.col("c_nationkey").alias("nationkey"),
            "n",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "complete")
