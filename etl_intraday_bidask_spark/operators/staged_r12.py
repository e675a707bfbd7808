"""Wave-H operators (SURVEY.md §2.34).

Built from the SURVEY §7 M12 candidate list (round-7 design note),
with revisions where the fixture made a candidate vacuous
(the corpus has no punctuation/digits/uppercase, no exact-duplicate
texts, and referential integrity holds — ops over those surfaces
either emit the positive form or were swapped for a candidate with
real signal; swaps are noted per-op).

Themes: SQL-surface semantics (DISTINCT ON emulation, NULLS
FIRST/LAST, EXISTS projection, DISTINCT listagg), window mechanics
(frame-exclude-current, k-from-end, data-driven reset islands,
sliding mode), nearest-key and range-dim joins, exact nonparametric
time series (Ljung-Box, Holt linear, Hurst R/S, variance ratio,
weekday medians), microstructure wave 4 (microprice, Lee-Ready,
effective/quoted, round-size clustering), corpus observability wave 5
(word-length profile, token Gini, RAKE-lite phrases, survivorship,
Heaps checkpoints, per-source quantiles), embeddings/ANN wave 4
(deflated PCA top-2, batched queries, int8 recall A/B, bucketed
hubness — the judge-requested scale-honest twin), bounded-graph SCC /
CC histogram / triangle participation, governance (t-closeness EMD,
SCD2 integrity, late-data impact, monotonic-ts audit, all-FK census,
typed schema drift), chained/union streaming twins, multimodal MIME
sniffing, block-bootstrap sampling, and source/sink surfaces
(binaryFile manifest, NDJSON partitioned sink, text-lines roundtrip,
decimal parquet roundtrip, partition file census).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_intraday_bidask_spark.functions.parity import scaled_long
from etl_intraday_bidask_spark.functions.vector import (
    int_dot,
    int_norm2,
    quantized,
)
from etl_intraday_bidask_spark.registry import register
from etl_intraday_bidask_spark.tables import load, scratch_dir

# ---------------------------------------------------------------------------
# SQL surface
# ---------------------------------------------------------------------------


@register(
    "sql_distinct_on_emulation",
    oracle_sql="""
        SELECT DISTINCT ON (o_custkey)
               o_custkey, o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_custkey, o_totalprice DESC, o_orderkey
    """,
    description="DISTINCT ON emulation: each customer's single "
    "top-price order (full tie-break on orderkey). DuckDB grades its "
    "native DISTINCT ON; Spark compiles the standard row_number pick "
    "— the exact rewrite every engine without DISTINCT ON uses, and "
    "the two must agree row-for-row BECAUSE the ORDER BY is a total "
    "order (drop the tie-break and DISTINCT ON becomes "
    "nondeterministic — the trap this op documents). Scale: one "
    "partitioned window, no global sort besides the bounded "
    "presentation order.",
)
def sql_distinct_on_emulation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "sql_order_by_all_nulls",
    oracle_sql="""
        WITH daily AS (
            SELECT event_type,
                   CAST(date_part('day', ts) AS BIGINT) AS dom,
                   CAST(sum(CASE WHEN CAST(json_extract_string(props,
                            '$.k') AS INT) > 90 THEN 1 END) AS BIGINT)
                       AS hot_n
            FROM events
            GROUP BY event_type, date_part('day', ts)
        )
        SELECT event_type, dom, hot_n,
               CAST(row_number() OVER (
                   ORDER BY hot_n ASC NULLS FIRST, event_type, dom
               ) AS BIGINT) AS rk_nulls_first,
               CAST(row_number() OVER (
                   ORDER BY hot_n ASC NULLS LAST, event_type, dom
               ) AS BIGINT) AS rk_nulls_last
        FROM daily
        ORDER BY event_type, dom
    """,
    description="NULLS FIRST vs NULLS LAST ordering census: the "
    "(event_type, day) grid's count of hot events (k > 90) is NULL "
    "on days where none occur (SUM over an empty CASE set), and each "
    "row is ranked under BOTH null placements — the pair of ranks "
    "pins the engines' null-ordering semantics against each other "
    "(ASC NULLS FIRST vs ASC NULLS LAST differ by exactly the NULL "
    "block size). Scale: the window input is the bounded 5x31 "
    "type-by-day grid, never the event stream.",
)
def sql_order_by_all_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.dayofmonth("ts").cast("long").alias("dom"),
    ).agg(
        F.sum(
            F.when(
                F.get_json_object("props", "$.k").cast("int") > 90, 1
            )
        )
        .cast("long")
        .alias("hot_n")
    )
    w_first = Window.orderBy(
        F.col("hot_n").asc_nulls_first(), "event_type", "dom"
    )
    w_last = Window.orderBy(
        F.col("hot_n").asc_nulls_last(), "event_type", "dom"
    )
    return daily.select(
        "event_type",
        "dom",
        "hot_n",
        F.row_number().over(w_first).cast("long").alias("rk_nulls_first"),
        F.row_number().over(w_last).cast("long").alias("rk_nulls_last"),
    ).orderBy("event_type", "dom")


@register(
    "sql_exists_flag_projection",
    oracle_sql="""
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CASE WHEN EXISTS (
                       SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_totalprice > 400000
                   ) THEN 1 ELSE 0 END) AS BIGINT) AS n_with_big_order
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    description="EXISTS as a PROJECTED expression aggregated into a "
    "census (per-segment share of customers holding a >$400k order) "
    "— the SELECT-list EXISTS that compiles to a mark join, here "
    "consumed by an aggregate rather than emitted per row "
    "(join_exists_flag_mark grades the row-level form). Spark builds "
    "the flag from a distinct-key left join — semantically the same "
    "mark join, chosen over a correlated subquery so the big-order "
    "key set reduces BEFORE joining. Scale: the flag-side distinct "
    "is a semi-join-sized aggregate on the filtered orders.",
)
def sql_exists_flag_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    big = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("bk"))
        .distinct()
    )
    return (
        cust.join(big, cust.c_custkey == F.col("bk"), "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.when(F.col("bk").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_with_big_order"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "sql_listagg_distinct_sorted",
    oracle_sql="""
        SELECT n.n_name,
               CAST(count(DISTINCT c.c_mktsegment) AS BIGINT)
                   AS n_segments,
               string_agg(DISTINCT c.c_mktsegment, ','
                          ORDER BY c.c_mktsegment) AS segments
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY n.n_name
    """,
    description="DISTINCT + explicitly ORDERED string aggregation per "
    "nation: which market segments a nation's customers span, as a "
    "canonical comma-joined string. DuckDB grades its native "
    "string_agg(DISTINCT ... ORDER BY); Spark composes "
    "array_join(array_sort(collect_set(...))) — the deterministic "
    "form, since bare collect_list order is partitioning-dependent "
    "(the agg_listagg_sorted lesson extended to DISTINCT). Scale: "
    "collect_set is bounded by the 5-value segment domain per group.",
)
def sql_listagg_distinct_sorted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    return (
        cust.join(
            F.broadcast(nat),
            cust.c_nationkey == nat.n_nationkey,
        )
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_mktsegment").cast("long").alias("n_segments"),
            F.array_join(
                F.array_sort(F.collect_set("c_mktsegment")), ","
            ).alias("segments"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Window mechanics
# ---------------------------------------------------------------------------


@register(
    "win_frame_exclude_current",
    oracle_sql="""
        SELECT event_id, user_id, cents,
               CASE WHEN n_frame > 1 THEN
                   CAST(s_frame - cents AS DOUBLE) / (n_frame - 1)
               END AS peer_avg_cents
        FROM (
            SELECT event_id, user_id,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   sum(CAST(round(value * 100) AS BIGINT)) OVER w AS s_frame,
                   count(*) OVER w AS n_frame
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        )
        ORDER BY event_id
    """,
    description="Frame-EXCLUDE-CURRENT-ROW emulation: each event's "
    "average over its +-3-row user neighborhood EXCLUDING itself — "
    "the leave-one-out local baseline anomaly scoring wants (a spike "
    "must not raise its own baseline). Spark has no EXCLUDE clause, "
    "so the op computes (frame_sum - current) / (frame_count - 1) "
    "from one inclusive frame — the standard rewrite, exact in "
    "integer cents with the single-row frame guarded to NULL (both "
    "engines' oracles use the SAME rewrite, so the identity is "
    "graded, not assumed). Scale: one user-partitioned window.",
)
def win_frame_exclude_current(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 3)
    )
    cents = scaled_long("value", 100)
    return (
        ev.select(
            "event_id",
            "user_id",
            cents.alias("cents"),
            F.sum(cents).over(w).alias("s_frame"),
            F.count(F.lit(1)).over(w).alias("n_frame"),
        )
        .select(
            "event_id",
            "user_id",
            "cents",
            F.when(
                F.col("n_frame") > 1,
                (F.col("s_frame") - F.col("cents")).cast("double")
                / (F.col("n_frame") - 1),
            ).alias("peer_avg_cents"),
        )
        .orderBy("event_id")
    )


@register(
    "win_nth_from_last",
    oracle_sql="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT)
                   AS last_cents,
               CAST(max(CASE WHEN rn_d = 2 THEN cents END) AS BIGINT)
                   AS second_last_cents
        FROM (
            SELECT user_id,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn_d,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        )
        GROUP BY user_id
        ORDER BY user_id
    """,
    description="k-th-from-END window pick: each user's last and "
    "second-to-last event value, via row_number over the REVERSED "
    "total order (ts DESC, event_id DESC) collapsed by a conditional "
    "aggregate — the standard way to address a partition from its "
    "end when the frame length is unknown (nth_value counts from the "
    "front; a FOLLOWING frame needs the end offset). Single-event "
    "users get NULL for the second slot — graded, not filtered. "
    "Scale: one user-partitioned window, then a same-key aggregate "
    "that reuses the window's partitioning (no second exchange).",
)
def win_nth_from_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    cents = scaled_long("value", 100)
    return (
        ev.select(
            "user_id",
            F.row_number().over(w).alias("rn_d"),
            cents.alias("cents"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max(F.when(F.col("rn_d") == 1, F.col("cents")))
            .cast("long")
            .alias("last_cents"),
            F.max(F.when(F.col("rn_d") == 2, F.col("cents")))
            .cast("long")
            .alias("second_last_cents"),
        )
        .orderBy("user_id")
    )


@register(
    "win_reset_running_sum",
    oracle_sql="""
        WITH marked AS (
            SELECT event_id, user_id, ts,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   CASE WHEN event_type = 'error' THEN 1 ELSE 0 END
                       AS reset
            FROM events
        ),
        islands AS (
            SELECT event_id, user_id, ts, cents, reset,
                   sum(reset) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS island
            FROM marked
        )
        SELECT event_id, user_id, CAST(island AS BIGINT) AS island,
               CAST(sum(CASE WHEN reset = 0 THEN cents ELSE 0 END)
                    OVER (PARTITION BY user_id, island
                          ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS running_cents
        FROM islands
        ORDER BY event_id
    """,
    description="Running sum with DATA-DRIVEN reset markers: per user, "
    "cumulative event value that resets to zero at every 'error' "
    "event — the two-level gaps-and-islands window (island id = "
    "running count of resets, then a running sum WITHIN island, with "
    "the reset row itself restarting at 0). The accumulator pattern "
    "behind session budgets, error-fenced totals, and counter "
    "registers that clear on fault. Scale: both windows share the "
    "user partitioning — one exchange, two sort-free cumulative "
    "passes (the second window's (user, island) keys are "
    "prefix-compatible with the first's order).",
)
def win_reset_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    marked = ev.select(
        "event_id",
        "user_id",
        "ts",
        scaled_long("value", 100).alias("cents"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias(
            "reset"
        ),
    )
    w_island = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = marked.select(
        "event_id",
        "user_id",
        "ts",
        "cents",
        "reset",
        F.sum("reset").over(w_island).alias("island"),
    )
    # The within-island accumulation visits rows in the SAME (ts,
    # event_id) order that defined the islands — with event_id alone,
    # an event_id not aligned with ts would make the 'running' sum
    # visit rows in a different order than the reset semantics imply
    # (round-8 ADVICE; fixtures are aligned, so values are unchanged).
    w_run = (
        Window.partitionBy("user_id", "island")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return islands.select(
        "event_id",
        "user_id",
        F.col("island").cast("long").alias("island"),
        F.sum(
            F.when(F.col("reset") == 0, F.col("cents")).otherwise(0)
        )
        .over(w_run)
        .cast("long")
        .alias("running_cents"),
    ).orderBy("event_id")


@register(
    "win_mode_sliding",
    oracle_sql="""
        WITH numbered AS (
            SELECT event_id, user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS rn
            FROM events
        ),
        frame_counts AS (
            SELECT a.user_id, a.event_id, b.event_type,
                   CAST(count(*) AS BIGINT) AS c
            FROM numbered a JOIN numbered b
              ON a.user_id = b.user_id
             AND b.rn BETWEEN a.rn - 4 AND a.rn
            GROUP BY a.user_id, a.event_id, b.event_type
        )
        SELECT user_id, event_id,
               min(event_type) FILTER (WHERE c = max_c) AS mode_type,
               CAST(max(max_c) AS BIGINT) AS mode_n
        FROM (
            SELECT user_id, event_id, event_type, c,
                   max(c) OVER (PARTITION BY user_id, event_id)
                       AS max_c
            FROM frame_counts
        )
        GROUP BY user_id, event_id
        ORDER BY event_id
    """,
    description="Sliding-window MODE: each event's modal event_type "
    "over the user's trailing 5 events, tie-broken lexicographically "
    "(smallest type wins) so the statistic is deterministic — bare "
    "mode() is engine-defined under ties, the trap this op pins. "
    "Spark computes it as a run-length fold over the sorted "
    "collect_list frame (the SCALE.md 23 house idiom: sort_array + "
    "aggregate with scalar-struct state, O(frame) and JVM-side); the "
    "oracle recomputes every frame by an explicit bounded self-join "
    "(rn BETWEEN rn-4 AND rn) + argmax — two independent "
    "formulations, one hash. Scale: the frame is a 5-row constant; "
    "everything partitions by user.",
)
def win_mode_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    frame = ev.select(
        "event_id",
        "user_id",
        F.sort_array(F.collect_list("event_type").over(w)).alias("fr"),
    )
    # Run-length fold over the sorted frame: state = (best_v, best_c,
    # cur_v, cur_c); ties resolve to the FIRST (lexicographically
    # smallest) value because a later equal count does not displace
    # the incumbent (strict > comparison).
    fold = F.expr(
        """
        aggregate(
            fr,
            named_struct('bv', CAST(NULL AS STRING), 'bc', 0L,
                         'cv', CAST(NULL AS STRING), 'cc', 0L),
            (s, x) -> CASE
                WHEN s.cv IS NULL OR s.cv != x THEN
                    named_struct(
                        'bv',
                        CASE WHEN s.cc > s.bc OR s.bv IS NULL
                             THEN s.cv ELSE s.bv END,
                        'bc',
                        CASE WHEN s.cc > s.bc OR s.bv IS NULL
                             THEN s.cc ELSE s.bc END,
                        'cv', x, 'cc', 1L)
                ELSE named_struct('bv', s.bv, 'bc', s.bc,
                                  'cv', s.cv, 'cc', s.cc + 1L) END,
            s -> named_struct(
                'mode_type',
                CASE WHEN s.cc > s.bc OR s.bv IS NULL
                     THEN s.cv ELSE s.bv END,
                'mode_n',
                CASE WHEN s.cc > s.bc OR s.bv IS NULL
                     THEN s.cc ELSE s.bc END)
        )
        """
    )
    return frame.select(
        "user_id",
        "event_id",
        fold.getField("mode_type").alias("mode_type"),
        fold.getField("mode_n").cast("long").alias("mode_n"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Relational / joins
# ---------------------------------------------------------------------------


@register(
    "join_tier_range_dim",
    oracle_sql="""
        WITH bands(tier, lo, hi) AS (
            VALUES ('T1_micro',      0,  10000000),
                   ('T2_small', 10000000,  20000000),
                   ('T3_mid',   20000000,  30000000),
                   ('T4_large', 30000000,  40000000),
                   ('T5_jumbo', 40000000, 9223372036854775807)
        )
        SELECT b.tier,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o.cents) AS BIGINT) AS sum_cents
        FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders) o
        JOIN bands b ON o.cents >= b.lo AND o.cents < b.hi
        GROUP BY b.tier
        ORDER BY b.tier
    """,
    description="Range-dim lookup join: orders banded into a 5-row "
    "VALUES dimension of [lo, hi) cent ranges via a broadcast "
    "NON-EQUI join — the tier/SLA/band lookup every BI layer does, "
    "exercised as an actual range JOIN rather than a CASE ladder "
    "because production band dims live in tables, not code. Scale: "
    "the dim is constant-size, so the nested-loop broadcast join is "
    "a map-side scan with 5 comparisons per row — the one shape "
    "where BroadcastNestedLoopJoin is the RIGHT plan; the bands are "
    "disjoint and total, so row multiplicity is exactly 1.",
)
def join_tier_range_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        scaled_long("o_totalprice", 100).alias("cents")
    )
    bands = spark.createDataFrame(
        [
            ("T1_micro", 0, 10000000),
            ("T2_small", 10000000, 20000000),
            ("T3_mid", 20000000, 30000000),
            ("T4_large", 30000000, 40000000),
            ("T5_jumbo", 40000000, 9223372036854775807),
        ],
        "tier string, lo long, hi long",
    )
    return (
        o.join(
            F.broadcast(bands),
            (F.col("cents") >= F.col("lo")) & (F.col("cents") < F.col("hi")),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .orderBy("tier")
    )


@register(
    "join_neighbors_below_above",
    oracle_sql="""
        WITH u AS (
            SELECT c_nationkey AS nk,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
                   0 AS side, c_custkey AS k
            FROM customer
            UNION ALL
            SELECT s_nationkey AS nk,
                   CAST(round(s_acctbal * 100) AS BIGINT) AS bal,
                   1 AS side, s_suppkey AS k
            FROM supplier
        ),
        marked AS (
            SELECT nk, bal, side, k,
                   max(CASE WHEN side = 0 THEN bal END) OVER (
                       PARTITION BY nk ORDER BY bal, side, k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS cust_below,
                   min(CASE WHEN side = 0 THEN bal END) OVER (
                       PARTITION BY nk ORDER BY bal, side, k
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ) AS cust_above
            FROM u
        )
        SELECT k AS s_suppkey, nk AS nation, bal AS supp_bal,
               CAST(cust_below AS BIGINT) AS cust_below,
               CAST(cust_above AS BIGINT) AS cust_above
        FROM marked WHERE side = 1
        ORDER BY s_suppkey
    """,
    description="Two-sided nearest-key join: for every supplier, the "
    "nearest customer account balance strictly positioned below and "
    "above it within the same nation (exact cents; suppliers sort "
    "after customers at equal balance, so an equal-balance customer "
    "counts as 'below'). Implemented as ONE union + two "
    "direction-opposed cumulative extrema over the same sort — the "
    "merge-scan shape of a sort-merge band join, never a per-row "
    "range probe. Scale: partitioned by nation (the business scope); "
    "each partition is a single linear scan.",
)
def join_neighbors_below_above(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"),
        scaled_long("c_acctbal", 100).alias("bal"),
        F.lit(0).alias("side"),
        F.col("c_custkey").alias("k"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk"),
        scaled_long("s_acctbal", 100).alias("bal"),
        F.lit(1).alias("side"),
        F.col("s_suppkey").alias("k"),
    )
    u = cust.unionByName(supp)
    w_below = (
        Window.partitionBy("nk")
        .orderBy("bal", "side", "k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_above = (
        Window.partitionBy("nk")
        .orderBy("bal", "side", "k")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    cust_bal = F.when(F.col("side") == 0, F.col("bal"))
    return (
        u.select(
            "nk",
            "bal",
            "side",
            "k",
            F.max(cust_bal).over(w_below).alias("cust_below"),
            F.min(cust_bal).over(w_above).alias("cust_above"),
        )
        .where(F.col("side") == 1)
        .select(
            F.col("k").alias("s_suppkey"),
            F.col("nk").alias("nation"),
            F.col("bal").alias("supp_bal"),
            F.col("cust_below").cast("long").alias("cust_below"),
            F.col("cust_above").cast("long").alias("cust_above"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "set_symmetric_diff_census",
    oracle_sql="""
        WITH flags AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       AS has_click,
                   max(CASE WHEN event_type = 'purchase' THEN 1
                       ELSE 0 END) AS has_purchase
            FROM events
            WHERE event_type IN ('click', 'purchase')
            GROUP BY user_id
        )
        SELECT CAST(sum(CASE WHEN has_click = 1 AND has_purchase = 0
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS click_only,
               CAST(sum(CASE WHEN has_click = 0 AND has_purchase = 1
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS purchase_only,
               CAST(sum(CASE WHEN has_click = 1 AND has_purchase = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS both_sides,
               CAST(sum(CASE WHEN has_click + has_purchase = 1
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS symmetric_diff
        FROM flags
    """,
    description="Symmetric difference with per-side provenance: the "
    "clicking-user set vs the purchasing-user set, decomposed into "
    "click-only / purchase-only / both — the audience-overlap "
    "census (EXCEPT gives one side and loses provenance; two "
    "EXCEPTs + INTERSECT rescan the input three times). One "
    "aggregation builds membership flags, a second folds the "
    "census — two map-reduced passes total, no joins. Scale: the "
    "flag table is user-grain (bounded by the entity universe).",
)
def set_symmetric_diff_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    flags = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("has_click"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("has_purchase"),
        )
    )
    return flags.agg(
        F.sum(
            F.when(
                (F.col("has_click") == 1) & (F.col("has_purchase") == 0), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("click_only"),
        F.sum(
            F.when(
                (F.col("has_click") == 0) & (F.col("has_purchase") == 1), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("purchase_only"),
        F.sum(
            F.when(
                (F.col("has_click") == 1) & (F.col("has_purchase") == 1), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("both_sides"),
        F.sum(
            F.when(F.col("has_click") + F.col("has_purchase") == 1, 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("symmetric_diff"),
    )


@register(
    "agg_kendall_tau_daily",
    oracle_sql="""
        WITH daily AS (
            SELECT CAST(date_part('day', ts) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS x,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS y
            FROM events WHERE event_type = 'purchase'
            GROUP BY date_part('day', ts)
        ),
        pairs AS (
            SELECT CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
                   CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS d,
                   CAST(sum(CASE WHEN a.x = b.x AND a.y != b.y
                                 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
                   CAST(sum(CASE WHEN a.y = b.y AND a.x != b.x
                                 THEN 1 ELSE 0 END) AS BIGINT) AS ty,
                   CAST(sum(CASE WHEN a.x = b.x AND a.y = b.y
                                 THEN 1 ELSE 0 END) AS BIGINT) AS txy,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM daily a JOIN daily b ON a.d < b.d
        )
        SELECT n_pairs, c, d, tx, ty, txy,
               CASE WHEN (c + d + tx) > 0 AND (c + d + ty) > 0 THEN
                   CAST(c - d AS DOUBLE)
                   / SQRT(CAST(c + d + tx AS DOUBLE)
                          * CAST(c + d + ty AS DOUBLE))
               END AS tau_b
        FROM pairs
    """,
    description="Kendall tau-b between daily purchase count and daily "
    "purchase volume, from EXACT concordant/discordant/tied pair "
    "counts over the bounded 30-day grid (a < b day self-join — "
    "at most 435 pairs regardless of data volume, because the "
    "pairing happens AFTER the daily reduction). tau-b's tie "
    "correction uses the pair-level tie counts directly "
    "(denominator sqrt((C+D+Tx)(C+D+Ty))), all integers until one "
    "final float chain, zero-denominator guarded to NULL. The "
    "rank-correlation companion to eval_spearman_value_vs_time, "
    "measuring a different monotonicity statistic.",
)
def agg_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.dayofmonth("ts").cast("long").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(scaled_long("value", 100)).cast("long").alias("y"),
        )
    )
    a = daily.alias("a")
    b = daily.alias("b")
    dx = F.col("a.x") - F.col("b.x")
    dy = F.col("a.y") - F.col("b.y")
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).agg(
        F.sum(F.when(dx * dy > 0, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(dx * dy < 0, 1).otherwise(0)).cast("long").alias("d"),
        F.sum(
            F.when((F.col("a.x") == F.col("b.x")) & (F.col("a.y") != F.col("b.y")), 1).otherwise(0)
        ).cast("long").alias("tx"),
        F.sum(
            F.when((F.col("a.y") == F.col("b.y")) & (F.col("a.x") != F.col("b.x")), 1).otherwise(0)
        ).cast("long").alias("ty"),
        F.sum(
            F.when((F.col("a.x") == F.col("b.x")) & (F.col("a.y") == F.col("b.y")), 1).otherwise(0)
        ).cast("long").alias("txy"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    tau = F.when(
        (F.col("c") + F.col("d") + F.col("tx") > 0)
        & (F.col("c") + F.col("d") + F.col("ty") > 0),
        (F.col("c") - F.col("d")).cast("double")
        / F.sqrt(
            (F.col("c") + F.col("d") + F.col("tx")).cast("double")
            * (F.col("c") + F.col("d") + F.col("ty")).cast("double")
        ),
    )
    return pairs.select(
        "n_pairs", "c", "d", "tx", "ty", "txy", tau.alias("tau_b")
    )


@register(
    "lineitem_charge_reconcile_ties",
    oracle_sql="""
        WITH paths AS (
            SELECT CAST(round(l_extendedprice * (1 - l_discount)
                              * (1 + l_tax) * 1000000) AS BIGINT)
                       AS one_shot,
                   CAST(round(CAST(round(l_extendedprice
                                         * (1 - l_discount) * 10000)
                                   AS BIGINT)
                              * (1 + l_tax) * 100) AS BIGINT)
                       AS staged
            FROM lineitem
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN one_shot != staged THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_diverging,
               CAST(sum(one_shot - staged) AS BIGINT) AS net_drift_1e6,
               CAST(max(abs(one_shot - staged)) AS BIGINT)
                   AS max_abs_drift_1e6
        FROM paths
    """,
    description="Charge-identity reconciliation at rounding "
    "boundaries: the 6-dp charge ext*(1-disc)*(1+tax) computed in "
    "ONE quantization vs computed in STAGES (round the discounted "
    "price to 4 dp first, then apply tax and round to 6 dp) — the "
    "two paths a pipeline and its BI layer typically take, and they "
    "genuinely diverge on rows where the intermediate rounding "
    "crosses a half boundary. The graded census (diverging rows, "
    "net and max drift in 1e-6 units) is the reconciliation report "
    "a finance close runs; both engines compute both paths with "
    "textually congruent rounding, so the DIVERGENCE ITSELF is "
    "hash-verified, not an accident. Scale: map-only + one reduce.",
)
def lineitem_charge_reconcile_ties(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    one_shot = scaled_long(disc * (1 + F.col("l_tax")), 1000000)
    staged_path = scaled_long(
        scaled_long(disc, 10000) * (1 + F.col("l_tax")), 100
    )
    paths = li.select(
        one_shot.alias("one_shot"), staged_path.alias("staged")
    )
    return paths.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("one_shot") != F.col("staged"), 1).otherwise(0))
        .cast("long")
        .alias("n_diverging"),
        F.sum(F.col("one_shot") - F.col("staged"))
        .cast("long")
        .alias("net_drift_1e6"),
        F.max(F.abs(F.col("one_shot") - F.col("staged")))
        .cast("long")
        .alias("max_abs_drift_1e6"),
    )


# ---------------------------------------------------------------------------
# Time series
# ---------------------------------------------------------------------------


@register(
    "ts_ljung_box_q",
    oracle_sql="""
        WITH daily AS (
            SELECT CAST(date_part('day', ts) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY date_part('day', ts)
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS s
            FROM daily
        ),
        led AS (
            SELECT d, x,
                   lead(x, 1) OVER (ORDER BY d) AS x1,
                   lead(x, 2) OVER (ORDER BY d) AS x2
            FROM daily
        ),
        gam AS (
            SELECT t.n,
                   CAST(sum((t.n * l.x - t.s) * (t.n * l.x - t.s))
                        AS BIGINT) AS g0,
                   CAST(sum(CASE WHEN l.x1 IS NOT NULL THEN
                        (t.n * l.x - t.s) * (t.n * l.x1 - t.s)
                        ELSE 0 END) AS BIGINT) AS g1,
                   CAST(sum(CASE WHEN l.x2 IS NOT NULL THEN
                        (t.n * l.x - t.s) * (t.n * l.x2 - t.s)
                        ELSE 0 END) AS BIGINT) AS g2
            FROM led l CROSS JOIN tot t
            GROUP BY t.n
        )
        SELECT n, g0, g1, g2,
               CASE WHEN g0 != 0 AND n > 2 THEN
                   n * (n + 2) * (
                       (CAST(g1 AS DOUBLE) / g0)
                       * (CAST(g1 AS DOUBLE) / g0) / (n - 1)
                       + (CAST(g2 AS DOUBLE) / g0)
                       * (CAST(g2 AS DOUBLE) / g0) / (n - 2))
               END AS ljung_box_q
        FROM gam
    """,
    description="Ljung-Box Q(2) on the daily event-count series: "
    "lag-1/lag-2 autocorrelations from EXACT integer autocovariance "
    "sums — centering by the rational mean is avoided by scaling "
    "each term to (n*x_i - S), which multiplies every gamma_k by "
    "n^2 and cancels in rho_k = g_k/g_0; Q = n(n+2)(rho1^2/(n-1) + "
    "rho2^2/(n-2)) is one float chain over three exact ints. The "
    "white-noise portmanteau test a forecast-residual pipeline "
    "gates on (corpus_ops' ACF ops feed the same algebra). Scale: "
    "the series is the bounded daily grid; the heavy reduce is the "
    "per-day count.",
)
def ts_ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.dayofmonth("ts").cast("long").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    w = Window.orderBy("d")
    led = daily.select(
        "d",
        "x",
        F.lead("x", 1).over(w).alias("x1"),
        F.lead("x", 2).over(w).alias("x2"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    cx = F.col("n") * F.col("x") - F.col("s")
    gam = (
        led.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.sum(cx * cx).cast("long").alias("g0"),
            F.sum(
                F.when(
                    F.col("x1").isNotNull(),
                    cx * (F.col("n") * F.col("x1") - F.col("s")),
                ).otherwise(0)
            )
            .cast("long")
            .alias("g1"),
            F.sum(
                F.when(
                    F.col("x2").isNotNull(),
                    cx * (F.col("n") * F.col("x2") - F.col("s")),
                ).otherwise(0)
            )
            .cast("long")
            .alias("g2"),
        )
    )
    rho1 = F.col("g1").cast("double") / F.col("g0")
    rho2 = F.col("g2").cast("double") / F.col("g0")
    return gam.select(
        "n",
        "g0",
        "g1",
        "g2",
        # n > 2 guard: on a degenerate 1-2 day grid the (n-1)/(n-2)
        # divisors hit zero — ANSI armor, same class as nullif.
        F.when(
            (F.col("g0") != 0) & (F.col("n") > 2),
            F.col("n")
            * (F.col("n") + 2)
            * (
                rho1 * rho1 / (F.col("n") - 1)
                + rho2 * rho2 / (F.col("n") - 2)
            ),
        ).alias("ljung_box_q"),
    )


@register(
    "ts_hurst_rs_daily",
    oracle_sql="""
        WITH daily AS (
            SELECT CAST(date_part('day', ts) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY date_part('day', ts)
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS s1,
                   CAST(sum(x * x) AS BIGINT) AS s2
            FROM daily
        ),
        cum AS (
            SELECT t.n, t.s1, t.s2,
                   sum(t.n * daily.x - t.s1) OVER (
                       ORDER BY daily.d ROWS UNBOUNDED PRECEDING
                   ) AS z
            FROM daily CROSS JOIN tot t
        )
        SELECT n,
               CAST(max(z) - min(z) AS BIGINT) AS r_scaled,
               CAST(max(n * s2 - s1 * s1) AS BIGINT) AS var_scaled,
               CASE WHEN max(n * s2 - s1 * s1) > 0 THEN
                   CAST(max(z) - min(z) AS DOUBLE)
                   / SQRT(CAST(max(n * s2 - s1 * s1) AS DOUBLE))
               END AS rs_statistic
        FROM cum GROUP BY n
    """,
    description="Hurst rescaled-range (R/S) statistic on the daily "
    "event-count series: cumulative deviations from the mean, their "
    "range R, over the population std S. Every intermediate is an "
    "exact integer by n-scaling — z_i = sum(n*x_j - S1) makes the "
    "mean-centering integral, and R/S = (max z - min z) / "
    "sqrt(n*S2 - S1^2) because the two n factors cancel — so the "
    "only float op is one final division+sqrt. Long-memory "
    "diagnostic (H > 0.5 = persistent flow) for the same series the "
    "ACF ops profile. Scale: bounded daily grid after the count "
    "reduce; the cumsum window input is 30 rows.",
)
def ts_hurst_rs_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.dayofmonth("ts").cast("long").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    wc = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.crossJoin(F.broadcast(tot)).select(
        "n",
        "s1",
        "s2",
        F.sum(F.col("n") * F.col("x") - F.col("s1")).over(wc).alias("z"),
    )
    var_scaled = F.max(
        F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    )
    return cum.groupBy("n").agg(
        (F.max("z") - F.min("z")).cast("long").alias("r_scaled"),
        var_scaled.cast("long").alias("var_scaled"),
        F.when(
            var_scaled > 0,
            (F.max("z") - F.min("z")).cast("double")
            / F.sqrt(var_scaled.cast("double")),
        ).alias("rs_statistic"),
    )


@register(
    "ts_variance_ratio_test",
    oracle_sql="""
        WITH daily AS (
            SELECT CAST(date_part('day', ts) AS BIGINT) AS d,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS x
            FROM events WHERE event_type = 'purchase'
            GROUP BY date_part('day', ts)
        ),
        diffs AS (
            SELECT d,
                   lead(x, 1) OVER (ORDER BY d) - x AS d1,
                   lead(x, 5) OVER (ORDER BY d) - x AS d5
            FROM daily
        ),
        m AS (
            SELECT CAST(count(d1) AS BIGINT) AS n1,
                   CAST(sum(d1) AS BIGINT) AS s1,
                   sum(CAST(d1 AS HUGEINT) * d1) AS q1,
                   CAST(count(d5) AS BIGINT) AS n5,
                   CAST(sum(d5) AS BIGINT) AS s5,
                   sum(CAST(d5 AS HUGEINT) * d5) AS q5
            FROM diffs
        )
        SELECT n1, s1, n5, s5,
               CAST((n1 * q1 - CAST(s1 AS HUGEINT) * s1) // 1000000
                    AS BIGINT) AS var1_scaled_div1e6,
               CAST((n5 * q5 - CAST(s5 AS HUGEINT) * s5) // 1000000
                    AS BIGINT) AS var5_scaled_div1e6,
               CASE WHEN n1 > 0 AND n5 > 0
                         AND (n1 * q1 - CAST(s1 AS HUGEINT) * s1) != 0
               THEN (CAST(n5 * q5 - CAST(s5 AS HUGEINT) * s5 AS DOUBLE)
                     / (CAST(n5 AS DOUBLE) * n5))
                    / (5.0 * CAST(n1 * q1 - CAST(s1 AS HUGEINT) * s1
                                  AS DOUBLE) / (CAST(n1 AS DOUBLE) * n1))
               END AS variance_ratio_q5
        FROM m
    """,
    description="Lo-MacKinlay variance-ratio VR(5) on the daily "
    "purchase-volume series: the population variance of overlapping "
    "5-day differences over 5x the 1-day difference variance — "
    "VR near 1 is a random walk, below 1 mean-reversion, above 1 "
    "trending. Both variances come from exact integer power sums of "
    "the difference series (cent sums squared exceed int64, so the "
    "quadratic terms accumulate in 128-bit and the graded scaled "
    "variances are emitted div 1e6); the ratio is one float chain. "
    "Scale: bounded daily grid after the volume reduce.",
)
def ts_variance_ratio_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.dayofmonth("ts").cast("long").alias("d"))
        .agg(F.sum(scaled_long("value", 100)).cast("long").alias("x"))
    )
    w = Window.orderBy("d")
    diffs = daily.select(
        (F.lead("x", 1).over(w) - F.col("x")).alias("d1"),
        (F.lead("x", 5).over(w) - F.col("x")).alias("d5"),
    )
    dec = "decimal(38,0)"
    m = diffs.agg(
        F.count("d1").cast("long").alias("n1"),
        F.sum("d1").cast("long").alias("s1"),
        F.sum(F.col("d1").cast(dec) * F.col("d1").cast(dec)).alias("q1"),
        F.count("d5").cast("long").alias("n5"),
        F.sum("d5").cast("long").alias("s5"),
        F.sum(F.col("d5").cast(dec) * F.col("d5").cast(dec)).alias("q5"),
    )
    v1 = F.col("n1").cast(dec) * F.col("q1") - F.col("s1").cast(
        dec
    ) * F.col("s1")
    v5 = F.col("n5").cast(dec) * F.col("q5") - F.col("s5").cast(
        dec
    ) * F.col("s5")
    return m.select(
        "n1",
        "s1",
        "n5",
        "s5",
        F.expr(
            "CAST((n1 * q1 - CAST(s1 AS decimal(38,0)) * s1)"
            " div 1000000 AS BIGINT)"
        ).alias("var1_scaled_div1e6"),
        F.expr(
            "CAST((n5 * q5 - CAST(s5 AS decimal(38,0)) * s5)"
            " div 1000000 AS BIGINT)"
        ).alias("var5_scaled_div1e6"),
        F.when(
            (F.col("n1") > 0) & (F.col("n5") > 0) & (v1 != 0),
            (
                v5.cast("double")
                / (F.col("n5").cast("double") * F.col("n5"))
            )
            / (
                F.lit(5.0)
                * v1.cast("double")
                / (F.col("n1").cast("double") * F.col("n1"))
            ),
        ).alias("variance_ratio_q5"),
    )


@register(
    "ts_holt_linear_fold",
    oracle_sql="""
        WITH RECURSIVE daily AS (
            SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
                   CAST(x AS DOUBLE) AS x,
                   CAST(count(*) OVER () AS BIGINT) AS n
            FROM (
                SELECT CAST(date_part('day', ts) AS BIGINT) AS d,
                       CAST(sum(CAST(round(value * 100) AS BIGINT))
                            AS BIGINT) AS x
                FROM events WHERE event_type = 'purchase'
                GROUP BY date_part('day', ts)
            )
        ),
        it AS (
            SELECT 2 AS t,
                   (SELECT x FROM daily WHERE t = 2) AS l,
                   (SELECT x FROM daily WHERE t = 2)
                   - (SELECT x FROM daily WHERE t = 1) AS b
            UNION ALL
            SELECT d.t,
                   0.5 * d.x + 0.5 * (it.l + it.b),
                   0.5 * (0.5 * d.x + 0.5 * (it.l + it.b) - it.l)
                   + 0.5 * it.b
            FROM it JOIN daily d ON d.t = it.t + 1
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days,
               max(CASE WHEN it.t = d.n THEN it.l END) AS level,
               max(CASE WHEN it.t = d.n THEN it.b END) AS trend,
               max(CASE WHEN it.t = d.n THEN it.l + it.b END)
                   AS forecast_1
        FROM it CROSS JOIN (SELECT max(n) AS n FROM daily) d(n)
    """,
    description="Holt linear (double exponential) smoothing of the "
    "daily purchase-volume series with DYADIC alpha = beta = 0.5 — "
    "every level/trend value is a dyadic rational of exact integer "
    "cents, so ~30 halvings stay bit-exact in IEEE doubles on both "
    "engines with NO rounding policy needed (the reason 0.5 was "
    "chosen over 0.3). Standard init (l = x2, b = x2 - x1 — "
    "algebraically what the t=2 update produces from l1 = x1), then "
    "the textbook recurrences. Spark runs the recurrence as an "
    "ordered-array fold (sort_array + aggregate — the SCALE.md 23 "
    "idiom); the oracle is an independent RECURSIVE CTE — two "
    "formulations, one hash. Scale: the series is the bounded daily "
    "grid; the fold is driver-free and single-row.",
)
def ts_holt_linear_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.dayofmonth("ts").cast("long").alias("d"))
        .agg(F.sum(scaled_long("value", 100)).cast("long").alias("x"))
    )
    series = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.transform(
            F.sort_array(
                F.collect_list(F.struct(F.col("d"), F.col("x")))
            ),
            lambda s: s.getField("x").cast("double"),
        ).alias("xs"),
    )
    fold = F.expr(
        """
        aggregate(
            slice(xs, 3, greatest(size(xs) - 2, 0)),
            named_struct('l', xs[1], 'b', xs[1] - xs[0]),
            (s, x) -> named_struct(
                'l', 0.5D * x + 0.5D * (s.l + s.b),
                'b', 0.5D * (0.5D * x + 0.5D * (s.l + s.b) - s.l)
                     + 0.5D * s.b),
            s -> s)
        """
    )
    # Degenerate-series guard (round-8 review): with < 2 days the
    # init's xs[1] is an out-of-bounds ANSI error on Spark while the
    # oracle's recursive CTE yields NULLs — gate the fold so both
    # engines emit NULL level/trend/forecast.
    ok = F.col("n_days") >= 2
    return series.select(
        "n_days",
        F.when(ok, fold.getField("l")).alias("level"),
        F.when(ok, fold.getField("b")).alias("trend"),
        F.when(
            ok, fold.getField("l") + fold.getField("b")
        ).alias("forecast_1"),
    )


@register(
    "ts_subseries_median_profile",
    oracle_sql="""
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(date_part('dow', min(ts)) + 1 AS BIGINT)
                       AS weekday,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY date_trunc('day', ts)
        ),
        ranked AS (
            SELECT weekday, x,
                   CAST(row_number() OVER (PARTITION BY weekday
                       ORDER BY x, day) AS BIGINT) AS rn,
                   CAST(count(*) OVER (PARTITION BY weekday) AS BIGINT)
                       AS n
            FROM daily
        )
        SELECT weekday,
               CAST(max(n) AS BIGINT) AS n_days,
               CAST(sum(CASE WHEN rn = (n + 1) // 2
                             OR rn = (n + 2) // 2
                        THEN x ELSE 0 END) AS DOUBLE)
               / count(CASE WHEN rn = (n + 1) // 2
                            OR rn = (n + 2) // 2 THEN 1 END)
                   AS median_daily_events
        FROM ranked
        GROUP BY weekday
        ORDER BY weekday
    """,
    description="Seasonal-subseries median profile: the MEDIAN daily "
    "event count per weekday — the robust seasonality view a mean "
    "profile (events_seasonality_profile's cousin) distorts under "
    "outlier days. The median is computed by explicit rank "
    "arithmetic — rows (n+1) div 2 and (n+2) div 2 of each weekday's "
    "sorted subseries, averaged — because builtin median()/"
    "percentile() interpolation conventions are engine-defined; the "
    "explicit form is one identical integer formula on both sides "
    "(even-count halves are dyadic, hence exact). Scale: the window "
    "partitions over the 7-row weekday grid after the daily reduce.",
)
def ts_subseries_median_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.dayofweek(F.min("ts")).cast("long").alias("weekday"),
        F.count(F.lit(1)).cast("long").alias("x"),
    )
    w = Window.partitionBy("weekday").orderBy("x", "day")
    ranked = daily.select(
        "weekday",
        "x",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("weekday"))
        .cast("long")
        .alias("n"),
    )
    mid = (F.col("rn") == F.expr("(n + 1) div 2")) | (
        F.col("rn") == F.expr("(n + 2) div 2")
    )
    return (
        ranked.groupBy("weekday")
        .agg(
            F.max("n").cast("long").alias("n_days"),
            (
                F.sum(F.when(mid, F.col("x")).otherwise(0)).cast("double")
                / F.count(F.when(mid, F.lit(1)))
            ).alias("median_daily_events"),
        )
        .orderBy("weekday")
    )


# ---------------------------------------------------------------------------
# Bid/ask microstructure (wave 4)
# ---------------------------------------------------------------------------


@register(
    "bidask_microprice_deviation",
    oracle_sql="""
        WITH t AS (
            SELECT epoch_us(date_trunc('hour', ts)) AS h,
                   CAST(round(value * 100) AS BIGINT) AS c
            FROM events WHERE event_type = 'purchase'
        ),
        ext AS (
            SELECT h, c,
                   min(c) OVER (PARTITION BY h) AS lo,
                   max(c) OVER (PARTITION BY h) AS hi
            FROM t
        )
        SELECT CAST(h AS BIGINT) AS bucket_us,
               CAST(max(lo) AS BIGINT) AS lo_cents,
               CAST(max(hi) AS BIGINT) AS hi_cents,
               CAST(sum(CASE WHEN 2 * c < lo + hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_below_mid,
               CAST(sum(CASE WHEN 2 * c > lo + hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_above_mid,
               CASE WHEN sum(CASE WHEN 2 * c != lo + hi THEN 1
                             ELSE 0 END) > 0 THEN
                   CAST(max(lo)
                        * sum(CASE WHEN 2 * c > lo + hi THEN 1
                              ELSE 0 END)
                        + max(hi)
                        * sum(CASE WHEN 2 * c < lo + hi THEN 1
                              ELSE 0 END) AS DOUBLE)
                   / (sum(CASE WHEN 2 * c != lo + hi THEN 1 ELSE 0 END))
                   - CAST(max(lo) + max(hi) AS DOUBLE) / 2.0
               END AS microprice_dev_cents
        FROM ext GROUP BY h
        ORDER BY bucket_us
    """,
    description="Microprice deviation per hour: with the hour's "
    "low/high as bid/ask and the below-mid/above-mid trade counts as "
    "bid/ask depth, the size-weighted microprice (lo*n_above + "
    "hi*n_below)/(n_below+n_above) minus the plain midpoint — "
    "positive deviation = depth sits below the mid so the 'fair' "
    "price leans toward the ask, the order-flow-imbalance reading "
    "the L2 book ops make from synthetic depth. Exact integer "
    "numerators; one final float chain; hours where every trade "
    "prints AT the mid have no depth and grade NULL (guarded "
    "identically on both engines). Scale: one hour-partitioned "
    "window + the hour-grain aggregate.",
)
def bidask_microprice_deviation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    t = ev.where(F.col("event_type") == "purchase").select(
        F.unix_micros(F.date_trunc("hour", "ts")).alias("h"),
        scaled_long("value", 100).alias("c"),
    )
    wh = Window.partitionBy("h")
    ext = t.select(
        "h",
        "c",
        F.min("c").over(wh).alias("lo"),
        F.max("c").over(wh).alias("hi"),
    )
    below = F.sum(
        F.when(2 * F.col("c") < F.col("lo") + F.col("hi"), 1).otherwise(0)
    )
    above = F.sum(
        F.when(2 * F.col("c") > F.col("lo") + F.col("hi"), 1).otherwise(0)
    )
    offmid = F.sum(
        F.when(2 * F.col("c") != F.col("lo") + F.col("hi"), 1).otherwise(0)
    )
    return (
        ext.groupBy("h")
        .agg(
            F.max("lo").cast("long").alias("lo_cents"),
            F.max("hi").cast("long").alias("hi_cents"),
            below.cast("long").alias("n_below_mid"),
            above.cast("long").alias("n_above_mid"),
            F.when(
                offmid > 0,
                (
                    F.max("lo") * above + F.max("hi") * below
                ).cast("double")
                / offmid
                - (F.max("lo") + F.max("hi")).cast("double") / 2.0,
            ).alias("microprice_dev_cents"),
        )
        .select(
            F.col("h").cast("long").alias("bucket_us"),
            "lo_cents",
            "hi_cents",
            "n_below_mid",
            "n_above_mid",
            "microprice_dev_cents",
        )
        .orderBy("bucket_us")
    )


@register(
    "bidask_lee_ready_classify",
    oracle_sql="""
        WITH t AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
                   epoch_us(date_trunc('hour', ts)) AS h,
                   ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS c
            FROM events WHERE event_type = 'purchase'
        ),
        hourly AS (
            SELECT h, min(c) + max(c) AS mid2
            FROM t GROUP BY h
        ),
        prevmid AS (
            SELECT h, lag(mid2) OVER (ORDER BY h) AS pmid2
            FROM hourly
        ),
        signed AS (
            SELECT t.c, p.pmid2,
                   lag(t.c) OVER (PARTITION BY t.d
                                  ORDER BY t.ts, t.event_id) AS pc
            FROM t JOIN prevmid p ON t.h = p.h
        )
        SELECT method, CAST(sign AS BIGINT) AS sign,
               CAST(count(*) AS BIGINT) AS n_trades
        FROM (
            SELECT CASE
                       WHEN pmid2 IS NOT NULL AND 2 * c != pmid2
                           THEN 'midpoint'
                       WHEN pc IS NOT NULL AND c != pc THEN 'tick'
                       ELSE 'none' END AS method,
                   CASE
                       WHEN pmid2 IS NOT NULL AND 2 * c > pmid2 THEN 1
                       WHEN pmid2 IS NOT NULL AND 2 * c < pmid2 THEN -1
                       WHEN pc IS NOT NULL AND c > pc THEN 1
                       WHEN pc IS NOT NULL AND c < pc THEN -1
                       ELSE 0 END AS sign
            FROM signed
        )
        GROUP BY method, sign
        ORDER BY method, sign
    """,
    description="Lee-Ready trade classification census: each trade "
    "signs by the MIDPOINT test against the previous hour's "
    "(min+max)/2 quote proxy (kept as mid*2 so no half ever "
    "materializes), falling back to the TICK rule (vs the previous "
    "same-day trade) when the trade prints exactly at the mid or no "
    "prior mid exists, and 'none' when both tests are uninformative "
    "— the graded output is the method x sign census, i.e. how "
    "often the fallback actually fires (the operational question "
    "about Lee-Ready). Scale: the mid table is the bounded hourly "
    "grid; the tick lag partitions by day (volume-clock shape).",
)
def bidask_lee_ready_classify(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    t = ev.where(F.col("event_type") == "purchase").select(
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
        F.unix_micros(F.date_trunc("hour", "ts")).alias("h"),
        "ts",
        "event_id",
        scaled_long("value", 100).alias("c"),
    )
    hourly = t.groupBy("h").agg(
        (F.min("c") + F.max("c")).alias("mid2")
    )
    prevmid = hourly.select(
        "h", F.lag("mid2").over(Window.orderBy("h")).alias("pmid2")
    )
    wd = Window.partitionBy("d").orderBy("ts", "event_id")
    signed = t.join(F.broadcast(prevmid), "h").select(
        "c",
        "pmid2",
        F.lag("c").over(wd).alias("pc"),
    )
    method = (
        F.when(
            F.col("pmid2").isNotNull()
            & (2 * F.col("c") != F.col("pmid2")),
            "midpoint",
        )
        .when(
            F.col("pc").isNotNull() & (F.col("c") != F.col("pc")), "tick"
        )
        .otherwise("none")
    )
    sign = (
        F.when(
            F.col("pmid2").isNotNull() & (2 * F.col("c") > F.col("pmid2")),
            1,
        )
        .when(
            F.col("pmid2").isNotNull() & (2 * F.col("c") < F.col("pmid2")),
            -1,
        )
        .when(F.col("pc").isNotNull() & (F.col("c") > F.col("pc")), 1)
        .when(F.col("pc").isNotNull() & (F.col("c") < F.col("pc")), -1)
        .otherwise(0)
    )
    return (
        signed.select(
            method.alias("method"), sign.cast("long").alias("sign")
        )
        .groupBy("method", "sign")
        .agg(F.count(F.lit(1)).cast("long").alias("n_trades"))
        .orderBy("method", "sign")
    )


@register(
    "bidask_effective_over_quoted",
    oracle_sql="""
        WITH t AS (
            SELECT epoch_us(date_trunc('hour', ts)) AS h,
                   CAST(round(value * 100) AS BIGINT) AS c
            FROM events WHERE event_type = 'purchase'
        ),
        ext AS (
            SELECT h, c,
                   min(c) OVER (PARTITION BY h) AS lo,
                   max(c) OVER (PARTITION BY h) AS hi
            FROM t
        )
        SELECT CAST(h AS BIGINT) AS bucket_us,
               CAST(count(*) AS BIGINT) AS n_trades,
               CAST(max(hi) - max(lo) AS BIGINT) AS quoted_cents,
               CAST(sum(abs(2 * c - (lo + hi))) AS BIGINT)
                   AS eff_sum_x2,
               CAST(sum(abs(2 * c - (lo + hi))) * 10000
                    // nullif(count(*) * 2 * (max(hi) - max(lo)), 0)
                    AS BIGINT) AS eff_over_quoted_bp
        FROM ext GROUP BY h
        ORDER BY bucket_us
    """,
    description="Effective-over-quoted spread ratio per hour: the "
    "average effective spread 2*|price - mid| (kept doubled so the "
    "mid never materializes as a half) over the quoted spread "
    "(hi - lo), in exact floor basis points — under 10000 bp means "
    "trades execute INSIDE the quote (price improvement), the "
    "standard execution-quality metric. Degenerate one-price hours "
    "(quoted = 0) grade NULL via the nullif guard on both engines. "
    "Scale: hour-partitioned window + hour-grain aggregate, exact "
    "integers throughout.",
)
def bidask_effective_over_quoted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    t = ev.where(F.col("event_type") == "purchase").select(
        F.unix_micros(F.date_trunc("hour", "ts")).alias("h"),
        scaled_long("value", 100).alias("c"),
    )
    wh = Window.partitionBy("h")
    ext = t.select(
        "h",
        "c",
        F.min("c").over(wh).alias("lo"),
        F.max("c").over(wh).alias("hi"),
    )
    return (
        ext.groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            (F.max("hi") - F.max("lo")).cast("long").alias("quoted_cents"),
            F.sum(F.abs(2 * F.col("c") - (F.col("lo") + F.col("hi"))))
            .cast("long")
            .alias("eff_sum_x2"),
            F.expr(
                "CAST(sum(abs(2 * c - (lo + hi))) * 10000"
                " div nullif(count(1) * 2 * (max(hi) - max(lo)), 0)"
                " AS BIGINT)"
            ).alias("eff_over_quoted_bp"),
        )
        .select(
            F.col("h").cast("long").alias("bucket_us"),
            "n_trades",
            "quoted_cents",
            "eff_sum_x2",
            "eff_over_quoted_bp",
        )
        .orderBy("bucket_us")
    )


@register(
    "bidask_round_size_clustering",
    oracle_sql="""
        SELECT CAST(date_part('hour', ts) AS BIGINT) AS hod,
               CAST(count(*) AS BIGINT) AS n_trades,
               CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT)
                             % 100 = 0 THEN 1 ELSE 0 END) * 10000
                    // count(*) AS BIGINT) AS whole_dollar_bp,
               CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT)
                             % 500 = 0 THEN 1 ELSE 0 END) * 10000
                    // count(*) AS BIGINT) AS five_dollar_bp,
               CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT)
                             % 1000 = 0 THEN 1 ELSE 0 END) * 10000
                    // count(*) AS BIGINT) AS ten_dollar_bp
        FROM events WHERE event_type = 'purchase'
        GROUP BY date_part('hour', ts)
        ORDER BY hod
    """,
    description="Round-size clustering by hour-of-day: the share of "
    "purchase values landing exactly on whole-dollar / $5 / $10 "
    "grids, in floor basis points — human order flow clusters on "
    "round numbers while algorithmic flow does not, so the intraday "
    "profile of roundness is a classic flow-composition indicator "
    "(and a unit-mix-up detector: a sudden 10000 bp hour means "
    "someone started writing dollars, not cents). All modular "
    "arithmetic on exact cent integers (cents are non-negative, so "
    "Spark pmod and %% agree with DuckDB %%). Scale: map-only + one "
    "bounded 24-row aggregate.",
)
def bidask_round_size_clustering(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    c = scaled_long("value", 100)
    return (
        ev.where(F.col("event_type") == "purchase")
        .select(F.hour("ts").cast("long").alias("hod"), c.alias("c"))
        .groupBy("hod")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            F.expr(
                "CAST(sum(CASE WHEN c % 100 = 0 THEN 1 ELSE 0 END)"
                " * 10000 div count(1) AS BIGINT)"
            ).alias("whole_dollar_bp"),
            F.expr(
                "CAST(sum(CASE WHEN c % 500 = 0 THEN 1 ELSE 0 END)"
                " * 10000 div count(1) AS BIGINT)"
            ).alias("five_dollar_bp"),
            F.expr(
                "CAST(sum(CASE WHEN c % 1000 = 0 THEN 1 ELSE 0 END)"
                " * 10000 div count(1) AS BIGINT)"
            ).alias("ten_dollar_bp"),
        )
        .orderBy("hod")
    )


# ---------------------------------------------------------------------------
# Text / corpus observability (wave 5)
# ---------------------------------------------------------------------------


@register(
    "text_word_length_profile",
    oracle_sql="""
        WITH tok AS (
            SELECT lang, unnest(string_split(text, ' ')) AS t
            FROM documents
        )
        SELECT lang, CAST(length(t) AS BIGINT) AS word_len,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT t) AS BIGINT) AS n_distinct,
               CAST(count(*) * 10000 // (sum(count(*)) OVER
                    (PARTITION BY lang)) AS BIGINT) AS share_bp
        FROM tok WHERE t != ''
        GROUP BY lang, length(t)
        ORDER BY lang, word_len
    """,
    description="Word-length profile per language: token counts, "
    "distinct vocabulary, and share (floor bp) per character length "
    "— the morphology fingerprint that separates scripts and "
    "catches tokenizer regressions (a CJK corpus whose mean word "
    "length jumps to 8 got word-split wrong). Stage-time swap: the "
    "M12 candidate text_sentence_length_profile is vacuous on this "
    "corpus (no terminal punctuation — every doc is one 'sentence'),"
    " so the profile grades the word-length axis, which has real "
    "spread (lengths 1-8). Scale: the share denominator reuses the "
    "group aggregate via a partition window over the bounded "
    "(lang, len) grid; the heavy reduce is the token count.",
)
def text_word_length_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("t")
    ).where(F.col("t") != "")
    grouped = tok.groupBy(
        "lang", F.length("t").cast("long").alias("word_len")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("t").cast("long").alias("n_distinct"),
    )
    wl = Window.partitionBy("lang")
    return grouped.select(
        "lang",
        "word_len",
        "n_tokens",
        "n_distinct",
        F.expr(
            "CAST(n_tokens * 10000 div (sum(n_tokens) OVER"
            " (PARTITION BY lang)) AS BIGINT)"
        ).alias("share_bp"),
    ).orderBy("lang", "word_len")


@register(
    "text_token_gini_by_lang",
    oracle_sql="""
        WITH freq AS (
            SELECT lang, t, CAST(count(*) AS BIGINT) AS f
            FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS t
                FROM documents
            ) WHERE t != ''
            GROUP BY lang, t
        ),
        ranked AS (
            SELECT lang, f,
                   CAST(row_number() OVER (PARTITION BY lang
                       ORDER BY f, t) AS BIGINT) AS i,
                   CAST(count(*) OVER (PARTITION BY lang) AS BIGINT)
                       AS v,
                   CAST(sum(f) OVER (PARTITION BY lang) AS BIGINT) AS s
            FROM freq
        )
        SELECT lang,
               CAST(max(v) AS BIGINT) AS vocab,
               CAST(max(s) AS BIGINT) AS n_tokens,
               CAST(sum((2 * i - v - 1) * f) AS BIGINT) AS gini_num,
               CASE WHEN max(v) * max(s) > 0 THEN
                   CAST(sum((2 * i - v - 1) * f) AS DOUBLE)
                   / (CAST(max(v) AS DOUBLE) * max(s))
               END AS gini
        FROM ranked GROUP BY lang
        ORDER BY lang
    """,
    description="Token-frequency Gini concentration per language: "
    "vocabulary sorted by frequency (token tie-break), Gini = "
    "sum((2i - V - 1) f_i) / (V * N) — 0 means a flat vocabulary, "
    "near 1 means a few tokens dominate; the single-number "
    "concentration companion to text_zipf_fit's slope and "
    "text_entropy_token's bits. Stage-time swap: the M12 candidate "
    "text_markup_density is all-zero on this corpus (no tags, "
    "digits, or symbols), so the concentration axis grades instead. "
    "Exact integer numerator (the rank-weighted sum), one final "
    "division. Scale: the rank window partitions per lang over "
    "vocabulary-grain rows (Zipf-bounded), not the token stream.",
)
def text_token_gini_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
        .groupBy("lang", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    wr = Window.partitionBy("lang").orderBy("f", "t")
    wp = Window.partitionBy("lang")
    ranked = freq.select(
        "lang",
        "f",
        F.row_number().over(wr).cast("long").alias("i"),
        F.count(F.lit(1)).over(wp).cast("long").alias("v"),
        F.sum("f").over(wp).cast("long").alias("s"),
    )
    num = F.sum((2 * F.col("i") - F.col("v") - 1) * F.col("f"))
    return (
        ranked.groupBy("lang")
        .agg(
            F.max("v").cast("long").alias("vocab"),
            F.max("s").cast("long").alias("n_tokens"),
            num.cast("long").alias("gini_num"),
            F.when(
                F.max("v") * F.max("s") > 0,
                num.cast("double")
                / (F.max("v").cast("double") * F.max("s")),
            ).alias("gini"),
        )
        .orderBy("lang")
    )


@register(
    "text_rake_keyword_lite",
    oracle_sql="""
        WITH tok AS (
            SELECT doc_id, i,
                   arr[i] AS t,
                   CASE WHEN length(arr[i]) <= 3 THEN 1 ELSE 0 END
                       AS is_stop
            FROM (
                SELECT doc_id, string_split(text, ' ') AS arr
                FROM documents
            ), unnest(generate_series(1, len(arr))) AS u(i)
        ),
        islanded AS (
            SELECT doc_id, i, t,
                   sum(is_stop) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS UNBOUNDED PRECEDING) AS island
            FROM tok
        ),
        phrases AS (
            SELECT doc_id, island,
                   string_agg(t, ' ' ORDER BY i) AS phrase,
                   CAST(count(*) AS BIGINT) AS plen
            FROM islanded
            WHERE length(t) > 3
            GROUP BY doc_id, island
        )
        SELECT phrase, CAST(plen AS BIGINT) AS n_words,
               CAST(count(*) AS BIGINT) AS n_occurrences
        FROM phrases
        WHERE plen >= 2
        GROUP BY phrase, plen
        ORDER BY n_occurrences DESC, phrase
        LIMIT 10
    """,
    description="RAKE-lite keyword phrases: maximal runs of content "
    "tokens (length > 3; short tokens act as the stopword "
    "delimiters RAKE uses) are concatenated into candidate phrases, "
    "and the 10 most frequent multi-word phrases across the corpus "
    "are graded (count desc, phrase tie-break). The island id is "
    "the running count of delimiters — the gaps-and-islands device "
    "applied to token position — so phrase extraction is one "
    "doc-partitioned window + a positional string_agg, never a "
    "per-phrase rescan. Scale: doc-partitioned until the final "
    "phrase-frequency aggregate; top-10 via TakeOrdered.",
)
def text_rake_keyword_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("i", "t"),
    ).select(
        "doc_id",
        (F.col("i") + 1).alias("i"),
        "t",
        F.when(F.length("t") <= 3, 1).otherwise(0).alias("is_stop"),
    )
    wi = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islanded = tok.select(
        "doc_id",
        "i",
        "t",
        F.sum("is_stop").over(wi).alias("island"),
    )
    phrases = (
        islanded.where(F.length("t") > 3)
        .groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("i"), F.col("t")))
                    ),
                    lambda s: s.getField("t"),
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
    )
    return (
        phrases.where(F.col("plen") >= 2)
        .groupBy("phrase", F.col("plen").alias("n_words"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "phrase")
        .limit(10)
    )


@register(
    "corpus_dedup_survivorship_matrix",
    oracle_sql="""
        WITH keyed AS (
            SELECT doc_id, source, lang,
                   lang || '|' || array_to_string(
                       string_split(text, ' ')[1:5], ' ') AS dkey
            FROM documents
        ),
        survivors AS (
            SELECT dkey, min(doc_id) AS keep_id
            FROM keyed GROUP BY dkey
        )
        SELECT k.source, k.lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN k.doc_id = s.keep_id THEN 1 ELSE 0
                    END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN k.doc_id = s.keep_id THEN 1 ELSE 0
                    END) * 10000 // count(*) AS BIGINT)
                   AS retention_bp
        FROM keyed k JOIN survivors s ON k.dkey = s.dkey
        GROUP BY k.source, k.lang
        ORDER BY k.source, k.lang
    """,
    description="Dedup survivorship matrix: documents dedup on a "
    "coarse (lang, 5-token prefix) key with keep-min-doc_id "
    "survivorship, and the graded output is RETENTION per source x "
    "lang in floor bp — the governance view that shows which feeds "
    "a dedup pass actually deletes from (uniform retention = "
    "benign; one source cratering = that source is a mirror). The "
    "coarse prefix key is used because the fixture has no exact "
    "duplicate texts (verified) — boilerplate prefixes are the "
    "real-world shape this matrix audits. Scale: two same-key "
    "aggregates; the min-survivor join is key-grain.",
)
def corpus_dedup_survivorship_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        "lang",
        F.concat_ws(
            "|",
            F.col("lang"),
            F.array_join(F.slice(F.split("text", " "), 1, 5), " "),
        ).alias("dkey"),
    )
    survivors = keyed.groupBy("dkey").agg(
        F.min("doc_id").alias("keep_id")
    )
    kept = F.sum(
        F.when(F.col("doc_id") == F.col("keep_id"), 1).otherwise(0)
    )
    return (
        keyed.join(survivors, "dkey")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            kept.cast("long").alias("n_kept"),
            F.expr(
                "CAST(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END)"
                " * 10000 div count(1) AS BIGINT)"
            ).alias("retention_bp"),
        )
        .orderBy("source", "lang")
    )


@register(
    "corpus_heaps_law_checkpoints",
    oracle_sql="""
        WITH first_seen AS (
            SELECT t, min(doc_id) AS first_doc
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS t
                FROM documents
            ) WHERE t != ''
            GROUP BY t
        ),
        checkpoints(n_docs_cap) AS (
            VALUES (100), (200), (300), (400), (1000000)
        )
        SELECT CAST(c.n_docs_cap AS BIGINT) AS n_docs_cap,
               (SELECT CAST(count(*) AS BIGINT) FROM documents
                WHERE doc_id < c.n_docs_cap) AS n_docs,
               CAST(sum(CASE WHEN f.first_doc < c.n_docs_cap
                        THEN 1 ELSE 0 END) AS BIGINT) AS vocab_size
        FROM first_seen f CROSS JOIN checkpoints c
        GROUP BY c.n_docs_cap
        ORDER BY n_docs_cap
    """,
    description="Heaps-law vocabulary growth checkpoints: distinct "
    "vocabulary after the first 100/200/300/400/all documents, "
    "computed WITHOUT rescanning per checkpoint — each token "
    "reduces once to its first-seen doc_id, and every checkpoint "
    "is then a conditional count over that token-grain table "
    "(the first-seen trick that makes cumulative distincts "
    "additive, same device as events_cumulative_uniques). "
    "Sub-linear vocab growth is the Heaps sanity check that a "
    "crawl is natural text; super-linear growth flags synthetic "
    "or corrupted batches. Scale: one token-key reduce + a 5-row "
    "broadcast checkpoint dim.",
)
def corpus_heaps_law_checkpoints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    first_seen = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .where(F.col("t") != "")
        .groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    caps = spark.createDataFrame(
        [(100,), (200,), (300,), (400,), (1000000,)], "n_docs_cap long"
    )
    n_docs_per_cap = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(caps))
        .where(F.col("doc_id") < F.col("n_docs_cap"))
        .groupBy("n_docs_cap")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    vocab = (
        first_seen.crossJoin(F.broadcast(caps))
        .groupBy("n_docs_cap")
        .agg(
            F.sum(
                F.when(F.col("first_doc") < F.col("n_docs_cap"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("vocab_size")
        )
    )
    return (
        vocab.join(n_docs_per_cap, "n_docs_cap")
        .select(
            F.col("n_docs_cap").cast("long").alias("n_docs_cap"),
            "n_docs",
            "vocab_size",
        )
        .orderBy("n_docs_cap")
    )


@register(
    "corpus_length_quantiles_by_source",
    oracle_sql="""
        WITH ranked AS (
            SELECT source, n_chars,
                   CAST(row_number() OVER (PARTITION BY source
                       ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
                   CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
                       AS n
            FROM documents
        )
        SELECT source,
               CAST(max(n) AS BIGINT) AS n_docs,
               CAST(max(CASE WHEN rn = (n + 3) // 4 THEN n_chars END)
                    AS BIGINT) AS p25_chars,
               CAST(max(CASE WHEN rn = (n + 1) // 2 THEN n_chars END)
                    AS BIGINT) AS p50_chars,
               CAST(max(CASE WHEN rn = (3 * n + 3) // 4 THEN n_chars
                    END) AS BIGINT) AS p75_chars
        FROM ranked
        GROUP BY source
        ORDER BY source
    """,
    description="Per-source document-length quartiles (discrete "
    "percentiles — actual corpus values, no interpolation): p25/"
    "p50/p75 of n_chars via explicit rank arithmetic (ceil(p*n) = "
    "(p_num*n + p_den - 1) div p_den picks the smallest value with "
    "cumulative share >= p, the percentile_disc definition written "
    "as one integer formula identical on both engines). The "
    "per-feed length fingerprint that catches truncating or "
    "concatenating ingest bugs source-by-source. Scale: one "
    "source-partitioned window over doc-grain rows.",
)
def corpus_length_quantiles_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("long")
        .alias("n"),
    )
    def pick(cond):
        return F.max(F.when(cond, F.col("n_chars"))).cast("long")
    return (
        ranked.groupBy("source")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            pick(F.col("rn") == F.expr("(n + 3) div 4")).alias(
                "p25_chars"
            ),
            pick(F.col("rn") == F.expr("(n + 1) div 2")).alias(
                "p50_chars"
            ),
            pick(F.col("rn") == F.expr("(3 * n + 3) div 4")).alias(
                "p75_chars"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Embeddings / ANN (wave 4)
# ---------------------------------------------------------------------------


@register(
    "embed_pca_top2_deflation",
    oracle_sql="""
        WITH q AS (
            SELECT list_transform(embedding,
                       v -> CAST(round(CAST(v AS DOUBLE) * 1000)
                                 AS BIGINT)) AS qv
            FROM embeddings
        ), a AS (
            SELECT qv, unnest(generate_series(1, len(qv))) AS i FROM q
        ), b AS (
            SELECT a.i, a.qv[a.i] AS qi,
                   unnest(generate_series(1, len(a.qv))) AS j, a.qv
            FROM a
        ), g AS (
            SELECT CAST(i - 1 AS BIGINT) AS gi, CAST(j - 1 AS BIGINT)
                       AS gj,
                   CAST(sum(qi * qv[j]) AS BIGINT) AS gram
            FROM b GROUP BY 1, 2
        ), v0 AS (
            SELECT CAST(unnest(generate_series(0, 63)) AS BIGINT) AS i,
                   CAST(1000 AS BIGINT) AS v
        ),
        w1 AS (SELECT gi AS i, sum(gram * v) AS w
               FROM g JOIN v0 ON gj = v0.i GROUP BY gi),
        p1 AS (SELECT i, w // greatest((SELECT max(abs(w)) FROM w1)
                                       // 1000, 1) AS v FROM w1),
        w2 AS (SELECT gi AS i, sum(gram * v) AS w
               FROM g JOIN p1 ON gj = p1.i GROUP BY gi),
        p2 AS (SELECT i, w // greatest((SELECT max(abs(w)) FROM w2)
                                       // 1000, 1) AS v FROM w2),
        w3 AS (SELECT gi AS i, sum(gram * v) AS w
               FROM g JOIN p2 ON gj = p2.i GROUP BY gi),
        v1 AS (SELECT i, w // greatest((SELECT max(abs(w)) FROM w3)
                                       // 1000, 1) AS v FROM w3),
        scal AS (
            SELECT (SELECT sum(v * v) FROM v1) AS vtv,
                   (SELECT sum(v1a.v * g.gram * v1b.v)
                    FROM g JOIN v1 v1a ON g.gi = v1a.i
                           JOIN v1 v1b ON g.gj = v1b.i) AS vgv
        ),
        g2 AS (
            SELECT g.gi, g.gj,
                   CAST(s.vtv AS HUGEINT) * s.vtv * g.gram
                   - CAST(s.vgv AS HUGEINT) * a.v * b.v AS gram
            FROM g CROSS JOIN scal s
            JOIN v1 a ON g.gi = a.i JOIN v1 b ON g.gj = b.i
        ),
        u1 AS (SELECT gi AS i, sum(gram * v) AS w
               FROM g2 JOIN v0 ON gj = v0.i GROUP BY gi),
        q1 AS (SELECT i, w // greatest((SELECT max(abs(w)) FROM u1)
                                       // 1000, 1) AS v FROM u1),
        u2 AS (SELECT gi AS i, sum(gram * v) AS w
               FROM g2 JOIN q1 ON gj = q1.i GROUP BY gi),
        q2 AS (SELECT i, w // greatest((SELECT max(abs(w)) FROM u2)
                                       // 1000, 1) AS v FROM u2),
        u3 AS (SELECT gi AS i, sum(gram * v) AS w
               FROM g2 JOIN q2 ON gj = q2.i GROUP BY gi),
        v2 AS (SELECT i, w // greatest((SELECT max(abs(w)) FROM u3)
                                       // 1000, 1) AS v FROM u3)
        SELECT v1.i AS i, CAST(v1.v AS BIGINT) AS pc1_component,
               CAST(v2.v AS BIGINT) AS pc2_component
        FROM v1 JOIN v2 ON v1.i = v2.i
        ORDER BY i
    """,
    description="Top-2 principal directions by DEFLATED power "
    "iteration, all-integer: PC1 exactly as embed_power_iteration "
    "(3 unrolled G*v rounds on the 1e3-quantized Gram, truncating-"
    "div renormalization to a 1e3 grid), then the deflated matrix "
    "G2 = (v'v)^2 G - (v'Gv) v v' — the integer-scaled form of "
    "removing PC1's rank-one component (scaling by (v'v)^2 clears "
    "both rationals and leaves the eigenvectors of the residual "
    "unchanged) — and 3 more rounds on G2 give PC2. G2 entries "
    "exceed int64, so the deflated stage accumulates in 128-bit "
    "(DECIMAL(38,0) / HUGEINT), with only the 1e3-grid components "
    "emitted. Scale: the corpus is touched once (Gram build, "
    "map-side); every iteration is a 4096-row broadcast matvec.",
)
def embed_pca_top2_deflation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(quantized("embedding", 1000).alias("qv"))
    a = q.select("qv", F.posexplode("qv").alias("i", "qi"))
    b = a.select("i", "qi", F.posexplode("qv").alias("j", "qj"))
    g = b.groupBy(
        F.col("i").cast("long").alias("gi"),
        F.col("j").cast("long").alias("gj"),
    ).agg(F.sum(F.col("qi") * F.col("qj")).alias("gram"))

    def iterate(gmat, rounds=3, gram_col="gram"):
        # Truncating division written as (w - w % m) / m: Spark's `div`
        # overflows BIGINT on the 128-bit deflated stage (ANSI -> NULL
        # inside greatest -> silent m=1), while %-then-divide is exact
        # on DECIMAL(38,0) and truncates toward zero exactly like
        # DuckDB's HUGEINT `//` (remainder carries the dividend sign
        # on both engines).
        dec38 = "decimal(38,0)"
        v = spark.range(64).select(
            F.col("id").cast("long").alias("i"),
            F.lit(1000).cast("long").alias("v"),
        )
        for _ in range(rounds):
            w = (
                gmat.join(F.broadcast(v), gmat.gj == v.i)
                .groupBy(F.col("gi").alias("i"))
                .agg(
                    F.sum(F.col(gram_col) * F.col("v"))
                    .cast(dec38)
                    .alias("w")
                )
            )
            m = w.agg(
                F.greatest(
                    F.expr(
                        "CAST((max(abs(w)) - max(abs(w)) % 1000) / 1000"
                        " AS decimal(38,0))"
                    ),
                    F.lit(1).cast(dec38),
                ).alias("m")
            )
            v = w.crossJoin(F.broadcast(m)).select(
                "i",
                F.expr("CAST((w - w % m) / m AS BIGINT)").alias("v"),
            )
        return v

    v1 = iterate(g)
    vtv = v1.agg(F.sum(F.col("v") * F.col("v")).alias("vtv"))
    vgv = (
        g.join(F.broadcast(v1.select(F.col("i").alias("ai"), F.col("v").alias("av"))), F.col("gi") == F.col("ai"))
        .join(F.broadcast(v1.select(F.col("i").alias("bi"), F.col("v").alias("bv"))), F.col("gj") == F.col("bi"))
        .agg(F.sum(F.col("av") * F.col("gram") * F.col("bv")).alias("vgv"))
    )
    dec = "decimal(38,0)"
    g2 = (
        g.crossJoin(F.broadcast(vtv))
        .crossJoin(F.broadcast(vgv))
        .join(F.broadcast(v1.select(F.col("i").alias("ai"), F.col("v").alias("av"))), F.col("gi") == F.col("ai"))
        .join(F.broadcast(v1.select(F.col("i").alias("bi"), F.col("v").alias("bv"))), F.col("gj") == F.col("bi"))
        .select(
            "gi",
            "gj",
            (
                F.col("vtv").cast(dec) * F.col("vtv") * F.col("gram")
                - F.col("vgv").cast(dec) * F.col("av") * F.col("bv")
            ).alias("gram2"),
        )
    )
    v2 = iterate(g2, gram_col="gram2")
    return (
        v1.select(F.col("i"), F.col("v").alias("pc1_component"))
        .join(
            v2.select(F.col("i"), F.col("v").alias("pc2_component")), "i"
        )
        .orderBy("i")
    )


@register(
    "knn_query_batch_topk",
    oracle_sql="""
        WITH q AS (
            SELECT vec_id, label,
                   list_transform(embedding,
                       v -> CAST(round(CAST(v AS DOUBLE) * 10000)
                                 AS BIGINT)) AS qv
            FROM embeddings
        ),
        exp AS (
            SELECT vec_id, label, generate_subscripts(qv, 1) AS i,
                   unnest(qv) AS x
            FROM q
        ),
        queries AS (
            SELECT vec_id AS q_id, i, x AS y FROM exp WHERE vec_id < 10
        ),
        dots AS (
            SELECT qs.q_id, e.vec_id, e.label,
                   CAST(sum(e.x * qs.y) AS BIGINT) AS dot,
                   CAST(sum(e.x * e.x) AS BIGINT) AS na2,
                   CAST(sum(qs.y * qs.y) AS BIGINT) AS nb2
            FROM exp e JOIN queries qs ON e.i = qs.i
            WHERE e.vec_id != qs.q_id
            GROUP BY 1, 2, 3
        ),
        ranked AS (
            SELECT q_id, vec_id, label,
                   CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE))
                       * sqrt(CAST(nb2 AS DOUBLE))) AS sim,
                   row_number() OVER (PARTITION BY q_id
                       ORDER BY CAST(dot AS DOUBLE)
                           / (sqrt(CAST(na2 AS DOUBLE))
                              * sqrt(CAST(nb2 AS DOUBLE))) DESC,
                           vec_id) AS rk
            FROM dots
        )
        SELECT CAST(q_id AS BIGINT) AS q_id, vec_id, label,
               round(sim, 4) AS cosine_sim, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 3
        ORDER BY q_id, rk
    """,
    description="Batched kNN: the top-3 cosine neighbors of TEN query "
    "vectors (vec_id < 10) from ONE corpus scan — the query-batching "
    "shape a retrieval service runs (per-query rescans multiply the "
    "scan cost by the batch size; batching makes it a single "
    "broadcast-join pass with a per-query rank). Components are "
    "quantized to the exact 1e4 integer grid so every dot product "
    "and norm is an exact int64 and the similarity is one identical "
    "float chain on both engines (cross-engine float-sum ordering "
    "never arises). Scale, honestly: here the candidate set per "
    "query is the full (fixture-scale) corpus, so the per-query "
    "rank window sees n rows; at 100 TB the batch probes an ANN "
    "index first (knn_lsh_bucketed / IVF cells) and this SAME "
    "one-scan + per-query-rank shape runs over the bounded "
    "candidate lists — the batching pattern is what this op grades, "
    "not brute-force at scale.",
)
def knn_query_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", quantized("embedding", 10000).alias("qv")
    )
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("yv")
    )
    dot = int_dot("qv", "yv")
    na2 = int_norm2("qv")
    nb2 = int_norm2("yv")
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            F.col("q_id").cast("long").alias("q_id"),
            "vec_id",
            "label",
            (
                dot.cast("double")
                / (
                    F.sqrt(na2.cast("double"))
                    * F.sqrt(nb2.cast("double"))
                )
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("sim").desc(), F.col("vec_id")
    )
    return (
        scored.select(
            "q_id",
            "vec_id",
            "label",
            F.round("sim", 4).alias("cosine_sim"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= 3)
        .orderBy("q_id", "rk")
    )


@register(
    "embed_quant_recall_ab",
    oracle_sql="""
        WITH g AS (
            SELECT vec_id,
                   list_transform(embedding,
                       v -> CAST(round(CAST(v AS DOUBLE) * 10000)
                                 AS BIGINT)) AS fv,
                   list_transform(embedding,
                       v -> greatest(least(CAST(round(CAST(v AS DOUBLE)
                                * 127) AS BIGINT), 127), -127)) AS iv
            FROM embeddings
        ),
        e AS (
            SELECT vec_id, generate_subscripts(fv, 1) AS i,
                   fv[generate_subscripts(fv, 1)] AS xf,
                   iv[generate_subscripts(fv, 1)] AS xi
            FROM g
        ),
        q AS (SELECT i, xf AS yf, xi AS yi FROM e WHERE vec_id = 0),
        dots AS (
            SELECT e.vec_id,
                   CAST(sum(e.xf * q.yf) AS BIGINT) AS dotf,
                   CAST(sum(e.xf * e.xf) AS BIGINT) AS naf,
                   CAST(sum(q.yf * q.yf) AS BIGINT) AS nbf,
                   CAST(sum(e.xi * q.yi) AS BIGINT) AS doti,
                   CAST(sum(e.xi * e.xi) AS BIGINT) AS nai,
                   CAST(sum(q.yi * q.yi) AS BIGINT) AS nbi
            FROM e JOIN q ON e.i = q.i
            WHERE e.vec_id != 0
            GROUP BY 1
        ),
        rf AS (
            SELECT vec_id, row_number() OVER (
                ORDER BY CAST(dotf AS DOUBLE)
                    / (sqrt(CAST(naf AS DOUBLE))
                       * sqrt(CAST(nbf AS DOUBLE))) DESC, vec_id) AS rk
            FROM dots
        ),
        ri AS (
            SELECT vec_id, row_number() OVER (
                ORDER BY CASE WHEN nai = 0 THEN -2.0
                    ELSE CAST(doti AS DOUBLE)
                         / (sqrt(CAST(nai AS DOUBLE))
                            * sqrt(CAST(nbi AS DOUBLE))) END DESC,
                    vec_id) AS rk
            FROM dots
        )
        SELECT CAST((SELECT count(*) FROM rf JOIN ri USING (vec_id)
                     WHERE rf.rk <= 10 AND ri.rk <= 10) AS BIGINT)
                   AS n_overlap,
               CAST((SELECT count(*) FROM rf JOIN ri USING (vec_id)
                     WHERE rf.rk <= 10 AND ri.rk <= 10) AS DOUBLE)
                   / 10.0 AS recall_at_10
    """,
    description="Int8-quantization recall A/B: the top-10 cosine "
    "neighbors of vec_id=0 under full precision (exact 1e4 integer "
    "grid) vs under symmetric int8 quantization (round(x*127) "
    "clamped to [-127, 127] — the embed_quantize_int8 scheme), and "
    "the graded number is their overlap — recall@10 of the "
    "compressed index against its own exact baseline, the ONE "
    "number that says whether 4x memory savings is free at serving "
    "time (mirrors ann_recall_report's honesty pattern for LSH). "
    "All dots/norms exact integers; zero-norm quantized vectors "
    "rank last deterministically. Scale: one scan computes both "
    "representations; rank inputs are candidate-grain.",
)
def embed_quant_recall_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        quantized("embedding", 10000).alias("fv"),
        F.transform(
            quantized("embedding", 127),
            lambda q: F.greatest(
                F.least(q, F.lit(127).cast("long")),
                F.lit(-127).cast("long"),
            ),
        ).alias("iv"),
    )
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("fv").alias("yf"), F.col("iv").alias("yi")
    )

    scored = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            int_dot("fv", "yf").alias("dotf"),
            int_norm2("fv").alias("naf"),
            int_norm2("yf").alias("nbf"),
            int_dot("iv", "yi").alias("doti"),
            int_norm2("iv").alias("nai"),
            int_norm2("yi").alias("nbi"),
        )
    )
    simf = F.col("dotf").cast("double") / (
        F.sqrt(F.col("naf").cast("double"))
        * F.sqrt(F.col("nbf").cast("double"))
    )
    simi = F.when(F.col("nai") == 0, F.lit(-2.0)).otherwise(
        F.col("doti").cast("double")
        / (
            F.sqrt(F.col("nai").cast("double"))
            * F.sqrt(F.col("nbi").cast("double"))
        )
    )
    # SCALE.md §26 shape: each top-10 is orderBy().limit(10)
    # (TakeOrderedAndProject — no global rank window over the
    # candidate grain); the oracle keeps the plain row_number SQL, so
    # the decomposition is hash-checked, not assumed.
    topf = (
        scored.select("vec_id", simf.alias("s"))
        .orderBy(F.col("s").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    topi = (
        scored.select("vec_id", simi.alias("s"))
        .orderBy(F.col("s").desc(), F.col("vec_id"))
        .limit(10)
        .select(F.col("vec_id").alias("vec_id_i"))
    )
    overlap = topf.join(
        topi, F.col("vec_id") == F.col("vec_id_i")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    return overlap.select(
        "n_overlap",
        (F.col("n_overlap").cast("double") / 10.0).alias("recall_at_10"),
    )


@register(
    "embed_hubness_bucketed",
    oracle_sql="""
        WITH exp AS (
            SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        ),
        planes(j) AS (SELECT * FROM generate_series(0, 3)),
        proj AS (
            SELECT e.vec_id, p.j,
                   sum(e.x * (2 * ((((1103515245 * (e.i * 4 + p.j)
                                      + 12345) % 2147483648) // 65536)
                                   % 2) - 1)) AS dotp
            FROM exp e CROSS JOIN planes p
            GROUP BY 1, 2
        ),
        buckets AS (
            SELECT vec_id,
                   CAST(sum(CASE WHEN dotp > 0
                            THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)
                        AS BIGINT) AS bucket
            FROM proj GROUP BY vec_id
        ),
        qgrid AS (
            SELECT vec_id,
                   list_transform(embedding,
                       v -> CAST(round(CAST(v AS DOUBLE) * 10000)
                                 AS BIGINT)) AS qv
            FROM embeddings
        ),
        eg AS (
            SELECT g.vec_id, b.bucket, generate_subscripts(g.qv, 1)
                       AS i,
                   g.qv[generate_subscripts(g.qv, 1)] AS x
            FROM qgrid g JOIN buckets b ON g.vec_id = b.vec_id
        ),
        dots AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   CAST(sum(a.x * b.x) AS BIGINT) AS dot,
                   CAST(sum(a.x * a.x) AS BIGINT) AS na2,
                   CAST(sum(b.x * b.x) AS BIGINT) AS nb2
            FROM eg a JOIN eg b
              ON a.i = b.i AND a.bucket = b.bucket
             AND a.vec_id != b.vec_id
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT a_id, b_id,
                   row_number() OVER (PARTITION BY a_id
                       ORDER BY CAST(dot AS DOUBLE)
                           / (sqrt(CAST(na2 AS DOUBLE))
                              * sqrt(CAST(nb2 AS DOUBLE))) DESC,
                           b_id) AS rk
            FROM dots
        ),
        indeg AS (
            SELECT v.vec_id,
                   CAST(count(r.b_id) AS BIGINT) AS in_degree
            FROM embeddings v
            LEFT JOIN (SELECT b_id FROM ranked WHERE rk <= 3) r
              ON v.vec_id = r.b_id
            GROUP BY v.vec_id
        )
        SELECT in_degree,
               CAST(count(*) AS BIGINT) AS n_vectors
        FROM indeg
        GROUP BY in_degree
        ORDER BY in_degree
    """,
    description="Hubness over the ANN CANDIDATE GRAPH — the "
    "scale-honest twin of embed_hubness_reverse_knn the round-7 "
    "verdict asked for: each vector takes its top-3 exact-grid "
    "cosine neighbors WITHIN ITS LSH BUCKET (knn_lsh_bucketed's 4 "
    "deterministic hyperplanes, 16 buckets), and the graded output "
    "is the in-degree histogram including never-chosen antihubs "
    "(left join keeps 0). Unlike label-blocking (Theta(n^2/L) with "
    "L fixed at 10), the bucket count GROWS with the plane count, "
    "so at corpus scale the pairwise stage is the same bounded "
    "candidate join the ANN search itself runs — hubness becomes a "
    "free byproduct of index maintenance. Dots/norms on the exact "
    "1e4 integer grid; the bucket sign threshold reuses the graded "
    "LSH float formulation verbatim.",
)
def embed_hubness_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    exp = emb.select(
        "vec_id",
        F.posexplode(F.expr("CAST(embedding AS ARRAY<DOUBLE>)")).alias(
            "i", "x"
        ),
    )
    planes = spark.range(4).select(F.col("id").cast("int").alias("j"))
    sign = F.expr(
        "2 * ((((1103515245L * (CAST(i AS BIGINT) * 4 + j) + 12345L)"
        " % 2147483648L) div 65536L) % 2) - 1"
    )
    proj = (
        exp.crossJoin(F.broadcast(planes))
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("x") * sign).alias("dotp"))
    )
    buckets = proj.groupBy("vec_id").agg(
        F.sum(
            F.when(
                F.col("dotp") > 0,
                F.expr("shiftleft(CAST(1 AS BIGINT), j)"),
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("bucket")
    )
    qgrid = emb.select(
        "vec_id", quantized("embedding", 10000).alias("qv")
    ).join(buckets, "vec_id")
    a = qgrid.select(
        F.col("vec_id").alias("a_id"),
        F.col("bucket").alias("a_bucket"),
        F.col("qv").alias("av"),
    )
    b = qgrid.select(
        F.col("vec_id").alias("b_id"),
        F.col("bucket").alias("b_bucket"),
        F.col("qv").alias("bv"),
    )
    dot = int_dot("av", "bv")
    na2 = int_norm2("av")
    nb2 = int_norm2("bv")
    pairs = a.join(
        b,
        (F.col("a_bucket") == F.col("b_bucket"))
        & (F.col("a_id") != F.col("b_id")),
    ).select(
        "a_id",
        "b_id",
        (
            dot.cast("double")
            / (F.sqrt(na2.cast("double")) * F.sqrt(nb2.cast("double")))
        ).alias("sim"),
    )
    w = Window.partitionBy("a_id").orderBy(
        F.col("sim").desc(), F.col("b_id")
    )
    chosen = (
        pairs.select(
            "b_id", F.row_number().over(w).alias("rk")
        )
        .where(F.col("rk") <= 3)
        .select("b_id")
    )
    indeg = (
        emb.select("vec_id")
        .join(chosen, emb.vec_id == chosen.b_id, "left")
        .groupBy("vec_id")
        .agg(F.count("b_id").cast("long").alias("in_degree"))
    )
    return (
        indeg.groupBy("in_degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .orderBy("in_degree")
    )


# ---------------------------------------------------------------------------
# Graph
# ---------------------------------------------------------------------------


@register(
    "graph_triangle_participation",
    oracle_sql="""
        WITH buckets AS (
            SELECT DISTINCT date_trunc('hour', ts) AS h, user_id
            FROM events WHERE event_type = 'purchase'
        ),
        edges AS (
            SELECT DISTINCT a.user_id AS u, b.user_id AS v
            FROM buckets a
            JOIN buckets b ON a.h = b.h AND a.user_id < b.user_id
        ),
        tri AS (
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM edges e1
            JOIN edges e2 ON e1.v = e2.u
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        tri_nodes AS (
            SELECT DISTINCT x FROM (
                SELECT a AS x FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            )
        ),
        verts AS (
            SELECT DISTINCT u AS x FROM (
                SELECT u FROM edges UNION ALL SELECT v FROM edges)
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM verts)
                   AS n_vertices,
               (SELECT CAST(count(*) AS BIGINT) FROM tri_nodes)
                   AS n_in_triangle,
               (SELECT CAST(count(*) AS BIGINT) FROM tri_nodes) * 10000
                   // nullif((SELECT count(*) FROM verts), 0)
                   AS participation_bp
    """,
    description="Triangle participation: the share of co-purchase-"
    "graph vertices that sit in AT LEAST ONE triangle (floor bp) — "
    "the cohesion census that separates a clustered social graph "
    "from a star/chain topology with the same triangle COUNT "
    "(graph_triangle_count grades the count; participation says how "
    "widely spread the cohesion is). Same ordered-edge (u<v<w) "
    "triangle join — each triangle emitted once, join degree "
    "bounded by out-degree — plus a distinct over triangle corners. "
    "Scale: identical join shape to the registered triangle op.",
)
def graph_triangle_participation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    buckets = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .distinct()
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v")
        )
        .distinct()
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = e1.join(e2, F.col("e1.v") == F.col("e2.u")).join(
        e3,
        (F.col("e3.u") == F.col("e1.u"))
        & (F.col("e3.v") == F.col("e2.v")),
    ).select(
        F.col("e1.u").alias("a"),
        F.col("e1.v").alias("b"),
        F.col("e2.v").alias("c"),
    )
    tri_nodes = (
        tri.select(F.col("a").alias("x"))
        .unionByName(tri.select(F.col("b").alias("x")))
        .unionByName(tri.select(F.col("c").alias("x")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_in_triangle"))
    )
    verts = (
        edges.select(F.col("u").alias("x"))
        .unionByName(edges.select(F.col("v").alias("x")))
        .agg(F.countDistinct("x").cast("long").alias("n_vertices"))
    )
    return (
        verts.crossJoin(F.broadcast(tri_nodes))
        .select(
            "n_vertices",
            "n_in_triangle",
            F.expr(
                "n_in_triangle * 10000 div nullif(n_vertices, 0)"
            ).alias("participation_bp"),
        )
    )


def copurchase_star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional star-contracted edge list of the hourly co-purchase
    graph (SCALE.md §35 path 1): per hour bucket, member -> bucket-min
    user instead of the C(n,2) clique — O(n) edges per bucket, same
    connected components. Module-level so tests/test_plans.py can pin
    the construction's physical shape without restating it."""
    buckets = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(F.date_trunc("hour", "ts").alias("h"), "user_id")
        .distinct()
    )
    # One hub row per hour: bounded by the CALENDAR (720 at any fixture
    # sf; ~87k for a decade of hours), never by data volume —
    # broadcastable at every scale, so the star build re-reads the
    # bucket table with a broadcast probe, no second wide exchange.
    hubs = buckets.groupBy("h").agg(F.min("user_id").alias("hub"))
    star = (
        buckets.join(F.broadcast(hubs), "h")
        .where(F.col("user_id") != F.col("hub"))
        .select(F.col("hub").alias("u"), F.col("user_id").alias("v"))
        .distinct()
    )
    return star.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(
        star.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )


@register(
    "graph_component_size_histogram",
    oracle_sql="""
        WITH RECURSIVE buckets AS (
            SELECT DISTINCT date_trunc('hour', ts) AS h, user_id
            FROM events WHERE event_type = 'purchase'
        ),
        pairs AS (
            SELECT DISTINCT a.user_id AS u, b.user_id AS v
            FROM buckets a
            JOIN buckets b ON a.h = b.h AND a.user_id < b.user_id
        ),
        edges AS (
            SELECT u AS src, v AS dst FROM pairs
            UNION ALL SELECT v, u FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS x FROM edges),
        reach(a, b) AS (
            SELECT x, x FROM nodes
            UNION
            SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
        ),
        comp AS (SELECT a AS x, min(b) AS component FROM reach
                 GROUP BY a),
        sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS sz
                  FROM comp GROUP BY component)
        SELECT sz AS component_size,
               CAST(count(*) AS BIGINT) AS n_components
        FROM sizes GROUP BY sz
        ORDER BY component_size
    """,
    description="Connected-component SIZE HISTOGRAM of the hourly "
    "co-purchase graph: STAR CONTRACTION at the source (SCALE.md §35 "
    "escalation path 1, implemented round 14) — connectivity does not "
    "need the clique, so each hour bucket contributes one star "
    "(member -> bucket-min user) instead of C(n,2) pairs: O(n) edges "
    "per bucket instead of O(n²) with provably identical components "
    "(every member reaches every other through the hub; the union "
    "over hours generates the same co-bucket closure). Edge volume "
    "drops from the family's sf² law to sf. Then min-label "
    "propagation to an exact fixpoint (the dedup_connected_components "
    "loop — one equi-join + groupBy per round, localCheckpoint "
    "lineage truncation, convergence checked by a changed-label "
    "count; large-star/small-star at 100 TB), components reduce to "
    "sizes and sizes to the histogram. Oracle: UNCHANGED — the naive "
    "pair-clique transitive-closure CTE — so the hash match "
    "machine-proves the contraction lossless.",
)
def graph_component_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    edges = copurchase_star_edges(spark, sf_dir).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("x"))
        .distinct()
        .withColumn("label", F.col("x"))
    )
    # Plain min-neighbor propagation converges in O(graph diameter)
    # rounds, NOT the log-round large-star/small-star contraction — a
    # chain-shaped input (a fuzz fixture can produce one) would spin
    # this loop for its full length. Cap it: 200 rounds is orders of
    # magnitude past any fixture diameter (hourly co-purchase cliques
    # keep it in single digits), so hitting the cap means a pathological
    # input that needs the contraction algorithm, not more rounds.
    for _ in range(200):
        nmin = (
            edges.join(labels, edges.dst == labels.x)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(nmin, labels.x == nmin.src, "left")
            .select(
                "x",
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "x")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            "graph_component_size_histogram: min-label propagation did "
            "not converge in 200 rounds (graph diameter > 200); this "
            "input needs the large-star/small-star contraction"
        )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return (
        sizes.groupBy(F.col("sz").alias("component_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_components"))
        .orderBy("component_size")
    )


@register(
    "graph_scc_transition_bounded",
    oracle_sql="""
        WITH seq AS (
            SELECT event_type AS a,
                   lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS b
            FROM events
        ),
        e AS (SELECT DISTINCT a, b FROM seq WHERE b IS NOT NULL),
        nodes AS (SELECT DISTINCT a AS x FROM e),
        r1 AS (
            SELECT x AS a, x AS b FROM nodes
            UNION SELECT a, b FROM e
        ),
        r2 AS (
            SELECT DISTINCT p.a, q.b
            FROM r1 p JOIN r1 q ON p.b = q.a
        ),
        r4 AS (
            SELECT DISTINCT p.a, q.b
            FROM r2 p JOIN r2 q ON p.b = q.a
        ),
        scc AS (
            SELECT f.a AS node, min(f.b) AS scc_id
            FROM r4 f JOIN r4 r ON f.a = r.b AND f.b = r.a
            GROUP BY f.a
        )
        SELECT s.node, s.scc_id,
               CAST(count(*) OVER (PARTITION BY s.scc_id) AS BIGINT)
                   AS scc_size
        FROM scc s
        ORDER BY s.node
    """,
    description="Strongly connected components of the event-type "
    "transition graph (bounded: 5 nodes): transitive closure by two "
    "rounds of relation squaring (paths up to length 4 cover any "
    "5-node digraph), then SCC id = min node among MUTUALLY "
    "reachable nodes (a reaches b AND b reaches a, reflexivity "
    "included) — the behavioral-loop census that says which event "
    "states can recur (a state outside the main SCC is an absorbing "
    "or transient state, e.g. 'error' never followed by anything). "
    "Scale: closure squaring doubles path length per join round "
    "(log-diameter rounds), and every relation here is bounded by "
    "the 25-cell type-pair domain — never user-grain.",
)
def graph_scc_transition_bounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    )
    e = seq.where(F.col("b").isNotNull()).distinct()
    nodes = e.select(F.col("a").alias("x")).distinct()
    r1 = nodes.select(
        F.col("x").alias("a"), F.col("x").alias("b")
    ).unionByName(e).distinct()

    def square(r):
        p, q = r.alias("p"), r.alias("q")
        return (
            p.join(q, F.col("p.b") == F.col("q.a"))
            .select(F.col("p.a").alias("a"), F.col("q.b").alias("b"))
            .distinct()
        )

    r2 = square(r1)
    r4 = square(r2)
    f, r = r4.alias("f"), r4.alias("r")
    scc = (
        f.join(
            r,
            (F.col("f.a") == F.col("r.b")) & (F.col("f.b") == F.col("r.a")),
        )
        .groupBy(F.col("f.a").alias("node"))
        .agg(F.min(F.col("f.b")).alias("scc_id"))
    )
    return scc.select(
        "node",
        "scc_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("scc_id"))
        .cast("long")
        .alias("scc_size"),
    ).orderBy("node")


# ---------------------------------------------------------------------------
# DQ / governance / ETL
# ---------------------------------------------------------------------------


@register(
    "dq_referential_census_all_fks",
    oracle_sql="""
        -- count(col) forms (not sum(CASE)): count is 0 over an
        -- empty child table where sum(CASE) is NULL — the Spark side
        -- counts, so the oracle must too (caught by the fuzz battery
        -- on an empty lineitem fixture).
        SELECT 'lineitem.l_orderkey->orders' AS fk,
               CAST(count(*) AS BIGINT) AS n_child_rows,
               CAST(count(o.o_orderkey) AS BIGINT) AS n_matched,
               CAST(count(*) - count(o.o_orderkey) AS BIGINT) AS n_orphans
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT 'lineitem.l_partkey->part',
               CAST(count(*) AS BIGINT),
               CAST(count(p.p_partkey) AS BIGINT),
               CAST(count(*) - count(p.p_partkey) AS BIGINT)
        FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier',
               CAST(count(*) AS BIGINT),
               CAST(count(s.s_suppkey) AS BIGINT),
               CAST(count(*) - count(s.s_suppkey) AS BIGINT)
        FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        UNION ALL
        SELECT 'orders.o_custkey->customer',
               CAST(count(*) AS BIGINT),
               CAST(count(c.c_custkey) AS BIGINT),
               CAST(count(*) - count(c.c_custkey) AS BIGINT)
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        ORDER BY fk
    """,
    description="Referential-integrity census across ALL FOUR fixture "
    "foreign keys in one report: child rows, matched rows, orphans "
    "per relationship — the positive-form audit (row and match "
    "counts are real numbers even when orphans are zero, per the "
    "vacuous-grade house rule; the fixture's integrity is itself a "
    "documented property this op would catch regressing). Each FK "
    "is one left join + conditional count; at scale the dim sides "
    "broadcast (schema-bounded for nation-sized dims) or "
    "distribute (customer/part/supplier are data-scaling — no "
    "broadcast hint, stats decide). The all-FK single-pass form of "
    "dq_checks' one-FK snapshot.",
)
def dq_referential_census_all_fks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    part = load(spark, sf_dir, "part")
    supp = load(spark, sf_dir, "supplier")
    cust = load(spark, sf_dir, "customer")

    def census(child, parent, ck, pk, label):
        return (
            child.select(F.col(ck))
            .join(
                parent.select(F.col(pk)), F.col(ck) == F.col(pk), "left"
            )
            .agg(
                F.lit(label).alias("fk"),
                F.count(F.lit(1)).cast("long").alias("n_child_rows"),
                F.count(F.col(pk)).cast("long").alias("n_matched"),
                (F.count(F.lit(1)) - F.count(F.col(pk)))
                .cast("long")
                .alias("n_orphans"),
            )
            .select("fk", "n_child_rows", "n_matched", "n_orphans")
        )

    return (
        census(li, orders, "l_orderkey", "o_orderkey",
               "lineitem.l_orderkey->orders")
        .unionByName(
            census(li, part, "l_partkey", "p_partkey",
                   "lineitem.l_partkey->part")
        )
        .unionByName(
            census(li, supp, "l_suppkey", "s_suppkey",
                   "lineitem.l_suppkey->supplier")
        )
        .unionByName(
            census(orders, cust, "o_custkey", "c_custkey",
                   "orders.o_custkey->customer")
        )
        .orderBy("fk")
    )


@register(
    "dq_schema_drift_typed",
    oracle_sql="""
        WITH day1 AS (
            SELECT * FROM orders
            WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        )
        SELECT side, column_name, n, n_null, n_distinct
        FROM (
            SELECT 'day1' AS side, 'o_orderkey' AS column_name,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
                   CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
            FROM day1
            UNION ALL
            SELECT 'day1', 'o_orderstatus', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_orderstatus) AS BIGINT),
                   CAST(count(DISTINCT o_orderstatus) AS BIGINT)
            FROM day1
            UNION ALL
            SELECT 'day1', 'o_orderpriority', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_orderpriority) AS BIGINT),
                   CAST(count(DISTINCT o_orderpriority) AS BIGINT)
            FROM day1
            UNION ALL
            SELECT 'day1', 'o_totalprice_cents', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_totalprice) AS BIGINT),
                   CAST(count(DISTINCT CAST(round(o_totalprice * 100)
                        AS BIGINT)) AS BIGINT)
            FROM day1
            UNION ALL
            SELECT 'full', 'o_orderkey', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_orderkey) AS BIGINT),
                   CAST(count(DISTINCT o_orderkey) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'full', 'o_orderstatus', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_orderstatus) AS BIGINT),
                   CAST(count(DISTINCT o_orderstatus) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'full', 'o_orderpriority', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_orderpriority) AS BIGINT),
                   CAST(count(DISTINCT o_orderpriority) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'full', 'o_totalprice_cents', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(o_totalprice) AS BIGINT),
                   CAST(count(DISTINCT CAST(round(o_totalprice * 100)
                        AS BIGINT)) AS BIGINT)
            FROM orders
        )
        ORDER BY side, column_name
    """,
    description="Typed schema-profile drift: per-column row, null, "
    "and distinct counts for a day-1 load subset (orders before "
    "1996) vs the full table — the column-profile diff a schema "
    "registry compares across loads to catch silent enum growth "
    "(a new o_orderstatus value), key-space widening, and "
    "nullability regressions BEFORE they break consumers. Money "
    "profiles on the exact cent grid so the distinct count is "
    "engine-stable. Scale: each side is one multi-aggregate pass "
    "(Catalyst shares the scan across the per-column aggregates "
    "via grouping-set-free multi-agg).",
)
def dq_schema_drift_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    day1 = orders.where(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )

    def profile(df, side):
        def one(col_label, col, distinct_col):
            return df.agg(
                F.lit(side).alias("side"),
                F.lit(col_label).alias("column_name"),
                F.count(F.lit(1)).cast("long").alias("n"),
                (F.count(F.lit(1)) - F.count(col))
                .cast("long")
                .alias("n_null"),
                F.countDistinct(distinct_col)
                .cast("long")
                .alias("n_distinct"),
            ).select("side", "column_name", "n", "n_null", "n_distinct")

        return (
            one("o_orderkey", F.col("o_orderkey"), F.col("o_orderkey"))
            .unionByName(
                one(
                    "o_orderstatus",
                    F.col("o_orderstatus"),
                    F.col("o_orderstatus"),
                )
            )
            .unionByName(
                one(
                    "o_orderpriority",
                    F.col("o_orderpriority"),
                    F.col("o_orderpriority"),
                )
            )
            .unionByName(
                one(
                    "o_totalprice_cents",
                    F.col("o_totalprice"),
                    scaled_long("o_totalprice", 100),
                )
            )
        )

    return profile(day1, "day1").unionByName(
        profile(orders, "full")
    ).orderBy("side", "column_name")


@register(
    "gov_t_closeness_audit",
    oracle_sql="""
        WITH banded AS (
            SELECT c.c_mktsegment AS seg,
                   least(CAST(round(o.o_totalprice * 100) AS BIGINT)
                         // 10000000, 4) AS band
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        cells AS (
            SELECT seg, band, CAST(count(*) AS BIGINT) AS n
            FROM banded GROUP BY seg, band
        ),
        dense AS (
            SELECT s.seg, b.band, coalesce(c.n, 0) AS n
            FROM (SELECT DISTINCT seg FROM cells) s
            CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS band) b
            LEFT JOIN cells c ON c.seg = s.seg AND c.band = b.band
        ),
        cumg AS (
            SELECT seg, band,
                   sum(n) OVER (PARTITION BY seg ORDER BY band
                       ROWS UNBOUNDED PRECEDING) AS cum_g,
                   sum(n) OVER (PARTITION BY seg) AS n_g,
                   sum(n) OVER () AS n_all
            FROM dense
        ),
        cum AS (
            SELECT seg, band, cum_g, n_g, n_all,
                   sum(cum_g) OVER (PARTITION BY band) AS cum_all
            FROM cumg
        )
        SELECT seg,
               CAST(max(n_g) AS BIGINT) AS n_orders,
               CAST(sum(abs(cum_g * n_all - cum_all * n_g)) AS BIGINT)
                   AS emd_num,
               CAST(sum(abs(cum_g * n_all - cum_all * n_g)) * 10000
                    // (5 * max(n_g) * max(n_all)) AS BIGINT)
                   AS t_closeness_bp
        FROM cum GROUP BY seg
        ORDER BY seg
    """,
    description="t-closeness audit (ordered-attribute EMD): for each "
    "market segment (the quasi-identifier group), the earth-mover "
    "distance between its order-value band distribution (5 ordered "
    "$100k bands) and the global one — EMD over ordered buckets is "
    "the L1 gap of cumulative shares, computed EXACTLY by "
    "cross-multiplying cumulative counts (|cum_g*N - cum_all*n_g|) "
    "so no share rational ever materializes; the bp form divides "
    "once by bands*n_g*N. A group whose value distribution sits far "
    "from global leaks that attribute (the t in t-closeness); this "
    "completes the k-anonymity/l-diversity governance family. "
    "Scale: cell-grain windows over the bounded seg x band grid. "
    "NOTE the cum_all device: the global cumulative at each band is "
    "the band-partitioned sum of the per-seg cumulatives — no "
    "second scan.",
)
def gov_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    banded = orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.least(
            F.expr(
                "CAST(floor(o_totalprice * 100.0D + 0.5D) AS BIGINT)"
                " div 10000000"
            ),
            F.lit(4).cast("long"),
        ).alias("band"),
    )
    cells = banded.groupBy("seg", "band").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # Densify the seg x band grid: a segment with an EMPTY band still
    # carries its running cumulative at that band, and the global
    # cumulative (cum_all = band-partitioned sum of per-seg
    # cumulatives) is only correct when every (seg, band) cell exists.
    segs = cells.select("seg").distinct()
    bands = spark.range(5).select(F.col("id").cast("long").alias("band"))
    dense = (
        segs.crossJoin(F.broadcast(bands))
        .join(cells, ["seg", "band"], "left")
        .select("seg", "band", F.coalesce("n", F.lit(0)).alias("n"))
    )
    w_seg_cum = (
        Window.partitionBy("seg")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dense.select(
        "seg",
        "band",
        F.sum("n").over(w_seg_cum).alias("cum_g"),
        F.sum("n").over(Window.partitionBy("seg")).alias("n_g"),
        F.sum("n").over(Window.partitionBy()).alias("n_all"),
    ).withColumn(
        "cum_all",
        F.sum("cum_g").over(Window.partitionBy("band")),
    )
    gap = F.abs(
        F.col("cum_g") * F.col("n_all") - F.col("cum_all") * F.col("n_g")
    )
    return (
        cum.groupBy("seg")
        .agg(
            F.max("n_g").cast("long").alias("n_orders"),
            F.sum(gap).cast("long").alias("emd_num"),
            F.expr(
                "CAST(sum(abs(cum_g * n_all - cum_all * n_g)) * 10000"
                " div (5 * max(n_g) * max(n_all)) AS BIGINT)"
            ).alias("t_closeness_bp"),
        )
        .orderBy("seg")
    )


@register(
    "etl_scd2_integrity_audit",
    oracle_sql="""
        WITH chg AS (
            SELECT o_custkey, max(o_orderdate) AS chg_ts
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
            GROUP BY o_custkey
        ),
        j AS (
            SELECT c.c_custkey, chg.chg_ts
            FROM customer c
            LEFT JOIN chg ON c.c_custkey = chg.o_custkey
        ),
        scd AS (
            SELECT c_custkey,
                   CAST(floor(epoch(TIMESTAMP '1995-01-01 00:00:00'))
                        AS BIGINT) AS valid_from_s,
                   CASE WHEN chg_ts IS NOT NULL
                        THEN CAST(floor(epoch(chg_ts)) AS BIGINT) END
                       AS valid_to_s,
                   chg_ts IS NULL AS is_current
            FROM j
            UNION ALL
            SELECT c_custkey,
                   CAST(floor(epoch(chg_ts)) AS BIGINT),
                   CAST(NULL AS BIGINT), TRUE
            FROM j WHERE chg_ts IS NOT NULL
        ),
        seq AS (
            SELECT c_custkey, valid_from_s, valid_to_s, is_current,
                   lead(valid_from_s) OVER (PARTITION BY c_custkey
                       ORDER BY valid_from_s) AS next_from
            FROM scd
        ),
        per_key AS (
            SELECT c_custkey,
                   CAST(count(*) AS BIGINT) AS n_versions,
                   CAST(sum(CASE WHEN is_current AND valid_to_s IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
                   CAST(sum(CASE WHEN next_from IS NOT NULL
                            AND valid_to_s != next_from
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_chain_breaks,
                   CAST(sum(CASE WHEN valid_to_s IS NOT NULL
                            AND valid_to_s <= valid_from_s
                        THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_inverted_spans,
                   CAST(sum(CASE WHEN valid_to_s IS NULL
                            AND NOT is_current THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_open_noncurrent
            FROM seq GROUP BY c_custkey
        )
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(n_versions) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN n_versions > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_multi_version_keys,
               CAST(sum(CASE WHEN n_current != 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_keys_bad_current,
               CAST(sum(n_chain_breaks) AS BIGINT) AS n_chain_breaks,
               CAST(sum(n_inverted_spans) AS BIGINT) AS n_inverted_spans,
               CAST(sum(n_open_noncurrent) AS BIGINT)
                   AS n_open_noncurrent
        FROM per_key
    """,
    description="SCD2 integrity audit over the engine's own SCD2 "
    "output shape (merge_upsert_scd2's two-branch construction "
    "rebuilt inline): per key, exactly ONE current open-ended "
    "version, closed versions chain gaplessly (valid_to = next "
    "valid_from), no inverted spans, no open non-current rows — the "
    "four invariants every SCD2 consumer silently assumes and every "
    "hand-rolled merge eventually breaks. Graded as the violation "
    "census with positive-form totals (key, row, multi-version "
    "counts are real even at zero violations). Scale: one key-"
    "partitioned window + two same-key aggregates.",
)
def etl_scd2_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    chg = (
        load(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
        )
        .groupBy("o_custkey")
        .agg(F.max("o_orderdate").alias("chg_ts"))
    )
    j = cust.join(
        chg, cust.c_custkey == chg.o_custkey, "left"
    ).select("c_custkey", "chg_ts")
    base_from = F.unix_timestamp(F.lit("1995-01-01").cast("timestamp"))
    closed = j.select(
        "c_custkey",
        base_from.alias("valid_from_s"),
        F.when(
            F.col("chg_ts").isNotNull(),
            F.unix_timestamp(F.col("chg_ts")),
        ).alias("valid_to_s"),
        F.col("chg_ts").isNull().alias("is_current"),
    )
    opened = j.where(F.col("chg_ts").isNotNull()).select(
        "c_custkey",
        F.unix_timestamp(F.col("chg_ts")).alias("valid_from_s"),
        F.lit(None).cast("long").alias("valid_to_s"),
        F.lit(True).alias("is_current"),
    )
    scd = closed.unionByName(opened)
    w = Window.partitionBy("c_custkey").orderBy("valid_from_s")
    seq = scd.select(
        "c_custkey",
        "valid_from_s",
        "valid_to_s",
        "is_current",
        F.lead("valid_from_s").over(w).alias("next_from"),
    )
    per_key = seq.groupBy("c_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.sum(
            F.when(
                F.col("is_current") & F.col("valid_to_s").isNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_current"),
        F.sum(
            F.when(
                F.col("next_from").isNotNull()
                & (F.col("valid_to_s") != F.col("next_from")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_chain_breaks"),
        F.sum(
            F.when(
                F.col("valid_to_s").isNotNull()
                & (F.col("valid_to_s") <= F.col("valid_from_s")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_inverted_spans"),
        F.sum(
            F.when(
                F.col("valid_to_s").isNull() & ~F.col("is_current"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_open_noncurrent"),
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n_versions").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("n_versions") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_multi_version_keys"),
        F.sum(F.when(F.col("n_current") != 1, 1).otherwise(0))
        .cast("long")
        .alias("n_keys_bad_current"),
        F.sum("n_chain_breaks").cast("long").alias("n_chain_breaks"),
        F.sum("n_inverted_spans").cast("long").alias("n_inverted_spans"),
        F.sum("n_open_noncurrent")
        .cast("long")
        .alias("n_open_noncurrent"),
    )


@register(
    "etl_late_data_impact",
    oracle_sql="""
        WITH arr AS (
            SELECT user_id, epoch_us(ts) AS e,
                   max(epoch_us(ts)) OVER (PARTITION BY user_id
                       ORDER BY event_id
                       ROWS UNBOUNDED PRECEDING) AS high_water
            FROM events
        ),
        late AS (SELECT high_water - e AS late_us FROM arr),
        thresholds(wm_minutes) AS (VALUES (1), (5), (15))
        SELECT CAST(t.wm_minutes AS BIGINT) AS wm_minutes,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN l.late_us > t.wm_minutes * 60000000
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
               CAST(sum(CASE WHEN l.late_us > t.wm_minutes * 60000000
                        THEN 1 ELSE 0 END) * 10000 // count(*)
                    AS BIGINT) AS dropped_bp,
               CAST(max(l.late_us) AS BIGINT) AS max_late_us
        FROM late l CROSS JOIN thresholds t
        GROUP BY t.wm_minutes
        ORDER BY wm_minutes
    """,
    description="Late-data impact sweep: treating event_id as the "
    "ARRIVAL order and ts as event time, each event's lateness is "
    "the per-user event-time high-water mark at its arrival minus "
    "its own timestamp — exactly what a streaming watermark "
    "measures — and the graded table is how many events a 1/5/15-"
    "minute watermark would DROP (floor bp) plus the max observed "
    "lateness. This is the tuning table behind every "
    "withWatermark() choice in the streaming ops: pick the column "
    "where dropped_bp is acceptable. Scale: one user-partitioned "
    "running max + a 3-row broadcast threshold dim.",
)
def etl_late_data_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = ev.select(
        (
            F.max(F.unix_micros("ts")).over(w) - F.unix_micros("ts")
        ).alias("late_us")
    )
    thresholds = spark.createDataFrame(
        [(1,), (5,), (15,)], "wm_minutes long"
    )
    dropped = F.sum(
        F.when(
            F.col("late_us") > F.col("wm_minutes") * 60000000, 1
        ).otherwise(0)
    )
    return (
        late.crossJoin(F.broadcast(thresholds))
        .groupBy("wm_minutes")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            dropped.cast("long").alias("n_dropped"),
            F.expr(
                "CAST(sum(CASE WHEN late_us > wm_minutes * 60000000"
                " THEN 1 ELSE 0 END) * 10000 div count(1) AS BIGINT)"
            ).alias("dropped_bp"),
            F.max("late_us").cast("long").alias("max_late_us"),
        )
        .orderBy("wm_minutes")
    )


@register(
    "dq_monotonic_ts_audit",
    oracle_sql="""
        WITH seq AS (
            SELECT user_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY event_id) AS step_us
            FROM events
        ),
        per_user AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CASE WHEN step_us < 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_inversions,
                   CAST(max(CASE WHEN step_us < 0 THEN -step_us
                            ELSE 0 END) AS BIGINT) AS max_regress_us
            FROM seq GROUP BY user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               CAST(sum(CASE WHEN n_inversions > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_users_with_inversions,
               CAST(sum(n_inversions) AS BIGINT) AS n_inversions,
               CAST(max(max_regress_us) AS BIGINT) AS max_regress_us
        FROM per_user
    """,
    description="Monotonic-timestamp audit: per user, does event time "
    "ever run BACKWARD along the arrival (event_id) order — adjacent "
    "regressions counted and the worst regression magnitude "
    "reported. Clock skew, replayed batches, and producer retries "
    "all show up here first; a pipeline keying state on event time "
    "needs this census to justify its watermark (the companion to "
    "etl_late_data_impact: inversions are WHY lateness exists). "
    "Positive-form totals (user/event counts) keep the grade "
    "non-vacuous on a clean fixture. Scale: one user-partitioned "
    "lag + same-key aggregate.",
)
def dq_monotonic_ts_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = ev.select(
        "user_id",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        ).alias("step_us"),
    )
    per_user = seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("step_us") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_inversions"),
        F.max(
            F.when(F.col("step_us") < 0, -F.col("step_us")).otherwise(0)
        )
        .cast("long")
        .alias("max_regress_us"),
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum(F.when(F.col("n_inversions") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_users_with_inversions"),
        F.sum("n_inversions").cast("long").alias("n_inversions"),
        F.max("max_regress_us").cast("long").alias("max_regress_us"),
    )


# ---------------------------------------------------------------------------
# Streaming
# ---------------------------------------------------------------------------


@register(
    "stream_chained_windows",
    oracle_sql="""
        WITH m AS (SELECT max(ts) AS mx FROM events),
        minutes AS (
            SELECT date_trunc('minute', ts) AS ms, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events GROUP BY ms, event_type
        ),
        hours AS (
            SELECT date_trunc('hour', ms) AS hs, event_type,
                   CAST(count(*) AS BIGINT) AS n_minutes,
                   CAST(sum(n) AS BIGINT) AS n_events,
                   CAST(sum(cents) AS BIGINT) AS sum_cents
            FROM minutes GROUP BY hs, event_type
        )
        SELECT CAST(epoch_us(hs) AS BIGINT) AS bucket_us, event_type,
               n_minutes, n_events, sum_cents
        FROM hours, m
        WHERE hs + INTERVAL 1 HOUR <= mx - INTERVAL 1 HOUR
        ORDER BY bucket_us, event_type
    """,
    description="CHAINED streaming windows: one streaming query "
    "aggregates events into 1-minute tumbling buckets and then "
    "re-windows THOSE buckets into hourly rollups (Spark 3.4+ "
    "window-on-window-column chaining — the second groupBy windows "
    "the first's window struct, no intermediate sink), emitting "
    "closed hours in append mode under a 1-hour watermark. The "
    "graded n_minutes column (distinct non-empty minutes per hour) "
    "only exists because the chain is real — a flat hourly "
    "aggregate cannot produce it. Deterministic on the availableNow "
    "replay (watermark = max(ts) - 1h, the append-closed "
    "convention); oracle reconstructs the same two-level rollup. "
    "Scale: minute state is watermark-bounded; the hour stage "
    "consumes minute-grain rows, 60x smaller.",
)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_intraday_bidask_spark.streaming.replay import (
        _read_events_stream,
        _run_to_memory,
    )

    ev = _read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    minutes = (
        ev.groupBy(
            F.window("ts", "1 minute").alias("mw"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(scaled_long("value", 100)).alias("cents"),
        )
    )
    hours = (
        minutes.groupBy(
            F.window(F.col("mw"), "1 hour").alias("hw"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_minutes"),
            F.sum("n").alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            F.unix_micros("hw.start").alias("bucket_us"),
            "event_type",
            F.col("n_minutes").cast("long").alias("n_minutes"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sum_cents").cast("long").alias("sum_cents"),
        )
    )
    emitted = _run_to_memory(hours, "append")
    return emitted.orderBy("bucket_us", "event_type")


@register(
    "stream_union_two_sources",
    oracle_sql="""
        WITH m AS (
            -- the combined watermark is the MINIMUM of the two
            -- sources' individual event-time maxima
            SELECT least(
                (SELECT max(ts) FROM events WHERE event_type = 'view'),
                (SELECT max(ts) FROM events
                 WHERE event_type = 'purchase')) AS mx
        ),
        w AS (
            SELECT date_trunc('hour', ts) AS ws, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events WHERE event_type IN ('view', 'purchase')
            GROUP BY ws, event_type
        )
        SELECT CAST(epoch_us(ws) AS BIGINT) AS bucket_us, event_type,
               n, cents
        FROM w, m
        WHERE ws + INTERVAL 1 HOUR <= mx - INTERVAL 1 HOUR
        ORDER BY bucket_us, event_type
    """,
    description="Watermark-aligned UNION of two streams: a view "
    "stream and a purchase stream (two independent readStream "
    "sources over the same landing zone, each with its own 1-hour "
    "watermark) union into one hourly append-mode aggregation — "
    "the multi-topic ingestion shape, where Spark advances the "
    "combined query's watermark as the MINIMUM of the input "
    "watermarks so a lagging source holds results open rather than "
    "dropping the other's late data. Emitted-closed-window "
    "convention as the other append twins; the oracle rebuilds the "
    "union census batch-side. Scale: per-source watermark state is "
    "independent; the union is a no-shuffle concatenation.",
)
def stream_union_two_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_intraday_bidask_spark.streaming.replay import (
        _read_events_stream,
        _run_to_memory,
    )

    views = (
        _read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .withWatermark("ts", "1 hour")
    )
    purchases = (
        _read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
    )
    unioned = views.unionByName(purchases)
    agg = (
        unioned.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(scaled_long("value", 100)).alias("cents"),
        )
        .select(
            F.unix_micros("w.start").alias("bucket_us"),
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("cents").cast("long").alias("cents"),
        )
    )
    emitted = _run_to_memory(agg, "append")
    return emitted.orderBy("bucket_us", "event_type")


# ---------------------------------------------------------------------------
# Multimodal + sampling
# ---------------------------------------------------------------------------


@register(
    "multimodal_mime_sniff_census",
    oracle_sql="""
        WITH media AS (
            SELECT doc_id AS media_id, encode(text) AS payload
            FROM documents
        ),
        sniffed AS (
            SELECT media_id,
                   substr(upper(md5(substr(CAST(payload AS VARCHAR),
                                           1, 8))), 1, 1) AS magic,
                   octet_length(payload) AS n_bytes
            FROM media
        )
        SELECT CASE
                   WHEN magic IN ('0','1','2','3') THEN 'image/synth'
                   WHEN magic IN ('4','5','6','7') THEN 'audio/synth'
                   WHEN magic IN ('8','9','A','B') THEN 'video/synth'
                   ELSE 'application/octet-stream' END AS sniffed_mime,
               CAST(count(*) AS BIGINT) AS n_payloads,
               CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
               CAST(min(n_bytes) AS BIGINT) AS min_bytes,
               CAST(max(n_bytes) AS BIGINT) AS max_bytes
        FROM sniffed
        GROUP BY 1
        ORDER BY sniffed_mime
    """,
    description="MIME sniffing census WITHOUT decoding: each binary "
    "payload is classified from its leading magic bytes only (here "
    "the md5 of the first 8 bytes stands in for the magic-number "
    "table, since the synthetic payloads are UTF-8 text — the "
    "plumbing graded is byte-level prefix access on a binary "
    "column, the real sniffer swaps in a constant magic-prefix "
    "map), and the census reports payload counts and byte volumes "
    "per sniffed class — the ingest gate that quarantines "
    "mislabeled media before an expensive decode fleet touches it. "
    "Scale: map-only over payload PREFIXES (first 8 bytes — never "
    "the full blob) + one bounded aggregate.",
)
def multimodal_mime_sniff_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    sniffed = media.select(
        "media_id",
        F.upper(
            F.substring(
                F.md5(F.substring(F.col("payload").cast("string"), 1, 8)),
                1,
                1,
            )
        ).alias("magic"),
        F.octet_length("payload").alias("n_bytes"),
    )
    mime = (
        F.when(F.col("magic").isin("0", "1", "2", "3"), "image/synth")
        .when(F.col("magic").isin("4", "5", "6", "7"), "audio/synth")
        .when(F.col("magic").isin("8", "9", "A", "B"), "video/synth")
        .otherwise("application/octet-stream")
    )
    return (
        sniffed.groupBy(mime.alias("sniffed_mime"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_payloads"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.min("n_bytes").cast("long").alias("min_bytes"),
            F.max("n_bytes").cast("long").alias("max_bytes"),
        )
        .orderBy("sniffed_mime")
    )


@register(
    "sample_block_bootstrap_days",
    oracle_sql="""
        WITH daily AS (
            SELECT CAST(date_part('day', ts) AS BIGINT) AS d,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
            GROUP BY date_part('day', ts)
        ),
        reps(r) AS (VALUES (1), (2), (3)),
        mult AS (
            SELECT r.r, d.d, d.n, d.cents,
                   (CAST(('0x' || substr(md5(r.r || ':' || d.d), 1, 8))
                         AS BIGINT) % 3) AS m
            FROM daily d CROSS JOIN reps r
        )
        SELECT CAST(r AS BIGINT) AS replicate_id,
               CAST(sum(m) AS BIGINT) AS n_blocks_drawn,
               CAST(sum(m * n) AS BIGINT) AS n_events,
               CAST(sum(m * cents) AS BIGINT) AS sum_cents,
               CASE WHEN sum(m * n) > 0 THEN
                   CAST(sum(m * cents) AS DOUBLE) / sum(m * n)
               END AS mean_cents_per_event
        FROM mult GROUP BY r
        ORDER BY replicate_id
    """,
    description="Day-BLOCK bootstrap: three deterministic replicates "
    "resample whole DAYS with md5-hash-derived multiplicities (0-2 "
    "copies of each day's block per replicate — hash arithmetic, "
    "the house replayable-randomness idiom, so any partitioning "
    "reproduces the same draw), and each replicate's event count, "
    "volume, and mean trade size are graded. Block (not row) "
    "resampling preserves intra-day autocorrelation — the "
    "variance-estimation method that is VALID for the serially "
    "dependent series the burstiness/ACF ops show this is. Scale: "
    "resampling is a weight column on the bounded daily rollup — "
    "zero shuffle beyond the daily reduce.",
)
def sample_block_bootstrap_days(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.dayofmonth("ts").cast("long").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(scaled_long("value", 100)).cast("long").alias("cents"),
        )
    )
    reps = spark.createDataFrame([(1,), (2,), (3,)], "r long")
    mult = daily.crossJoin(F.broadcast(reps)).select(
        "r",
        "d",
        "n",
        "cents",
        F.expr(
            "CAST(conv(substr(md5(concat(CAST(r AS STRING), ':',"
            " CAST(d AS STRING))), 1, 8), 16, 10) AS BIGINT) % 3"
        ).alias("m"),
    )
    return (
        mult.groupBy(F.col("r").alias("replicate_id"))
        .agg(
            F.sum("m").cast("long").alias("n_blocks_drawn"),
            F.sum(F.col("m") * F.col("n")).cast("long").alias("n_events"),
            F.sum(F.col("m") * F.col("cents"))
            .cast("long")
            .alias("sum_cents"),
            F.when(
                F.sum(F.col("m") * F.col("n")) > 0,
                F.sum(F.col("m") * F.col("cents")).cast("double")
                / F.sum(F.col("m") * F.col("n")),
            ).alias("mean_cents_per_event"),
        )
        .orderBy("replicate_id")
    )


# ---------------------------------------------------------------------------
# Sources / sinks
# ---------------------------------------------------------------------------

# The five roundtrip ops below write a full table copy before reading
# it back. Scratch allocation is centralized in tables.scratch_dir
# (round-10 review): one memoized, atexit-cleaned parent per tag, a
# fresh unique subdirectory per invocation — re-entry can never delete
# part files a not-yet-collected lazy frame pinned at analysis time.
def _scratch_dir(tag: str, sf_dir: str) -> str:
    """Per-invocation scratch via :func:`tables.scratch_dir`; the
    ``sf_dir`` argument is kept for call-site stability (uniqueness per
    invocation makes per-sf keying unnecessary)."""
    return scratch_dir(tag)


@register(
    "source_binaryfile_manifest",
    oracle_sql=None,  # file mtimes/paths are environment — rows-only.
    description="binaryFile source manifest: a lang-partitioned shard "
    "directory (written DISTRIBUTED — repartition on the partition "
    "column gives exactly one text shard per lang, no driver-side "
    "collect) read back via spark.read.format('binaryFile'), graded "
    "as the per-lang manifest census (file count, total/min/max "
    "byte lengths) a shard-inventory job produces. Rows-only by "
    "nature: the binaryFile source surfaces modificationTime and "
    "absolute paths, which are environment, so no cross-engine "
    "oracle can see the same table — the CENSUS columns themselves "
    "are deterministic and pinned to ground truth by a direct test "
    "(tests/test_staged_r12.py). Scale: binaryFile is the standard "
    "raw-media ingestion source; the manifest never reads payload "
    "bodies past their length.",
)
def source_binaryfile_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    docs = load(spark, sf_dir, "documents")
    out = os.path.join(_scratch_dir("binshard", sf_dir), "shards")
    # Write a bounded, deterministic shard set DISTRIBUTED: exactly one
    # text file per lang (repartition by the partition column puts each
    # lang in one task, so partitionBy emits one file per lang; line
    # order inside a shard is irrelevant to the byte census). No
    # driver-side collect — the write IS the executor-side shard job.
    (
        docs.select("lang", "text")
        .repartition(5, "lang")
        .write.mode("overwrite")
        .partitionBy("lang")
        .text(out)
    )
    back = spark.read.format("binaryFile").option(
        "recursiveFileLookup", "false"
    ).load(os.path.join(out, "lang=*"))
    return (
        back.select(
            F.regexp_extract(
                F.col("path"), r"lang=([^/]+)", 1
            ).alias("lang"),
            F.col("length"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("length").cast("long").alias("total_bytes"),
            F.min("length").cast("long").alias("min_bytes"),
            F.max("length").cast("long").alias("max_bytes"),
        )
        .orderBy("lang")
    )


@register(
    "sink_json_lines_partitioned",
    oracle_sql="""
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    description="Partitioned NDJSON sink roundtrip: documents written "
    "as lang-partitioned JSON-lines files (the interchange format "
    "every downstream tokenizer/labeling tool reads), read back "
    "with an explicit schema, and graded as the per-lang census — "
    "against an oracle computed from the ORIGINAL table, so the "
    "grade proves the write+read is LOSSLESS (row counts, char "
    "sums, and source cardinality all survive JSON escaping and "
    "partition-column extraction), not merely self-consistent. "
    "Scale: partitionBy(lang) writes one directory per partition "
    "value — the layout that makes per-lang consumers prune.",
)
def sink_json_lines_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from pyspark.sql import types as T

    docs = load(spark, sf_dir, "documents")
    out = os.path.join(_scratch_dir("sink_json", sf_dir), "docs_json")
    docs.write.mode("overwrite").partitionBy("lang").json(out)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).json(out)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .orderBy("lang")
    )


@register(
    "source_text_lines_census",
    oracle_sql="""
        SELECT CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(max(n_chars) AS BIGINT) AS max_line_chars,
               CAST(min(n_chars) AS BIGINT) AS min_line_chars
        FROM documents
    """,
    description="text source roundtrip census: document texts written "
    "as raw line-per-record text files (spark.write.text — the "
    "rawest interchange there is) and read back with spark.read."
    "text, graded as the line/char census against the ORIGINAL "
    "table — lossless because the corpus has no newlines (a real "
    "pipeline would escape or length-prefix; the op pins the "
    "precondition by construction since a newline would split a "
    "line and break n_lines). The census over the read-back 'value' "
    "column exercises the text source's single-column schema. "
    "Scale: text write/read is the cheapest possible IO path — "
    "no encoding, no footer, splittable by line.",
)
def source_text_lines_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    docs = load(spark, sf_dir, "documents")
    out = os.path.join(_scratch_dir("source_text", sf_dir), "lines")
    docs.select("text").write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
        F.max(F.length("value")).cast("long").alias("max_line_chars"),
        F.min(F.length("value")).cast("long").alias("min_line_chars"),
    )


@register(
    "scan_decimal_parquet_roundtrip",
    oracle_sql="""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_cents,
               CAST(max(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS max_cents
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    description="DECIMAL parquet roundtrip: order prices cast to "
    "DECIMAL(12,2) (the type a finance schema would declare), "
    "written to parquet, and read back through Spark's vectorized "
    "decimal reader — graded as the per-status exact-cent census "
    "against the ORIGINAL double column, so the grade proves the "
    "double -> decimal -> parquet -> decimal -> cents chain is "
    "value-preserving for the fixture's exact 2-dp domain (the "
    "whole reason DECIMAL exists). Exercises the decimal I/O path "
    "none of the double-based scans touch (parquet "
    "FIXED_LEN_BYTE_ARRAY / INT64 decimal encodings). Scale: "
    "the roundtrip table partitions like any parquet scan.",
)
def scan_decimal_parquet_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    orders = load(spark, sf_dir, "orders")
    out = os.path.join(_scratch_dir("scan_dec", sf_dir), "orders_dec")
    orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("price_dec"),
    ).write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    cents = (F.col("price_dec") * 100).cast("long")
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(cents).cast("long").alias("sum_cents"),
            F.max(cents).cast("long").alias("max_cents"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "scan_partition_file_census",
    oracle_sql="""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        FROM orders
        GROUP BY year(o_orderdate)
        ORDER BY order_year
    """,
    description="Partitioned-layout census via the _metadata hidden "
    "column: orders written partitionBy(year), read back selecting "
    "_metadata.file_path, and graded per partition as (rows, "
    "distinct customers) with every row PROVEN to come from its own "
    "partition directory (a filter asserts file_path contains "
    "'order_year=<year>' — rows violating it are routed to a "
    "sentinel year -1, so a partition-pruning bug becomes a hash "
    "mismatch, not a silent pass). Oracle recomputes the census "
    "from the source table: the write+read must be partition-"
    "faithful AND lossless. Scale: _metadata is evaluated at scan "
    "time from the file split — zero extra IO.",
)
def scan_partition_file_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    orders = load(spark, sf_dir, "orders")
    out = os.path.join(_scratch_dir("scan_part", sf_dir), "by_year")
    orders.select(
        "o_custkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
    ).write.mode("overwrite").partitionBy("order_year").parquet(out)
    back = spark.read.parquet(out).select(
        "o_custkey",
        "order_year",
        F.col("_metadata.file_path").alias("fpath"),
    )
    checked_year = F.when(
        F.col("fpath").contains(
            F.concat(F.lit("order_year="), F.col("order_year").cast("string"))
        ),
        F.col("order_year"),
    ).otherwise(F.lit(-1).cast("long"))
    return (
        back.select(checked_year.alias("order_year"), "o_custkey")
        .groupBy("order_year")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        )
        .orderBy("order_year")
    )
