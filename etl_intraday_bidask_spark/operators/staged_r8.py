"""Wave-D operators (SURVEY.md §2.30).

Theme: the ML-evaluation and feature-engineering surface a
training-data engine needs once models consume its output — exact
ROC-AUC from integer rank algebra, threshold sweeps, calibration
tables, multi-horizon feature windows — plus cross-op integral
identities. Same house discipline as ``staged_r6/7``.

Labels/scores are synthesized deterministically from the events
fixture: purchases are the positive class, views the negative, and the
trade value (exact cents) is the score — a monotone, replayable
stand-in for a model score that makes every metric exactly
reconstructible by the oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_intraday_bidask_spark.functions.parity import scaled_long
from etl_intraday_bidask_spark.registry import register
from etl_intraday_bidask_spark.tables import load

@register(
    "eval_auc_exact",
    oracle_sql="""
        WITH scored AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), per_score AS (
            SELECT s,
                   CAST(sum(y) AS BIGINT) AS n_pos_s,
                   CAST(count(*) - sum(y) AS BIGINT) AS n_neg_s
            FROM scored GROUP BY s
        ), cum AS (
            SELECT s, n_pos_s, n_neg_s,
                   coalesce(sum(n_neg_s) OVER (
                       ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS neg_below
            FROM per_score
        ), u AS (
            SELECT CAST(sum(n_pos_s * (2 * neg_below + n_neg_s))
                        AS BIGINT) AS u2,
                   CAST(sum(n_pos_s) AS BIGINT) AS n_pos,
                   CAST(sum(n_neg_s) AS BIGINT) AS n_neg
            FROM cum
        )
        SELECT n_pos, n_neg, u2,
               CAST(u2 AS DOUBLE) / 2.0 / n_pos / n_neg AS auc
        FROM u
    """,
    description="Exact ROC-AUC by integer rank algebra: AUC is the "
    "probability a random positive outranks a random negative (ties "
    "count half), computed WITHOUT any global ranking of rows — per "
    "distinct score, positive/negative counts plus the cumulative "
    "negatives strictly below give 2U = sum(n_pos_s * (2*neg_below + "
    "n_neg_s)), an exact int64, and AUC = U / (n_pos*n_neg) is one "
    "unrounded division. The doubled-U trick keeps the tie "
    "half-credit integral, so no float participates in the "
    "statistic. Scale: the heavy reduction is per-score (the score "
    "GRID bounds the window input, not the row count — the same "
    "calendar-bounded-window argument, applied to a value grid); at "
    "a continuous-score 100 TB the grid comes from quantized scores, "
    "which is how exact distributed AUC is actually computed.",
)
def eval_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _scored(spark, sf_dir)
    per_score = scored.groupBy("s").agg(
        F.sum("y").cast("long").alias("n_pos_s"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg_s"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_score.select(
        "n_pos_s",
        "n_neg_s",
        F.coalesce(F.sum("n_neg_s").over(w), F.lit(0)).alias("neg_below"),
    )
    u = cum.agg(
        F.sum(
            F.col("n_pos_s")
            * (2 * F.col("neg_below") + F.col("n_neg_s"))
        )
        .cast("long")
        .alias("u2"),
        F.sum("n_pos_s").cast("long").alias("n_pos"),
        F.sum("n_neg_s").cast("long").alias("n_neg"),
    )
    return u.select(
        "n_pos",
        "n_neg",
        "u2",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.col("u2").cast("double")
            / 2.0
            / F.col("n_pos")
            / F.col("n_neg"),
        ).alias("auc"),
    )


@register(
    "eval_threshold_sweep",
    oracle_sql="""
        WITH scored AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), t(thr) AS (VALUES (1000), (5000), (10000), (20000)),
        cells AS (
            SELECT t.thr,
                   CAST(sum(CASE WHEN s >= t.thr AND y = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(sum(CASE WHEN s >= t.thr AND y = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(sum(y) AS BIGINT) AS n_pos
            FROM scored, t
            GROUP BY t.thr
        )
        SELECT CAST(thr AS BIGINT) AS threshold_cents, tp, fp,
               CAST(CASE WHEN tp + fp > 0
                         THEN tp * 10000 // (tp + fp) END AS BIGINT)
                   AS precision_floor_bp,
               CAST(tp * 10000 // n_pos AS BIGINT) AS recall_floor_bp
        FROM cells
        ORDER BY threshold_cents
    """,
    description="Classifier threshold sweep: TP/FP and exact "
    "floor-basis-point precision/recall at four score thresholds, "
    "computed as ONE conditional aggregate over the scored stream "
    "(the threshold dim is a 4-row broadcast; no per-threshold "
    "rescans) — the operating-point table behind every "
    "precision/recall tradeoff decision. Zero-prediction thresholds "
    "emit NULL precision on both engines. All graded values are "
    "int64; no float rate is ever rounded.",
)
def eval_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _scored(spark, sf_dir)
    thr = spark.createDataFrame(
        [(1000,), (5000,), (10000,), (20000,)], ["thr"]
    )
    cells = (
        scored.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(
                F.when((F.col("s") >= F.col("thr")) & (F.col("y") == 1), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when((F.col("s") >= F.col("thr")) & (F.col("y") == 0), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("fp"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )
    return cells.select(
        F.col("thr").cast("long").alias("threshold_cents"),
        "tp",
        "fp",
        F.expr(
            "case when tp + fp > 0 then tp * 10000 div (tp + fp) end"
        )
        .cast("long")
        .alias("precision_floor_bp"),
        F.expr("tp * 10000 div nullif(n_pos, 0)").cast("long").alias(
            "recall_floor_bp"
        ),
    ).orderBy("threshold_cents")


@register(
    "eval_calibration_bins",
    oracle_sql="""
        WITH scored AS (
            SELECT least(CAST(round(value * 100) AS BIGINT) // 5000, 9)
                       AS bin,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        )
        SELECT CAST(bin AS BIGINT) AS score_bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(sum(y) * 10000 // count(*) AS BIGINT)
                   AS empirical_rate_floor_bp
        FROM scored
        GROUP BY bin
        ORDER BY score_bin
    """,
    description="Calibration table: scores bucketed into fixed $50 "
    "bins (capped at 9), each bin's observed positive rate in exact "
    "floor basis points — the reliability-diagram input that says "
    "whether a score of X actually means P(positive) = f(X), the "
    "property threshold decisions silently assume. A monotone "
    "empirical_rate curve here is the sanity check; plotting it "
    "against any claimed probability mapping gives the calibration "
    "error. One map-side-combinable aggregate; all int64.",
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            F.least(
                F.expr("floor(value * 100 + 0.5) div 5000").cast("long"),
                F.lit(9),
            ).alias("bin"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    return (
        scored.groupBy(F.col("bin").cast("long").alias("score_bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.expr("sum(y) * 10000 div count(*)")
            .cast("long")
            .alias("empirical_rate_floor_bp"),
        )
        .orderBy("score_bin")
    )


@register(
    "feature_multi_horizon",
    oracle_sql="""
        WITH ev AS (
            SELECT user_id, ts, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
               CAST(count(*) OVER w1 AS BIGINT) AS n_1h,
               CAST(sum(cents) OVER w1 AS BIGINT) AS cents_1h,
               CAST(count(*) OVER w6 AS BIGINT) AS n_6h,
               CAST(sum(cents) OVER w6 AS BIGINT) AS cents_6h,
               CAST(count(*) OVER w24 AS BIGINT) AS n_24h,
               CAST(sum(cents) OVER w24 AS BIGINT) AS cents_24h
        FROM ev
        WHERE user_id < 5
        WINDOW
            w1 AS (PARTITION BY user_id ORDER BY tsec
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW),
            w6 AS (PARTITION BY user_id ORDER BY tsec
                   RANGE BETWEEN 21600 PRECEDING AND CURRENT ROW),
            w24 AS (PARTITION BY user_id ORDER BY tsec
                    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, ts_us, n_1h
    """,
    description="Multi-horizon feature windows: per event, trailing "
    "1h/6h/24h activity counts and exact cent sums per user — the "
    "point-in-time feature vector a real-time model consumes, with "
    "every horizon guaranteed leak-free (RANGE frames end at CURRENT "
    "ROW; nothing future-dated contributes). The three event-time "
    "RANGE frames share ONE partition+sort (same user_id/tsec spec), "
    "so Catalyst computes all horizons in a single Window over a "
    "single Exchange — adding a horizon is free at plan level, the "
    "property that makes wide feature stores tractable. Note the "
    "duplicate-timestamp subtlety graded here: RANGE frames include "
    "ALL peer rows at the same tsec on both engines, so same-second "
    "events see each other symmetrically — the deterministic "
    "convention (output additionally sorts on n_1h so peer rows "
    "order stably). Output restricted to 5 users for grading size.",
)
def feature_multi_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.unix_seconds("ts").alias("tsec"),
        scaled_long("value", 100).alias("cents"),
    )

    def frame(secs):
        return (
            Window.partitionBy("user_id")
            .orderBy("tsec")
            .rangeBetween(-secs, 0)
        )

    out = ev.where(F.col("user_id") < 5).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.count(F.lit(1)).over(frame(3600)).cast("long").alias("n_1h"),
        F.sum("cents").over(frame(3600)).cast("long").alias("cents_1h"),
        F.count(F.lit(1)).over(frame(21600)).cast("long").alias("n_6h"),
        F.sum("cents").over(frame(21600)).cast("long").alias("cents_6h"),
        F.count(F.lit(1)).over(frame(86400)).cast("long").alias("n_24h"),
        F.sum("cents").over(frame(86400)).cast("long").alias("cents_24h"),
    )
    return out.orderBy("user_id", "ts_us", "n_1h")


@register(
    "orders_little_law_identity",
    oracle_sql="""
        WITH spans AS (
            SELECT o_orderkey,
                   date_trunc('day', o_orderdate) AS start_d,
                   date_trunc('day', max(l_shipdate)) AS end_d
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY o_orderkey, o_orderdate
        ), durations AS (
            SELECT CAST(sum(datediff('day', start_d, end_d) + 1)
                        AS BIGINT) AS total_open_days,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM spans
        ), deltas AS (
            SELECT start_d AS d, 1 AS delta FROM spans
            UNION ALL
            SELECT end_d + INTERVAL 1 DAY, -1 FROM spans
        ), per_day AS (
            SELECT d, sum(delta) AS net FROM deltas GROUP BY d
        ), swept AS (
            SELECT d, sum(net) OVER (ORDER BY d) AS open_now,
                   lead(d) OVER (ORDER BY d) AS next_d
            FROM per_day
        ), integral AS (
            SELECT CAST(sum(open_now *
                            datediff('day', d, next_d)) AS BIGINT)
                       AS sweep_open_days
            FROM swept WHERE next_d IS NOT NULL
        )
        SELECT du.n_orders, du.total_open_days, i.sweep_open_days,
               CAST(du.total_open_days = i.sweep_open_days AS BIGINT)
                   AS identity_holds
        FROM durations du, integral i
    """,
    description="Little's-law integral identity as a cross-check: the "
    "total open-order-days computed from per-order DURATIONS must "
    "exactly equal the time-integral of the sweep-line concurrency "
    "curve (sum of open_count x days-at-that-count over the "
    "piecewise-constant segments) — two INDEPENDENT computations of "
    "the same quantity (L*T = sum of W, the accounting form of "
    "Little's law), so a single off-by-one in either the duration "
    "arithmetic or the sweep's +1/-1 boundary handling breaks the "
    "graded equality. Integer day arithmetic throughout; the sweep "
    "reuses agg_concurrent_intervals' calendar-bounded plan with a "
    "lead() to close each constant segment.",
)
def orders_little_law_identity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.date_trunc("day", "o_orderdate").alias("start_d")
    )
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    spans = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderkey", "start_d")
        .agg(F.date_trunc("day", F.max("l_shipdate")).alias("end_d"))
    )
    durations = spans.agg(
        F.sum(F.datediff("end_d", "start_d") + 1)
        .cast("long")
        .alias("total_open_days"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    deltas = spans.select(
        F.col("start_d").alias("d"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(
            (F.col("end_d") + F.expr("INTERVAL 1 DAY")).alias("d"),
            F.lit(-1).alias("delta"),
        )
    )
    per_day = deltas.groupBy("d").agg(F.sum("delta").alias("net"))
    w = Window.orderBy("d")
    swept = per_day.select(
        "d",
        F.sum("net").over(w).alias("open_now"),
        F.lead("d").over(w).alias("next_d"),
    )
    integral = swept.where(F.col("next_d").isNotNull()).agg(
        F.sum(F.col("open_now") * F.datediff("next_d", "d"))
        .cast("long")
        .alias("sweep_open_days")
    )
    return durations.crossJoin(F.broadcast(integral)).select(
        "n_orders",
        "total_open_days",
        "sweep_open_days",
        (F.col("total_open_days") == F.col("sweep_open_days"))
        .cast("long")
        .alias("identity_holds"),
    )


@register(
    "graph_two_hop_reach",
    oracle_sql="""
        WITH buckets AS (
            SELECT DISTINCT date_trunc('hour', ts) AS h, user_id
            FROM events WHERE event_type = 'purchase'
        ), edges AS (
            SELECT DISTINCT a.user_id AS u, b.user_id AS v
            FROM buckets a JOIN buckets b
              ON a.h = b.h AND a.user_id < b.user_id
        ), adj AS (
            SELECT u AS x, v AS nbr FROM edges
            UNION ALL SELECT v, u FROM edges
        ), two_hop AS (
            SELECT DISTINCT a.x, b.nbr AS r
            FROM adj a JOIN adj b ON a.nbr = b.x
            WHERE b.nbr <> a.x
            UNION
            SELECT x, nbr FROM adj
        ), reach AS (
            SELECT x, CAST(count(*) AS BIGINT) AS n_reach
            FROM two_hop GROUP BY x
        )
        SELECT n_reach,
               CAST(count(*) AS BIGINT) AS n_nodes
        FROM reach
        GROUP BY n_reach
        ORDER BY n_reach
    """,
    description="Two-hop reach distribution: for every vertex, the "
    "count of distinct vertices within <= 2 hops (friends-of-friends "
    "minus self), histogrammed — the influence/visibility measure "
    "behind contact tracing, recommendation candidate pools, and "
    "privacy k-anonymity checks, and the first place a hub's "
    "quadratic neighborhood blowup becomes visible (compare with "
    "graph_degree_distribution: reach inflates superlinearly where "
    "hubs overlap). The expansion is one adjacency self-join with "
    "DISTINCT collapse — bounded by sum of d(v)^2, the same postings "
    "bound as the Jaccard family; hub salting applies unchanged at "
    "100 TB. All exact counts.",
)
def graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    adj = edges.select(F.col("u").alias("x"), F.col("v").alias("nbr")).unionByName(
        edges.select(F.col("v").alias("x"), F.col("u").alias("nbr"))
    )
    pa, pb = adj.alias("pa"), adj.alias("pb")
    two_hop = (
        pa.join(pb, F.col("pa.nbr") == F.col("pb.x"))
        .where(F.col("pb.nbr") != F.col("pa.x"))
        .select(F.col("pa.x").alias("x"), F.col("pb.nbr").alias("r"))
        .unionByName(adj.select("x", F.col("nbr").alias("r")))
        .distinct()
    )
    reach = two_hop.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("n_reach")
    )
    return (
        reach.groupBy("n_reach")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("n_reach")
    )


# --- Wave D growth (round 6): completing the ML-evaluation surface ----
# Shared conventions for the eval_* family: the scored stream is
# events restricted to {purchase, view}; score = exact integer cents
# (scaled_long(value, 100)); label y = 1 for purchase. All rate-like
# outputs are floor basis points / ppm via integral `div` (== DuckDB
# `//` on non-negative ints); irrational terms (ln) quantize to an
# integer grid BEFORE any cross-row aggregation (functions/parity.py).


def _grid_before(df: DataFrame, key: str, descending: bool = False) -> DataFrame:
    """Rows in strictly-earlier key groups, per group — the bounded-grid
    half of the global-rank decomposition (SCALE.md §26):
    rank = n_before(key) + row_number PARTITIONED by key. Returns
    (gk_<key>, before_<key>); the caller must join NULL-SAFELY
    (eqNullSafe) so a NULL key group keeps its rows instead of being
    dropped by null-unsafe equality (round-7 review finding), and the
    window's asc/desc null placement (Spark: NULLS FIRST asc, NULLS
    LAST desc) matches the global window this replaces."""
    order = F.col(key).desc() if descending else F.col(key)
    grid = df.groupBy(key).agg(F.count(F.lit(1)).alias("n_g"))
    return grid.select(
        F.col(key).alias(f"gk_{key}"),
        F.coalesce(
            F.sum("n_g").over(
                Window.orderBy(order).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias(f"before_{key}"),
    )


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval_* family's canonical scored stream (see the shared-
    conventions note above): events restricted to {purchase, view},
    score s = exact integer cents, label y = 1 for purchase. Variants
    that carry extra columns (user_id, dow, ts) build their own
    projection; the plain (s, y) stream lives here ONCE so a change to
    the family convention cannot silently miss an operator (round-7
    review finding: this block was copy-pasted into every op)."""
    return (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            scaled_long("value", 100).alias("s"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )



@register(
    "eval_pr_auc_exact",
    oracle_sql="""
        WITH scored AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), per_score AS (
            SELECT s, CAST(sum(y) AS BIGINT) AS n_pos_s,
                   CAST(count(*) AS BIGINT) AS n_s
            FROM scored GROUP BY s
        ), cum AS (
            SELECT s, n_pos_s,
                   sum(n_pos_s) OVER (ORDER BY s DESC) AS tp_cum,
                   sum(n_s) OVER (ORDER BY s DESC) AS pred_cum
            FROM per_score
        ), terms AS (
            SELECT CAST(sum(n_pos_s * ((tp_cum * 1000000) // pred_cum))
                        AS BIGINT) AS ap_num_ppm,
                   CAST(sum(n_pos_s) AS BIGINT) AS n_pos
            FROM cum
        )
        SELECT n_pos, ap_num_ppm,
               CAST(ap_num_ppm AS DOUBLE) / 1000000.0 / n_pos
                   AS average_precision
        FROM terms
    """,
    description="Exact average precision (PR-AUC, step interpolation): "
    "AP = sum over descending distinct scores of n_pos_s * P(s), with "
    "the precision at each cutoff P = tp_cum/pred_cum floored onto the "
    "ppm grid by integral division — every term an exact int64, so the "
    "aggregate is order-independent and the final AP is one float "
    "division. Same per-score-grid reduction as eval_auc_exact (the "
    "window input is the score GRID, never the row count); ties inside "
    "a score group take the group-cutoff precision, the sklearn "
    "step-interpolation convention. Scale: one groupBy + one bounded "
    "window + one reduce.",
)
def eval_pr_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _scored(spark, sf_dir)
    per_score = scored.groupBy("s").agg(
        F.sum("y").cast("long").alias("n_pos_s"),
        F.count(F.lit(1)).cast("long").alias("n_s"),
    )
    w = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_score.select(
        "n_pos_s",
        F.sum("n_pos_s").over(w).alias("tp_cum"),
        F.sum("n_s").over(w).alias("pred_cum"),
    )
    terms = cum.agg(
        F.sum(
            F.col("n_pos_s")
            * F.expr("tp_cum * 1000000 div pred_cum")
        )
        .cast("long")
        .alias("ap_num_ppm"),
        F.sum("n_pos_s").cast("long").alias("n_pos"),
    )
    return terms.select(
        "n_pos",
        "ap_num_ppm",
        F.when(
            F.col("n_pos") > 0,
            F.col("ap_num_ppm").cast("double")
            / 1000000.0
            / F.col("n_pos"),
        ).alias("average_precision"),
    )


@register(
    "eval_lift_gain_deciles",
    oracle_sql="""
        WITH scored AS (
            SELECT event_id, CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), deciled AS (
            SELECT y, ntile(10) OVER (ORDER BY s DESC, event_id) AS dec
            FROM scored
        ), cells AS (
            SELECT dec, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos
            FROM deciled GROUP BY dec
        ), tot AS (
            SELECT sum(n) AS n_tot, sum(n_pos) AS pos_tot FROM cells
        )
        SELECT CAST(dec AS BIGINT) AS decile, n, n_pos,
               CAST(sum(n_pos) OVER (ORDER BY dec) * 10000
                    // t.pos_tot AS BIGINT) AS cum_gain_floor_bp,
               CAST(n_pos * t.n_tot * 10000 // (n * t.pos_tot)
                    AS BIGINT) AS lift_floor_bp
        FROM cells, tot t
        ORDER BY decile
    """,
    description="Lift/gain table: scores split into deciles (ntile "
    "over DESC score, event_id tie-break — SQL-standard distribution "
    "on both engines), each decile's positive count, cumulative gain "
    "(share of all positives captured so far) and lift vs the base "
    "rate — the campaign-targeting table (how deep to mail). All "
    "rates floor-bp integral divisions of exact counts; the totals "
    "row is a 1-row broadcast. Scale: NO fact-grain global window — "
    "the global rank decomposes into a cumulative count over the "
    "bounded score grid (quantized cents) plus a row_number "
    "PARTITIONED by score (distributed), and the decile is the "
    "SQL-standard ntile distribution applied to that rank "
    "arithmetically. The oracle keeps the plain ntile form, so the "
    "decomposition is hash-checked against the engine's own "
    "window, not assumed.",
)
def eval_lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            "event_id",
            scaled_long("value", 100).alias("s"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    # rank = rows in strictly-higher score groups + rank within this
    # score group (event_id order). The grid window input is the
    # bounded quantized-cents domain; the within-group window hashes
    # on s — nothing single-task at any scale. Null-safe join so a
    # NULL-score group (ranked NULLS LAST by the desc window, like the
    # ntile this replaces) keeps its rows.
    before = _grid_before(scored, "s", descending=True)
    totals = scored.agg(F.count(F.lit(1)).alias("n_all"))
    with_rn = (
        scored.join(before, F.col("s").eqNullSafe(F.col("gk_s")))
        .crossJoin(F.broadcast(totals))
        .select(
            "y",
            (
                F.col("before_s")
                + F.row_number().over(
                    Window.partitionBy("s").orderBy("event_id")
                )
            ).alias("rn"),
            "n_all",
        )
    )
    # SQL-standard ntile(10) distribution: the first n_all % 10 tiles
    # carry (n_all div 10) + 1 rows, the rest n_all div 10. Exact
    # integral div throughout; base = 0 only when n_all < 10, where
    # the first branch covers every row and the nullif-guarded second
    # branch is never selected.
    deciled = with_rn.select(
        "y",
        F.expr(
            "CASE WHEN rn <= ((n_all div 10) + 1) * (n_all % 10) "
            "THEN (rn - 1) div ((n_all div 10) + 1) + 1 "
            "ELSE (n_all % 10) + 1 "
            "+ (rn - 1 - ((n_all div 10) + 1) * (n_all % 10)) "
            "div nullif(n_all div 10, 0) END"
        )
        .cast("int")
        .alias("dec"),
    )
    cells = deciled.groupBy("dec").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    tot = cells.agg(
        F.sum("n").alias("n_tot"), F.sum("n_pos").alias("pos_tot")
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("dec").cast("long").alias("decile"),
            "n",
            "n_pos",
            F.expr(
                "sum(n_pos) over (order by dec rows between unbounded "
                "preceding and current row) * 10000 div nullif(pos_tot, 0)"
            )
            .cast("long")
            .alias("cum_gain_floor_bp"),
            F.expr("n_pos * n_tot * 10000 div nullif(n * pos_tot, 0)")
            .cast("long")
            .alias("lift_floor_bp"),
        )
        .orderBy("decile")
    )


@register(
    "eval_ks_statistic",
    oracle_sql="""
        WITH scored AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), per_score AS (
            SELECT s, CAST(sum(y) AS BIGINT) AS n_pos_s,
                   CAST(count(*) - sum(y) AS BIGINT) AS n_neg_s
            FROM scored GROUP BY s
        ), cum AS (
            SELECT sum(n_pos_s) OVER (ORDER BY s) AS cp,
                   sum(n_neg_s) OVER (ORDER BY s) AS cn
            FROM per_score
        ), tot AS (
            SELECT sum(n_pos_s) AS n_pos, sum(n_neg_s) AS n_neg
            FROM per_score
        )
        SELECT CAST(t.n_pos AS BIGINT) AS n_pos,
               CAST(t.n_neg AS BIGINT) AS n_neg,
               CAST(max(abs(cp * t.n_neg - cn * t.n_pos)) AS BIGINT)
                   AS ks_numer,
               CAST(max(abs(cp * t.n_neg - cn * t.n_pos)) * 10000
                    // (t.n_pos * t.n_neg) AS BIGINT)
                   AS ks_floor_bp
        FROM cum, tot t
        GROUP BY t.n_pos, t.n_neg
    """,
    description="Kolmogorov-Smirnov separation statistic, exact: KS = "
    "max over the score grid of |F_pos(s) - F_neg(s)|, evaluated as "
    "the integer |cp*n_neg - cn*n_pos| (cross-multiplied CDFs — no "
    "rate float ever exists) with the bp reading one integral "
    "division at the end — the credit-scoring twin of AUC (KS is the "
    "max vertical gap, AUC the area). Same bounded score-grid window "
    "as the AUC family. Scale: per-score reduce + grid window + "
    "1-row max.",
)
def eval_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _scored(spark, sf_dir)
    per_score = scored.groupBy("s").agg(
        F.sum("y").cast("long").alias("n_pos_s"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg_s"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_score.select(
        F.sum("n_pos_s").over(w).alias("cp"),
        F.sum("n_neg_s").over(w).alias("cn"),
    )
    tot = per_score.agg(
        F.sum("n_pos_s").alias("n_pos"), F.sum("n_neg_s").alias("n_neg")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n_pos", "n_neg")
        .agg(
            F.max(
                F.abs(
                    F.col("cp") * F.col("n_neg")
                    - F.col("cn") * F.col("n_pos")
                )
            )
            .cast("long")
            .alias("ks_numer"),
            F.expr(
                "max(abs(cp * n_neg - cn * n_pos)) * 10000 "
                "div nullif(n_pos * n_neg, 0)"
            )
            .cast("long")
            .alias("ks_floor_bp"),
        )
        .select(
            F.col("n_pos").cast("long").alias("n_pos"),
            F.col("n_neg").cast("long").alias("n_neg"),
            "ks_numer",
            "ks_floor_bp",
        )
    )


@register(
    "eval_f1_threshold_sweep",
    oracle_sql="""
        WITH scored AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), t(thr) AS (VALUES (1000), (5000), (10000), (20000)),
        cells AS (
            SELECT t.thr,
                   CAST(sum(CASE WHEN s >= t.thr AND y = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(sum(CASE WHEN s >= t.thr AND y = 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(sum(CASE WHEN s < t.thr AND y = 1
                            THEN 1 ELSE 0 END) AS BIGINT) AS fn
            FROM scored, t GROUP BY t.thr
        )
        SELECT CAST(thr AS BIGINT) AS threshold_cents, tp, fp, fn,
               CAST(CASE WHEN 2 * tp + fp + fn > 0
                         THEN 2 * tp * 10000 // (2 * tp + fp + fn)
                    END AS BIGINT) AS f1_floor_bp
        FROM cells ORDER BY threshold_cents
    """,
    description="F1 operating-point sweep: TP/FP/FN and the exact "
    "floor-bp F1 = 2TP/(2TP+FP+FN) at four thresholds in ONE "
    "conditional aggregate (4-row broadcast threshold dim, no "
    "rescans) — the harmonic-mean companion to eval_threshold_sweep's "
    "precision/recall; the integral F1 form never materializes either "
    "rate, so no float rounding decision exists. Degenerate "
    "(no-prediction, no-positive) thresholds emit NULL identically.",
)
def eval_f1_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _scored(spark, sf_dir)
    thr = spark.createDataFrame(
        [(1000,), (5000,), (10000,), (20000,)], ["thr"]
    )
    cells = (
        scored.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(
                F.when((F.col("s") >= F.col("thr")) & (F.col("y") == 1), 1)
                .otherwise(0)
            ).cast("long").alias("tp"),
            F.sum(
                F.when((F.col("s") >= F.col("thr")) & (F.col("y") == 0), 1)
                .otherwise(0)
            ).cast("long").alias("fp"),
            F.sum(
                F.when((F.col("s") < F.col("thr")) & (F.col("y") == 1), 1)
                .otherwise(0)
            ).cast("long").alias("fn"),
        )
    )
    return cells.select(
        F.col("thr").cast("long").alias("threshold_cents"),
        "tp",
        "fp",
        "fn",
        F.expr(
            "case when 2 * tp + fp + fn > 0 "
            "then 2 * tp * 10000 div (2 * tp + fp + fn) end"
        ).cast("long").alias("f1_floor_bp"),
    ).orderBy("threshold_cents")


@register(
    "eval_group_auc_by_dow",
    oracle_sql="""
        WITH scored AS (
            SELECT isodow(ts) AS dow,
                   CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), per_score AS (
            SELECT dow, s, CAST(sum(y) AS BIGINT) AS n_pos_s,
                   CAST(count(*) - sum(y) AS BIGINT) AS n_neg_s
            FROM scored GROUP BY dow, s
        ), cum AS (
            SELECT dow, n_pos_s, n_neg_s,
                   coalesce(sum(n_neg_s) OVER (
                       PARTITION BY dow ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS neg_below
            FROM per_score
        )
        SELECT CAST(dow AS BIGINT) AS dow,
               CAST(sum(n_pos_s) AS BIGINT) AS n_pos,
               CAST(sum(n_neg_s) AS BIGINT) AS n_neg,
               CAST(sum(n_pos_s * (2 * neg_below + n_neg_s)) AS BIGINT)
                   AS u2,
               CAST(sum(n_pos_s * (2 * neg_below + n_neg_s)) AS DOUBLE)
                   / 2.0 / sum(n_pos_s) / sum(n_neg_s) AS auc
        FROM cum GROUP BY dow ORDER BY dow
    """,
    description="Per-segment (ISO weekday) ROC-AUC by the same "
    "doubled-U integer rank algebra as eval_auc_exact, partitioned — "
    "the slice view that catches a model that ranks well on weekdays "
    "and guesses on weekends (aggregate AUC hides it). Weekday parity "
    "pinned: Spark weekday()+1 == DuckDB isodow. Scale: the grid "
    "window partitions by segment, so segments reduce independently "
    "— group AUC is embarrassingly parallel.",
)
def eval_group_auc_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            (F.weekday("ts") + 1).alias("dow"),
            scaled_long("value", 100).alias("s"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    per_score = scored.groupBy("dow", "s").agg(
        F.sum("y").cast("long").alias("n_pos_s"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg_s"),
    )
    w = (
        Window.partitionBy("dow")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per_score.select(
        "dow",
        "n_pos_s",
        "n_neg_s",
        F.coalesce(F.sum("n_neg_s").over(w), F.lit(0)).alias("neg_below"),
    )
    u2 = F.sum(
        F.col("n_pos_s") * (2 * F.col("neg_below") + F.col("n_neg_s"))
    )
    return (
        cum.groupBy(F.col("dow").cast("long").alias("dow"))
        .agg(
            F.sum("n_pos_s").cast("long").alias("n_pos"),
            F.sum("n_neg_s").cast("long").alias("n_neg"),
            u2.cast("long").alias("u2"),
            F.when(
                (F.sum("n_pos_s") > 0) & (F.sum("n_neg_s") > 0),
                u2.cast("double")
                / 2.0
                / F.sum("n_pos_s")
                / F.sum("n_neg_s"),
            ).alias("auc"),
        )
        .orderBy("dow")
    )


@register(
    "eval_psi_score_drift",
    oracle_sql="""
        WITH scored AS (
            SELECT least(CAST(round(value * 100) AS BIGINT) // 5000, 9)
                       AS bin,
                   event_id % 2 AS half
            FROM events WHERE event_type IN ('purchase', 'view')
        ), cells AS (
            SELECT bin,
                   CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b
            FROM scored GROUP BY bin
        ), tot AS (
            SELECT sum(n_a) AS na_tot, sum(n_b) AS nb_tot FROM cells
        ), shares AS (
            SELECT bin, n_a, n_b,
                   n_a * 1000000 // t.na_tot AS pa_ppm,
                   n_b * 1000000 // t.nb_tot AS pb_ppm
            FROM cells, tot t
        )
        SELECT CAST(bin AS BIGINT) AS score_bin, n_a, n_b,
               CAST(pa_ppm AS BIGINT) AS pa_ppm,
               CAST(pb_ppm AS BIGINT) AS pb_ppm,
               CAST(CASE WHEN pa_ppm > 0 AND pb_ppm > 0 THEN
                   (pa_ppm - pb_ppm) * CAST(floor(
                       ln(CAST(pa_ppm AS DOUBLE) / pb_ppm) * 1000000
                       + 0.5) AS BIGINT)
               END AS BIGINT) AS psi_term_scaled
        FROM shares ORDER BY score_bin
    """,
    description="Population Stability Index between two deterministic "
    "deployment halves (event_id parity), per $50 score bin: shares "
    "on the exact ppm grid (integral division), the ln share-ratio "
    "quantized to 1e-6 as an integer BEFORE the (pa-pb) product, so "
    "the per-bin PSI term is an exact int64 and the table is "
    "order-independent — the score-drift monitor that decides when a "
    "model retrains (PSI > 0.2 = shifted). Empty-side bins emit NULL "
    "terms identically on both engines. One conditional aggregate + "
    "1-row totals broadcast.",
)
def eval_psi_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            F.least(
                F.expr("floor(value * 100 + 0.5) div 5000").cast("long"),
                F.lit(9),
            ).alias("bin"),
            (F.col("event_id") % 2).alias("half"),
        )
    )
    cells = scored.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    tot = cells.agg(
        F.sum("n_a").alias("na_tot"), F.sum("n_b").alias("nb_tot")
    )
    shares = cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_a",
        "n_b",
        F.expr("n_a * 1000000 div nullif(na_tot, 0)").alias("pa_ppm"),
        F.expr("n_b * 1000000 div nullif(nb_tot, 0)").alias("pb_ppm"),
    )
    return shares.select(
        F.col("bin").cast("long").alias("score_bin"),
        "n_a",
        "n_b",
        F.col("pa_ppm").cast("long").alias("pa_ppm"),
        F.col("pb_ppm").cast("long").alias("pb_ppm"),
        F.when(
            (F.col("pa_ppm") > 0) & (F.col("pb_ppm") > 0),
            (F.col("pa_ppm") - F.col("pb_ppm"))
            * F.floor(
                F.log(
                    F.col("pa_ppm").cast("double")
                    / F.col("pb_ppm").cast("double")
                )
                * 1000000
                + 0.5
            ).cast("long"),
        )
        .cast("long")
        .alias("psi_term_scaled"),
    ).orderBy("score_bin")


@register(
    "eval_information_value_bins",
    oracle_sql="""
        WITH scored AS (
            SELECT least(CAST(round(value * 100) AS BIGINT) // 5000, 9)
                       AS bin,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), cells AS (
            SELECT bin, CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(count(*) - sum(y) AS BIGINT) AS n_neg
            FROM scored GROUP BY bin
        ), tot AS (
            SELECT sum(n_pos) AS pos_tot, sum(n_neg) AS neg_tot
            FROM cells
        ), shares AS (
            SELECT bin, n_pos, n_neg,
                   n_pos * 1000000 // t.pos_tot AS dp_ppm,
                   n_neg * 1000000 // t.neg_tot AS dn_ppm
            FROM cells, tot t
        )
        SELECT CAST(bin AS BIGINT) AS score_bin, n_pos, n_neg,
               CAST(CASE WHEN dp_ppm > 0 AND dn_ppm > 0 THEN
                   CAST(floor(ln(CAST(dp_ppm AS DOUBLE) / dn_ppm)
                              * 1000000 + 0.5) AS BIGINT)
               END AS BIGINT) AS woe_scaled,
               CAST(CASE WHEN dp_ppm > 0 AND dn_ppm > 0 THEN
                   (dp_ppm - dn_ppm) * CAST(floor(
                       ln(CAST(dp_ppm AS DOUBLE) / dn_ppm) * 1000000
                       + 0.5) AS BIGINT)
               END AS BIGINT) AS iv_term_scaled
        FROM shares ORDER BY score_bin
    """,
    description="Weight-of-evidence / information-value table per "
    "score bin: WoE = ln(share_pos/share_neg) quantized to 1e-6 "
    "integers, IV term = (share_pos - share_neg) x WoE exact — the "
    "credit-risk feature-strength screen (IV > 0.3 = strong "
    "predictor); shares are ppm integral divisions of class totals. "
    "Same skeleton as eval_psi_score_drift with class shares "
    "replacing deployment halves.",
)
def eval_information_value_bins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            F.least(
                F.expr("floor(value * 100 + 0.5) div 5000").cast("long"),
                F.lit(9),
            ).alias("bin"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    cells = scored.groupBy("bin").agg(
        F.sum("y").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg"),
    )
    tot = cells.agg(
        F.sum("n_pos").alias("pos_tot"), F.sum("n_neg").alias("neg_tot")
    )
    shares = cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_pos",
        "n_neg",
        F.expr("n_pos * 1000000 div nullif(pos_tot, 0)").alias("dp_ppm"),
        F.expr("n_neg * 1000000 div nullif(neg_tot, 0)").alias("dn_ppm"),
    )
    woe = F.floor(
        F.log(
            F.col("dp_ppm").cast("double") / F.col("dn_ppm").cast("double")
        )
        * 1000000
        + 0.5
    ).cast("long")
    ok = (F.col("dp_ppm") > 0) & (F.col("dn_ppm") > 0)
    return shares.select(
        F.col("bin").cast("long").alias("score_bin"),
        "n_pos",
        "n_neg",
        F.when(ok, woe).cast("long").alias("woe_scaled"),
        F.when(ok, (F.col("dp_ppm") - F.col("dn_ppm")) * woe)
        .cast("long")
        .alias("iv_term_scaled"),
    ).orderBy("score_bin")


@register(
    "eval_mcnemar_paired_rules",
    oracle_sql="""
        WITH scored AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), paired AS (
            SELECT CASE WHEN (s >= 5000) = (y = 1) THEN 1 ELSE 0 END
                       AS a_ok,
                   CASE WHEN (s >= 10000) = (y = 1) THEN 1 ELSE 0 END
                       AS b_ok
            FROM scored
        ), cells AS (
            SELECT
                CAST(sum(CASE WHEN a_ok = 1 AND b_ok = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n11,
                CAST(sum(CASE WHEN a_ok = 1 AND b_ok = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n10,
                CAST(sum(CASE WHEN a_ok = 0 AND b_ok = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n01,
                CAST(sum(CASE WHEN a_ok = 0 AND b_ok = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n00
            FROM paired
        )
        SELECT n11, n10, n01, n00,
               CAST((n10 - n01) * (n10 - n01) AS BIGINT)
                   AS mcnemar_numer,
               CAST(n10 + n01 AS BIGINT) AS mcnemar_denom,
               CASE WHEN n10 + n01 > 0 THEN
                   CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
                       / (n10 + n01)
               END AS mcnemar_chi2
        FROM cells
    """,
    description="McNemar paired-classifier test: two threshold rules "
    "(s>=50.00 vs s>=100.00) judged right/wrong per event; the "
    "discordant cells n10/n01 and the chi-square statistic "
    "(n10-n01)^2/(n10+n01) decide whether the rules differ beyond "
    "noise — the PAIRED comparison that is valid when both models "
    "score the same rows (two independent accuracy numbers are not). "
    "Numerator and denominator exact int64; the statistic one float "
    "division. One conditional aggregate, map-side combinable.",
)
def eval_mcnemar_paired_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = _scored(spark, sf_dir)
    paired = scored.select(
        F.when((F.col("s") >= 5000) == (F.col("y") == 1), 1)
        .otherwise(0)
        .alias("a_ok"),
        F.when((F.col("s") >= 10000) == (F.col("y") == 1), 1)
        .otherwise(0)
        .alias("b_ok"),
    )
    cells = paired.agg(
        F.sum(F.when((F.col("a_ok") == 1) & (F.col("b_ok") == 1), 1).otherwise(0))
        .cast("long").alias("n11"),
        F.sum(F.when((F.col("a_ok") == 1) & (F.col("b_ok") == 0), 1).otherwise(0))
        .cast("long").alias("n10"),
        F.sum(F.when((F.col("a_ok") == 0) & (F.col("b_ok") == 1), 1).otherwise(0))
        .cast("long").alias("n01"),
        F.sum(F.when((F.col("a_ok") == 0) & (F.col("b_ok") == 0), 1).otherwise(0))
        .cast("long").alias("n00"),
    )
    d = F.col("n10") - F.col("n01")
    return cells.select(
        "n11",
        "n10",
        "n01",
        "n00",
        (d * d).cast("long").alias("mcnemar_numer"),
        (F.col("n10") + F.col("n01")).cast("long").alias("mcnemar_denom"),
        F.when(
            F.col("n10") + F.col("n01") > 0,
            (d * d).cast("double") / (F.col("n10") + F.col("n01")),
        ).alias("mcnemar_chi2"),
    )


@register(
    "eval_mrr_first_purchase",
    oracle_sql="""
        WITH scored AS (
            SELECT user_id, event_id,
                   CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), ranked AS (
            SELECT user_id, y,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY s DESC, event_id
                   ) AS rk
            FROM scored
        ), firsts AS (
            SELECT user_id, min(rk) AS first_pos_rank
            FROM ranked WHERE y = 1 GROUP BY user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(1000000 // first_pos_rank) AS BIGINT)
                   AS rr_sum_ppm,
               CAST(sum(1000000 // first_pos_rank) // count(*)
                    AS BIGINT) AS mrr_floor_ppm,
               CAST(sum(CASE WHEN first_pos_rank = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit_at_1
        FROM firsts
    """,
    description="Mean reciprocal rank of the first relevant item: per "
    "user, events ranked by score (event_id tie-break), the rank of "
    "the best-ranked purchase taken reciprocally on the exact ppm "
    "grid (1000000 div rank — integral, so the MRR sum is exact and "
    "order-independent; users with no purchase drop, the standard "
    "convention), plus hit@1 — the leaderboard metric for retrieval "
    "and recommendation rankers. Scale: one user-partitioned rank "
    "window + per-user min + global reduce; no global sort.",
)
def eval_mrr_first_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            "user_id",
            "event_id",
            scaled_long("value", 100).alias("s"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    ranked = scored.select(
        "user_id",
        "y",
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("s").desc(), "event_id"
            )
        )
        .alias("rk"),
    )
    firsts = (
        ranked.where(F.col("y") == 1)
        .groupBy("user_id")
        .agg(F.min("rk").alias("first_pos_rank"))
    )
    return firsts.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.expr("1000000 div first_pos_rank"))
        .cast("long")
        .alias("rr_sum_ppm"),
        F.expr("sum(1000000 div first_pos_rank) div count(*)")
        .cast("long")
        .alias("mrr_floor_ppm"),
        F.sum(F.when(F.col("first_pos_rank") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hit_at_1"),
    )


@register(
    "eval_recall_at_k_per_user",
    oracle_sql="""
        WITH scored AS (
            SELECT user_id, event_id,
                   CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), ranked AS (
            SELECT user_id, y,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY s DESC, event_id
                   ) AS rk
            FROM scored
        ), per_user AS (
            SELECT user_id,
                   CAST(sum(y) AS BIGINT) AS n_rel,
                   CAST(sum(CASE WHEN rk <= 5 THEN y ELSE 0 END)
                        AS BIGINT) AS n_rel_top5,
                   CAST(sum(CASE WHEN rk <= 10 THEN y ELSE 0 END)
                        AS BIGINT) AS n_rel_top10
            FROM ranked GROUP BY user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(n_rel) AS BIGINT) AS total_rel,
               CAST(sum(n_rel_top5) AS BIGINT) AS captured_top5,
               CAST(sum(n_rel_top10) AS BIGINT) AS captured_top10,
               CAST(sum(n_rel_top5) * 10000 // sum(n_rel) AS BIGINT)
                   AS recall5_floor_bp,
               CAST(sum(n_rel_top10) * 10000 // sum(n_rel) AS BIGINT)
                   AS recall10_floor_bp
        FROM per_user WHERE n_rel > 0
    """,
    description="Recall@5 / recall@10 (micro-averaged): per user, "
    "relevant items (purchases) captured in the score-ranked top-k "
    "(event_id tie-break), summed over users with >=1 relevant item "
    "and divided once on the exact bp grid — the retrieval-quality "
    "gate for candidate-generation stages (a recall@10 of 60% caps "
    "the whole recommender at 60%). One user-partitioned rank window "
    "+ conditional per-user reduce + global reduce; no global sort.",
)
def eval_recall_at_k_per_user(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            "user_id",
            "event_id",
            scaled_long("value", 100).alias("s"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    ranked = scored.select(
        "user_id",
        "y",
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("s").desc(), "event_id"
            )
        )
        .alias("rk"),
    )
    per_user = ranked.groupBy("user_id").agg(
        F.sum("y").cast("long").alias("n_rel"),
        F.sum(F.when(F.col("rk") <= 5, F.col("y")).otherwise(0))
        .cast("long")
        .alias("n_rel_top5"),
        F.sum(F.when(F.col("rk") <= 10, F.col("y")).otherwise(0))
        .cast("long")
        .alias("n_rel_top10"),
    )
    return per_user.where(F.col("n_rel") > 0).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_rel").cast("long").alias("total_rel"),
        F.sum("n_rel_top5").cast("long").alias("captured_top5"),
        F.sum("n_rel_top10").cast("long").alias("captured_top10"),
        F.expr("sum(n_rel_top5) * 10000 div sum(n_rel)")
        .cast("long")
        .alias("recall5_floor_bp"),
        F.expr("sum(n_rel_top10) * 10000 div sum(n_rel)")
        .cast("long")
        .alias("recall10_floor_bp"),
    )


@register(
    "feature_target_encode_loo",
    oracle_sql="""
        WITH scored AS (
            SELECT user_id,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), stats AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS pos
            FROM scored GROUP BY user_id
        ), loo AS (
            SELECT s.user_id, st.n, st.pos,
                   CASE WHEN st.n > 1 THEN
                       (st.pos - s.y) * 10000 // (st.n - 1)
                   END AS loo_bp
            FROM scored s JOIN stats st ON s.user_id = st.user_id
        )
        SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
               CAST(max(pos) AS BIGINT) AS n_pos,
               CAST(sum(loo_bp) AS BIGINT) AS loo_sum_bp,
               CAST(min(loo_bp) AS BIGINT) AS loo_min_bp,
               CAST(max(loo_bp) AS BIGINT) AS loo_max_bp
        FROM loo GROUP BY user_id ORDER BY user_id
    """,
    description="Leave-one-out target encoding of user_id: each "
    "event's encoded value is the user's positive rate EXCLUDING the "
    "event itself ((pos - y) / (n - 1), floored onto the bp grid) — "
    "the standard high-cardinality categorical encoding, with the "
    "self-exclusion that prevents the target leaking into its own "
    "feature; singleton users emit NULL identically. Graded per user "
    "as exact sum/min/max of the per-event encodings. Scale: one "
    "user aggregate broadcast-joined back — the fact shuffles once "
    "on the natural key; at 100 TB the stats side is the small one.",
)
def feature_target_encode_loo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            "user_id",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    stats = scored.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    loo = scored.join(stats, "user_id").select(
        "user_id",
        "n",
        "pos",
        F.when(
            F.col("n") > 1,
            F.expr("(pos - y) * 10000 div (n - 1)"),
        ).alias("loo_bp"),
    )
    return (
        loo.groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.max("pos").cast("long").alias("n_pos"),
            F.sum("loo_bp").cast("long").alias("loo_sum_bp"),
            F.min("loo_bp").cast("long").alias("loo_min_bp"),
            F.max("loo_bp").cast("long").alias("loo_max_bp"),
        )
        .orderBy("user_id")
    )


@register(
    "sample_group_kfold",
    oracle_sql="""
        WITH folded AS (
            SELECT user_id,
                   (user_id * 48271) % 2147483647 % 5 AS fold,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events
        )
        SELECT CAST(fold AS BIGINT) AS fold,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(y) AS BIGINT) AS n_pos
        FROM folded GROUP BY fold ORDER BY fold
    """,
    description="Grouped 5-fold CV assignment: the fold is a pure LCG "
    "hash of user_id, so EVERY event of a user lands in one fold by "
    "construction — the grouping that prevents the same user's "
    "behavior appearing in both train and validation (the classic "
    "entity-leakage inflation). Membership is replayable on any "
    "partitioning/engine/day (same hash-not-RNG discipline as "
    "sample_hash_bucket); graded output is each fold's user/event/"
    "positive census. Zero shuffle beyond the fold aggregate.",
)
def sample_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    folded = load(spark, sf_dir, "events").select(
        "user_id",
        ((F.col("user_id") * 48271) % 2147483647 % 5).alias("fold"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    return (
        folded.groupBy(F.col("fold").cast("long").alias("fold"))
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .orderBy("fold")
    )


@register(
    "sample_time_series_cv_expanding",
    oracle_sql="""
        WITH ev AS (
            SELECT ts, CASE WHEN event_type = 'purchase' THEN 1
                       ELSE 0 END AS y
            FROM events
        ), bounds AS (
            SELECT min(ts) AS t0 FROM ev
        ), folds(k) AS (VALUES (1), (2), (3)),
        cells AS (
            SELECT f.k,
                   CAST(sum(CASE WHEN e.ts < b.t0
                            + to_days(7 * f.k) THEN 1 ELSE 0 END)
                        AS BIGINT) AS train_n,
                   CAST(sum(CASE WHEN e.ts >= b.t0 + to_days(7 * f.k)
                            AND e.ts < b.t0 + to_days(7 * (f.k + 1))
                            THEN 1 ELSE 0 END) AS BIGINT) AS test_n,
                   CAST(sum(CASE WHEN e.ts >= b.t0 + to_days(7 * f.k)
                            AND e.ts < b.t0 + to_days(7 * (f.k + 1))
                            THEN e.y ELSE 0 END) AS BIGINT)
                       AS test_pos
            FROM ev e, bounds b, folds f
            GROUP BY f.k
        )
        SELECT CAST(k AS BIGINT) AS fold, train_n, test_n, test_pos
        FROM cells ORDER BY fold
    """,
    description="Expanding-window time-series CV folds: fold k trains "
    "on everything before week k (from the corpus start) and tests "
    "on week k itself — the only CV scheme that never shows a model "
    "the future (random k-fold leaks temporal structure). Fold "
    "boundaries derive from the corpus min(ts) (1-row broadcast) + "
    "exact day intervals; the three folds' train/test censuses come "
    "from ONE conditional aggregate over a 3-row broadcast fold dim "
    "(no per-fold rescans — same one-scan sweep as "
    "q6_sensitivity_whatif).",
)
def sample_time_series_cv_expanding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "ts",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    bounds = ev.agg(F.min("ts").alias("t0"))
    folds = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    cells = (
        ev.crossJoin(F.broadcast(bounds))
        .crossJoin(F.broadcast(folds))
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    F.col("ts")
                    < F.col("t0") + F.expr("make_dt_interval(7 * k)"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("train_n"),
            F.sum(
                F.when(
                    (
                        F.col("ts")
                        >= F.col("t0") + F.expr("make_dt_interval(7 * k)")
                    )
                    & (
                        F.col("ts")
                        < F.col("t0")
                        + F.expr("make_dt_interval(7 * (k + 1))")
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("test_n"),
            F.sum(
                F.when(
                    (
                        F.col("ts")
                        >= F.col("t0") + F.expr("make_dt_interval(7 * k)")
                    )
                    & (
                        F.col("ts")
                        < F.col("t0")
                        + F.expr("make_dt_interval(7 * (k + 1))")
                    ),
                    F.col("y"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("test_pos"),
        )
    )
    return cells.select(
        F.col("k").cast("long").alias("fold"),
        "train_n",
        "test_n",
        "test_pos",
    ).orderBy("fold")


@register(
    "eval_entity_split_leakage",
    oracle_sql="""
        WITH split AS (
            SELECT o_custkey,
                   CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
                        THEN 0 ELSE 1 END AS part,
                   count(*) AS n
            FROM orders GROUP BY 1, 2
        ), per_cust AS (
            SELECT o_custkey,
                   CAST(count(*) AS BIGINT) AS n_parts,
                   CAST(sum(n) AS BIGINT) AS n_orders
            FROM split GROUP BY o_custkey
        )
        SELECT CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CASE WHEN n_parts = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_leaking,
               CAST(sum(CASE WHEN n_parts = 2 THEN n_orders ELSE 0 END)
                    AS BIGINT) AS n_orders_leaking,
               CAST(sum(CASE WHEN n_parts = 2 THEN 1 ELSE 0 END)
                    * 10000 // count(*) AS BIGINT)
                   AS leak_rate_floor_bp
        FROM per_cust
    """,
    description="Entity-leakage audit of a time split: customers whose "
    "orders fall on BOTH sides of the 1996-01-01 train/test boundary "
    "— each one lets a model memorize entity behavior in train and "
    "replay it in test, silently inflating offline metrics (the audit "
    "that says whether a time split also needs to be a GROUP split, "
    "cf. sample_group_kfold). Exact censuses + one floor-bp rate. "
    "One custkey aggregate — the fact's natural-key shuffle.",
)
def eval_entity_split_leakage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    split = (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.when(
                F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"),
                0,
            )
            .otherwise(1)
            .alias("part"),
        )
        .groupBy("o_custkey", "part")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_cust = split.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("n").cast("long").alias("n_orders"),
    )
    return per_cust.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.when(F.col("n_parts") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n_leaking"),
        F.sum(F.when(F.col("n_parts") == 2, F.col("n_orders")).otherwise(0))
        .cast("long")
        .alias("n_orders_leaking"),
        F.expr(
            "sum(case when n_parts = 2 then 1 else 0 end) * 10000 "
            "div count(*)"
        )
        .cast("long")
        .alias("leak_rate_floor_bp"),
    )


@register(
    "feature_missingness_profile",
    oracle_sql="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) - count(props) AS BIGINT) AS n_props_null,
               CAST(sum(CASE WHEN json_extract_string(props, '$.k')
                        IS NULL AND props IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_k_absent,
               CAST(sum(CASE WHEN value = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_value_zero,
               CAST((count(*) - count(props)) * 10000 // count(*)
                    AS BIGINT) AS props_null_floor_bp
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    description="Feature-missingness profile per event type: NULL "
    "props, present-but-k-absent JSON payloads, and zero values — "
    "the three distinct flavors of 'missing' a feature pipeline must "
    "treat differently (absent row vs absent key vs sentinel zero), "
    "profiled before any imputation decision. Exact counts + one "
    "floor-bp rate; single map-side-combinable aggregate over one "
    "scan.",
)
def feature_missingness_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        "props",
        "value",
        F.from_json("props", "k INT")["k"].alias("k"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.count(F.lit(1)) - F.count("props"))
            .cast("long")
            .alias("n_props_null"),
            F.sum(
                F.when(
                    F.col("k").isNull() & F.col("props").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_k_absent"),
            F.sum(F.when(F.col("value") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_value_zero"),
            F.expr("(count(*) - count(props)) * 10000 div count(*)")
            .cast("long")
            .alias("props_null_floor_bp"),
        )
        .orderBy("event_type")
    )


@register(
    "feature_hashed_cross_bucket",
    oracle_sql="""
        WITH crossed AS (
            SELECT CAST('0x' || substr(md5(event_type || '|'
                       || CAST(isodow(ts) AS VARCHAR)), 1, 15)
                       AS BIGINT) % 64 AS bucket,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events
        )
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS n_pos
        FROM crossed GROUP BY bucket ORDER BY bucket
    """,
    description="Hash-trick feature cross: (event_type x ISO weekday) "
    "hashed into 64 buckets via the cross-engine md5-arithmetic idiom "
    "(Spark conv(substr(md5,1,15),16,10) == DuckDB '0x'||substr "
    "cast — the same bit-identical hash the MinHash family is built "
    "on), with each bucket's count and positive census — the "
    "dimensionality-capped categorical interaction a linear model "
    "consumes, collision behavior included (the graded census IS the "
    "collision audit). Pure map + one aggregate; no vocabulary state "
    "at any scale.",
)
def feature_hashed_cross_bucket(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    crossed = load(spark, sf_dir, "events").select(
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.col("event_type"),
                            (F.weekday("ts") + 1).cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 64
        ).alias("bucket"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    return (
        crossed.groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .orderBy("bucket")
    )


@register(
    "churn_label_weekly",
    oracle_sql="""
        WITH weekly AS (
            SELECT DISTINCT date_trunc('week', ts) AS wk, user_id
            FROM events
        ), labeled AS (
            SELECT a.wk, a.user_id,
                   CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END
                       AS churned
            FROM weekly a
            LEFT JOIN weekly b
              ON b.user_id = a.user_id
             AND b.wk = a.wk + INTERVAL 7 DAY
            WHERE a.wk + INTERVAL 7 DAY <= (SELECT max(wk) FROM weekly)
        )
        SELECT CAST(epoch_us(wk) AS BIGINT) AS week_us,
               CAST(count(*) AS BIGINT) AS n_active,
               CAST(sum(churned) AS BIGINT) AS n_churned,
               CAST(sum(churned) * 10000 // count(*) AS BIGINT)
                   AS churn_rate_floor_bp
        FROM labeled GROUP BY wk ORDER BY week_us
    """,
    description="Weekly churn-label construction: a user active in "
    "week w is labeled churned iff absent in week w+1 — the "
    "look-one-period-forward label every retention model trains on, "
    "built leak-free (the label uses ONLY week w+1; the final "
    "unlabelable week is excluded by the max-week bound rather than "
    "silently labeled churned). Distinct (week, user) pairs first — "
    "the only pass over raw events — then a self-join on the "
    "(user, week+7d) key. Exact censuses, one floor-bp rate.",
)
def churn_label_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    weekly = (
        load(spark, sf_dir, "events")
        .select(F.date_trunc("week", "ts").alias("wk"), "user_id")
        .distinct()
    )
    max_wk = weekly.agg(F.max("wk").alias("max_wk"))
    a = weekly.alias("a")
    b = weekly.alias("b")
    labeled = (
        a.crossJoin(F.broadcast(max_wk))
        .where(
            F.col("a.wk") + F.expr("INTERVAL 7 DAY") <= F.col("max_wk")
        )
        .join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (
                F.col("b.wk")
                == F.col("a.wk") + F.expr("INTERVAL 7 DAY")
            ),
            "left",
        )
        .select(
            F.col("a.wk").alias("wk"),
            F.when(F.col("b.user_id").isNull(), 1).otherwise(0).alias(
                "churned"
            ),
        )
    )
    return (
        labeled.groupBy("wk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active"),
            F.sum("churned").cast("long").alias("n_churned"),
            F.expr("sum(churned) * 10000 div count(*)")
            .cast("long")
            .alias("churn_rate_floor_bp"),
        )
        .select(
            F.unix_micros("wk").alias("week_us"),
            "n_active",
            "n_churned",
            "churn_rate_floor_bp",
        )
        .orderBy("week_us")
    )


@register(
    "eval_auc_bootstrap_ci",
    oracle_sql="""
        WITH scored AS (
            SELECT event_id, CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), reps(b) AS (VALUES (1), (2), (3), (4), (5), (6), (7), (8)),
        weighted AS (
            SELECT r.b, sc.s, sc.y,
                   CAST('0x' || substr(md5(CAST(sc.event_id AS VARCHAR)
                       || ':' || CAST(r.b AS VARCHAR)), 1, 15)
                       AS BIGINT) % 3 AS w
            FROM scored sc, reps r
        ), per_score AS (
            SELECT b, s,
                   CAST(sum(w * y) AS BIGINT) AS n_pos_s,
                   CAST(sum(w * (1 - y)) AS BIGINT) AS n_neg_s
            FROM weighted GROUP BY b, s
        ), cum AS (
            SELECT b, n_pos_s, n_neg_s,
                   coalesce(sum(n_neg_s) OVER (
                       PARTITION BY b ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS neg_below
            FROM per_score
        ), rep_auc AS (
            SELECT b,
                   CAST(sum(n_pos_s * (2 * neg_below + n_neg_s))
                        * 500000 // (sum(n_pos_s) * sum(n_neg_s))
                        AS BIGINT) AS auc_ppm
            FROM cum GROUP BY b
        )
        SELECT CAST(count(*) AS BIGINT) AS n_replicates,
               CAST(min(auc_ppm) AS BIGINT) AS auc_min_ppm,
               CAST(max(auc_ppm) AS BIGINT) AS auc_max_ppm,
               CAST(sum(auc_ppm) // count(*) AS BIGINT)
                   AS auc_mean_floor_ppm
        FROM rep_auc
    """,
    description="Bootstrap confidence band for AUC: 8 deterministic "
    "resampling replicates, each event carrying weight md5(event_id, "
    "b) mod 3 in {0,1,2} (mean 1 — the Poisson-bootstrap "
    "approximation with a replayable hash instead of an RNG, the "
    "only bootstrap that works distributed: membership is a pure "
    "function of (row, replicate), mergeable across shards). Each "
    "replicate's AUC uses the same doubled-U grid algebra with "
    "weighted counts, floored onto the ppm grid; min/max/mean over "
    "replicates is the CI reading. Scale: the 8x fan-out rides the "
    "same per-score reduction — grid-bounded, never row-bounded.",
)
def eval_auc_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            "event_id",
            scaled_long("value", 100).alias("s"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    reps = spark.createDataFrame([(b,) for b in range(1, 9)], ["b"])
    weighted = scored.crossJoin(F.broadcast(reps)).select(
        "b",
        "s",
        "y",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("event_id").cast("string"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 3
        ).alias("w"),
    )
    per_score = weighted.groupBy("b", "s").agg(
        F.sum(F.col("w") * F.col("y")).cast("long").alias("n_pos_s"),
        F.sum(F.col("w") * (1 - F.col("y"))).cast("long").alias("n_neg_s"),
    )
    w = (
        Window.partitionBy("b")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per_score.select(
        "b",
        "n_pos_s",
        "n_neg_s",
        F.coalesce(F.sum("n_neg_s").over(w), F.lit(0)).alias("neg_below"),
    )
    rep_auc = cum.groupBy("b").agg(
        F.expr(
            "sum(n_pos_s * (2 * neg_below + n_neg_s)) * 500000 "
            "div nullif(sum(n_pos_s) * sum(n_neg_s), 0)"
        )
        .cast("long")
        .alias("auc_ppm")
    )
    return rep_auc.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.min("auc_ppm").cast("long").alias("auc_min_ppm"),
        F.max("auc_ppm").cast("long").alias("auc_max_ppm"),
        F.expr("sum(auc_ppm) div count(*)")
        .cast("long")
        .alias("auc_mean_floor_ppm"),
    )


@register(
    "eval_ndcg_at5_per_user",
    oracle_sql="""
        WITH scored AS (
            SELECT user_id, event_id,
                   CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), wts(pos, w_ppm) AS (VALUES
            (1, 1000000), (2, 630930), (3, 500000),
            (4, 430677), (5, 386853)),
        ranked AS (
            SELECT user_id, y,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY s DESC, event_id
                   ) AS rk
            FROM scored
        ), dcg AS (
            SELECT r.user_id,
                   CAST(sum(r.y * w.w_ppm) AS BIGINT) AS dcg_ppm,
                   CAST(sum(r.y) AS BIGINT) AS n_rel_top5
            FROM ranked r JOIN wts w ON r.rk = w.pos
            GROUP BY r.user_id
        ), totals AS (
            SELECT user_id, CAST(sum(y) AS BIGINT) AS n_rel
            FROM ranked GROUP BY user_id
        ), idcg AS (
            SELECT t.user_id, t.n_rel, d.dcg_ppm, d.n_rel_top5,
                   (SELECT sum(w_ppm) FROM wts
                    WHERE pos <= least(t.n_rel, 5)) AS idcg_ppm
            FROM totals t JOIN dcg d ON t.user_id = d.user_id
            WHERE t.n_rel > 0
        )
        SELECT user_id, n_rel, n_rel_top5,
               CAST(dcg_ppm AS BIGINT) AS dcg_ppm,
               CAST(idcg_ppm AS BIGINT) AS idcg_ppm,
               CAST(dcg_ppm * 10000 // idcg_ppm AS BIGINT)
                   AS ndcg_floor_bp
        FROM idcg ORDER BY user_id
    """,
    description="NDCG@5 per user WITHOUT any runtime logarithm: the "
    "five discount weights 1/log2(pos+1) are a constant 5-row VALUES "
    "dim pre-quantized to the ppm grid (positions 1-5 -> 1000000, "
    "630930, 500000, 430677, 386853), so DCG is an exact integer dot "
    "product of relevance x weight, IDCG the prefix sum at "
    "min(n_rel, 5), and NDCG one integral bp division — graded "
    "per user (users with no relevant item drop). The "
    "constants-as-broadcast-dim trick is the scale story: position "
    "discounts never recompute per row.",
)
def eval_ndcg_at5_per_user(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    wts = spark.createDataFrame(
        [(1, 1000000), (2, 630930), (3, 500000), (4, 430677), (5, 386853)],
        ["pos", "w_ppm"],
    )
    cum_wts = spark.createDataFrame(
        [(1, 1000000), (2, 1630930), (3, 2130930), (4, 2561607),
         (5, 2948460)],
        ["k", "cum_ppm"],
    )
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            "user_id",
            "event_id",
            scaled_long("value", 100).alias("s"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    ranked = scored.select(
        "user_id",
        "y",
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("s").desc(), "event_id"
            )
        )
        .alias("rk"),
    )
    dcg = (
        ranked.join(F.broadcast(wts), ranked.rk == wts.pos)
        .groupBy("user_id")
        .agg(
            F.sum(F.col("y") * F.col("w_ppm")).cast("long").alias("dcg_ppm"),
            F.sum("y").cast("long").alias("n_rel_top5"),
        )
    )
    totals = ranked.groupBy("user_id").agg(
        F.sum("y").cast("long").alias("n_rel")
    )
    out = (
        totals.where(F.col("n_rel") > 0)
        .join(dcg, "user_id")
        .join(
            F.broadcast(cum_wts),
            F.least(F.col("n_rel"), F.lit(5)) == F.col("k"),
        )
        .select(
            "user_id",
            "n_rel",
            "n_rel_top5",
            "dcg_ppm",
            F.col("cum_ppm").cast("long").alias("idcg_ppm"),
            F.expr("dcg_ppm * 10000 div cum_ppm")
            .cast("long")
            .alias("ndcg_floor_bp"),
        )
    )
    return out.orderBy("user_id")


@register(
    "eval_brier_binned",
    oracle_sql="""
        WITH scored AS (
            SELECT least(CAST(round(value * 100) AS BIGINT) // 5000, 9)
                       AS bin,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), terms AS (
            SELECT (bin * 100000 + 50000) AS p_ppm, y
            FROM scored
        )
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum((p_ppm - y * 1000000)
                        * (p_ppm - y * 1000000)) AS BIGINT)
                   AS brier_num_scaled,
               CAST(sum((p_ppm - y * 1000000)
                        * (p_ppm - y * 1000000)) // count(*) AS BIGINT)
                   AS brier_floor_scaled
        FROM terms
    """,
    description="Brier score against the binned-midpoint probability "
    "map: each $50 score bin claims probability (bin+0.5)/10 (exact "
    "ppm integer by construction), so every squared error "
    "(p - y)^2 is an exact int64 on the 1e-12 grid and the mean is "
    "one integral division — the proper-scoring-rule companion to "
    "eval_calibration_bins (calibration says rates match claims; "
    "Brier penalizes both miscalibration AND non-resolution). "
    "One map-side-combinable aggregate.",
)
def eval_brier_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            F.least(
                F.expr("floor(value * 100 + 0.5) div 5000").cast("long"),
                F.lit(9),
            ).alias("bin"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    terms = scored.select(
        (F.col("bin") * 100000 + 50000).alias("p_ppm"), F.col("y")
    )
    err = F.col("p_ppm") - F.col("y") * 1000000
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(err * err).cast("long").alias("brier_num_scaled"),
        F.expr(
            "sum((p_ppm - y * 1000000) * (p_ppm - y * 1000000)) "
            "div count(*)"
        )
        .cast("long")
        .alias("brier_floor_scaled"),
    )


@register(
    "eval_expected_calibration_error",
    oracle_sql="""
        WITH scored AS (
            SELECT least(CAST(round(value * 100) AS BIGINT) // 5000, 9)
                       AS bin,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), cells AS (
            SELECT bin, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos
            FROM scored GROUP BY bin
        ), gaps AS (
            SELECT bin, n, n_pos,
                   abs(n_pos * 1000000 // n
                       - (bin * 100000 + 50000)) AS gap_ppm
            FROM cells
        )
        SELECT CAST(sum(n) AS BIGINT) AS n_total,
               CAST(sum(n * gap_ppm) AS BIGINT) AS ece_num_scaled,
               CAST(sum(n * gap_ppm) // sum(n) AS BIGINT)
                   AS ece_floor_ppm
        FROM gaps
    """,
    description="Expected calibration error: per $50 bin, |observed "
    "positive rate - claimed midpoint probability| on the ppm grid "
    "(rate is an integral division, midpoint exact), weighted by bin "
    "population and divided once — THE number quoted for classifier "
    "calibration (reliability diagram in one scalar). Companion "
    "decomposition to eval_brier_binned over the identical binning. "
    "Two tiny aggregates.",
)
def eval_expected_calibration_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            F.least(
                F.expr("floor(value * 100 + 0.5) div 5000").cast("long"),
                F.lit(9),
            ).alias("bin"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    cells = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    gaps = cells.select(
        "n",
        F.abs(
            F.expr("n_pos * 1000000 div n")
            - (F.col("bin") * 100000 + 50000)
        ).alias("gap_ppm"),
    )
    return gaps.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.sum(F.col("n") * F.col("gap_ppm"))
        .cast("long")
        .alias("ece_num_scaled"),
        F.expr("sum(n * gap_ppm) div sum(n)")
        .cast("long")
        .alias("ece_floor_ppm"),
    )


@register(
    "eval_calibration_per_segment",
    oracle_sql="""
        WITH scored AS (
            SELECT user_id % 4 AS segment,
                   least(CAST(round(value * 100) AS BIGINT) // 10000, 4)
                       AS bin,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        )
        SELECT CAST(segment AS BIGINT) AS segment,
               CAST(bin AS BIGINT) AS score_bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(sum(y) * 10000 // count(*) AS BIGINT)
                   AS rate_floor_bp
        FROM scored GROUP BY segment, bin
        ORDER BY segment, score_bin
    """,
    description="Per-segment calibration table (VERDICT r5 item 7's "
    "named companion): the $100-bin observed positive rate, sliced by "
    "a 4-way user segment — a model can be calibrated in aggregate "
    "while systematically over-predicting one cohort and "
    "under-predicting another (the fairness/subgroup-validity check "
    "aggregate calibration hides). Coarser bins than the global "
    "table keep every (segment, bin) cell populated. One "
    "map-side-combinable aggregate; all rates integral bp.",
)
def eval_calibration_per_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            (F.col("user_id") % 4).alias("segment"),
            F.least(
                F.expr("floor(value * 100 + 0.5) div 10000").cast("long"),
                F.lit(4),
            ).alias("bin"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    return (
        scored.groupBy(
            F.col("segment").cast("long").alias("segment"),
            F.col("bin").cast("long").alias("score_bin"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.expr("sum(y) * 10000 div count(*)")
            .cast("long")
            .alias("rate_floor_bp"),
        )
        .orderBy("segment", "score_bin")
    )


@register(
    "feature_chi2_independence",
    oracle_sql="""
        WITH obs AS (
            SELECT event_type, isodow(ts) AS dow,
                   CAST(count(*) AS BIGINT) AS o
            FROM events GROUP BY event_type, dow
        ), margins AS (
            SELECT o.event_type, o.dow, o.o,
                   sum(o.o) OVER (PARTITION BY o.event_type) AS r,
                   sum(o.o) OVER (PARTITION BY o.dow) AS c,
                   sum(o.o) OVER () AS n
            FROM obs o
        )
        SELECT event_type, CAST(dow AS BIGINT) AS dow,
               CAST(o AS BIGINT) AS observed,
               CAST((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                    * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                    * 1000000
                    // (CAST(r AS HUGEINT) * c * n)
                    AS BIGINT) AS chi2_term_scaled
        FROM margins ORDER BY event_type, dow
    """,
    description="Chi-square independence terms for the event_type x "
    "ISO-weekday contingency table: each cell's (O*N - R*C)^2 * 1e6 "
    "/ (R*C*N) computed in 128-bit integers (Spark DECIMAL(38,0) == "
    "DuckDB HUGEINT — the same Cramer-scale headroom as "
    "agg_ols_normal_equations; the squared numerator overflows int64 "
    "at sf0.1) then floored to an int64 — the feature-screening "
    "test for 'does this categorical interact with time-of-week' "
    "before paying for the crossed feature. Margins via three "
    "windows over the BOUNDED contingency table (35 rows), never "
    "over raw events.",
)
def feature_chi2_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    obs = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", (F.weekday("ts") + 1).alias("dow"))
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    margins = obs.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("r"),
        F.sum("o").over(Window.partitionBy("dow")).alias("c"),
        F.sum("o").over(
            Window.partitionBy()
        ).alias("n"),
    )
    dec = "decimal(38,0)"
    num = (
        F.col("o").cast(dec) * F.col("n").cast(dec)
        - F.col("r").cast(dec) * F.col("c").cast(dec)
    )
    return (
        margins.select(
            "event_type",
            F.col("dow").cast("long").alias("dow"),
            F.col("o").cast("long").alias("observed"),
            (num * num * F.lit(1000000).cast(dec)).alias("nn"),
            (
                F.col("r").cast(dec)
                * F.col("c").cast(dec)
                * F.col("n").cast(dec)
            ).alias("dd"),
        )
        .select(
            "event_type",
            "dow",
            "observed",
            F.expr("nn div dd").cast("long").alias("chi2_term_scaled"),
        )
        .orderBy("event_type", "dow")
    )


@register(
    "eval_slice_balance_audit",
    oracle_sql="""
        WITH scored AS (
            SELECT isodow(ts) AS dow,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), cells AS (
            SELECT dow, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos
            FROM scored GROUP BY dow
        ), tot AS (
            SELECT sum(n) AS n_tot, sum(n_pos) AS pos_tot FROM cells
        )
        SELECT CAST(dow AS BIGINT) AS dow, n, n_pos,
               CAST(n_pos * 10000 // n AS BIGINT) AS pos_rate_bp,
               CAST(t.pos_tot * 10000 // t.n_tot AS BIGINT)
                   AS overall_rate_bp,
               CAST(CASE WHEN abs(n_pos * 10000 // n
                        - t.pos_tot * 10000 // t.n_tot) > 500
                    THEN 1 ELSE 0 END AS BIGINT) AS imbalance_flag
        FROM cells, tot t ORDER BY dow
    """,
    description="Label-balance audit per weekday slice: each slice's "
    "positive rate vs the overall rate, flagged when the gap exceeds "
    "500 bp — the pre-training census that catches a slice whose "
    "label distribution diverges (a weekend-skewed positive class "
    "makes weekday features proxy the label). All rates integral bp; "
    "the flag is an integer comparison of integral rates, so no "
    "boundary float exists. One aggregate + 1-row broadcast.",
)
def eval_slice_balance_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            (F.weekday("ts") + 1).alias("dow"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    cells = scored.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    tot = cells.agg(
        F.sum("n").alias("n_tot"), F.sum("n_pos").alias("pos_tot")
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("dow").cast("long").alias("dow"),
            "n",
            "n_pos",
            F.expr("n_pos * 10000 div n").cast("long").alias("pos_rate_bp"),
            F.expr("pos_tot * 10000 div n_tot")
            .cast("long")
            .alias("overall_rate_bp"),
            F.when(
                F.abs(
                    F.expr("n_pos * 10000 div n")
                    - F.expr("pos_tot * 10000 div n_tot")
                )
                > 500,
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("imbalance_flag"),
        )
        .orderBy("dow")
    )


@register(
    "eval_auc_rank_identity",
    oracle_sql="""
        WITH scored AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), per_score AS (
            SELECT s, CAST(sum(y) AS BIGINT) AS n_pos_s,
                   CAST(count(*) AS BIGINT) AS n_s
            FROM scored GROUP BY s
        ), cum AS (
            SELECT s, n_pos_s, n_s,
                   coalesce(sum(n_s) OVER (
                       ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS below,
                   coalesce(sum(n_s - n_pos_s) OVER (
                       ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS neg_below
            FROM per_score
        ), agg AS (
            SELECT
                CAST(sum(n_pos_s * (2 * below + n_s + 1)) AS BIGINT)
                    AS rank_sum_2x,
                CAST(sum(n_pos_s) AS BIGINT) AS n_pos,
                CAST(sum(n_s - n_pos_s) AS BIGINT) AS n_neg,
                CAST(sum(n_pos_s * (2 * neg_below + n_s - n_pos_s))
                     AS BIGINT) AS u2_direct
            FROM cum
        )
        SELECT n_pos, n_neg, u2_direct,
               CAST(rank_sum_2x - n_pos * (n_pos + 1) AS BIGINT)
                   AS u2_from_ranks,
               CAST(rank_sum_2x - n_pos * (n_pos + 1) = u2_direct
                    AS BIGINT) AS identity_holds
        FROM agg
    """,
    description="Mann-Whitney identity cross-check: 2U computed two "
    "INDEPENDENT ways — directly (positives vs negatives strictly "
    "below + half-ties, eval_auc_exact's algebra) and via the "
    "rank-sum formula U = R_pos - n_pos(n_pos+1)/2 with doubled "
    "average ranks (2*rank of a tie group = 2*below + n_s + 1, kept "
    "integral) — and the graded output asserts they coincide, the "
    "same two-route accounting discipline as "
    "orders_little_law_identity. A tie-handling bug in either route "
    "breaks the equality on ANY fixture with duplicate scores. All "
    "int64 on the score grid.",
)
def eval_auc_rank_identity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = _scored(spark, sf_dir)
    per_score = scored.groupBy("s").agg(
        F.sum("y").cast("long").alias("n_pos_s"),
        F.count(F.lit(1)).cast("long").alias("n_s"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_score.select(
        "n_pos_s",
        "n_s",
        F.coalesce(F.sum("n_s").over(w), F.lit(0)).alias("below"),
        F.coalesce(
            F.sum(F.col("n_s") - F.col("n_pos_s")).over(w), F.lit(0)
        ).alias("neg_below"),
    )
    agg = cum.agg(
        F.sum(
            F.col("n_pos_s") * (2 * F.col("below") + F.col("n_s") + 1)
        )
        .cast("long")
        .alias("rank_sum_2x"),
        F.sum("n_pos_s").cast("long").alias("n_pos"),
        F.sum(F.col("n_s") - F.col("n_pos_s")).cast("long").alias("n_neg"),
        F.sum(
            F.col("n_pos_s")
            * (2 * F.col("neg_below") + F.col("n_s") - F.col("n_pos_s"))
        )
        .cast("long")
        .alias("u2_direct"),
    )
    u2_ranks = F.col("rank_sum_2x") - F.col("n_pos") * (F.col("n_pos") + 1)
    return agg.select(
        "n_pos",
        "n_neg",
        "u2_direct",
        u2_ranks.cast("long").alias("u2_from_ranks"),
        (u2_ranks == F.col("u2_direct")).cast("long").alias(
            "identity_holds"
        ),
    )


@register(
    "eval_spearman_value_vs_time",
    oracle_sql="""
        WITH ev AS (
            SELECT event_id, CAST(round(value * 100) AS BIGINT) AS s,
                   CAST(epoch_us(ts) AS BIGINT) AS t_us
            FROM events WHERE event_type = 'purchase'
        ), ranked AS (
            SELECT row_number() OVER (ORDER BY s, event_id) AS rs,
                   row_number() OVER (ORDER BY t_us, event_id) AS rt
            FROM ev
        ), agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum((rs - rt) * (rs - rt)) AS BIGINT) AS d2
            FROM ranked
        )
        SELECT n, d2,
               CASE WHEN n > 1 THEN
                   1.0 - 6.0 * d2 / (CAST(n AS DOUBLE)
                       * (CAST(n AS DOUBLE) * n - 1.0))
               END AS spearman_rho
        FROM agg
    """,
    description="Spearman rank correlation between purchase value and "
    "arrival time: both rankings tie-broken on event_id (fixture "
    "values/timestamps are distinct up to the composite key, so "
    "row_number with the SAME tie-break is the deterministic rank on "
    "both engines), sum of squared rank differences an exact int64, "
    "rho = 1 - 6*sum(d^2)/(n(n^2-1)) one float chain of exact "
    "integers, emitted unrounded — the monotone-drift test (are "
    "later trades systematically larger?) that Pearson misses when "
    "the trend is nonlinear. Scale: NO fact-grain global window — "
    "each global rank decomposes into a cumulative count over a "
    "bounded grid (the quantized-cents score domain for rs; the "
    "calendar-bounded hour bucket for rt) plus a row_number "
    "PARTITIONED by that grid cell, so both rank passes hash on "
    "their grid key. The oracle keeps the plain global-window form, "
    "hash-checking the decomposition against the engine's own rank.",
)
def eval_spearman_value_vs_time(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            scaled_long("value", 100).alias("s"),
            F.unix_micros("ts").alias("t_us"),
        )
        .withColumn("th", F.expr("t_us div 3600000000"))
    )

    # Null-safe joins: a NULL value (s) or NULL ts (th) forms its own
    # grid group, ranked NULLS FIRST by the ascending windows exactly
    # like the global row_numbers this replaces.
    ranked = (
        ev.join(
            _grid_before(ev, "s"), F.col("s").eqNullSafe(F.col("gk_s"))
        )
        .join(
            _grid_before(ev, "th"),
            F.col("th").eqNullSafe(F.col("gk_th")),
        )
        .select(
            (
                F.col("before_s")
                + F.row_number().over(
                    Window.partitionBy("s").orderBy("event_id")
                )
            ).alias("rs"),
            (
                F.col("before_th")
                + F.row_number().over(
                    Window.partitionBy("th").orderBy("t_us", "event_id")
                )
            ).alias("rt"),
        )
    )
    d = F.col("rs") - F.col("rt")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d * d).cast("long").alias("d2"),
    )
    n = F.col("n").cast("double")
    return agg.select(
        "n",
        "d2",
        F.when(
            F.col("n") > 1,
            1.0 - 6.0 * F.col("d2") / (n * (n * F.col("n") - 1.0)),
        ).alias("spearman_rho"),
    )


@register(
    "eval_regression_metrics_exact",
    oracle_sql="""
        WITH joined AS (
            SELECT o.o_custkey,
                   CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
            FROM orders o
        ), stats AS (
            SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS tot
            FROM joined GROUP BY o_custkey
        ), errs AS (
            SELECT j.cents,
                   abs(j.cents * s.n - s.tot) AS abs_err_scaled,
                   s.n
            FROM joined j JOIN stats s ON j.o_custkey = s.o_custkey
            WHERE s.n > 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(abs_err_scaled // n) AS BIGINT)
                   AS mae_sum_cents_floor,
               CAST(max(abs_err_scaled // n) AS BIGINT)
                   AS max_abs_err_cents_floor,
               CAST(sum(CAST(abs_err_scaled // n AS HUGEINT)
                        * (abs_err_scaled // n)) // 1000000 AS BIGINT)
                   AS sq_err_sum_div_1e6
        FROM errs
    """,
    description="Regression error metrics for the customer-mean "
    "baseline predictor: each order's error vs its customer's mean "
    "order value, with the mean never materialized as a rational — "
    "|cents*n - total| is the n-scaled exact error, floored back to "
    "cents by integral division before the MAE/max/RMSE-numerator "
    "aggregates (singleton customers excluded: their 'prediction' "
    "would be the label itself, the degenerate-baseline trap). The "
    "baseline MAE is the number any real model must beat, and the "
    "same plan shape scores real predictions at 100 TB (stats side "
    "broadcast, fact shuffles once on its natural key).",
)
def eval_regression_metrics_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    joined = load(spark, sf_dir, "orders").select(
        "o_custkey", scaled_long("o_totalprice", 100).alias("cents")
    )
    stats = joined.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("tot"),
    )
    errs = (
        joined.join(stats, "o_custkey")
        .where(F.col("n") > 1)
        .select(
            F.abs(F.col("cents") * F.col("n") - F.col("tot")).alias(
                "abs_err_scaled"
            ),
            "n",
        )
    )
    per = F.expr("abs_err_scaled div n")
    dec = "decimal(38,0)"
    # The squared-error sum overflows int64 at sf0.1 (per-order errors
    # reach ~5e7 cents; squares x 600k lines > 2^63): accumulate in
    # 128-bit and grade the 1e6-descaled value — same device as
    # events_interarrival_burstiness.
    return errs.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(per).cast("long").alias("mae_sum_cents_floor"),
        F.max(per).cast("long").alias("max_abs_err_cents_floor"),
        F.expr(
            "sum(cast(abs_err_scaled div n as decimal(38,0)) "
            "* (abs_err_scaled div n)) div 1000000"
        )
        .cast("long")
        .alias("sq_err_sum_div_1e6"),
    )


@register(
    "eval_auc_delta_champion",
    oracle_sql="""
        WITH scored AS (
            SELECT event_id, CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), both_scores AS (
            SELECT y, s AS s_a,
                   s + (CAST('0x' || substr(md5(CAST(event_id
                       AS VARCHAR)), 1, 15) AS BIGINT) % 2001 - 1000)
                       AS s_b
            FROM scored
        ), grid_a AS (
            SELECT s_a AS s, CAST(sum(y) AS BIGINT) AS p,
                   CAST(count(*) - sum(y) AS BIGINT) AS ng
            FROM both_scores GROUP BY s_a
        ), cum_a AS (
            SELECT p, ng, coalesce(sum(ng) OVER (ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS nb
            FROM grid_a
        ), auc_a AS (
            SELECT CAST(sum(p * (2 * nb + ng)) * 500000
                        // (sum(p) * sum(ng)) AS BIGINT) AS auc_ppm
            FROM cum_a
        ), grid_b AS (
            SELECT s_b AS s, CAST(sum(y) AS BIGINT) AS p,
                   CAST(count(*) - sum(y) AS BIGINT) AS ng
            FROM both_scores GROUP BY s_b
        ), cum_b AS (
            SELECT p, ng, coalesce(sum(ng) OVER (ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS nb
            FROM grid_b
        ), auc_b AS (
            SELECT CAST(sum(p * (2 * nb + ng)) * 500000
                        // (sum(p) * sum(ng)) AS BIGINT) AS auc_ppm
            FROM cum_b
        )
        SELECT a.auc_ppm AS champion_auc_ppm,
               b.auc_ppm AS challenger_auc_ppm,
               CAST(a.auc_ppm - b.auc_ppm AS BIGINT) AS delta_ppm
        FROM auc_a a, auc_b b
    """,
    description="Champion/challenger AUC comparison: the challenger "
    "is the champion score plus a deterministic md5-derived "
    "perturbation in [-10.00, +10.00] (a replayable stand-in for a "
    "retrained model's score shift), both AUCs by the doubled-U grid "
    "algebra floored to ppm, and the graded delta is the promotion "
    "decision input — the A/B evaluation harness shape, run as TWO "
    "independent grid reductions over ONE scan of the scored stream. "
    "Pairs with eval_mcnemar_paired_rules (threshold-level) and "
    "eval_auc_bootstrap_ci (is the delta inside the resampling "
    "band?).",
)
def eval_auc_delta_champion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            "event_id",
            scaled_long("value", 100).alias("s"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    both = scored.select(
        "y",
        F.col("s").alias("s_a"),
        (
            F.col("s")
            + (
                F.conv(
                    F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
                    16,
                    10,
                ).cast("long")
                % 2001
                - 1000
            )
        ).alias("s_b"),
    )

    def grid_auc(col):
        g = both.groupBy(F.col(col).alias("s")).agg(
            F.sum("y").cast("long").alias("p"),
            (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("ng"),
        )
        w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
        cum = g.select(
            "p",
            "ng",
            F.coalesce(F.sum("ng").over(w), F.lit(0)).alias("nb"),
        )
        return cum.agg(
            F.expr(
                "sum(p * (2 * nb + ng)) * 500000 div nullif(sum(p) * sum(ng), 0)"
            )
            .cast("long")
            .alias("auc_ppm")
        )

    a = grid_auc("s_a").withColumnRenamed("auc_ppm", "champion_auc_ppm")
    b = grid_auc("s_b").withColumnRenamed("auc_ppm", "challenger_auc_ppm")
    return a.crossJoin(F.broadcast(b)).select(
        "champion_auc_ppm",
        "challenger_auc_ppm",
        (F.col("champion_auc_ppm") - F.col("challenger_auc_ppm"))
        .cast("long")
        .alias("delta_ppm"),
    )

@register(
    "eval_label_flip_sensitivity",
    oracle_sql="""
        WITH scored AS (
            SELECT event_id, CAST(round(value * 100) AS BIGINT) AS s,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events WHERE event_type IN ('purchase', 'view')
        ), flipped AS (
            SELECT s, y,
                   CASE WHEN (event_id * 48271) % 2147483647 % 20 = 0
                        THEN 1 - y ELSE y END AS y_noisy
            FROM scored
        ), n_flips AS (
            SELECT CAST(sum(CASE WHEN y_noisy <> y THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_flipped
            FROM flipped
        ), grid AS (
            SELECT s,
                   CAST(sum(y) AS BIGINT) AS p0,
                   CAST(count(*) - sum(y) AS BIGINT) AS n0,
                   CAST(sum(y_noisy) AS BIGINT) AS p1,
                   CAST(count(*) - sum(y_noisy) AS BIGINT) AS n1
            FROM flipped GROUP BY s
        ), cum AS (
            SELECT p0, n0, p1, n1,
                   coalesce(sum(n0) OVER (ORDER BY s ROWS BETWEEN
                       UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb0,
                   coalesce(sum(n1) OVER (ORDER BY s ROWS BETWEEN
                       UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb1
            FROM grid
        ), aucs AS (
            SELECT CAST(sum(p0 * (2 * nb0 + n0)) * 500000
                        // (sum(p0) * sum(n0)) AS BIGINT)
                       AS clean_auc_ppm,
                   CAST(sum(p1 * (2 * nb1 + n1)) * 500000
                        // (sum(p1) * sum(n1)) AS BIGINT)
                       AS noisy_auc_ppm
            FROM cum
        )
        SELECT f.n_flipped, a.clean_auc_ppm, a.noisy_auc_ppm,
               CAST(a.clean_auc_ppm - a.noisy_auc_ppm AS BIGINT)
                   AS degradation_ppm
        FROM aucs a, n_flips f
    """,
    description="Label-noise sensitivity probe: every 20th event "
    "(deterministic LCG of event_id — replayable, no RNG) has its "
    "label flipped, and the clean-vs-noisy AUC pair quantifies how "
    "much metric a 5% annotation-error rate costs — the robustness "
    "bound that separates 'model got worse' from 'labels got worse' "
    "when a relabeled eval set shifts. Both AUCs share ONE score-grid "
    "reduction (clean and noisy class counts are columns of the same "
    "grid row). All integral ppm.",
)
def eval_label_flip_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            "event_id",
            scaled_long("value", 100).alias("s"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    flipped = scored.select(
        "s",
        "y",
        F.when(
            (F.col("event_id") * 48271) % 2147483647 % 20 == 0,
            1 - F.col("y"),
        )
        .otherwise(F.col("y"))
        .alias("y_noisy"),
    )
    n_flips = flipped.agg(
        F.sum(F.when(F.col("y_noisy") != F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("n_flipped")
    )
    grid = flipped.groupBy("s").agg(
        F.sum("y").cast("long").alias("p0"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n0"),
        F.sum("y_noisy").cast("long").alias("p1"),
        (F.count(F.lit(1)) - F.sum("y_noisy")).cast("long").alias("n1"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = grid.select(
        "p0",
        "n0",
        "p1",
        "n1",
        F.coalesce(F.sum("n0").over(w), F.lit(0)).alias("nb0"),
        F.coalesce(F.sum("n1").over(w), F.lit(0)).alias("nb1"),
    )
    aucs = cum.agg(
        F.expr(
            "sum(p0 * (2 * nb0 + n0)) * 500000 div nullif(sum(p0) * sum(n0), 0)"
        )
        .cast("long")
        .alias("clean_auc_ppm"),
        F.expr(
            "sum(p1 * (2 * nb1 + n1)) * 500000 div nullif(sum(p1) * sum(n1), 0)"
        )
        .cast("long")
        .alias("noisy_auc_ppm"),
    )
    return aucs.crossJoin(F.broadcast(n_flips)).select(
        "n_flipped",
        "clean_auc_ppm",
        "noisy_auc_ppm",
        (F.col("clean_auc_ppm") - F.col("noisy_auc_ppm"))
        .cast("long")
        .alias("degradation_ppm"),
    )


@register(
    "eval_ab_srm_check",
    oracle_sql="""
        WITH assigned AS (
            SELECT CASE WHEN (user_id * 48271) % 2147483647 % 2 = 0
                        THEN 0 ELSE 1 END AS arm,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events
        ), cells AS (
            SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b,
                   CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END)
                        AS BIGINT) AS pos_a,
                   CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END)
                        AS BIGINT) AS pos_b
            FROM assigned
        )
        SELECT n_a, n_b, pos_a, pos_b,
               CAST((n_a - n_b) * (n_a - n_b) AS BIGINT) AS srm_num,
               CAST(n_a + n_b AS BIGINT) AS srm_den,
               CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)
                   AS srm_chi2,
               CAST(pos_a * 10000 // n_a AS BIGINT) AS rate_a_bp,
               CAST(pos_b * 10000 // n_b AS BIGINT) AS rate_b_bp
        FROM cells
    """,
    description="A/B sample-ratio-mismatch (SRM) check: users "
    "hash-assigned 50/50 (LCG of user_id — replayable assignment, "
    "the production bucketing rule), the observed arm sizes tested "
    "against the expected equal split via the 1-dof chi-square "
    "(n_a-n_b)^2/(n_a+n_b) — THE experimentation health gate "
    "(an SRM means the assignment or logging is broken and every "
    "downstream lift number is invalid), plus each arm's positive "
    "rate in floor bp. Numerator/denominator exact int64, the "
    "statistic one float division. One conditional aggregate.",
)
def eval_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned = load(spark, sf_dir, "events").select(
        ((F.col("user_id") * 48271) % 2147483647 % 2).alias("arm"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    cells = assigned.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("pos_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("pos_b"),
    )
    d = F.col("n_a") - F.col("n_b")
    return cells.select(
        "n_a",
        "n_b",
        "pos_a",
        "pos_b",
        (d * d).cast("long").alias("srm_num"),
        (F.col("n_a") + F.col("n_b")).cast("long").alias("srm_den"),
        F.when(
            F.col("n_a") + F.col("n_b") > 0,
            (d * d).cast("double") / (F.col("n_a") + F.col("n_b")),
        ).alias("srm_chi2"),
        F.expr("pos_a * 10000 div nullif(n_a, 0)").cast("long").alias("rate_a_bp"),
        F.expr("pos_b * 10000 div nullif(n_b, 0)").cast("long").alias("rate_b_bp"),
    )


@register(
    "embed_dim_variance_topk",
    oracle_sql="""
        WITH exp AS (
            SELECT generate_subscripts(embedding, 1) AS dim,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                              * 1000000 + 0.5) AS BIGINT) AS xq
            FROM embeddings
        ), stats AS (
            SELECT dim, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(xq) AS BIGINT) AS sx,
                   CAST(sum(xq * xq) AS BIGINT) AS sxx
            FROM exp GROUP BY dim
        ), ranked AS (
            SELECT dim, n, (n * sxx - sx * sx) AS var_num,
                   row_number() OVER (
                       ORDER BY (n * sxx - sx * sx) DESC, dim) AS rk
            FROM stats
        )
        SELECT CAST(dim AS BIGINT) AS dim,
               CAST(var_num AS BIGINT) AS var_num_scaled,
               CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 8 ORDER BY rk
    """,
    description="Top-8 highest-variance embedding dimensions: each "
    "coordinate quantized to the 1e-6 grid BEFORE the power sums "
    "(float sums across rows are order-dependent; integer sums are "
    "not), variance ranked by the exact numerator n*Sxx - Sx^2 — "
    "the dimension-health screen (a few dominant dimensions = "
    "rotation/whitening needed before product quantization; zero "
    "variance = dead dimensions to prune, cf. knn_pq_adc). "
    "Posexplode keyed by dim: |dims| reduce groups, bounded window.",
)
def embed_dim_variance_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_intraday_bidask_spark.functions.vector import as_double

    exp = load(spark, sf_dir, "embeddings").select(
        F.posexplode(as_double("embedding")).alias("pos", "x")
    ).select(
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("x") * 1000000 + 0.5).cast("long").alias("xq"),
    )
    stats = exp.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
    )
    var_num = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ranked = stats.select(
        "dim",
        var_num.alias("var_num"),
        F.row_number()
        .over(Window.orderBy(var_num.desc(), "dim"))
        .alias("rk"),
    )
    return (
        ranked.where(F.col("rk") <= 8)
        .select(
            F.col("dim").cast("long").alias("dim"),
            F.col("var_num").cast("long").alias("var_num_scaled"),
            F.col("rk").cast("long").alias("rk"),
        )
        .orderBy("rk")
    )


@register(
    "embed_centroid_shift_drift",
    oracle_sql="""
        WITH exp AS (
            SELECT vec_id % 2 AS half, label,
                   generate_subscripts(embedding, 1) AS dim,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                              * 1000000 + 0.5) AS BIGINT) AS xq
            FROM embeddings
        ), cents AS (
            SELECT half, label, dim,
                   CAST(sum(xq) AS BIGINT) AS sx,
                   CAST(count(*) AS BIGINT) AS n
            FROM exp GROUP BY half, label, dim
        ), paired AS (
            SELECT a.label, a.dim,
                   (a.sx * b.n - b.sx * a.n) AS dnum,
                   a.n * b.n AS dden
            FROM cents a JOIN cents b
              ON a.label = b.label AND a.dim = b.dim
             AND a.half = 0 AND b.half = 1
        )
        SELECT CAST(label AS BIGINT) AS label,
               CAST(count(*) AS BIGINT) AS n_dims,
               CAST(sum((dnum // dden) * (dnum // dden)) AS BIGINT)
                   AS shift_sq_scaled
        FROM paired GROUP BY label ORDER BY label
    """,
    description="Per-label centroid drift between two deterministic "
    "halves (vec_id parity — a stand-in for yesterday's vs today's "
    "embedding batch): coordinates quantized to 1e-6 integers, the "
    "per-dimension centroid difference computed cross-multiplied "
    "(sx_a*n_b - sx_b*n_a over n_a*n_b, floored integrally) so no "
    "mean rational ever floats, and the squared-shift sum per label "
    "is the drift score — re-embedding drift detection (a retrained "
    "encoder moving one class's centroid invalidates that class's "
    "ANN index first). Keyed reduce on (half, label, dim); the pair "
    "join is |labels|x|dims| — tiny.",
)
def embed_centroid_shift_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_intraday_bidask_spark.functions.vector import as_double

    exp = load(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 2).alias("half"),
        "label",
        F.posexplode(as_double("embedding")).alias("pos", "x"),
    ).select(
        "half",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("x") * 1000000 + 0.5).cast("long").alias("xq"),
    )
    cents = exp.groupBy("half", "label", "dim").agg(
        F.sum("xq").cast("long").alias("sx"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a = cents.where(F.col("half") == 0).alias("a")
    b = cents.where(F.col("half") == 1).alias("b")
    paired = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.dim") == F.col("b.dim")),
    ).select(
        F.col("a.label").alias("label"),
        (
            F.col("a.sx") * F.col("b.n") - F.col("b.sx") * F.col("a.n")
        ).alias("dnum"),
        (F.col("a.n") * F.col("b.n")).alias("dden"),
    )
    d = F.expr("dnum div dden")
    return (
        paired.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            F.sum(d * d).cast("long").alias("shift_sq_scaled"),
        )
        .orderBy("label")
    )


@register(
    "corpus_length_psi_drift",
    oracle_sql="""
        WITH binned AS (
            SELECT least(n_chars // 256, 7) AS bin,
                   doc_id % 2 AS half
            FROM documents
        ), cells AS (
            SELECT bin,
                   CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_a,
                   CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_b
            FROM binned GROUP BY bin
        ), tot AS (
            SELECT sum(n_a) AS na_tot, sum(n_b) AS nb_tot FROM cells
        ), shares AS (
            SELECT bin, n_a, n_b,
                   n_a * 1000000 // t.na_tot AS pa_ppm,
                   n_b * 1000000 // t.nb_tot AS pb_ppm
            FROM cells, tot t
        )
        SELECT CAST(bin AS BIGINT) AS len_bin, n_a, n_b,
               CAST(CASE WHEN pa_ppm > 0 AND pb_ppm > 0 THEN
                   (pa_ppm - pb_ppm) * CAST(floor(
                       ln(CAST(pa_ppm AS DOUBLE) / pb_ppm) * 1000000
                       + 0.5) AS BIGINT)
               END AS BIGINT) AS psi_term_scaled
        FROM shares ORDER BY len_bin
    """,
    description="Document-length drift between two crawl halves "
    "(doc_id parity) as a PSI table over 256-char bins — the corpus "
    "twin of eval_psi_score_drift: a new crawl whose length "
    "distribution shifts (truncation bug, boilerplate influx, new "
    "source mix) changes token budgets and packing efficiency before "
    "any quality metric notices. Same exact ppm-share + quantized-ln "
    "discipline; one aggregate + 1-row broadcast.",
)
def corpus_length_psi_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    binned = load(spark, sf_dir, "documents").select(
        F.least(F.expr("n_chars div 256").cast("long"), F.lit(7)).alias(
            "bin"
        ),
        (F.col("doc_id") % 2).alias("half"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    tot = cells.agg(
        F.sum("n_a").alias("na_tot"), F.sum("n_b").alias("nb_tot")
    )
    shares = cells.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_a",
        "n_b",
        F.expr("n_a * 1000000 div nullif(na_tot, 0)").alias("pa_ppm"),
        F.expr("n_b * 1000000 div nullif(nb_tot, 0)").alias("pb_ppm"),
    )
    return shares.select(
        F.col("bin").cast("long").alias("len_bin"),
        "n_a",
        "n_b",
        F.when(
            (F.col("pa_ppm") > 0) & (F.col("pb_ppm") > 0),
            (F.col("pa_ppm") - F.col("pb_ppm"))
            * F.floor(
                F.log(
                    F.col("pa_ppm").cast("double")
                    / F.col("pb_ppm").cast("double")
                )
                * 1000000
                + 0.5
            ).cast("long"),
        )
        .cast("long")
        .alias("psi_term_scaled"),
    ).orderBy("len_bin")


@register(
    "orders_forecast_pinball_loss",
    oracle_sql="""
        WITH daily AS (
            SELECT date_trunc('day', o_orderdate) AS d,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY d
        ), med AS (
            SELECT CAST(quantile_disc(cents, 0.5) AS BIGINT) AS q50,
                   CAST(quantile_disc(cents, 0.9) AS BIGINT) AS q90
            FROM daily
        ), losses AS (
            SELECT CASE WHEN d.cents >= m.q50
                        THEN 5 * (d.cents - m.q50)
                        ELSE 5 * (m.q50 - d.cents) END AS l50_x10,
                   CASE WHEN d.cents >= m.q90
                        THEN 9 * (d.cents - m.q90)
                        ELSE 1 * (m.q90 - d.cents) END AS l90_x10
            FROM daily d, med m
        )
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(l50_x10) AS BIGINT) AS pinball50_sum_x10,
               CAST(sum(l90_x10) AS BIGINT) AS pinball90_sum_x10,
               CAST(sum(l50_x10) // count(*) AS BIGINT)
                   AS pinball50_floor_x10,
               CAST(sum(l90_x10) // count(*) AS BIGINT)
                   AS pinball90_floor_x10
        FROM losses
    """,
    description="Pinball (quantile) loss of constant q50/q90 daily-"
    "revenue forecasts: the asymmetric loss q*(y-f) / (1-q)*(f-y) "
    "kept integral by scaling x10 (q=0.5 -> 5/5, q=0.9 -> 9/1), "
    "with the forecasts the DISCRETE member quantiles "
    "(percentile_disc — exact member selection on both engines, no "
    "interpolation float) — the metric that validates quantile "
    "forecasts (a good q90 forecast should be exceeded ~10% of "
    "days); the constant-forecast loss is the baseline a real "
    "forecaster must beat, same role as eval_regression_metrics' "
    "mean baseline. Bounded daily rollup + 1-row broadcast.",
)
def orders_forecast_pinball_loss(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.sum(scaled_long("o_totalprice", 100)).alias("cents"))
    )
    med = daily.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("q50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("q90"),
    )
    losses = daily.crossJoin(F.broadcast(med)).select(
        F.when(
            F.col("cents") >= F.col("q50"),
            5 * (F.col("cents") - F.col("q50")),
        )
        .otherwise(5 * (F.col("q50") - F.col("cents")))
        .alias("l50_x10"),
        F.when(
            F.col("cents") >= F.col("q90"),
            9 * (F.col("cents") - F.col("q90")),
        )
        .otherwise(1 * (F.col("q90") - F.col("cents")))
        .alias("l90_x10"),
    )
    return losses.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("l50_x10").cast("long").alias("pinball50_sum_x10"),
        F.sum("l90_x10").cast("long").alias("pinball90_sum_x10"),
        F.expr("sum(l50_x10) div count(*)")
        .cast("long")
        .alias("pinball50_floor_x10"),
        F.expr("sum(l90_x10) div count(*)")
        .cast("long")
        .alias("pinball90_floor_x10"),
    )


@register(
    "eval_decile_boundary_drift",
    oracle_sql="""
        WITH halves AS (
            SELECT CASE WHEN ts < TIMESTAMP '2024-01-16'
                        THEN 0 ELSE 1 END AS half,
                   CAST(round(value * 100) AS BIGINT) AS s
            FROM events WHERE event_type IN ('purchase', 'view')
        ), edges AS (
            SELECT half,
                   CAST(quantile_disc(s, 0.25) AS BIGINT) AS q25,
                   CAST(quantile_disc(s, 0.50) AS BIGINT) AS q50,
                   CAST(quantile_disc(s, 0.75) AS BIGINT) AS q75,
                   CAST(quantile_disc(s, 0.90) AS BIGINT) AS q90
            FROM halves GROUP BY half
        )
        SELECT a.q25 AS q25_before, b.q25 AS q25_after,
               CAST(abs(a.q25 - b.q25) AS BIGINT) AS q25_shift_cents,
               a.q50 AS q50_before, b.q50 AS q50_after,
               CAST(abs(a.q50 - b.q50) AS BIGINT) AS q50_shift_cents,
               a.q75 AS q75_before, b.q75 AS q75_after,
               CAST(abs(a.q75 - b.q75) AS BIGINT) AS q75_shift_cents,
               a.q90 AS q90_before, b.q90 AS q90_after,
               CAST(abs(a.q90 - b.q90) AS BIGINT) AS q90_shift_cents
        FROM edges a, edges b WHERE a.half = 0 AND b.half = 1
    """,
    description="Score-quantile boundary drift across a mid-month "
    "deployment boundary: the q25/q50/q75/q90 DISCRETE quantile "
    "edges (exact member selection — percentile_disc on both "
    "engines) of the score distribution before vs after, with "
    "absolute shifts in exact cents — the ranking-feature drift "
    "monitor that catches a feature whose decile cutoffs move "
    "(every downstream binned model silently re-bins) even when the "
    "PSI mass shift is small. Two bounded aggregates.",
)
def eval_decile_boundary_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    halves = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            F.when(
                F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 0
            )
            .otherwise(1)
            .alias("half"),
            scaled_long("value", 100).alias("s"),
        )
    )
    qs = {}
    for q, name in [(0.25, "q25"), (0.5, "q50"), (0.75, "q75"), (0.9, "q90")]:
        qs[name] = (
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY s)"
            )
            .cast("long")
            .alias(name)
        )
    edges = halves.groupBy("half").agg(*qs.values())
    a = edges.where(F.col("half") == 0).alias("a")
    b = edges.where(F.col("half") == 1).alias("b")
    cols = []
    for name in ["q25", "q50", "q75", "q90"]:
        cols += [
            F.col(f"a.{name}").alias(f"{name}_before"),
            F.col(f"b.{name}").alias(f"{name}_after"),
            F.abs(F.col(f"a.{name}") - F.col(f"b.{name}"))
            .cast("long")
            .alias(f"{name}_shift_cents"),
        ]
    return a.crossJoin(F.broadcast(b)).select(*cols)


@register(
    "feature_time_since_last_bucket",
    oracle_sql="""
        WITH gaps AS (
            SELECT CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id)) AS BIGINT) AS gap_us
            FROM events
        ), bucketed AS (
            SELECT CASE
                WHEN gap_us < 60000000 THEN 0
                WHEN gap_us < 600000000 THEN 1
                WHEN gap_us < 3600000000 THEN 2
                WHEN gap_us < 21600000000 THEN 3
                WHEN gap_us < 86400000000 THEN 4
                ELSE 5 END AS bucket,
                gap_us
            FROM gaps WHERE gap_us IS NOT NULL
        )
        SELECT CAST(bucket AS BIGINT) AS gap_bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(gap_us) AS BIGINT) AS min_gap_us,
               CAST(max(gap_us) AS BIGINT) AS max_gap_us
        FROM bucketed GROUP BY bucket ORDER BY gap_bucket
    """,
    description="Time-since-last-same-type-event recency feature, "
    "histogrammed over fixed integer thresholds (1m/10m/1h/6h/1d — "
    "a CASE chain of exact microsecond comparisons, NOT floor(log2) "
    "whose float boundary flips at powers of two): the recency "
    "bucket is the single strongest behavioral feature in most "
    "session models, and the histogram is its serving-time "
    "validation profile. One (user, type)-partitioned lag window "
    "sharing the natural-key exchange.",
)
def feature_time_since_last_bucket(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    gaps = load(spark, sf_dir, "events").select(
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        )
    )
    bucketed = gaps.where(F.col("gap_us").isNotNull()).select(
        F.when(F.col("gap_us") < 60000000, 0)
        .when(F.col("gap_us") < 600000000, 1)
        .when(F.col("gap_us") < 3600000000, 2)
        .when(F.col("gap_us") < 21600000000, 3)
        .when(F.col("gap_us") < 86400000000, 4)
        .otherwise(5)
        .alias("bucket"),
        "gap_us",
    )
    return (
        bucketed.groupBy(F.col("bucket").cast("long").alias("gap_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("gap_us").cast("long").alias("min_gap_us"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
        )
        .orderBy("gap_bucket")
    )


@register(
    "corpus_split_contamination",
    oracle_sql="""
        WITH split AS (
            SELECT doc_id, text,
                   (doc_id * 48271) % 2147483647 % 10 < 8 AS is_train
            FROM documents
        ), tokd AS (
            SELECT doc_id, is_train, string_split(text, ' ') AS toks
            FROM split WHERE len(string_split(text, ' ')) >= 8
        ), grams AS (
            SELECT DISTINCT doc_id, is_train,
                   toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
                   || ' ' || toks[i + 3] || ' ' || toks[i + 4] || ' '
                   || toks[i + 5] || ' ' || toks[i + 6] || ' '
                   || toks[i + 7] AS gram
            FROM tokd, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        ), train_grams AS (
            SELECT DISTINCT gram FROM grams WHERE is_train
        ), test_hits AS (
            SELECT g.doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN t.gram IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
            FROM grams g LEFT JOIN train_grams t ON g.gram = t.gram
            WHERE NOT g.is_train
            GROUP BY g.doc_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_test_docs,
               CAST(sum(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated,
               CAST(sum(n_shared) AS BIGINT) AS total_shared_grams,
               CAST(sum(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END)
                    * 10000 // count(*) AS BIGINT)
                   AS contamination_rate_floor_bp
        FROM test_hits
    """,
    description="Train/test 8-gram contamination audit: the corpus "
    "hash-splits 80/20 (LCG of doc_id — replayable), and every test "
    "document is probed for 8-token shingles that also appear "
    "ANYWHERE in train — the eval-integrity check behind every "
    "benchmark-decontamination pipeline (corpus_decontaminate_ngram "
    "removes contamination from TRAIN; this measures what leaks into "
    "TEST). Distinct shingles per doc, train side DISTINCTed before "
    "the mark-join (no fan-out on repeated grams). Scale: the "
    "postings join shuffles on the gram key — the standard "
    "contamination-scan shape at lake scale.",
)
def corpus_split_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    split = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        ((F.col("doc_id") * 48271) % 2147483647 % 10 < 8).alias(
            "is_train"
        ),
    )
    toks = split.select(
        "doc_id",
        "is_train",
        F.split("text", " ").alias("toks"),
    ).where(F.size("toks") >= 8)
    grams = toks.select(
        "doc_id",
        "is_train",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 7),
                    lambda i: F.array_join(
                        F.slice(F.col("toks"), i, 8), " "
                    ),
                )
            )
        ).alias("gram"),
    )
    train_grams = (
        grams.where(F.col("is_train")).select("gram").distinct()
    )
    test_hits = (
        grams.where(~F.col("is_train"))
        .join(
            train_grams.withColumnRenamed("gram", "tg"),
            F.col("gram") == F.col("tg"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("tg").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
        )
    )
    return test_hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_test_docs"),
        F.sum(F.when(F.col("n_shared") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_contaminated"),
        F.sum("n_shared").cast("long").alias("total_shared_grams"),
        F.expr(
            "sum(case when n_shared > 0 then 1 else 0 end) * 10000 "
            "div count(*)"
        )
        .cast("long")
        .alias("contamination_rate_floor_bp"),
    )


@register(
    "feature_session_position",
    oracle_sql="""
        WITH seq AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id))
                        > 1800000000
                        OR lag(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) IS NULL
                   THEN 1 ELSE 0 END AS is_start
            FROM events
        ), sess AS (
            SELECT user_id, event_type,
                   sum(is_start) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sess_id,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS user_seq
            FROM seq
        ), pos AS (
            SELECT event_type,
                   row_number() OVER (
                       PARTITION BY user_id, sess_id
                       ORDER BY user_seq) AS pos_in_session
            FROM sess
        )
        SELECT event_type,
               CAST(sum(CASE WHEN pos_in_session = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_session_first,
               CAST(sum(CASE WHEN pos_in_session <= 3 THEN 1 ELSE 0
                    END) AS BIGINT) AS n_in_first3,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(max(pos_in_session) AS BIGINT) AS max_position
        FROM pos GROUP BY event_type ORDER BY event_type
    """,
    description="Position-in-session features: 30-minute "
    "gaps-and-islands sessionization (the registered "
    "sessionize_gaps_islands convention), then each event's ordinal "
    "within its session — profiled per event type as "
    "session-opener / first-3 counts, the position-bias inputs "
    "ranking models need (an event type that only ever appears "
    "deep in sessions carries different intent than a session "
    "opener). ALL windows share the single (user_id) exchange; the "
    "session id is the running sum of start flags — no join back.",
)
def feature_session_position(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    order = ["ts", "event_id"]
    wu = Window.partitionBy("user_id").orderBy(*order)
    seq = load(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            (
                F.unix_micros("ts")
                - F.unix_micros(F.lag("ts").over(wu))
                > 1800000000
            )
            | F.lag("ts").over(wu).isNull(),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sess = seq.select(
        "user_id",
        "event_type",
        F.sum("is_start")
        .over(wu.rowsBetween(Window.unboundedPreceding, 0))
        .alias("sess_id"),
        F.row_number().over(wu).alias("user_seq"),
    )
    pos = sess.select(
        "event_type",
        F.row_number()
        .over(
            Window.partitionBy("user_id", "sess_id").orderBy("user_seq")
        )
        .alias("pos_in_session"),
    )
    return (
        pos.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("pos_in_session") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_session_first"),
            F.sum(F.when(F.col("pos_in_session") <= 3, 1).otherwise(0))
            .cast("long")
            .alias("n_in_first3"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.max("pos_in_session").cast("long").alias("max_position"),
        )
        .orderBy("event_type")
    )


@register(
    "eval_catalog_coverage_topk",
    oracle_sql="""
        WITH ranked AS (
            SELECT o_custkey, l_partkey,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY CAST(round(l_extendedprice * 100)
                                     AS BIGINT) DESC,
                                l_orderkey, l_linenumber
                   ) AS rk
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), catalog AS (
            SELECT CAST(count(*) AS BIGINT) AS n_parts FROM part
        ), exposed AS (
            SELECT CAST(count(DISTINCT l_partkey) AS BIGINT)
                       AS n_exposed
            FROM ranked WHERE rk <= 5
        )
        SELECT c.n_parts, e.n_exposed,
               CAST(e.n_exposed * 10000 // nullif(c.n_parts, 0)
                    AS BIGINT) AS coverage_floor_bp
        FROM catalog c, exposed e
    """,
    description="Catalog coverage of top-k 'recommendations': the "
    "distinct parts appearing in any customer's top-5 "
    "highest-value lines vs the full catalog, in floor bp — the "
    "aggregate-diversity metric that catches a recommender "
    "collapsing onto bestsellers (per-user relevance metrics like "
    "recall@k stay green while coverage craters). One "
    "custkey-partitioned rank window + distinct count + 1-row "
    "catalog broadcast.",
)
def eval_catalog_coverage_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        scaled_long("l_extendedprice", 100).alias("cents"),
    )
    ranked = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            "o_custkey",
            "l_partkey",
            F.row_number()
            .over(
                Window.partitionBy("o_custkey").orderBy(
                    F.col("cents").desc(), "l_orderkey", "l_linenumber"
                )
            )
            .alias("rk"),
        )
    )
    catalog = load(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    exposed = (
        ranked.where(F.col("rk") <= 5)
        .agg(F.countDistinct("l_partkey").cast("long").alias("n_exposed"))
    )
    return catalog.crossJoin(F.broadcast(exposed)).select(
        "n_parts",
        "n_exposed",
        F.expr("n_exposed * 10000 div nullif(n_parts, 0)")
        .cast("long")
        .alias("coverage_floor_bp"),
    )


@register(
    "eval_exposure_gini_topk",
    oracle_sql="""
        WITH ranked AS (
            SELECT o_custkey, l_partkey,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY CAST(round(l_extendedprice * 100)
                                     AS BIGINT) DESC,
                                l_orderkey, l_linenumber
                   ) AS rk
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), exposure AS (
            SELECT l_partkey, CAST(count(*) AS BIGINT) AS x
            FROM ranked WHERE rk <= 5 GROUP BY l_partkey
        ), ordered AS (
            SELECT x, row_number() OVER (ORDER BY x, l_partkey) AS i
            FROM exposure
        ), agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(i * x) AS BIGINT) AS six
            FROM ordered
        )
        SELECT n AS n_exposed_parts, sx AS total_exposures,
               CAST(2 * six - (n + 1) * sx AS BIGINT) AS gini_num,
               CAST(n * sx AS BIGINT) AS gini_den,
               CAST(2 * six - (n + 1) * sx AS DOUBLE) / (n * sx)
                   AS exposure_gini
        FROM agg
    """,
    description="Exposure concentration Gini over the same top-5 "
    "lists as eval_catalog_coverage_topk: how unequally the exposed "
    "parts share their slots (the exact rank-formula Gini of "
    "agg_gini_concentration applied to exposure counts, part-key "
    "tie-break) — coverage says how MANY items surface; this says "
    "whether the surfaced ones split traffic or one bestseller "
    "absorbs it. Numerator/denominator exact int64, one unrounded "
    "division.",
)
def eval_exposure_gini_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        scaled_long("l_extendedprice", 100).alias("cents"),
    )
    ranked = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            "o_custkey",
            "l_partkey",
            F.row_number()
            .over(
                Window.partitionBy("o_custkey").orderBy(
                    F.col("cents").desc(), "l_orderkey", "l_linenumber"
                )
            )
            .alias("rk"),
        )
    )
    exposure = (
        ranked.where(F.col("rk") <= 5)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    ordered = exposure.select(
        "x",
        F.row_number()
        .over(Window.orderBy("x", "l_partkey"))
        .alias("i"),
    )
    agg = ordered.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("six"),
    )
    num = 2 * F.col("six") - (F.col("n") + 1) * F.col("sx")
    den = F.col("n") * F.col("sx")
    return agg.select(
        F.col("n").alias("n_exposed_parts"),
        F.col("sx").alias("total_exposures"),
        num.cast("long").alias("gini_num"),
        den.cast("long").alias("gini_den"),
        (num.cast("double") / den).alias("exposure_gini"),
    )


@register(
    "sample_negative_hard_mining",
    oracle_sql="""
        WITH purchases AS (
            SELECT user_id, event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ), views AS (
            SELECT user_id, event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'view'
        ), pairs AS (
            SELECT p.user_id, p.event_id AS anchor_id,
                   v.event_id AS neg_id,
                   abs(p.cents - v.cents) AS dist,
                   row_number() OVER (
                       PARTITION BY p.event_id
                       ORDER BY abs(p.cents - v.cents), v.event_id
                   ) AS rk
            FROM purchases p JOIN views v ON p.user_id = v.user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_anchors,
               CAST(sum(dist) AS BIGINT) AS sum_hard_dist_cents,
               CAST(max(dist) AS BIGINT) AS max_hard_dist_cents,
               CAST(sum(CASE WHEN dist = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_zero_margin
        FROM pairs WHERE rk = 1
    """,
    description="Hard-negative mining for contrastive training: each "
    "purchase (anchor) takes its HARDEST same-user negative — the "
    "view with the closest value (exact cent distance, event_id "
    "tie-break) — the mining rule that makes contrastive batches "
    "informative (sample_negative_pairs draws RANDOM negatives; "
    "hard negatives are what move the loss). Zero-margin count "
    "flags anchors whose negative is indistinguishable. The "
    "candidate join blocks on user_id (bounded per-user fan-out), "
    "the per-anchor min is a rank window on the anchor key.",
)
def sample_negative_hard_mining(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("anchor_id"),
        scaled_long("value", 100).alias("p_cents"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("neg_id"),
        scaled_long("value", 100).alias("v_cents"),
    )
    pairs = purchases.join(
        views, purchases.user_id == views.v_user
    ).select(
        "anchor_id",
        "neg_id",
        F.abs(F.col("p_cents") - F.col("v_cents")).alias("dist"),
    )
    ranked = pairs.select(
        "dist",
        F.row_number()
        .over(
            Window.partitionBy("anchor_id").orderBy("dist", "neg_id")
        )
        .alias("rk"),
    )
    return ranked.where(F.col("rk") == 1).agg(
        F.count(F.lit(1)).cast("long").alias("n_anchors"),
        F.sum("dist").cast("long").alias("sum_hard_dist_cents"),
        F.max("dist").cast("long").alias("max_hard_dist_cents"),
        F.sum(F.when(F.col("dist") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_zero_margin"),
    )


@register(
    "feature_pit_rfm_snapshot",
    oracle_sql="""
        WITH pit AS (
            SELECT o_custkey,
                   CAST(datediff('day', max(o_orderdate),
                        TIMESTAMP '1997-01-01') AS BIGINT) AS rec_days,
                   CAST(count(*) AS BIGINT) AS freq,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS mon_cents
            FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY o_custkey
        )
        SELECT CAST(least(rec_days // 90, 4) AS BIGINT)
                   AS recency_quarter_bucket,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(freq) AS BIGINT) AS total_orders,
               CAST(sum(mon_cents) AS BIGINT) AS total_cents,
               CAST(sum(mon_cents) // sum(freq) AS BIGINT)
                   AS avg_order_cents_floor
        FROM pit GROUP BY recency_quarter_bucket
        ORDER BY recency_quarter_bucket
    """,
    description="Point-in-time RFM feature snapshot AS OF 1997-01-01: "
    "recency/frequency/monetary computed ONLY from orders strictly "
    "before the cutoff (the feature a model scoring on that date is "
    "allowed to see — orders_rfm_segments ranks the full history, "
    "which would leak at training time), bucketed by recency "
    "quarter. The cutoff filter pushes to the scan; exact integer "
    "day/cent arithmetic throughout. This is the feature-store "
    "snapshot shape: at 100 TB the cutoff prunes partitions.",
)
def feature_pit_rfm_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cutoff = F.lit("1997-01-01").cast("timestamp")
    pit = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < cutoff)
        .groupBy("o_custkey")
        .agg(
            F.datediff(cutoff, F.max("o_orderdate"))
            .cast("long")
            .alias("rec_days"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum(scaled_long("o_totalprice", 100))
            .cast("long")
            .alias("mon_cents"),
        )
    )
    return (
        pit.groupBy(
            F.least(F.expr("rec_days div 90"), F.lit(4))
            .cast("long")
            .alias("recency_quarter_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("freq").cast("long").alias("total_orders"),
            F.sum("mon_cents").cast("long").alias("total_cents"),
            F.expr("sum(mon_cents) div sum(freq)")
            .cast("long")
            .alias("avg_order_cents_floor"),
        )
        .orderBy("recency_quarter_bucket")
    )


@register(
    "feature_serving_freshness_age",
    oracle_sql="""
        WITH merged AS (
            SELECT user_id, ts, event_id, event_type FROM events
            WHERE event_type IN ('purchase', 'click')
        ), aged AS (
            SELECT event_type,
                   epoch_us(ts) - max(CASE WHEN event_type = 'click'
                       THEN epoch_us(ts) END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS age_us
            FROM merged
        ), buckets AS (
            SELECT CASE
                WHEN age_us < 600000000 THEN 0
                WHEN age_us < 3600000000 THEN 1
                WHEN age_us < 21600000000 THEN 2
                WHEN age_us < 86400000000 THEN 3
                ELSE 4 END AS bucket, age_us
            FROM aged
            WHERE event_type = 'purchase' AND age_us IS NOT NULL
        )
        SELECT CAST(bucket AS BIGINT) AS age_bucket,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(min(age_us) AS BIGINT) AS min_age_us,
               CAST(max(age_us) AS BIGINT) AS max_age_us
        FROM buckets GROUP BY bucket ORDER BY age_bucket
    """,
    description="Feature-freshness-at-serving audit: for each "
    "purchase (a scoring moment), the age of the user's latest "
    "STRICTLY PRIOR click (the feature row a real-time store would "
    "serve), histogrammed over fixed integer thresholds "
    "(10m/1h/6h/1d) — the staleness profile that decides whether "
    "batch-hourly feature refresh is good enough or streaming "
    "updates are required. The backward max over the merged stream "
    "is the as-of family's one-exchange shape (join_asof_bidask), "
    "with a 1-PRECEDING frame so the purchase never sees a "
    "same-instant click.",
)
def feature_serving_freshness_age(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    merged = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "click"))
        .select("user_id", "ts", "event_id", "event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    aged = merged.select(
        "event_type",
        (
            F.unix_micros("ts")
            - F.max(
                F.when(
                    F.col("event_type") == "click", F.unix_micros("ts")
                )
            ).over(w)
        ).alias("age_us"),
    )
    buckets = (
        aged.where(
            (F.col("event_type") == "purchase")
            & F.col("age_us").isNotNull()
        )
        .select(
            F.when(F.col("age_us") < 600000000, 0)
            .when(F.col("age_us") < 3600000000, 1)
            .when(F.col("age_us") < 21600000000, 2)
            .when(F.col("age_us") < 86400000000, 3)
            .otherwise(4)
            .alias("bucket"),
            "age_us",
        )
    )
    return (
        buckets.groupBy(F.col("bucket").cast("long").alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.min("age_us").cast("long").alias("min_age_us"),
            F.max("age_us").cast("long").alias("max_age_us"),
        )
        .orderBy("age_bucket")
    )


@register(
    "feature_count_encode_type_hour",
    oracle_sql="""
        WITH cells AS (
            SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY event_type, hr
        )
        SELECT event_type, hr, n,
               CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY n DESC, hr
               ) AS BIGINT) AS freq_rank,
               CAST(n * 1000000 // sum(n) OVER (PARTITION BY
                   event_type) AS BIGINT) AS within_type_ppm
        FROM cells ORDER BY event_type, hr
    """,
    description="Count-encoding lookup table for the (event_type, "
    "hour-of-day) categorical cross: raw frequency, within-type "
    "rank, and within-type share on the exact ppm grid — the "
    "precomputed encoding dim a model joins at serving time "
    "(count encoding beats one-hot at high cardinality and, unlike "
    "target encoding, cannot leak the label). The table is bounded "
    "(|types| x 24), built in one map-combined aggregate; windows "
    "run over the BOUNDED table.",
)
def feature_count_encode_type_hour(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cells = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.hour("ts").cast("long").alias("hr")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return cells.select(
        "event_type",
        "hr",
        "n",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.col("n").desc(), "hr"
            )
        )
        .cast("long")
        .alias("freq_rank"),
        F.expr(
            "n * 1000000 div sum(n) over (partition by event_type)"
        )
        .cast("long")
        .alias("within_type_ppm"),
    ).orderBy("event_type", "hr")
