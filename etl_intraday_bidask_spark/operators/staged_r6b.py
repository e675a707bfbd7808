"""Wave-B operators, part 2 (SURVEY.md §2.28, §7 M7 continuation).

House discipline throughout: scaled-integer exact arithmetic for every
fixture-grid value (``functions/parity.py``), explicit ``(key)``
tie-breaks on every window, integer division (``div`` / ``//``) for
ratios that must hash-match, one final IEEE division where a double is
emitted, and a 100 TB scale note per op.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_intraday_bidask_spark.functions.parity import scaled_long
from etl_intraday_bidask_spark.registry import register
from etl_intraday_bidask_spark.tables import load


@register(
    "orders_cohort_retention",
    oracle_sql="""
        WITH cohort AS (
            SELECT o_custkey,
                   min(date_trunc('month', o_orderdate)) AS cohort_m
            FROM orders GROUP BY o_custkey
        ), activity AS (
            SELECT DISTINCT o.o_custkey, c.cohort_m,
                   date_trunc('month', o.o_orderdate) AS order_m
            FROM orders o JOIN cohort c ON o.o_custkey = c.o_custkey
        )
        SELECT strftime(cohort_m, '%Y-%m') AS cohort_month,
               CAST(datediff('month', cohort_m, order_m) AS BIGINT)
                   AS months_since,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active
        FROM activity
        WHERE datediff('month', cohort_m, order_m) <= 6
        GROUP BY cohort_m, months_since
        ORDER BY cohort_month, months_since
    """,
    description="Cohort retention matrix: customers grouped by first-"
    "order month, then for each cohort the count still active 0..6 "
    "months later — the canonical retention triangle every growth team "
    "reads. Spark plan: first-order month per customer is one groupBy "
    "(map-side partial min), the cohort dim joins back on o_custkey "
    "(co-partitioned with the fact's natural key — one shuffle serves "
    "both the min and the join under AQE), months_since is exact "
    "integer months_between on month-truncated dates. Output is "
    "calendar-bounded (#cohort-months x 7), so the matrix stays tiny "
    "at any data scale; at 100 TB the only large exchange is the "
    "custkey hash partition, which AQE coalesces.",
)
def orders_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", F.date_trunc("month", "o_orderdate").alias("order_m")
    )
    cohort = orders.groupBy("o_custkey").agg(
        F.min("order_m").alias("cohort_m")
    )
    activity = orders.join(cohort, "o_custkey").select(
        "o_custkey",
        "cohort_m",
        "order_m",
        F.months_between("order_m", "cohort_m").cast("long").alias(
            "months_since"
        ),
    )
    return (
        activity.where(F.col("months_since") <= 6)
        .groupBy(
            F.date_format("cohort_m", "yyyy-MM").alias("cohort_month"),
            "months_since",
        )
        .agg(F.countDistinct("o_custkey").cast("long").alias("n_active"))
        .orderBy("cohort_month", "months_since")
    )


@register(
    "orders_rfm_segments",
    oracle_sql="""
        WITH rfm AS (
            SELECT o_custkey,
                   max(o_orderdate) AS last_order,
                   count(*) AS freq,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders GROUP BY o_custkey
        ), q AS (
            SELECT o_custkey, cents,
                   ntile(4) OVER (ORDER BY last_order DESC, o_custkey)
                       AS r_q,
                   ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f_q,
                   ntile(4) OVER (ORDER BY cents DESC, o_custkey) AS m_q
            FROM rfm
        )
        SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
               CAST(m_q AS BIGINT) AS m_q,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(cents) AS DOUBLE) / 100.0 AS segment_revenue
        FROM q
        GROUP BY r_q, f_q, m_q
        ORDER BY r_q, f_q, m_q
    """,
    description="RFM segmentation: per-customer recency / frequency / "
    "monetary quartiles (ntile over fully deterministic orders — every "
    "ORDER BY carries the o_custkey tie-break, and both engines "
    "implement SQL-standard ntile distribution, so quartile membership "
    "hash-matches), rolled up to segment counts and exact revenue. "
    "The monetary base is the exact integer-cent sum. Scale: the "
    "customer-grain aggregate is one shuffle; the three ntiles are "
    "global single-ordering windows over the CUSTOMER grain (1:100+ "
    "reduction from the fact table) — at 100 TB of orders that is "
    "still only ~10^8 small rows, and each ntile would move to the "
    "two-pass range-partitioned rank (percent_rank via partition "
    "boundaries) the win_range_frame_dist twin demonstrates; the "
    "quartile SEMANTICS pinned here are unchanged by that swap.",
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    rfm = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(scaled_long("o_totalprice", 100)).alias("cents"),
        )
    )
    q = rfm.select(
        "o_custkey",
        "cents",
        F.ntile(4)
        .over(Window.orderBy(F.desc("last_order"), "o_custkey"))
        .cast("long")
        .alias("r_q"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("freq"), "o_custkey"))
        .cast("long")
        .alias("f_q"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("cents"), "o_custkey"))
        .cast("long")
        .alias("m_q"),
    )
    return (
        q.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (F.sum("cents").cast("double") / 100.0).alias(
                "segment_revenue"
            ),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


@register(
    "cep_transition_matrix",
    oracle_sql="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ), pairs AS (
            SELECT prev_type, event_type AS next_type,
                   count(*) AS n
            FROM seq WHERE prev_type IS NOT NULL
            GROUP BY prev_type, next_type
        )
        SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
               CAST(n * 10000 // sum(n) OVER (PARTITION BY prev_type)
                    AS BIGINT) AS prob_floor_bp
        FROM pairs
        ORDER BY prev_type, next_type
    """,
    description="Markov transition matrix over per-user event "
    "sequences: lag(event_type) within each user's (ts, event_id)-"
    "ordered history, pair counts, and the per-source-state transition "
    "probability in floor basis points (n*10000 integer-div row-total "
    "— exact on both engines; no float rounding decision is ever made "
    "on a rational). The first-order behavioral model behind session "
    "prediction and anomaly scoring. Scale: the lag window partitions "
    "by user_id (millions of small independent partitions), the pair "
    "aggregate is map-side combinable onto a #states^2-bounded result, "
    "and the probability normalization windows over that tiny matrix "
    "— nothing global ever materializes.",
)
def cep_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = load(spark, sf_dir, "events").select(
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    pairs = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n"),
        F.expr("n * 10000 div sum(n) over (partition by prev_type)")
        .cast("long")
        .alias("prob_floor_bp"),
    ).orderBy("prev_type", "next_type")


@register(
    "events_active_users_rolling",
    oracle_sql="""
        WITH pairs AS (
            SELECT DISTINCT date_trunc('day', ts) AS d, user_id
            FROM events
        ), spine AS (SELECT DISTINCT d FROM pairs)
        SELECT CAST(epoch_us(s.d) AS BIGINT) AS day_us,
               CAST(count(DISTINCT CASE WHEN p.d = s.d
                                        THEN p.user_id END) AS BIGINT)
                   AS dau,
               CAST(count(DISTINCT CASE
                        WHEN p.d >= s.d - INTERVAL 6 DAY
                        THEN p.user_id END) AS BIGINT) AS wau,
               CAST(count(DISTINCT p.user_id) AS BIGINT) AS mau,
               CAST(count(DISTINCT CASE WHEN p.d = s.d
                                        THEN p.user_id END) * 10000
                    // count(DISTINCT p.user_id) AS BIGINT)
                   AS stickiness_floor_bp
        FROM spine s JOIN pairs p
          ON p.d BETWEEN s.d - INTERVAL 29 DAY AND s.d
        GROUP BY s.d
        ORDER BY day_us
    """,
    description="DAU / trailing-7-day WAU / trailing-30-day MAU and "
    "the DAU/MAU stickiness ratio (floor basis points — exact integer "
    "division) per observed day. Spark plan is the scale-correct one: "
    "distinct (day, user) pairs first (the only pass over the raw "
    "events), then each pair EXPLODES to the <=30 future days it keeps "
    "a user active for (map-side sequence/explode — bounded 30x "
    "fan-out of the already-reduced pair grain), and one groupBy per "
    "target day counts distinct users per horizon. No day-range join, "
    "no per-day rescan: at 100 TB the expansion is linear in DISTINCT "
    "pairs, and the per-day distinct count shuffles on (day, user) "
    "which is exactly the pre-aggregated grain. The oracle states the "
    "same semantics as a range join, which is fine at DuckDB scale.",
)
def events_active_users_rolling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = (
        load(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts").alias("d"), "user_id")
        .distinct()
    )
    spine = pairs.select("d").distinct()
    exploded = pairs.select(
        "user_id",
        F.col("d").alias("active_d"),
        F.explode(
            F.sequence(F.lit(0), F.lit(29))
        ).alias("off"),
    ).select(
        "user_id",
        "active_d",
        (F.col("active_d") + F.make_interval(days=F.col("off"))).alias(
            "target_d"
        ),
    )
    # Keep only observed days so the output grid matches the oracle's
    # spine (the fixture's event stream has no gap days, but the semi
    # join makes that an assumption-free fact).
    on_spine = exploded.join(
        F.broadcast(spine).withColumnRenamed("d", "target_d"),
        "target_d",
        "semi",
    )
    per_day = on_spine.groupBy("target_d").agg(
        F.countDistinct(
            F.when(F.col("active_d") == F.col("target_d"), F.col("user_id"))
        ).alias("dau"),
        F.countDistinct(
            F.when(
                F.col("active_d")
                >= F.col("target_d") - F.expr("INTERVAL 6 DAY"),
                F.col("user_id"),
            )
        ).alias("wau"),
        F.countDistinct("user_id").alias("mau"),
    )
    return per_day.select(
        F.unix_micros("target_d").alias("day_us"),
        F.col("dau").cast("long").alias("dau"),
        F.col("wau").cast("long").alias("wau"),
        F.col("mau").cast("long").alias("mau"),
        F.expr("dau * 10000 div mau").cast("long").alias(
            "stickiness_floor_bp"
        ),
    ).orderBy("day_us")


@register(
    "agg_pareto_cumshare",
    oracle_sql="""
        WITH cust AS (
            SELECT c_nationkey,
                   o_custkey,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey, o_custkey
        ), ranked AS (
            SELECT c_nationkey, cents,
                   coalesce(sum(cents) OVER (
                       PARTITION BY c_nationkey
                       ORDER BY cents DESC, o_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before,
                   sum(cents) OVER (PARTITION BY c_nationkey) AS total
            FROM cust
        )
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(count(*) FILTER (WHERE cum_before * 5 < total * 4)
                    AS BIGINT) AS n_top80,
               CAST(max(total) AS DOUBLE) / 100.0 AS nation_revenue
        FROM ranked JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name
    """,
    description="Revenue concentration (the 80/20 rule, made exact): "
    "per nation, how many top customers cover 80% of revenue. "
    "A customer is in the top-80 set iff the cumulative revenue BEFORE "
    "them is still below 80% of the nation total — evaluated as "
    "cum_before*5 < total*4 in exact integer cents, so no percentage "
    "float ever exists and the threshold can't round differently "
    "across engines. Descending-revenue order tie-breaks on "
    "o_custkey. Scale: customer-grain aggregate shuffles once on "
    "(nationkey, custkey); the running sum partitions by nation (25 "
    "independent partitions, each customer-count-bounded — for a "
    "single monster partition the win_range_frame_dist two-pass "
    "bucket pattern applies); the nation dim broadcasts.",
)
def agg_pareto_cumshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    cust = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(scaled_long("o_totalprice", 100)).alias("cents"))
    )
    w_run = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.desc("cents"), "o_custkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy("c_nationkey")
    ranked = cust.select(
        "c_nationkey",
        "cents",
        F.coalesce(F.sum("cents").over(w_run), F.lit(0)).alias(
            "cum_before"
        ),
        F.sum("cents").over(w_tot).alias("total"),
    )
    return (
        ranked.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            ranked.c_nationkey == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(
                F.when(
                    F.col("cum_before") * 5 < F.col("total") * 4, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_top80"),
            (F.max("total").cast("double") / 100.0).alias(
                "nation_revenue"
            ),
        )
        .orderBy("n_name")
    )


@register(
    "agg_gini_concentration",
    oracle_sql="""
        WITH cust AS (
            SELECT c_nationkey, o_custkey,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey, o_custkey
        ), ranked AS (
            SELECT c_nationkey, cents,
                   row_number() OVER (
                       PARTITION BY c_nationkey
                       ORDER BY cents, o_custkey
                   ) AS i
            FROM cust
        ), sums AS (
            SELECT c_nationkey,
                   count(*) AS n,
                   sum(cents) AS sx,
                   sum(i * cents) AS six
            FROM ranked GROUP BY c_nationkey
        )
        SELECT n_name,
               CAST(n AS BIGINT) AS n_customers,
               CASE WHEN n * sx = 0 THEN NULL ELSE
               CAST(2 * six - (n + 1) * sx AS DOUBLE)
                   / CAST(n * sx AS DOUBLE) END AS gini
        FROM sums JOIN nation ON c_nationkey = n_nationkey
        ORDER BY n_name
    """,
    description="Gini coefficient of customer revenue per nation via "
    "the exact rank formula G = (2*sum(i*x_i) - (n+1)*sum(x)) / "
    "(n*sum(x)) over ascending-revenue ranks (tie-broken on "
    "o_custkey). Numerator and denominator are exact int64 products "
    "of integer-cent sums; ONE final IEEE division produces the same "
    "double on both engines and is emitted unrounded (rounding a "
    "rational is the half-boundary trap). Inequality-of-contribution is the standard first "
    "look at corpus/source skew too (swap customers for sources). "
    "Scale: customer-grain aggregate + per-nation rank window "
    "(bounded partitions) + tiny broadcast dim — same shape as "
    "agg_pareto_cumshare; the two ops share a plan family but grade "
    "different statistics.",
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    cust = (
        orders.join(
            customer.select("c_custkey", "c_nationkey"),
            orders.o_custkey == customer.c_custkey,
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(scaled_long("o_totalprice", 100)).alias("cents"))
    )
    ranked = cust.select(
        "c_nationkey",
        "cents",
        F.row_number()
        .over(
            Window.partitionBy("c_nationkey").orderBy("cents", "o_custkey")
        )
        .alias("i"),
    )
    sums = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(F.col("i") * F.col("cents")).alias("six"),
    )
    return (
        sums.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            sums.c_nationkey == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.col("n").cast("long").alias("n_customers"),
            # All-zero-revenue guard: NULL instead of an engine-dependent
            # 0/0 when every customer in the nation has zero cents.
            # Unrounded: the ratio of two exact int64s is one IEEE
            # division, bit-identical across engines; round() on a
            # rational is the half-boundary trap.
            F.when(
                F.col("n") * F.col("sx") != 0,
                (
                    2 * F.col("six") - (F.col("n") + 1) * F.col("sx")
                ).cast("double")
                / (F.col("n") * F.col("sx")).cast("double"),
            ).alias("gini"),
        )
        .orderBy("n_name")
    )


@register(
    "agg_concurrent_intervals",
    oracle_sql="""
        WITH spans AS (
            SELECT o_orderkey,
                   date_trunc('day', o_orderdate) AS start_d,
                   date_trunc('day', max(l_shipdate)) AS end_d
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY o_orderkey, o_orderdate
        ), deltas AS (
            SELECT start_d AS d, CAST(1 AS BIGINT) AS delta FROM spans
            UNION ALL
            SELECT end_d + INTERVAL 1 DAY, CAST(-1 AS BIGINT) FROM spans
        ), per_day AS (
            SELECT d, sum(delta) AS net FROM deltas GROUP BY d
        ), swept AS (
            SELECT d, sum(net) OVER (ORDER BY d) AS open_now
            FROM per_day
        )
        SELECT strftime(date_trunc('month', d), '%Y-%m') AS month,
               CAST(max(open_now) AS BIGINT) AS max_open
        FROM swept
        GROUP BY date_trunc('month', d)
        ORDER BY month
    """,
    description="Sweep-line interval concurrency: each order is open "
    "from its order date to its last line shipment; the op reports "
    "the maximum number of simultaneously open orders per month — the "
    "WIP/backlog metric, and the classic case where the naive plan "
    "(day-spine x interval range join) is quadratic while the sweep "
    "is linear. Plan: per-order span (one co-partitioned orderkey "
    "join + groupBy), +1/-1 boundary deltas UNIONed and pre-summed "
    "PER DAY (map-side combine collapses the fact volume to the "
    "calendar grain), then ONE running sum over the day grain. The "
    "global window is over #distinct-days rows (~2.5k for 7 years) "
    "regardless of fact size — calendar-bounded by construction, the "
    "same argument as win_median_sliding_hourly; at 100 TB nothing "
    "but the day grain ever passes through a single task.",
)
def agg_concurrent_intervals(
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
    deltas = spans.select(
        F.col("start_d").alias("d"), F.lit(1).cast("long").alias("delta")
    ).unionByName(
        spans.select(
            (F.col("end_d") + F.expr("INTERVAL 1 DAY")).alias("d"),
            F.lit(-1).cast("long").alias("delta"),
        )
    )
    per_day = deltas.groupBy("d").agg(F.sum("delta").alias("net"))
    swept = per_day.select(
        "d", F.sum("net").over(Window.orderBy("d")).alias("open_now")
    )
    return (
        swept.groupBy(
            F.date_format(F.date_trunc("month", "d"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(F.max("open_now").cast("long").alias("max_open"))
        .orderBy("month")
    )


@register(
    "orders_revenue_bridge",
    oracle_sql="""
        WITH per_cust AS (
            SELECT o_custkey,
                   sum(CASE WHEN year(o_orderdate) = 1995
                            THEN CAST(round(o_totalprice * 100) AS BIGINT)
                            ELSE 0 END) AS rev1,
                   sum(CASE WHEN year(o_orderdate) = 1996
                            THEN CAST(round(o_totalprice * 100) AS BIGINT)
                            ELSE 0 END) AS rev2
            FROM orders
            WHERE year(o_orderdate) IN (1995, 1996)
            GROUP BY o_custkey
        ), tagged AS (
            SELECT CASE
                       WHEN rev1 = 0 THEN 'new'
                       WHEN rev2 = 0 THEN 'churned'
                       WHEN rev2 > rev1 THEN 'expanded'
                       WHEN rev2 < rev1 THEN 'contracted'
                       ELSE 'flat'
                   END AS category,
                   rev1, rev2
            FROM per_cust
        )
        SELECT category,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(rev2 - rev1) AS DOUBLE) / 100.0 AS delta_revenue,
               CAST(sum(rev1) AS DOUBLE) / 100.0 AS base_revenue
        FROM tagged
        GROUP BY category
        ORDER BY category
    """,
    description="Year-over-year revenue bridge (1995 -> 1996): every "
    "customer's revenue delta is attributed to exactly one of "
    "new / churned / expanded / contracted / flat, so the per-category "
    "deltas sum to the total YoY change — the waterfall decomposition "
    "behind every board slide, with the accounting identity built in "
    "(the category deltas reconcile by construction, which is what "
    "makes the hash grade sharp). Exact integer cents end to end; "
    "comparisons (rev2 > rev1) happen on int64, never on floats. "
    "Scale: one conditional aggregate per customer (single shuffle on "
    "custkey, map-side partials) and a 5-row category rollup.",
)
def orders_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    # The sargable range predicate (not just year() IN) is what reaches
    # the Parquet reader as a pushed filter — at 100 TB this is the
    # difference between scanning two years and scanning the lake.
    in_range = (
        F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp")
    ) & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    per_cust = (
        orders.where(in_range)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.when(
                    yr == 1995, scaled_long("o_totalprice", 100)
                ).otherwise(F.lit(0))
            ).alias("rev1"),
            F.sum(
                F.when(
                    yr == 1996, scaled_long("o_totalprice", 100)
                ).otherwise(F.lit(0))
            ).alias("rev2"),
        )
    )
    category = (
        F.when(F.col("rev1") == 0, "new")
        .when(F.col("rev2") == 0, "churned")
        .when(F.col("rev2") > F.col("rev1"), "expanded")
        .when(F.col("rev2") < F.col("rev1"), "contracted")
        .otherwise("flat")
    )
    return (
        per_cust.select(
            category.alias("category"), "rev1", "rev2"
        )
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (
                F.sum(F.col("rev2") - F.col("rev1")).cast("double") / 100.0
            ).alias("delta_revenue"),
            (F.sum("rev1").cast("double") / 100.0).alias("base_revenue"),
        )
        .orderBy("category")
    )


@register(
    "dq_cusum_shift_detect",
    oracle_sql="""
        WITH daily AS (
            SELECT date_trunc('day', o_orderdate) AS d,
                   CAST(count(*) AS BIGINT) AS x
            FROM orders GROUP BY d
        ), stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(x) AS BIGINT) AS total
            FROM daily
        ), cum AS (
            SELECT d, x,
                   sum(x * n_days - total) OVER (ORDER BY d) AS c
            FROM daily, stats
        ), swept AS (
            SELECT d, x, c,
                   c - min(c) OVER (
                       ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS s_pos,
                   max(c) OVER (
                       ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - c AS s_neg
            FROM cum
        )
        SELECT CAST(epoch_us(d) AS BIGINT) AS day_us, x,
               CAST(s_pos AS BIGINT) AS s_pos,
               CAST(s_neg AS BIGINT) AS s_neg,
               CAST(CASE WHEN s_pos > 2 * (SELECT total FROM stats)
                           OR s_neg > 2 * (SELECT total FROM stats)
                         THEN 1 ELSE 0 END AS BIGINT) AS shift_flag
        FROM swept
        ORDER BY day_us
    """,
    description="CUSUM level-shift detection on daily order volume, "
    "fully exact: deviations are scaled by n_days (dev = x*n - total) "
    "so the mean never exists as a rational, and the one-sided CUSUM "
    "recursions S+_t = max(0, S+_{t-1} + dev) / S-_t analogously are "
    "rewritten into their closed window forms S+ = C - running_min(C) "
    "and S- = running_max(C) - C over the cumulative deviation C — "
    "the recursion a window function 'cannot' express, expressed "
    "exactly (the identity max(0, ...) fold == prefix-min subtraction "
    "is standard). Every value including the drift flags (threshold "
    "2*total, i.e. two average days of scaled drift) is int64 — the "
    "pipeline-volume-monitoring op a DQ suite runs per partition "
    "date. Scale: windows run over the calendar day grain only "
    "(~2.5k rows), after a map-side-combined per-day count.",
)
def dq_cusum_shift_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    stats = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("total"),
    )
    cum = daily.crossJoin(F.broadcast(stats)).select(
        "d",
        "x",
        "total",
        F.sum(F.col("x") * F.col("n_days") - F.col("total"))
        .over(Window.orderBy("d"))
        .alias("c"),
    )
    w_run = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    swept = cum.select(
        "d",
        "x",
        "total",
        (F.col("c") - F.min("c").over(w_run)).alias("s_pos"),
        (F.max("c").over(w_run) - F.col("c")).alias("s_neg"),
    )
    return swept.select(
        F.unix_micros("d").alias("day_us"),
        "x",
        F.col("s_pos").cast("long").alias("s_pos"),
        F.col("s_neg").cast("long").alias("s_neg"),
        F.when(
            (F.col("s_pos") > 2 * F.col("total"))
            | (F.col("s_neg") > 2 * F.col("total")),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("shift_flag"),
    ).orderBy("day_us")


@register(
    "events_seasonality_profile",
    oracle_sql="""
        WITH cells AS (
            SELECT isodow(ts) AS dow, hour(ts) AS hod,
                   CAST(count(*) AS BIGINT) AS n,
                   sum(CAST(round(value * 100) AS BIGINT)) AS cents
            FROM events GROUP BY dow, hod
        )
        SELECT CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod,
               n,
               CAST(cents AS DOUBLE) / 100.0 AS sum_value,
               CAST(n * 10000 // sum(n) OVER () AS BIGINT)
                   AS share_floor_bp
        FROM cells
        ORDER BY dow, hod
    """,
    description="Hour-of-week seasonality profile: traffic and value "
    "by (ISO weekday, hour) with each cell's share of total activity "
    "in floor basis points (exact integer division — no float share "
    "is ever rounded). Weekday parity trap handled explicitly: Spark "
    "dayofweek() is 1=Sunday while DuckDB isodow() is 1=Monday; the "
    "Spark side uses weekday()+1 == isodow. The 7x24 profile is the "
    "load-shedding/capacity heatmap input and the denominator for "
    "seasonally-adjusted anomaly baselines. Scale: one map-side-"
    "combinable aggregate onto a fixed 168-cell grid; the share "
    "window runs over those 168 rows only.",
)
def events_seasonality_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cells = (
        load(spark, sf_dir, "events")
        .groupBy(
            (F.weekday("ts") + 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(scaled_long("value", 100)).alias("cents"),
        )
    )
    return cells.select(
        "dow",
        "hod",
        "n",
        (F.col("cents").cast("double") / 100.0).alias("sum_value"),
        F.expr("n * 10000 div sum(n) over ()")
        .cast("long")
        .alias("share_floor_bp"),
    ).orderBy("dow", "hod")


@register(
    "bidask_roll_spread",
    oracle_sql="""
        WITH px AS (
            SELECT date_trunc('day', ts) AS d,
                   CAST(round(value * 100) AS BIGINT) AS p,
                   ts, event_id
            FROM events WHERE event_type = 'purchase'
        ), d1 AS (
            SELECT d, ts, event_id,
                   p - lag(p) OVER (
                       PARTITION BY d ORDER BY ts, event_id
                   ) AS dp
            FROM px
        ), diffs AS (
            SELECT d, dp,
                   lag(dp) OVER (
                       PARTITION BY d ORDER BY ts, event_id
                   ) AS dp_prev
            FROM d1
        ), sums AS (
            SELECT d,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(dp * dp_prev) AS BIGINT) AS sxy,
                   CAST(sum(dp) AS BIGINT) AS sx,
                   CAST(sum(dp_prev) AS BIGINT) AS sy
            FROM diffs
            WHERE dp IS NOT NULL AND dp_prev IS NOT NULL
            GROUP BY d
        )
        SELECT CAST(epoch_us(d) AS BIGINT) AS day_us, n_pairs,
               round(CASE WHEN n_pairs * sxy - sx * sy < 0
                          THEN 2.0 * sqrt(
                              CAST(-(n_pairs * sxy - sx * sy) AS DOUBLE)
                              / CAST(n_pairs * n_pairs AS DOUBLE)) / 100.0
                          ELSE 0.0 END, 6) AS roll_spread
        FROM sums
        WHERE n_pairs >= 2
        ORDER BY day_us
    """,
    description="Roll (1984) implied effective spread per day: "
    "s = 2*sqrt(-cov(dp_t, dp_{t-1})) from the serial covariance of "
    "successive trade-price changes — the classic microstructure "
    "estimator that recovers the bid-ask spread from trade prices "
    "alone (bounce between bid and ask induces negative lag-1 "
    "autocovariance of price changes). Price changes are exact "
    "integer cents; the population covariance numerator "
    "n*Sxy - Sx*Sy is an exact int64; the only floats are one "
    "division, one sqrt, one round(.,6) — the irrational-output "
    "policy. Non-negative covariance (no bounce detected) emits 0 by "
    "the standard convention. Distinct from bidask_realized_vol "
    "(variance of returns) and bidask_returns_acf (correlation "
    "shape): this grades the LEVEL of lag-1 autocovariance through a "
    "named estimator. Scale: per-day partitions, two lags and one "
    "aggregate per partition — embarrassingly parallel.",
)
def bidask_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.date_trunc("day", "ts").alias("d"),
            scaled_long("value", 100).alias("p"),
            "ts",
            "event_id",
        )
    )
    w = Window.partitionBy("d").orderBy("ts", "event_id")
    diffs = px.select(
        "d", (F.col("p") - F.lag("p").over(w)).alias("dp"), "ts", "event_id"
    ).select("d", "dp", F.lag("dp").over(w).alias("dp_prev"))
    sums = (
        diffs.where(F.col("dp").isNotNull() & F.col("dp_prev").isNotNull())
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("dp") * F.col("dp_prev")).cast("long").alias("sxy"),
            F.sum("dp").cast("long").alias("sx"),
            F.sum("dp_prev").cast("long").alias("sy"),
        )
    )
    num = F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        sums.where(F.col("n_pairs") >= 2)
        .select(
            F.unix_micros("d").alias("day_us"),
            "n_pairs",
            F.round(
                F.when(
                    num < 0,
                    2.0
                    * F.sqrt(
                        (-num).cast("double")
                        / (F.col("n_pairs") * F.col("n_pairs")).cast(
                            "double"
                        )
                    )
                    / 100.0,
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("roll_spread"),
        )
        .orderBy("day_us")
    )


@register(
    "agg_histogram_equi_depth",
    oracle_sql="""
        WITH ranked AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   ntile(10) OVER (
                       ORDER BY CAST(round(o_totalprice * 100) AS BIGINT),
                                o_orderkey
                   ) AS decile
            FROM orders
        )
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(cents) AS DOUBLE) / 100.0 AS lo,
               CAST(max(cents) AS DOUBLE) / 100.0 AS hi,
               CAST(sum(cents) AS DOUBLE) / 100.0 AS bucket_sum
        FROM ranked
        GROUP BY decile
        ORDER BY decile
    """,
    description="Equi-depth (quantile) histogram of order value: "
    "ntile(10) over the exact integer-cent order (tie-broken on "
    "o_orderkey so bucket membership is deterministic), emitting each "
    "decile's count, boundaries, and mass — the histogram an "
    "optimizer or drift monitor actually wants (equal POPULATION per "
    "bucket; agg_histogram_width_bucket is its equal-WIDTH "
    "complement and the pair brackets the histogram design space). "
    "Scale: the single global ntile over the fact grain is the known "
    "cost — at 100 TB this becomes the two-pass equi-depth build "
    "(sample boundaries via approx quantiles, then one map-side "
    "bucket assignment + aggregate), the same migration pinned for "
    "the other global-ordering anchors; the decile SEMANTICS graded "
    "here are the spec for that scale path.",
)
def agg_histogram_equi_depth(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ranked = load(spark, sf_dir, "orders").select(
        scaled_long("o_totalprice", 100).alias("cents"),
        "o_orderkey",
    )
    ranked = ranked.select(
        "cents",
        F.ntile(10)
        .over(Window.orderBy("cents", "o_orderkey"))
        .cast("long")
        .alias("decile"),
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.min("cents").cast("double") / 100.0).alias("lo"),
            (F.max("cents").cast("double") / 100.0).alias("hi"),
            (F.sum("cents").cast("double") / 100.0).alias("bucket_sum"),
        )
        .orderBy("decile")
    )


@register(
    "agg_heavy_hitters_cms",
    oracle_sql="""
        WITH per_user AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
            FROM events GROUP BY user_id
        ), cells AS (
            SELECT r.r,
                   CAST(('0x' || substr(md5(r.r || ':' || u.user_id),
                                        1, 15)) AS BIGINT) % 512 AS cell,
                   u.user_id, u.exact_n
            FROM per_user u, range(0, 5) r(r)
        ), cell_totals AS (
            SELECT r, cell, sum(exact_n) AS cell_n
            FROM cells GROUP BY r, cell
        ), est AS (
            SELECT c.user_id, min(t.cell_n) AS cms_est
            FROM cells c JOIN cell_totals t
              ON c.r = t.r AND c.cell = t.cell
            GROUP BY c.user_id
        )
        SELECT p.user_id, p.exact_n,
               CAST(e.cms_est AS BIGINT) AS cms_est,
               CAST(e.cms_est - p.exact_n AS BIGINT) AS overcount
        FROM per_user p JOIN est e ON p.user_id = e.user_id
        ORDER BY p.exact_n DESC, p.user_id
        LIMIT 10
    """,
    description="Count-Min heavy hitters with the sketch error ITSELF "
    "hash-graded: a 5x512 Count-Min sketch built from md5-derived "
    "hash rows (the same cross-engine arithmetic-hash discipline as "
    "the MinHash family — conv(substr(md5,1,15),16,10) == DuckDB "
    "'0x'||substr cast), point-queried for the exact top-10 users. "
    "Because both engines compute identical hashes, the estimate and "
    "its overcount (always >= 0 — the CMS one-sided guarantee) are "
    "deterministic and graded exactly, unlike an opaque binary "
    "sketch: this op proves the estimator's bias structure, not just "
    "row counts. Scale: the sketch is mergeable by construction "
    "(cell counts are sums — map-side combine builds partial "
    "sketches per partition and the shuffle merges 5*512 cells, "
    "constant size at any data volume); the per-user exact counts "
    "used for the report reduce on the user grain.",
)
def agg_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
    )
    cells = per_user.select(
        "user_id",
        "exact_n",
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("r"),
    ).select(
        "user_id",
        "exact_n",
        "r",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("r"), F.col("user_id")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % 512
        ).alias("cell"),
    )
    cell_totals = cells.groupBy("r", "cell").agg(
        F.sum("exact_n").alias("cell_n")
    )
    est = (
        cells.join(cell_totals, ["r", "cell"])
        .groupBy("user_id")
        .agg(F.min("cell_n").alias("cms_est"))
    )
    return (
        per_user.join(est, "user_id")
        .select(
            "user_id",
            "exact_n",
            F.col("cms_est").cast("long").alias("cms_est"),
            (F.col("cms_est") - F.col("exact_n"))
            .cast("long")
            .alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(10)
    )


@register(
    "join_bitemporal_pit",
    oracle_sql="""
        WITH versions AS (
            SELECT c_custkey,
                   v.v,
                   TIMESTAMP '1995-01-01' + v.v * 800 * INTERVAL 1 DAY
                       AS valid_from,
                   TIMESTAMP '1995-01-01' + v.v * 800 * INTERVAL 1 DAY
                       + (c_custkey % 90) * INTERVAL 1 DAY AS recorded_at,
                   CAST(round(c_acctbal * 100) AS BIGINT) + v.v * 1000
                       AS bal_cents
            FROM customer, range(0, 3) v(v)
        ), visible AS (
            SELECT * FROM versions
            WHERE recorded_at <= TIMESTAMP '1999-07-04'
        ), picked AS (
            SELECT o.o_orderkey, v.v, v.valid_from, v.bal_cents,
                   row_number() OVER (
                       PARTITION BY o.o_orderkey
                       ORDER BY v.valid_from DESC
                   ) AS rn
            FROM orders o JOIN visible v
              ON o.o_custkey = v.c_custkey
             AND v.valid_from <= o.o_orderdate
        )
        SELECT CAST(v AS BIGINT) AS version_no,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(bal_cents) AS DOUBLE) / 100.0 AS sum_balance
        FROM picked WHERE rn = 1
        GROUP BY v
        ORDER BY version_no
    """,
    description="Bitemporal point-in-time join (feature-store "
    "correctness): a synthesized 3-version customer dimension carries "
    "BOTH a valid-from (business time) and a recorded-at (system "
    "time, deliberately late by custkey%90 days), and each order is "
    "enriched as the system knew it on 1999-07-04 — versions recorded "
    "after the transaction-time cutoff are invisible even when their "
    "validity started earlier, which is exactly the leakage a naive "
    "valid-time-only as-of join commits (half the v2 rows are "
    "excluded by recording lag here, so the grade catches any "
    "single-dimension shortcut). Backward as-of on valid_from picks "
    "the latest visible version per order via a bounded <=3 fan-out "
    "join + per-orderkey row_number. Scale: the version join is "
    "fan-out-bounded by version count; at 100 TB the as-of pick "
    "collapses to max_by(bal, valid_from) per orderkey — same "
    "semantics, no window.",
)
def join_bitemporal_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    versions = customer.select(
        "c_custkey",
        scaled_long("c_acctbal", 100).alias("bal0"),
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("v"),
    ).select(
        "c_custkey",
        "v",
        (
            F.lit("1995-01-01").cast("timestamp")
            + F.make_interval(days=F.col("v") * 800)
        ).alias("valid_from"),
        (
            F.lit("1995-01-01").cast("timestamp")
            + F.make_interval(
                days=F.col("v") * 800 + F.col("c_custkey") % 90
            )
        ).alias("recorded_at"),
        (F.col("bal0") + F.col("v") * 1000).alias("bal_cents"),
    )
    visible = versions.where(
        F.col("recorded_at") <= F.lit("1999-07-04").cast("timestamp")
    )
    joined = orders.join(
        visible,
        (orders.o_custkey == visible.c_custkey)
        & (visible.valid_from <= orders.o_orderdate),
    )
    picked = joined.select(
        "o_orderkey",
        "v",
        "bal_cents",
        F.row_number()
        .over(
            Window.partitionBy("o_orderkey").orderBy(
                F.desc("valid_from")
            )
        )
        .alias("rn"),
    ).where(F.col("rn") == 1)
    return (
        picked.groupBy(F.col("v").cast("long").alias("version_no"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.sum("bal_cents").cast("double") / 100.0).alias(
                "sum_balance"
            ),
        )
        .orderBy("version_no")
    )


@register(
    "agg_ols_normal_equations",
    oracle_sql="""
        WITH s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(l_discount * 100) AS BIGINT))
                        AS BIGINT) AS sx1,
                   CAST(sum(CAST(round(l_tax * 100) AS BIGINT))
                        AS BIGINT) AS sx2,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sy,
                   CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                            * CAST(round(l_discount * 100) AS BIGINT))
                        AS BIGINT) AS sx1x1,
                   CAST(sum(CAST(round(l_tax * 100) AS BIGINT)
                            * CAST(round(l_tax * 100) AS BIGINT))
                        AS BIGINT) AS sx2x2,
                   CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                            * CAST(round(l_tax * 100) AS BIGINT))
                        AS BIGINT) AS sx1x2,
                   CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                            * CAST(l_quantity AS BIGINT)) AS BIGINT)
                       AS sx1y,
                   CAST(sum(CAST(round(l_tax * 100) AS BIGINT)
                            * CAST(l_quantity AS BIGINT)) AS BIGINT)
                       AS sx2y
            FROM lineitem
        ), a AS (
            SELECT n, sx1, sx2, sy,
                   CAST(n * sx1x1 - sx1 * sx1 AS HUGEINT) AS a11,
                   CAST(n * sx2x2 - sx2 * sx2 AS HUGEINT) AS a22,
                   CAST(n * sx1x2 - sx1 * sx2 AS HUGEINT) AS a12,
                   CAST(n * sx1y - sx1 * sy AS HUGEINT) AS b1,
                   CAST(n * sx2y - sx2 * sy AS HUGEINT) AS b2
            FROM s
        )
        SELECT n,
               CASE WHEN a11 * a22 - a12 * a12 = 0 THEN NULL ELSE
               CAST(b1 * a22 - b2 * a12 AS DOUBLE)
                   / CAST(a11 * a22 - a12 * a12 AS DOUBLE)
               END AS beta_discount,
               CASE WHEN a11 * a22 - a12 * a12 = 0 THEN NULL ELSE
               CAST(b2 * a11 - b1 * a12 AS DOUBLE)
                   / CAST(a11 * a22 - a12 * a12 AS DOUBLE)
               END AS beta_tax,
               CASE WHEN a11 * a22 - a12 * a12 = 0 THEN NULL ELSE
               (CAST(sy AS DOUBLE)
                - (CAST(b1 * a22 - b2 * a12 AS DOUBLE)
                   / CAST(a11 * a22 - a12 * a12 AS DOUBLE))
                  * CAST(sx1 AS DOUBLE)
                - (CAST(b2 * a11 - b1 * a12 AS DOUBLE)
                   / CAST(a11 * a22 - a12 * a12 AS DOUBLE))
                  * CAST(sx2 AS DOUBLE))
               / CAST(n AS DOUBLE)
               END AS intercept
        FROM a
    """,
    description="Two-factor OLS (quantity ~ discount + tax) solved "
    "EXACTLY via the normal equations: all nine power sums are exact "
    "int64 on the fixture's 2-decimal grids, the centered Gram "
    "matrix entries (n*Sxixj - Sxi*Sxj) are exact int64, and Cramer's "
    "rule runs in 128-bit integers (Spark DECIMAL(38,0), DuckDB "
    "HUGEINT) so the determinant and numerators are exact to the "
    "last digit; the only floats are the two final divisions and the "
    "intercept back-substitution, identical IEEE ops on identical "
    "inputs, rounded to 8dp. One-pass, map-side-combinable — the "
    "distributed-regression pattern (win_regression_slope_exact is "
    "the 1-factor windowed cousin; this is the multi-factor global "
    "fit). Scale: at 100 TB the int64 power sums approach overflow "
    "(bound documented: |S| < 2^63 holds to ~1e14 rows at these "
    "grids); past that the same plan runs with DECIMAL(38,0) sums or "
    "demeaned passes — the algebra graded here is unchanged.",
)
def agg_ols_normal_equations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        scaled_long("l_discount", 100).alias("x1"),
        scaled_long("l_tax", 100).alias("x2"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    s = li.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("sx1"),
        F.sum("x2").cast("long").alias("sx2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("sx1x1"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("sx2x2"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("sx1x2"),
        F.sum(F.col("x1") * F.col("y")).cast("long").alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("sx2y"),
    )
    # Singular-system guard: a constant regressor (zero variance, e.g. a
    # uniform tax column) or a perfectly collinear pair makes det == 0 —
    # emit NULL coefficients rather than an engine-dependent inf/NaN.
    dec = "decimal(38,0)"
    a = s.select(
        "n",
        "sx1",
        "sx2",
        "sy",
        (F.col("n") * F.col("sx1x1") - F.col("sx1") * F.col("sx1"))
        .cast(dec)
        .alias("a11"),
        (F.col("n") * F.col("sx2x2") - F.col("sx2") * F.col("sx2"))
        .cast(dec)
        .alias("a22"),
        (F.col("n") * F.col("sx1x2") - F.col("sx1") * F.col("sx2"))
        .cast(dec)
        .alias("a12"),
        (F.col("n") * F.col("sx1y") - F.col("sx1") * F.col("sy"))
        .cast(dec)
        .alias("b1"),
        (F.col("n") * F.col("sx2y") - F.col("sx2") * F.col("sy"))
        .cast(dec)
        .alias("b2"),
    )
    det_i = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    det = det_i.cast("double")
    beta1 = (
        (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")).cast(
            "double"
        )
        / det
    )
    beta2 = (
        (F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12")).cast(
            "double"
        )
        / det
    )
    nonsingular = det_i != 0
    # Unrounded: every coefficient is identical IEEE arithmetic on
    # identical 128-bit-exact inputs, so the doubles are bit-identical
    # across engines; round() on these rationals is the half-boundary
    # trap the parity module documents.
    return a.select(
        "n",
        F.when(nonsingular, beta1).alias("beta_discount"),
        F.when(nonsingular, beta2).alias("beta_tax"),
        F.when(
            nonsingular,
            (
                F.col("sy").cast("double")
                - beta1 * F.col("sx1").cast("double")
                - beta2 * F.col("sx2").cast("double")
            )
            / F.col("n").cast("double"),
        ).alias("intercept"),
    )
