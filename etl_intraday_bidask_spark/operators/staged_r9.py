"""Wave-E operators (SURVEY.md §2.31).

Themes: time-series decomposition and forecast backtesting, liquidity
microstructure (Amihud, Corwin-Schultz, VPIN, Garman-Klass), data-lake
governance (k-anonymity, tombstone purge audits, partition skew),
marketing attribution (time-decay, linear, U-shaped, Markov removal
effect), and embedding-index engineering (sign-bit Hamming ANN,
matryoshka truncation recall, int4 quantization error).

Same house discipline as ``staged_r6/7/8``: exact scaled-integer
arithmetic everywhere a value is graded, integral
``div`` (== DuckDB ``//`` on non-negative ints, guarded by ``nullif``
where a zero divisor is reachable), irrational terms (ln/cos/sqrt)
quantized to an integer grid BEFORE any cross-row aggregation, and a
100 TB scale note per op.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_intraday_bidask_spark.functions.parity import scaled_long
from etl_intraday_bidask_spark.registry import register
from etl_intraday_bidask_spark.tables import load, read_parquet

@register(
    "ts_backtest_linear_origins",
    oracle_sql="""
        WITH daily AS (
            SELECT CAST(datediff('day', TIMESTAMP '1995-01-01',
                        date_trunc('day', o_orderdate)) AS BIGINT) AS t,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS y
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1996-01-01'
            GROUP BY t
        ), origins(o) AS (VALUES (120), (180), (240), (300)),
        fits AS (
            SELECT og.o,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(d.t) AS BIGINT) AS sx,
                   CAST(sum(d.y) AS BIGINT) AS sy,
                   CAST(sum(d.t * d.y) AS BIGINT) AS sxy,
                   CAST(sum(d.t * d.t) AS BIGINT) AS sxx
            FROM daily d JOIN origins og ON d.t < og.o
            GROUP BY og.o
        ), actuals AS (
            SELECT og.o,
                   CAST(sum(d.y) AS BIGINT) AS actual_next7,
                   CAST(count(*) AS BIGINT) AS n_next7
            FROM daily d JOIN origins og
              ON d.t >= og.o AND d.t < og.o + 7
            GROUP BY og.o
        )
        SELECT CAST(f.o AS BIGINT) AS origin_day, f.n AS n_train,
               a.actual_next7, a.n_next7,
               CASE WHEN f.n * f.sxx - f.sx * f.sx > 0 THEN
                   (CAST(f.n * f.sxy - f.sx * f.sy AS DOUBLE)
                    / (f.n * f.sxx - f.sx * f.sx))
               END AS slope_cents_per_day,
               CASE WHEN f.n * f.sxx - f.sx * f.sx > 0 THEN
                   (CAST(f.sy AS DOUBLE) / f.n)
                   + (CAST(f.n * f.sxy - f.sx * f.sy AS DOUBLE)
                      / (f.n * f.sxx - f.sx * f.sx))
                     * ((CAST(f.o AS DOUBLE) + 3.0)
                        - CAST(f.sx AS DOUBLE) / f.n)
               END AS forecast_daily_cents
        FROM fits f JOIN actuals a ON f.o = a.o
        ORDER BY origin_day
    """,
    description="Sliding-origin forecast backtest: at four origins, an "
    "exact-OLS linear trend is fitted on all PRIOR daily revenue "
    "(power sums int64; slope/level emitted as unrounded float chains "
    "of exact integers) and evaluated against the realized next-7-day "
    "actuals — the walk-forward protocol that is the only honest way "
    "to score a forecaster (in-sample fit always flatters). The four "
    "fits come from ONE conditional aggregate over a broadcast origin "
    "dim — the same one-scan sweep as q6_sensitivity_whatif; "
    "zero-variance train windows emit NULL. Scale: daily rollup is "
    "calendar-bounded; everything downstream is tiny.",
)
def ts_backtest_linear_origins(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = F.lit("1995-01-01").cast("timestamp")
    daily = (
        load(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= base)
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy(
            F.datediff(F.date_trunc("day", "o_orderdate"), base)
            .cast("long")
            .alias("t")
        )
        .agg(F.sum(scaled_long("o_totalprice", 100)).alias("y"))
    )
    origins = spark.createDataFrame(
        [(120,), (180,), (240,), (300,)], ["o"]
    )
    fits = (
        daily.crossJoin(F.broadcast(origins))
        .where(F.col("t") < F.col("o"))
        .groupBy("o")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("t").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("t") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("t") * F.col("t")).cast("long").alias("sxx"),
        )
    )
    actuals = (
        daily.crossJoin(F.broadcast(origins))
        .where((F.col("t") >= F.col("o")) & (F.col("t") < F.col("o") + 7))
        .groupBy("o")
        .agg(
            F.sum("y").cast("long").alias("actual_next7"),
            F.count(F.lit(1)).cast("long").alias("n_next7"),
        )
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double") / den
    return (
        fits.join(actuals, "o")
        .select(
            F.col("o").cast("long").alias("origin_day"),
            F.col("n").alias("n_train"),
            "actual_next7",
            "n_next7",
            F.when(den > 0, slope).alias("slope_cents_per_day"),
            F.when(
                den > 0,
                F.col("sy").cast("double") / F.col("n")
                + slope
                * (
                    (F.col("o").cast("double") + 3.0)
                    - F.col("sx").cast("double") / F.col("n")
                ),
            ).alias("forecast_daily_cents"),
        )
        .orderBy("origin_day")
    )


@register(
    "ts_stl_lite_hourly",
    oracle_sql="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS y
            FROM events WHERE event_type = 'purchase'
            GROUP BY h
        ), spine AS (
            SELECT g.h,
                   coalesce(hh.y, 0) AS y,
                   CAST(hour(g.h) AS BIGINT) AS hod
            FROM (SELECT unnest(generate_series(
                      (SELECT min(h) FROM hourly),
                      (SELECT max(h) FROM hourly),
                      INTERVAL 1 HOUR)) AS h) g
            LEFT JOIN hourly hh ON g.h = hh.h
        ), trended AS (
            SELECT h, hod, y,
                   CAST(sum(y) OVER (ORDER BY h
                       ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
                       AS BIGINT) AS tr_sum,
                   CAST(count(*) OVER (ORDER BY h
                       ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
                       AS BIGINT) AS tr_n
            FROM spine
        ), detrended AS (
            SELECT hod, (y * tr_n - tr_sum) AS d_scaled, tr_n
            FROM trended WHERE tr_n = 24
        )
        SELECT hod,
               CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(d_scaled) AS BIGINT) AS seasonal_sum_scaled,
               CAST(sum(d_scaled) // count(*)
                    - (CASE WHEN sum(d_scaled) % count(*) <> 0
                            AND sum(d_scaled) < 0
                       THEN 1 ELSE 0 END) AS BIGINT)
                   AS seasonal_floor_scaled,
               CAST(min(d_scaled) AS BIGINT) AS min_scaled,
               CAST(max(d_scaled) AS BIGINT) AS max_scaled
        FROM detrended GROUP BY hod ORDER BY hod
    """,
    description="STL-lite hourly decomposition: the purchase-flow "
    "series (zero-filled onto the complete hour spine so the moving "
    "window is calendar-true) is detrended by a centered 24-hour "
    "moving TOTAL — the detrended value is kept n-scaled (y*24 - "
    "window_sum), so the trend mean never exists as a rational — and "
    "the hour-of-day seasonal component is the per-hod census of the "
    "exact detrended values (its floor-mean is the classical seasonal "
    "estimate x24). Interior-only rows (full 24-observation windows) "
    "enter the seasonal fit, the textbook edge rule. Scale: the spine "
    "and rollup are calendar-bounded; one window over the bounded "
    "series.",
)
def ts_stl_lite_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.sum(scaled_long("value", 100)).alias("y"))
    )
    bounds = hourly.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    filled = spine.join(hourly, "h", "left").select(
        "h",
        F.hour("h").cast("long").alias("hod"),
        F.coalesce(F.col("y"), F.lit(0)).alias("y"),
    )
    w = Window.orderBy("h").rowsBetween(-11, 12)
    trended = filled.select(
        "hod",
        "y",
        F.sum("y").over(w).alias("tr_sum"),
        F.count(F.lit(1)).over(w).alias("tr_n"),
    )
    detrended = trended.where(F.col("tr_n") == 24).select(
        "hod",
        (F.col("y") * F.col("tr_n") - F.col("tr_sum")).alias("d_scaled"),
    )
    return (
        detrended.groupBy("hod")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum("d_scaled").cast("long").alias("seasonal_sum_scaled"),
            # True floor, not truncation: sum(d_scaled) is negative
            # for every below-trend hour-of-day, and `div` truncates
            # toward zero — off by one vs the floor-mean the column
            # name and description promise (round-7 review finding).
            F.expr(
                "sum(d_scaled) div count(*)"
                " - (CASE WHEN sum(d_scaled) % count(*) <> 0"
                "          AND sum(d_scaled) < 0"
                "     THEN 1 ELSE 0 END)"
            )
            .cast("long")
            .alias("seasonal_floor_scaled"),
            F.min("d_scaled").cast("long").alias("min_scaled"),
            F.max("d_scaled").cast("long").alias("max_scaled"),
        )
        .orderBy("hod")
    )


@register(
    "ts_changepoint_binseg",
    oracle_sql="""
        WITH daily AS (
            SELECT date_trunc('day', ts) AS d,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY d
        ), cum AS (
            SELECT d, y,
                   CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
                   CAST(sum(y) OVER (ORDER BY d) AS BIGINT) AS cy,
                   CAST(count(*) OVER () AS BIGINT) AS n,
                   CAST(sum(y) OVER () AS BIGINT) AS ty
            FROM daily
        ), scored AS (
            SELECT d, i,
                   (cy * (n - i) - (ty - cy) * i)
                       * (cy * (n - i) - (ty - cy) * i)
                       // (i * (n - i)) AS score_scaled,
                   cy, ty, n
            FROM cum WHERE i < n
        ), best AS (
            SELECT d, i, score_scaled, cy, ty, n,
                   row_number() OVER (
                       ORDER BY score_scaled DESC, d) AS rk
            FROM scored
        )
        SELECT CAST(epoch_us(d) AS BIGINT) AS split_day_us,
               CAST(i AS BIGINT) AS n_left,
               CAST(n - i AS BIGINT) AS n_right,
               CAST(score_scaled AS BIGINT) AS score_scaled,
               CAST(cy // i AS BIGINT) AS mean_left_floor,
               CAST((ty - cy) // (n - i) AS BIGINT) AS mean_right_floor
        FROM best WHERE rk = 1
    """,
    description="Single-split binary-segmentation changepoint on daily "
    "event volume: the split maximizing the between-segment "
    "sum-of-squares gain, scored EXACTLY as (cy*(n-i) - (ty-cy)*i)^2 "
    "div (i*(n-i)) — the cross-multiplied mean-difference form in "
    "which no mean rational ever exists (the score is the classic "
    "n_l*n_r*(mean_l-mean_r)^2 up to the constant n) — with a "
    "date tie-break for determinism. Full binary segmentation "
    "recurses on the halves; one level is the graded unit (same "
    "fixed-iteration discipline as the pagerank/k-core family). "
    "Scale: cumulative sums over the calendar-bounded daily rollup.",
)
def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w = Window.orderBy("d")
    wall = Window.partitionBy()
    cum = daily.select(
        "d",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("y").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cy"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum("y").over(wall).alias("ty"),
    )
    gap = F.col("cy") * (F.col("n") - F.col("i")) - (
        F.col("ty") - F.col("cy")
    ) * F.col("i")
    scored = cum.where(F.col("i") < F.col("n")).select(
        "d",
        "i",
        "cy",
        "ty",
        "n",
        F.expr(
            "(cy * (n - i) - (ty - cy) * i) "
            "* (cy * (n - i) - (ty - cy) * i) div (i * (n - i))"
        ).alias("score_scaled"),
    )
    best = scored.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("score_scaled").desc(), "d"))
        .alias("rk"),
    ).where(F.col("rk") == 1)
    return best.select(
        F.unix_micros("d").alias("split_day_us"),
        F.col("i").alias("n_left"),
        (F.col("n") - F.col("i")).cast("long").alias("n_right"),
        F.col("score_scaled").cast("long").alias("score_scaled"),
        F.expr("cy div i").cast("long").alias("mean_left_floor"),
        F.expr("(ty - cy) div (n - i)")
        .cast("long")
        .alias("mean_right_floor"),
    )


@register(
    "ts_spectral_goertzel_daily",
    oracle_sql="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS y
            FROM events WHERE event_type = 'purchase'
            GROUP BY h
        ), basis AS (
            SELECT CAST(j AS BIGINT) AS hod,
                   CAST(floor(cos(2 * pi() * j / 24) * 1000000 + 0.5)
                        AS BIGINT) AS c_ppm,
                   CAST(floor(sin(2 * pi() * j / 24) * 1000000 + 0.5)
                        AS BIGINT) AS s_ppm
            FROM generate_series(0, 23) AS g(j)
        ), proj AS (
            SELECT CAST(sum(hh.y * b.c_ppm) AS BIGINT) AS xc,
                   CAST(sum(hh.y * b.s_ppm) AS BIGINT) AS xs,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(hh.y) AS BIGINT) AS ty
            FROM hourly hh
            JOIN basis b ON CAST(hour(hh.h) AS BIGINT) = b.hod
        )
        SELECT n, ty, xc, xs,
               CAST(xc AS DOUBLE) * xc + CAST(xs AS DOUBLE) * xs
                   AS daily_power_scaled
        FROM proj
    """,
    description="Goertzel-style spectral energy at the daily (24-hour) "
    "frequency: the hourly purchase-flow series is projected onto the "
    "period-24 cosine/sine basis, with the 24 basis values quantized "
    "to ppm integers ONCE (a 24-row broadcast dim — the basis never "
    "recomputes per data row, and cos/sin are evaluated at only 24 "
    "points, within the house irrational-quantization policy), so "
    "both projections are exact int64 dot products and the power is "
    "one float expression — the seasonality-detection primitive "
    "behind 'does this series have a daily cycle' (compare against "
    "events_seasonality_profile, which reads the cycle's SHAPE). "
    "Scale: one calendar-bounded rollup + broadcast join + reduce.",
)
def ts_spectral_goertzel_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import math

    hourly = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.sum(scaled_long("value", 100)).alias("y"))
    )
    basis = spark.createDataFrame(
        [
            (
                j,
                math.floor(math.cos(2 * math.pi * j / 24) * 1000000 + 0.5),
                math.floor(math.sin(2 * math.pi * j / 24) * 1000000 + 0.5),
            )
            for j in range(24)
        ],
        ["hod", "c_ppm", "s_ppm"],
    )
    proj = (
        hourly.select(F.hour("h").cast("long").alias("hod"), "y")
        .join(F.broadcast(basis), "hod")
        .agg(
            F.sum(F.col("y") * F.col("c_ppm")).cast("long").alias("xc"),
            F.sum(F.col("y") * F.col("s_ppm")).cast("long").alias("xs"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("ty"),
        )
    )
    return proj.select(
        "n",
        "ty",
        "xc",
        "xs",
        (
            F.col("xc").cast("double") * F.col("xc")
            + F.col("xs").cast("double") * F.col("xs")
        ).alias("daily_power_scaled"),
    )


@register(
    "ts_hampel_outliers",
    oracle_sql="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS y
            FROM events WHERE event_type = 'purchase'
            GROUP BY h
        ), framed AS (
            SELECT h, y,
                   list(y) OVER (ORDER BY h
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                       AS win
            FROM hourly
        ), scored AS (
            SELECT h, y,
                   list_sort(win)[4] AS med
            FROM framed WHERE len(win) = 7
        ), mad AS (
            SELECT s.h, s.y, s.med,
                   (SELECT list_sort(list(abs(x - s.med)))[4]
                    FROM unnest((SELECT win FROM framed f
                                 WHERE f.h = s.h)) AS u(x)) AS mad_v
            FROM scored s
        )
        SELECT CAST(count(*) AS BIGINT) AS n_scored,
               CAST(sum(CASE WHEN abs(y - med) * 10000 > 44478 * mad_v
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               CAST(max(abs(y - med)) AS BIGINT) AS max_abs_dev_cents
        FROM mad
    """,
    description="Hampel filter outlier census on hourly purchase flow: "
    "per hour, the trailing-7 rolling median and rolling MAD "
    "(both EXACT member selection — 7 elements, middle element, no "
    "interpolation float; frames shorter than 7 excluded), outlier "
    "iff |y - med| > 3*1.4826*MAD evaluated as the integer "
    "cross-multiplication 10000*|dev| > 44478*MAD — the robust "
    "despiking rule a mean/σ z-score can't provide (one spike "
    "inflates σ and hides itself; the median shrugs). The frame "
    "materializes as a bounded 7-int array in-expression, the same "
    "device as win_median_sliding_hourly. Scale: one window over the "
    "calendar-bounded hourly rollup.",
)
def ts_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.sum(scaled_long("value", 100)).alias("y"))
    )
    w = Window.orderBy("h").rowsBetween(-6, 0)
    framed = hourly.select(
        "y", F.collect_list("y").over(w).alias("win")
    ).where(F.size("win") == 7)
    scored = framed.select(
        "y",
        "win",
        F.element_at(F.array_sort("win"), 4).alias("med"),
    )
    mad = scored.select(
        "y",
        "med",
        F.element_at(
            F.array_sort(
                F.transform(
                    "win", lambda x: F.abs(x - F.col("med"))
                )
            ),
            4,
        ).alias("mad_v"),
    )
    return mad.agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum(
            F.when(
                F.abs(F.col("y") - F.col("med")) * 10000
                > 44478 * F.col("mad_v"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
        F.max(F.abs(F.col("y") - F.col("med")))
        .cast("long")
        .alias("max_abs_dev_cents"),
    )


@register(
    "ts_mase_seasonal_naive",
    oracle_sql="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS y
            FROM events WHERE event_type = 'purchase'
            GROUP BY h
        ), spine AS (
            SELECT g.h, coalesce(hh.y, 0) AS y
            FROM (SELECT unnest(generate_series(
                      (SELECT min(h) FROM hourly),
                      (SELECT max(h) FROM hourly),
                      INTERVAL 1 HOUR)) AS h) g
            LEFT JOIN hourly hh ON g.h = hh.h
        ), lagged AS (
            SELECT y,
                   lag(y, 24) OVER (ORDER BY h) AS y_season,
                   lag(y, 1) OVER (ORDER BY h) AS y_naive
            FROM spine
        ), errs AS (
            SELECT abs(y - y_season) AS e_s, abs(y - y_naive) AS e_n
            FROM lagged
            WHERE y_season IS NOT NULL AND y_naive IS NOT NULL
        )
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(e_s) AS BIGINT) AS sum_abs_err_seasonal,
               CAST(sum(e_n) AS BIGINT) AS sum_abs_err_naive,
               CAST(sum(e_s) * 10000 // nullif(sum(e_n), 0) AS BIGINT)
                   AS mase_floor_bp
        FROM errs
    """,
    description="MASE of the seasonal-naive forecaster (y-hat = y 24 "
    "hours ago) against the naive scale denominator (|y - y_{t-1}|), "
    "on the zero-filled hour spine so both lags are calendar-true: "
    "MASE < 1 means the daily cycle carries real signal beyond "
    "persistence — the scale-free forecast-quality metric that works "
    "when MAPE divides by zero. Exact cent errors, one integral bp "
    "division (nullif-guarded). One window over the bounded spine.",
)
def ts_mase_seasonal_naive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    hourly = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.sum(scaled_long("value", 100)).alias("y"))
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias(
            "h"
        )
    )
    filled = spine.join(hourly, "h", "left").select(
        "h", F.coalesce("y", F.lit(0)).alias("y")
    )
    w = Window.orderBy("h")
    lagged = filled.select(
        "y",
        F.lag("y", 24).over(w).alias("y_season"),
        F.lag("y", 1).over(w).alias("y_naive"),
    ).where(
        F.col("y_season").isNotNull() & F.col("y_naive").isNotNull()
    )
    return lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.abs(F.col("y") - F.col("y_season")))
        .cast("long")
        .alias("sum_abs_err_seasonal"),
        F.sum(F.abs(F.col("y") - F.col("y_naive")))
        .cast("long")
        .alias("sum_abs_err_naive"),
        F.expr(
            "sum(abs(y - y_season)) * 10000 "
            "div nullif(sum(abs(y - y_naive)), 0)"
        )
        .cast("long")
        .alias("mase_floor_bp"),
    )


@register(
    "ts_seasonal_strength",
    oracle_sql="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS y
            FROM events WHERE event_type = 'purchase'
            GROUP BY h
        ), spine AS (
            SELECT g.h, coalesce(hh.y, 0) AS y,
                   CAST(hour(g.h) AS BIGINT) AS hod
            FROM (SELECT unnest(generate_series(
                      (SELECT min(h) FROM hourly),
                      (SELECT max(h) FROM hourly),
                      INTERVAL 1 HOUR)) AS h) g
            LEFT JOIN hourly hh ON g.h = hh.h
        ), trended AS (
            SELECT h, hod, y,
                   CAST(sum(y) OVER (ORDER BY h
                       ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
                       AS BIGINT) AS tr_sum,
                   CAST(count(*) OVER (ORDER BY h
                       ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
                       AS BIGINT) AS tr_n
            FROM spine
        ), detrended AS (
            SELECT hod, (y * 24 - tr_sum) AS d24
            FROM trended WHERE tr_n = 24
        ), seasonal AS (
            SELECT hod, CAST(count(*) AS BIGINT) AS n_h,
                   CAST(sum(d24) AS BIGINT) AS s_h
            FROM detrended GROUP BY hod
        ), resid AS (
            SELECT d.d24 * s.n_h - s.s_h AS r_scaled, d.d24, s.n_h
            FROM detrended d JOIN seasonal s ON d.hod = s.hod
        ), moments AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(r_scaled AS HUGEINT) * r_scaled
                            // (n_h * n_h)) AS BIGINT) AS ss_resid,
                   CAST(sum(CAST(d24 AS HUGEINT) * d24) AS BIGINT)
                       AS ss_detr
            FROM resid
        )
        SELECT n, ss_resid, ss_detr,
               CASE WHEN ss_detr > 0 THEN
                   greatest(0.0, 1.0 - CAST(ss_resid AS DOUBLE)
                                   / ss_detr)
               END AS seasonal_strength
        FROM moments
    """,
    description="Seasonal-strength statistic F_s = max(0, 1 - "
    "SS(resid)/SS(detrended)) over the STL-lite components "
    "(ts_stl_lite_hourly's decomposition re-derived in one plan): "
    "the residual keeps the seasonal mean n-scaled (d24*n_h - s_h, "
    "squared in 128-bit then integrally de-scaled per row), so both "
    "sums of squares are exact integers and the strength is one "
    "float chain — the '是否 seasonal enough to model' gate "
    "(Hyndman's rule: F_s > 0.64 warrants a seasonal model). Scale: "
    "everything bounded by the calendar.",
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.sum(scaled_long("value", 100)).alias("y"))
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias(
            "h"
        )
    )
    filled = spine.join(hourly, "h", "left").select(
        "h",
        F.hour("h").cast("long").alias("hod"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    w = Window.orderBy("h").rowsBetween(-11, 12)
    trended = filled.select(
        "hod",
        "y",
        F.sum("y").over(w).alias("tr_sum"),
        F.count(F.lit(1)).over(w).alias("tr_n"),
    )
    detrended = trended.where(F.col("tr_n") == 24).select(
        "hod", (F.col("y") * 24 - F.col("tr_sum")).alias("d24")
    )
    seasonal = detrended.groupBy("hod").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("d24").cast("long").alias("s_h"),
    )
    dec = "decimal(38,0)"
    resid = detrended.join(seasonal, "hod").select(
        "d24",
        "n_h",
        (F.col("d24") * F.col("n_h") - F.col("s_h")).alias("r_scaled"),
    )
    moments = resid.select(
        "d24",
        (
            F.col("r_scaled").cast(dec) * F.col("r_scaled").cast(dec)
        ).alias("r2"),
        (F.col("n_h").cast(dec) * F.col("n_h").cast(dec)).alias("nh2"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("r2 div nh2")).cast("long").alias("ss_resid"),
        F.sum(F.col("d24").cast(dec) * F.col("d24").cast(dec))
        .cast("long")
        .alias("ss_detr"),
    )
    return moments.select(
        "n",
        "ss_resid",
        "ss_detr",
        F.when(
            F.col("ss_detr") > 0,
            F.greatest(
                F.lit(0.0),
                1.0
                - F.col("ss_resid").cast("double")
                / F.col("ss_detr").cast("double"),
            ),
        ).alias("seasonal_strength"),
    )


@register(
    "bidask_amihud_illiquidity",
    oracle_sql="""
        WITH base AS (
            SELECT date_trunc('day', ts) AS d, ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ), ranked AS (
            SELECT d, cents,
                   row_number() OVER (PARTITION BY d
                       ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (PARTITION BY d
                       ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM base
        ), daily AS (
            SELECT d,
                   CAST(sum(cents) AS BIGINT) AS volume_cents,
                   CAST(max(CASE WHEN rn_a = 1 THEN cents END)
                        AS BIGINT) AS open_cents,
                   CAST(max(CASE WHEN rn_d = 1 THEN cents END)
                        AS BIGINT) AS close_cents
            FROM ranked GROUP BY d
        ), rets AS (
            SELECT d, volume_cents,
                   abs(close_cents - open_cents) AS abs_ret_cents
            FROM daily
        )
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(abs_ret_cents) AS BIGINT) AS sum_abs_ret,
               CAST(sum(volume_cents) AS BIGINT) AS sum_volume,
               CAST(sum(abs_ret_cents * 1000000
                        // nullif(volume_cents, 0)) AS BIGINT)
                   AS amihud_sum_ppm
        FROM rets
    """,
    description="Amihud (2002) illiquidity: daily |return| per unit "
    "of traded value, summed over days — the price-impact-per-dollar "
    "measure that proxies Kyle's lambda from daily data (wave C "
    "grades the intraday regression version; this is the coarse "
    "screen that scales to any history). Open/close are "
    "(ts, event_id)-argmin/argmax exact cents (deterministic under "
    "duplicate timestamps — the composite-key convention), each "
    "day's ratio floors onto the ppm grid before summing (nullif "
    "guard for zero-volume days). One calendar-bounded rollup.",
)
def bidask_amihud_illiquidity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.date_trunc("day", "ts").alias("d"),
            "ts",
            "event_id",
            scaled_long("value", 100).alias("cents"),
        )
    )
    daily = ev.groupBy("d").agg(
        F.sum("cents").cast("long").alias("volume_cents"),
        F.min_by("cents", F.struct("ts", "event_id"))
        .cast("long")
        .alias("open_cents"),
        F.max_by("cents", F.struct("ts", "event_id"))
        .cast("long")
        .alias("close_cents"),
    )
    rets = daily.select(
        "volume_cents",
        F.abs(F.col("close_cents") - F.col("open_cents")).alias(
            "abs_ret_cents"
        ),
    )
    return rets.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("abs_ret_cents").cast("long").alias("sum_abs_ret"),
        F.sum("volume_cents").cast("long").alias("sum_volume"),
        F.sum(
            F.expr("abs_ret_cents * 1000000 div nullif(volume_cents, 0)")
        )
        .cast("long")
        .alias("amihud_sum_ppm"),
    )


@register(
    "bidask_vpin_volume_buckets",
    oracle_sql="""
        WITH signed AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d, ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   CASE WHEN CAST(round(value * 100) AS BIGINT)
                             > lag(CAST(round(value * 100) AS BIGINT))
                               OVER (PARTITION BY CAST(date_trunc('day', ts)
                                         AS DATE)
                                     ORDER BY ts, event_id)
                        THEN 1
                        WHEN CAST(round(value * 100) AS BIGINT)
                             < lag(CAST(round(value * 100) AS BIGINT))
                               OVER (PARTITION BY CAST(date_trunc('day', ts)
                                         AS DATE)
                                     ORDER BY ts, event_id)
                        THEN -1 ELSE 0 END AS sign
            FROM events WHERE event_type = 'purchase'
        ), bucketed AS (
            SELECT d, sign, cents,
                   (sum(cents) OVER (PARTITION BY d ORDER BY ts, event_id)
                    - cents) // 500000 AS bucket
            FROM signed
        ), per_bucket AS (
            SELECT d, bucket,
                   CAST(sum(CASE WHEN sign = 1 THEN cents ELSE 0 END)
                        AS BIGINT) AS buy_v,
                   CAST(sum(CASE WHEN sign = -1 THEN cents ELSE 0 END)
                        AS BIGINT) AS sell_v,
                   CAST(sum(cents) AS BIGINT) AS total_v
            FROM bucketed GROUP BY d, bucket
        )
        SELECT CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(abs(buy_v - sell_v)) AS BIGINT)
                   AS sum_abs_imbalance,
               CAST(sum(total_v) AS BIGINT) AS total_volume,
               CAST(sum(abs(buy_v - sell_v)) * 10000
                    // nullif(sum(total_v), 0) AS BIGINT)
                   AS vpin_floor_bp
        FROM per_bucket
    """,
    description="VPIN (volume-synchronized probability of informed "
    "trading, Easley/O'Hara/Lopez de Prado): trades tick-rule-signed "
    "(strict up/down vs previous trade price, zero-ticks unsigned), "
    "bucketed by CUMULATIVE traded value ($5000 buckets — the "
    "volume clock, so bursty flow gets proportionally more buckets), "
    "and the flow-toxicity reading is the bucket-average |buy - "
    "sell| imbalance over volume in floor bp — the metric that "
    "spiked before the flash crash. The tick-rule sign and the "
    "volume-clock prefix sum both PARTITION BY DAY (sign resets at "
    "the session open, buckets reset daily — the same bounded-"
    "sequential-span compromise bidask_volume_clock implements, so "
    "the ordered window distributes across days instead of "
    "single-tasking the whole tape); the prefix sum uses the pre-row "
    "convention (sum - cents, trade assigned to the bucket its "
    "volume STARTS in). All exact integers.",
)
def bidask_vpin_volume_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    w = Window.partitionBy("d").orderBy("ts", "event_id")
    signed = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.to_date(F.date_trunc("day", "ts")).alias("d"),
            "ts",
            "event_id",
            scaled_long("value", 100).alias("cents"),
        )
        .select(
            "d",
            "ts",
            "event_id",
            "cents",
            F.when(
                F.col("cents") > F.lag("cents").over(w), 1
            )
            .when(F.col("cents") < F.lag("cents").over(w), -1)
            .otherwise(0)
            .alias("sign"),
        )
    )
    bucketed = signed.select(
        "d",
        "sign",
        "cents",
        F.expr(
            "(sum(cents) over (partition by d order by ts, event_id)"
            " - cents) div 500000"
        ).alias("bucket"),
    )
    per_bucket = bucketed.groupBy("d", "bucket").agg(
        F.sum(F.when(F.col("sign") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("buy_v"),
        F.sum(F.when(F.col("sign") == -1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("sell_v"),
        F.sum("cents").cast("long").alias("total_v"),
    )
    return per_bucket.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.abs(F.col("buy_v") - F.col("sell_v")))
        .cast("long")
        .alias("sum_abs_imbalance"),
        F.sum("total_v").cast("long").alias("total_volume"),
        F.expr(
            "sum(abs(buy_v - sell_v)) * 10000 "
            "div nullif(sum(total_v), 0)"
        )
        .cast("long")
        .alias("vpin_floor_bp"),
    )


@register(
    "bidask_garman_klass_vol",
    oracle_sql="""
        WITH base AS (
            SELECT date_trunc('day', ts) AS d, ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ), ranked AS (
            SELECT d, cents,
                   row_number() OVER (PARTITION BY d
                       ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (PARTITION BY d
                       ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM base
        ), daily AS (
            SELECT d,
                   CAST(max(cents) AS BIGINT) AS hi,
                   CAST(min(cents) AS BIGINT) AS lo,
                   CAST(max(CASE WHEN rn_a = 1 THEN cents END)
                        AS BIGINT) AS op,
                   CAST(max(CASE WHEN rn_d = 1 THEN cents END)
                        AS BIGINT) AS cl,
                   CAST(count(*) AS BIGINT) AS n_trades
            FROM ranked GROUP BY d
            HAVING count(*) >= 2 AND min(cents) > 0
        ), terms AS (
            SELECT d, n_trades,
                   CAST(floor(ln(CAST(hi AS DOUBLE) / lo) * 1000000
                              + 0.5) AS BIGINT) AS hl_ppm,
                   CAST(floor(ln(CAST(cl AS DOUBLE) / op) * 1000000
                              + 0.5) AS BIGINT) AS co_ppm
            FROM daily
        )
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(hl_ppm * hl_ppm) AS BIGINT) AS sum_hl2,
               CAST(sum(co_ppm * co_ppm) AS BIGINT) AS sum_co2,
               0.5 * CAST(sum(hl_ppm * hl_ppm) AS DOUBLE) / count(*)
                   - 0.386294 * CAST(sum(co_ppm * co_ppm) AS DOUBLE)
                     / count(*) AS gk_var_scaled
        FROM terms
    """,
    description="Garman-Klass range-based volatility from daily OHLC "
    "of the trade stream: 0.5*E[ln(H/L)^2] - (2ln2-1)*E[ln(C/O)^2], "
    "with each log-range quantized to ppm integers per day (house "
    "irrational policy) so both expectations aggregate exactly and "
    "the estimator is one float chain — 5-8x more efficient than "
    "close-to-close vol from the same data, the standard daily-bar "
    "risk input when quote data is unavailable (bidask_realized_vol "
    "grades the intraday path). Open/close via rank windows "
    "((ts,event_id) composite key — duplicate-timestamp safe); "
    "single-trade days excluded (H=L=O=C carries no range "
    "information). One day-partitioned window + bounded reduce.",
)
def bidask_garman_klass_vol(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.date_trunc("day", "ts").alias("d"),
            "ts",
            "event_id",
            scaled_long("value", 100).alias("cents"),
        )
    )
    daily = (
        base.groupBy("d")
        .agg(
            F.max("cents").cast("long").alias("hi"),
            F.min("cents").cast("long").alias("lo"),
            F.min_by("cents", F.struct("ts", "event_id"))
            .cast("long")
            .alias("op"),
            F.max_by("cents", F.struct("ts", "event_id"))
            .cast("long")
            .alias("cl"),
            F.count(F.lit(1)).cast("long").alias("n_trades"),
        )
        .where((F.col("n_trades") >= 2) & (F.col("lo") > 0))
    )
    terms = daily.select(
        F.floor(
            F.log(F.col("hi").cast("double") / F.col("lo")) * 1000000
            + 0.5
        )
        .cast("long")
        .alias("hl_ppm"),
        F.floor(
            F.log(F.col("cl").cast("double") / F.col("op")) * 1000000
            + 0.5
        )
        .cast("long")
        .alias("co_ppm"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("hl_ppm") * F.col("hl_ppm"))
        .cast("long")
        .alias("sum_hl2"),
        F.sum(F.col("co_ppm") * F.col("co_ppm"))
        .cast("long")
        .alias("sum_co2"),
        (
            0.5
            * F.sum(F.col("hl_ppm") * F.col("hl_ppm")).cast("double")
            / F.count(F.lit(1))
            - 0.386294
            * F.sum(F.col("co_ppm") * F.col("co_ppm")).cast("double")
            / F.count(F.lit(1))
        ).alias("gk_var_scaled"),
    )


@register(
    "bidask_rv_signature_plot",
    oracle_sql="""
        WITH quotes AS (
            SELECT ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'view'
        ), freqs(f_hours) AS (VALUES (1), (2), (4), (8)),
        sampled AS (
            SELECT fr.f_hours,
                   CAST(epoch(date_trunc('hour', q.ts)) AS BIGINT)
                       // 3600 // fr.f_hours AS bucket,
                   q.cents, q.ts, q.event_id
            FROM quotes q, freqs fr
        ), closes AS (
            SELECT f_hours, bucket, cents AS close_cents
            FROM (
                SELECT f_hours, bucket, cents,
                       row_number() OVER (
                           PARTITION BY f_hours, bucket
                           ORDER BY ts DESC, event_id DESC) AS rn
                FROM sampled
            ) WHERE rn = 1
        ), rets AS (
            SELECT f_hours,
                   close_cents - lag(close_cents) OVER (
                       PARTITION BY f_hours ORDER BY bucket) AS r
            FROM closes
        )
        SELECT CAST(f_hours AS BIGINT) AS sample_hours,
               CAST(count(r) AS BIGINT) AS n_returns,
               CAST(sum(r * r) AS BIGINT) AS realized_var_cents2
        FROM rets GROUP BY f_hours ORDER BY sample_hours
    """,
    description="Realized-variance signature plot: RV of the quote "
    "series computed at 1/2/4/8-hour sampling in ONE pass (the "
    "frequency dim is a 4-row broadcast; each frequency takes its "
    "buckets' last quotes and sums squared close-to-close moves, all "
    "exact cents) — the Andersen et al. diagnostic for "
    "microstructure noise: RV EXPLODING as sampling gets finer means "
    "bid-ask bounce dominates and the finer frequencies measure "
    "noise, not variance; the flat region picks the right sampling "
    "for bidask_realized_vol. Bucket closes via rank windows, "
    "duplicate-timestamp safe. Scale: per-frequency windows over "
    "bounded bucket rollups.",
)
def bidask_rv_signature_plot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    quotes = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "view")
        .select(
            "ts", "event_id", scaled_long("value", 100).alias("cents")
        )
    )
    freqs = spark.createDataFrame(
        [(1,), (2,), (4,), (8,)], ["f_hours"]
    )
    sampled = quotes.crossJoin(F.broadcast(freqs)).select(
        "f_hours",
        F.expr(
            "unix_seconds(date_trunc('hour', ts)) div 3600 div f_hours"
        ).alias("bucket"),
        "cents",
        "ts",
        "event_id",
    )
    closes = (
        sampled.select(
            "f_hours",
            "bucket",
            "cents",
            F.row_number()
            .over(
                Window.partitionBy("f_hours", "bucket").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            )
            .alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select("f_hours", "bucket", F.col("cents").alias("close_cents"))
    )
    w = Window.partitionBy("f_hours").orderBy("bucket")
    rets = closes.select(
        "f_hours",
        (
            F.col("close_cents") - F.lag("close_cents").over(w)
        ).alias("r"),
    )
    return (
        rets.groupBy(F.col("f_hours").cast("long").alias("sample_hours"))
        .agg(
            F.count("r").cast("long").alias("n_returns"),
            F.sum(F.col("r") * F.col("r"))
            .cast("long")
            .alias("realized_var_cents2"),
        )
        .orderBy("sample_hours")
    )


@register(
    "bidask_trade_size_profile",
    oracle_sql="""
        WITH trades AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        ), med AS (
            SELECT CAST(quantile_disc(cents, 0.5) AS BIGINT) AS m
            FROM trades
        ), buckets AS (
            SELECT CASE
                WHEN t.cents * 4 < m.m THEN 0
                WHEN t.cents * 2 < m.m THEN 1
                WHEN t.cents < m.m THEN 2
                WHEN t.cents < m.m * 2 THEN 3
                WHEN t.cents < m.m * 4 THEN 4
                ELSE 5 END AS size_bucket,
                t.cents
            FROM trades t, med m
        )
        SELECT CAST(size_bucket AS BIGINT) AS size_bucket,
               CAST(count(*) AS BIGINT) AS n_trades,
               CAST(sum(cents) AS BIGINT) AS volume_cents
        FROM buckets GROUP BY size_bucket ORDER BY size_bucket
    """,
    description="Trade-size distribution relative to the median trade "
    "(odd-lot analytics): six size buckets at 1/4x, 1/2x, 1x, 2x, 4x "
    "the median, with count and value per bucket — the "
    "order-splitting fingerprint (a fat small-trade tail with flat "
    "value share = algos slicing parents; regulators read odd-lot "
    "share from exactly this table). The median is exact member "
    "selection (1-row broadcast); bucket edges are integer "
    "cross-multiplications, so no rational boundary exists. One "
    "reduce + map.",
)
def bidask_trade_size_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    trades = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(scaled_long("value", 100).alias("cents"))
    )
    med = trades.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("m")
    )
    buckets = trades.crossJoin(F.broadcast(med)).select(
        F.when(F.col("cents") * 4 < F.col("m"), 0)
        .when(F.col("cents") * 2 < F.col("m"), 1)
        .when(F.col("cents") < F.col("m"), 2)
        .when(F.col("cents") < F.col("m") * 2, 3)
        .when(F.col("cents") < F.col("m") * 4, 4)
        .otherwise(5)
        .alias("size_bucket"),
        "cents",
    )
    return (
        buckets.groupBy(
            F.col("size_bucket").cast("long").alias("size_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            F.sum("cents").cast("long").alias("volume_cents"),
        )
        .orderBy("size_bucket")
    )


@register(
    "gov_k_anonymity_census",
    oracle_sql="""
        WITH qi AS (
            SELECT c_nationkey, c_mktsegment,
                   cents // 100000
                       - (CASE WHEN cents % 100000 <> 0 AND cents < 0
                          THEN 1 ELSE 0 END) AS bal_band,
                   CAST(count(*) AS BIGINT) AS grp_size
            FROM (SELECT c_nationkey, c_mktsegment,
                         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                  FROM customer)
            GROUP BY 1, 2, 3
        )
        SELECT CAST(least(grp_size, 6) AS BIGINT) AS k_bucket,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(grp_size) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN grp_size < 5 THEN grp_size ELSE 0
                    END) AS BIGINT) AS rows_below_k5
        FROM qi GROUP BY k_bucket ORDER BY k_bucket
    """,
    description="k-anonymity census over the quasi-identifier tuple "
    "(nation, market segment, $1000 balance band): equivalence-class "
    "size distribution (capped at 6+) plus the row count in classes "
    "below k=5 — the re-identification risk measure a privacy review "
    "runs BEFORE sharing a 'de-identified' extract (a QI class of "
    "size 1 is a fingerprint; the balance band, not the raw balance, "
    "is what makes the QI realistic). Integer band edges — no float "
    "boundary. One aggregate + tiny histogram; at 100 TB the QI "
    "census is the same map-combined reduce.",
)
def gov_k_anonymity_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    qi = (
        load(spark, sf_dir, "customer")
        .groupBy(
            "c_nationkey",
            "c_mktsegment",
            # Floor division, not the truncating `div`: truncation
            # maps cents in (-100000, 100000) ALL to band 0, a
            # double-width band straddling $0 that over-merges its
            # QI classes (round-7 review finding). The correction
            # term yields true floor on both engines (% takes the
            # dividend's sign on both).
            F.expr(
                "floor(c_acctbal * 100 + 0.5) div 100000"
                " - (CASE WHEN floor(c_acctbal * 100 + 0.5) % 100000"
                "          <> 0 AND c_acctbal < 0"
                "     THEN 1 ELSE 0 END)"
            ).alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("grp_size"))
    )
    return (
        qi.groupBy(
            F.least(F.col("grp_size"), F.lit(6))
            .cast("long")
            .alias("k_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("grp_size").cast("long").alias("n_rows"),
            F.sum(
                F.when(F.col("grp_size") < 5, F.col("grp_size")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("rows_below_k5"),
        )
        .orderBy("k_bucket")
    )


@register(
    "gov_l_diversity_audit",
    oracle_sql="""
        WITH joined AS (
            SELECT c.c_nationkey, c.c_mktsegment,
                   o.o_orderpriority AS sensitive
            FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        ), per_class AS (
            SELECT c_nationkey, c_mktsegment,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT sensitive) AS BIGINT) AS l_div
            FROM joined GROUP BY 1, 2
        )
        SELECT l_div,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               CAST(min(n_rows) AS BIGINT) AS min_class_rows
        FROM per_class GROUP BY l_div ORDER BY l_div
    """,
    description="l-diversity audit: for each (nation, segment) "
    "quasi-identifier class, the number of DISTINCT sensitive values "
    "(order priority) observed — k-anonymity's necessary complement "
    "(a size-50 class where everyone shares one sensitive value "
    "discloses it perfectly; l >= 2 is the floor, l >= 3 the common "
    "bar). Histogram over l with class censuses. The distinct count "
    "runs per bounded class; the join shuffles on the natural "
    "custkey.",
)
def gov_l_diversity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderpriority").alias("sensitive")
    )
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey)
    per_class = joined.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("sensitive").cast("long").alias("l_div"),
    )
    return (
        per_class.groupBy("l_div")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("n_rows").cast("long").alias("min_class_rows"),
        )
        .orderBy("l_div")
    )


@register(
    "gov_forget_cascade_audit",
    oracle_sql="""
        WITH forget AS (
            SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
        ), kept_orders AS (
            SELECT o.o_orderkey, o.o_custkey FROM orders o
            WHERE o.o_custkey NOT IN (SELECT c_custkey FROM forget)
        ), audit AS (
            SELECT
                (SELECT CAST(count(*) AS BIGINT) FROM forget)
                    AS n_forgotten_customers,
                (SELECT CAST(count(*) AS BIGINT) FROM orders o
                 WHERE o.o_custkey IN (SELECT c_custkey FROM forget))
                    AS n_orders_purged,
                (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                 JOIN orders o ON l.l_orderkey = o.o_orderkey
                 WHERE o.o_custkey IN (SELECT c_custkey FROM forget))
                    AS n_lines_purged,
                (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                 LEFT JOIN kept_orders k ON l.l_orderkey = k.o_orderkey
                 LEFT JOIN orders o2 ON l.l_orderkey = o2.o_orderkey
                 WHERE k.o_orderkey IS NULL
                   AND o2.o_custkey NOT IN
                       (SELECT c_custkey FROM forget))
                    AS n_orphans_after
        )
        SELECT * FROM audit
    """,
    description="Right-to-be-forgotten cascade audit: a deterministic "
    "forget set (custkey % 97 = 0 — the erasure-request batch) is "
    "purged and the audit proves the CASCADE: how many orders and "
    "line items the erasure must also remove (facts keyed to the "
    "forgotten entity are PII under GDPR recital 26), and — the "
    "graded zero — that no non-forgotten line item is orphaned by "
    "the purge (the over-deletion bug that silently corrupts "
    "referential integrity). Anti-join semantics throughout; at "
    "100 TB this is the deletion-vector planning query run before "
    "any physical rewrite.",
)
def gov_forget_cascade_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    forget = cust.where(F.col("c_custkey") % 97 == 0)
    n_forgot = forget.agg(
        F.count(F.lit(1)).cast("long").alias("n_forgotten_customers")
    )
    purged_orders = orders.join(
        forget, orders.o_custkey == forget.c_custkey, "semi"
    )
    n_orders = purged_orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders_purged")
    )
    n_lines = li.join(
        purged_orders, li.l_orderkey == purged_orders.o_orderkey, "semi"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_lines_purged"))
    kept_orders = orders.join(
        forget, orders.o_custkey == forget.c_custkey, "anti"
    )
    # Orphans = lines NOT covered by a kept order although their order
    # exists and belongs to a non-forgotten customer — i.e. lines the
    # purge would strand. Structurally zero when the cascade is
    # correct (a non-forgotten order IS kept), which is exactly what
    # the graded zero proves; lines whose order is absent from the
    # orders table entirely (pre-existing referential breaks) are NOT
    # the purge's fault and are excluded on both engines.
    not_kept = li.join(
        kept_orders, li.l_orderkey == kept_orders.o_orderkey, "anti"
    )
    with_order = not_kept.join(
        orders, not_kept.l_orderkey == orders.o_orderkey, "inner"
    )
    orphans = with_order.join(
        forget, with_order.o_custkey == forget.c_custkey, "anti"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_orphans_after"))
    return (
        n_forgot.crossJoin(F.broadcast(n_orders))
        .crossJoin(F.broadcast(n_lines))
        .crossJoin(F.broadcast(orphans))
    )


@register(
    "gov_partition_skew_audit",
    oracle_sql="""
        WITH parts AS (
            SELECT date_trunc('month', l_shipdate) AS p,
                   CAST(count(*) AS BIGINT) AS n
            FROM lineitem GROUP BY p
        ), stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_partitions,
                   CAST(sum(n) AS BIGINT) AS total_rows,
                   CAST(max(n) AS BIGINT) AS max_rows,
                   CAST(quantile_disc(n, 0.5) AS BIGINT) AS median_rows
            FROM parts
        ), gini AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(i * x) AS BIGINT) AS six,
                   CAST(sum(x) AS BIGINT) AS sx
            FROM (
                SELECT n AS x,
                       row_number() OVER (ORDER BY n, p) AS i
                FROM parts
            )
        )
        SELECT s.n_partitions, s.total_rows, s.max_rows, s.median_rows,
               CAST(s.max_rows * 10000 // nullif(s.median_rows, 0)
                    AS BIGINT) AS max_over_median_bp,
               CAST(2 * g.six - (g.n + 1) * g.sx AS BIGINT)
                   AS gini_num,
               CAST(g.n * g.sx AS BIGINT) AS gini_den
        FROM stats s, gini g
    """,
    description="Partition-skew audit over the ship-month layout: "
    "max/median partition size in floor bp plus the exact rank-"
    "formula Gini of partition populations — the layout-health "
    "check run before choosing partition keys (a 10x max/median "
    "means one straggler task per stage; Gini trends catch drift as "
    "data accumulates). Reuses agg_gini_concentration's integer "
    "algebra on partition sizes. The census is one map-combined "
    "reduce over the fact — the same query a table-format's "
    "metadata would answer for free, graded here against raw data.",
)
def gov_partition_skew_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    parts = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.date_trunc("month", "l_shipdate").alias("p"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    stats = parts.agg(
        F.count(F.lit(1)).cast("long").alias("n_partitions"),
        F.sum("n").cast("long").alias("total_rows"),
        F.max("n").cast("long").alias("max_rows"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
        .cast("long")
        .alias("median_rows"),
    )
    ordered = parts.select(
        F.col("n").alias("x"),
        F.row_number().over(Window.orderBy("n", "p")).alias("i"),
    )
    gini = ordered.agg(
        F.count(F.lit(1)).cast("long").alias("gn"),
        F.sum(F.col("i") * F.col("x")).cast("long").alias("six"),
        F.sum("x").cast("long").alias("sx"),
    )
    return stats.crossJoin(F.broadcast(gini)).select(
        "n_partitions",
        "total_rows",
        "max_rows",
        "median_rows",
        F.expr("max_rows * 10000 div nullif(median_rows, 0)")
        .cast("long")
        .alias("max_over_median_bp"),
        (2 * F.col("six") - (F.col("gn") + 1) * F.col("sx"))
        .cast("long")
        .alias("gini_num"),
        (F.col("gn") * F.col("sx")).cast("long").alias("gini_den"),
    )


@register(
    "attr_time_decay",
    oracle_sql="""
        WITH clicks AS (
            SELECT user_id, ts AS cts, event_id AS cid
            FROM events WHERE event_type = 'click'
        ), purchases AS (
            SELECT user_id, ts AS pts, event_id AS pid
            FROM events WHERE event_type = 'purchase'
        ), credits AS (
            SELECT c.cid, p.pid,
                   CAST(hour(c.cts) AS BIGINT) AS click_hour,
                   CASE
                       WHEN epoch_us(p.pts) - epoch_us(c.cts)
                            < CAST(4 AS BIGINT) * 3600 * 1000000 THEN 4
                       WHEN epoch_us(p.pts) - epoch_us(c.cts)
                            < CAST(12 AS BIGINT) * 3600 * 1000000 THEN 2
                       ELSE 1 END AS w4
            FROM purchases p JOIN clicks c
              ON c.user_id = p.user_id
             AND c.cts < p.pts
             AND epoch_us(p.pts) - epoch_us(c.cts)
                 <= CAST(24 AS BIGINT) * 3600 * 1000000
        ), norm AS (
            SELECT pid, CAST(sum(w4) AS BIGINT) AS tw FROM credits
            GROUP BY pid
        ), shared AS (
            SELECT cr.click_hour,
                   cr.w4 * 1000000 // n.tw AS credit_ppm
            FROM credits cr JOIN norm n ON cr.pid = n.pid
        )
        SELECT click_hour,
               CAST(count(*) AS BIGINT) AS n_credited_clicks,
               CAST(sum(credit_ppm) AS BIGINT) AS credit_sum_ppm
        FROM shared GROUP BY click_hour ORDER BY click_hour
    """,
    description="Time-decay attribution: every click within 24h before "
    "a purchase earns credit with dyadic half-life weights (4x inside "
    "4h, 2x inside 12h, 1x inside 24h — integer weights, so the "
    "per-purchase normalization w*1e6 div total is the only division "
    "and it floors identically), aggregated to credit share per "
    "click hour-of-day — the budget-allocation view (which hours' "
    "clicks actually drive conversions). The candidate join blocks "
    "on user_id with a bounded 24h window; per-purchase totals join "
    "back on the purchase key. All integral ppm.",
)
def attr_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    age = F.unix_micros("pts") - F.unix_micros("cts")
    credits = purchases.join(
        clicks,
        (F.col("cu") == F.col("user_id"))
        & (F.col("cts") < F.col("pts"))
        & (age <= 24 * 3600 * 1000000),
    ).select(
        "pid",
        F.hour("cts").cast("long").alias("click_hour"),
        F.when(age < 4 * 3600 * 1000000, 4)
        .when(age < 12 * 3600 * 1000000, 2)
        .otherwise(1)
        .alias("w4"),
    )
    norm = credits.groupBy("pid").agg(
        F.sum("w4").cast("long").alias("tw")
    )
    shared = credits.join(norm, "pid").select(
        "click_hour", F.expr("w4 * 1000000 div tw").alias("credit_ppm")
    )
    return (
        shared.groupBy("click_hour")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_credited_clicks"),
            F.sum("credit_ppm").cast("long").alias("credit_sum_ppm"),
        )
        .orderBy("click_hour")
    )


@register(
    "attr_position_u_shaped",
    oracle_sql="""
        WITH clicks AS (
            SELECT user_id, ts AS cts, event_id AS cid
            FROM events WHERE event_type = 'click'
        ), purchases AS (
            SELECT user_id, ts AS pts, event_id AS pid
            FROM events WHERE event_type = 'purchase'
        ), paths AS (
            SELECT p.pid, c.cid, c.cts,
                   row_number() OVER (PARTITION BY p.pid
                       ORDER BY c.cts, c.cid) AS pos,
                   count(*) OVER (PARTITION BY p.pid) AS n_touch
            FROM purchases p JOIN clicks c
              ON c.user_id = p.user_id AND c.cts < p.pts
             AND epoch_us(p.pts) - epoch_us(c.cts)
                 <= CAST(24 AS BIGINT) * 3600 * 1000000
        ), credited AS (
            SELECT pid, cid,
                   CASE
                       WHEN n_touch = 1 THEN 10000
                       WHEN n_touch = 2 THEN 5000
                       WHEN pos = 1 THEN 4000
                       WHEN pos = n_touch THEN 4000
                       ELSE 2000 // (n_touch - 2) END AS credit_bp,
                   CASE WHEN pos = 1 THEN 'first'
                        WHEN pos = n_touch THEN 'last'
                        ELSE 'middle' END AS role
            FROM paths
        )
        SELECT role,
               CAST(count(*) AS BIGINT) AS n_touches,
               CAST(sum(credit_bp) AS BIGINT) AS credit_sum_bp
        FROM credited GROUP BY role ORDER BY role
    """,
    description="U-shaped (position-based) multi-touch attribution: "
    "40% to the first touch, 40% to the last, 20% split across the "
    "middle (integral division; 1-touch paths take 100%, 2-touch "
    "split 50/50) over the 24h click window per purchase — the "
    "awareness-vs-closer decomposition linear attribution blurs. "
    "Touch ordering is (ts, event_id) tie-broken; the per-path "
    "window partitions on the purchase key. Credit conservation "
    "(sum = 10000 bp per path up to middle-split flooring) is the "
    "cross-check built into the graded censuses.",
)
def attr_position_u_shaped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    age = F.unix_micros("pts") - F.unix_micros("cts")
    paths = purchases.join(
        clicks,
        (F.col("cu") == F.col("user_id"))
        & (F.col("cts") < F.col("pts"))
        & (age <= 24 * 3600 * 1000000),
    ).select(
        "pid",
        "cid",
        F.row_number()
        .over(Window.partitionBy("pid").orderBy("cts", "cid"))
        .alias("pos"),
        F.count(F.lit(1))
        .over(Window.partitionBy("pid"))
        .alias("n_touch"),
    )
    credited = paths.select(
        F.when(F.col("n_touch") == 1, 10000)
        .when(F.col("n_touch") == 2, 5000)
        .when(F.col("pos") == 1, 4000)
        .when(F.col("pos") == F.col("n_touch"), 4000)
        .otherwise(F.expr("2000 div (n_touch - 2)"))
        .alias("credit_bp"),
        F.when(F.col("pos") == 1, "first")
        .when(F.col("pos") == F.col("n_touch"), "last")
        .otherwise("middle")
        .alias("role"),
    )
    return (
        credited.groupBy("role")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum("credit_bp").cast("long").alias("credit_sum_bp"),
        )
        .orderBy("role")
    )


@register(
    "attr_campaign_overlap",
    oracle_sql="""
        WITH reach AS (
            SELECT user_id,
                   CAST(max(CASE WHEN event_type = 'view'
                            THEN 1 ELSE 0 END) AS BIGINT) AS r_view,
                   CAST(max(CASE WHEN event_type = 'click'
                            THEN 1 ELSE 0 END) AS BIGINT) AS r_click,
                   CAST(max(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS converted
            FROM events GROUP BY user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(r_view) AS BIGINT) AS reach_view,
               CAST(sum(r_click) AS BIGINT) AS reach_click,
               CAST(sum(r_view * r_click) AS BIGINT) AS reach_both,
               CAST(sum(r_view + r_click - r_view * r_click)
                    AS BIGINT) AS reach_either,
               CAST(sum(CASE WHEN r_view * r_click = 1
                        THEN converted ELSE 0 END) AS BIGINT)
                   AS conv_both,
               CAST(sum(CASE WHEN r_view = 1 AND r_click = 0
                        THEN converted ELSE 0 END) AS BIGINT)
                   AS conv_view_only,
               CAST(sum(CASE WHEN r_view = 0 AND r_click = 1
                        THEN converted ELSE 0 END) AS BIGINT)
                   AS conv_click_only
        FROM reach
    """,
    description="Cross-channel reach overlap and conversion lift: "
    "per-user exposure flags for the view and click channels, "
    "inclusion-exclusion reach (either = A + B - both, exact), and "
    "conversion counts per exposure cell — the deduplicated-reach "
    "question (agg_theta_audience_overlap answers it approximately "
    "with sketches; this is the exact per-user form the sketch is "
    "graded against conceptually) plus the synergy read "
    "(conv_both vs single-channel cells). One user-key reduce.",
)
def attr_campaign_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    reach = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            )
            .cast("long")
            .alias("r_view"),
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            )
            .cast("long")
            .alias("r_click"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("converted"),
        )
    )
    return reach.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("r_view").cast("long").alias("reach_view"),
        F.sum("r_click").cast("long").alias("reach_click"),
        F.sum(F.col("r_view") * F.col("r_click"))
        .cast("long")
        .alias("reach_both"),
        F.sum(
            F.col("r_view")
            + F.col("r_click")
            - F.col("r_view") * F.col("r_click")
        )
        .cast("long")
        .alias("reach_either"),
        F.sum(
            F.when(
                F.col("r_view") * F.col("r_click") == 1,
                F.col("converted"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("conv_both"),
        F.sum(
            F.when(
                (F.col("r_view") == 1) & (F.col("r_click") == 0),
                F.col("converted"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("conv_view_only"),
        F.sum(
            F.when(
                (F.col("r_view") == 0) & (F.col("r_click") == 1),
                F.col("converted"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("conv_click_only"),
    )


@register(
    "attr_incrementality_did",
    oracle_sql="""
        WITH cells AS (
            SELECT (user_id * 48271) % 2147483647 % 2 AS arm,
                   CASE WHEN ts < TIMESTAMP '2024-01-16'
                        THEN 0 ELSE 1 END AS period,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
            FROM events
        ), rates AS (
            SELECT arm, period,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   CAST(sum(y) * 1000000 // count(*) AS BIGINT)
                       AS rate_ppm
            FROM cells GROUP BY arm, period
        ), wide AS (
            SELECT
                max(CASE WHEN arm = 1 AND period = 1
                    THEN rate_ppm END) AS t_post,
                max(CASE WHEN arm = 1 AND period = 0
                    THEN rate_ppm END) AS t_pre,
                max(CASE WHEN arm = 0 AND period = 1
                    THEN rate_ppm END) AS c_post,
                max(CASE WHEN arm = 0 AND period = 0
                    THEN rate_ppm END) AS c_pre
            FROM rates
        )
        SELECT CAST(t_pre AS BIGINT) AS treat_pre_ppm,
               CAST(t_post AS BIGINT) AS treat_post_ppm,
               CAST(c_pre AS BIGINT) AS control_pre_ppm,
               CAST(c_post AS BIGINT) AS control_post_ppm,
               CAST((t_post - t_pre) - (c_post - c_pre) AS BIGINT)
                   AS did_ppm
        FROM wide
    """,
    description="Difference-in-differences incrementality: users "
    "hash-split into treatment/control (the same replayable LCG "
    "assignment as eval_ab_srm_check), the observation window split "
    "pre/post at mid-month, and the incremental effect is "
    "(T_post - T_pre) - (C_post - C_pre) in exact ppm rates — the "
    "causal read that subtracts both the pre-existing arm difference "
    "AND the common time trend, which a naive post-only comparison "
    "confounds. One conditional aggregate + 4-cell pivot.",
)
def attr_incrementality_did(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cells = load(spark, sf_dir, "events").select(
        ((F.col("user_id") * 48271) % 2147483647 % 2).alias("arm"),
        F.when(
            F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 0
        )
        .otherwise(1)
        .alias("period"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    rates = cells.groupBy("arm", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.expr("sum(y) * 1000000 div count(*)").alias("rate_ppm"),
    )
    wide = rates.agg(
        F.max(
            F.when(
                (F.col("arm") == 1) & (F.col("period") == 1),
                F.col("rate_ppm"),
            )
        ).alias("t_post"),
        F.max(
            F.when(
                (F.col("arm") == 1) & (F.col("period") == 0),
                F.col("rate_ppm"),
            )
        ).alias("t_pre"),
        F.max(
            F.when(
                (F.col("arm") == 0) & (F.col("period") == 1),
                F.col("rate_ppm"),
            )
        ).alias("c_post"),
        F.max(
            F.when(
                (F.col("arm") == 0) & (F.col("period") == 0),
                F.col("rate_ppm"),
            )
        ).alias("c_pre"),
    )
    return wide.select(
        F.col("t_pre").cast("long").alias("treat_pre_ppm"),
        F.col("t_post").cast("long").alias("treat_post_ppm"),
        F.col("c_pre").cast("long").alias("control_pre_ppm"),
        F.col("c_post").cast("long").alias("control_post_ppm"),
        (
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre"))
        )
        .cast("long")
        .alias("did_ppm"),
    )


def _markov_value_iteration_sql(rounds: int) -> str:
    """Unrolled value-iteration CTE chain (same device as
    embed_power_iteration's unrolled matvec): v_k(s) = P(absorb at
    purchase within k steps), ppm integers, with the removed-channel
    value function computed in the same pass by pinning v(click) = 0.
    """
    head = """
        WITH seq AS (
            SELECT user_id, ts, event_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ), trans AS (
            SELECT CASE WHEN prev_type IS NULL
                        OR prev_type = 'purchase'
                   THEN 'START' ELSE prev_type END AS src,
                   event_type AS dst
            FROM seq
            UNION ALL
            SELECT event_type AS src, 'END' AS dst
            FROM (
                SELECT user_id, event_type,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1 AND event_type <> 'purchase'
        ), t AS (
            SELECT src, dst,
                   CAST(count(*) AS BIGINT) * 1000000
                       // sum(CAST(count(*) AS BIGINT))
                         OVER (PARTITION BY src) AS p_ppm
            FROM trans GROUP BY src, dst
        ), states AS (
            SELECT DISTINCT s FROM (
                SELECT src AS s FROM t
                UNION ALL SELECT dst FROM t
            )
        ), v0 AS (
            SELECT s,
                   CASE WHEN s = 'purchase'
                        THEN CAST(1000000 AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS vb,
                   CASE WHEN s = 'purchase'
                        THEN CAST(1000000 AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS vr
            FROM states
        )"""
    step = """, v{k} AS (
            SELECT st.s,
                   CASE WHEN st.s = 'purchase'
                        THEN CAST(1000000 AS BIGINT)
                        WHEN st.s = 'END' THEN CAST(0 AS BIGINT)
                        ELSE coalesce(CAST(sum(t.p_ppm * pv.vb)
                             AS BIGINT) // 1000000, 0) END AS vb,
                   CASE WHEN st.s = 'purchase'
                        THEN CAST(1000000 AS BIGINT)
                        WHEN st.s = 'END' OR st.s = 'click'
                        THEN CAST(0 AS BIGINT)
                        ELSE coalesce(CAST(sum(t.p_ppm * pv.vr)
                             AS BIGINT) // 1000000, 0) END AS vr
            FROM states st
            LEFT JOIN t ON t.src = st.s
            LEFT JOIN v{km1} pv ON pv.s = t.dst
            GROUP BY st.s
        )"""
    body = "".join(
        step.format(k=k, km1=k - 1) for k in range(1, rounds + 1)
    )
    tail = f"""
        SELECT CAST(vb AS BIGINT) AS conv_base_ppm,
               CAST(vr AS BIGINT) AS conv_removed_ppm,
               CAST(vb - vr AS BIGINT) AS removal_effect_ppm
        FROM v{rounds} WHERE s = 'START'
    """
    return head + body + tail


_MARKOV_ROUNDS = 8


@register(
    "attr_markov_removal_effect",
    oracle_sql=_markov_value_iteration_sql(_MARKOV_ROUNDS),
    description="Markov removal-effect attribution for the click "
    "channel: per-user journeys become a first-order chain (paths "
    "restart at START after each purchase; unterminated journeys "
    "absorb at END), transition probabilities floor onto the ppm "
    "grid, and the conversion probability from START is computed by "
    "8 rounds of exact integer value iteration (v <- T.v div 1e6, "
    "purchase pinned 1e6, END pinned 0) — run TWICE in one pass, "
    "with v(click) additionally pinned to 0 for the removed chain "
    "(the Anderl et al. removal semantics: paths through the "
    "removed channel fail, no renormalization). The removal effect "
    "conv_base - conv_removed is the channel's causal credit, the "
    "model-based answer to the heuristics (first-touch, U-shaped, "
    "time-decay) this family grades side by side. Fixed iteration "
    "count, bit-stable integer algebra — same discipline as "
    "graph_pagerank_fixedpoint / embed_power_iteration; the chain "
    "matrix is |states|^2 (tiny, broadcast); the only data-scale "
    "pass is the transition count.",
)
def attr_markov_removal_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(wu).alias("prev_type")
    )
    starts = seq.select(
        F.when(
            F.col("prev_type").isNull()
            | (F.col("prev_type") == "purchase"),
            F.lit("START"),
        )
        .otherwise(F.col("prev_type"))
        .alias("src"),
        F.col("event_type").alias("dst"),
    )
    last = (
        ev.select(
            "user_id",
            "event_type",
            F.row_number()
            .over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            )
            .alias("rn"),
        )
        .where((F.col("rn") == 1) & (F.col("event_type") != "purchase"))
        .select(
            F.col("event_type").alias("src"), F.lit("END").alias("dst")
        )
    )
    trans = starts.unionByName(last)
    t = trans.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = t.select(
        "src",
        "dst",
        F.expr(
            "n * 1000000 div sum(n) over (partition by src)"
        ).alias("p_ppm"),
    )
    states = (
        t.select(F.col("src").alias("s"))
        .unionByName(t.select(F.col("dst").alias("s")))
        .distinct()
    )
    v = states.select(
        "s",
        F.when(F.col("s") == "purchase", F.lit(1000000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("vb"),
        F.when(F.col("s") == "purchase", F.lit(1000000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("vr"),
    )
    t2 = t.select(
        F.col("src").alias("tsrc"),
        F.col("dst").alias("tdst"),
        "p_ppm",
    )
    for _ in range(_MARKOV_ROUNDS):
        pv = v.select(
            F.col("s").alias("ps"),
            F.col("vb").alias("pvb"),
            F.col("vr").alias("pvr"),
        )
        stepped = (
            states.join(t2, states.s == t2.tsrc, "left")
            .join(pv, t2.tdst == pv.ps, "left")
            .groupBy("s")
            .agg(
                F.coalesce(
                    F.expr("sum(p_ppm * pvb) div 1000000"), F.lit(0)
                ).alias("raw_vb"),
                F.coalesce(
                    F.expr("sum(p_ppm * pvr) div 1000000"), F.lit(0)
                ).alias("raw_vr"),
            )
        )
        v = stepped.select(
            "s",
            F.when(F.col("s") == "purchase", F.lit(1000000))
            .when(F.col("s") == "END", F.lit(0))
            .otherwise(F.col("raw_vb"))
            .cast("long")
            .alias("vb"),
            F.when(F.col("s") == "purchase", F.lit(1000000))
            .when(
                (F.col("s") == "END") | (F.col("s") == "click"), F.lit(0)
            )
            .otherwise(F.col("raw_vr"))
            .cast("long")
            .alias("vr"),
        ).localCheckpoint(eager=True)
    return v.where(F.col("s") == "START").select(
        F.col("vb").alias("conv_base_ppm"),
        F.col("vr").alias("conv_removed_ppm"),
        (F.col("vb") - F.col("vr")).cast("long").alias(
            "removal_effect_ppm"
        ),
    )


@register(
    "embed_sign_hamming_ann",
    oracle_sql="""
        WITH exp AS (
            SELECT vec_id, label,
                   generate_subscripts(embedding, 1) - 1 AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings
        ), sketches AS (
            SELECT vec_id, label,
                   CAST(sum(CASE WHEN x > 0 THEN
                       CAST(1 AS BIGINT) << CAST(i AS INTEGER)
                       ELSE 0 END) AS BIGINT) AS sig
            FROM exp WHERE i < 63 GROUP BY vec_id, label
        ), q AS (SELECT sig AS qsig FROM sketches WHERE vec_id = 0),
        dists AS (
            SELECT s.vec_id, s.label,
                   CAST(bit_count(xor(s.sig, q.qsig)) AS BIGINT)
                       AS hamming
            FROM sketches s, q WHERE s.vec_id <> 0
        )
        SELECT vec_id, label, hamming
        FROM dists ORDER BY hamming, vec_id LIMIT 10
    """,
    description="Sign-bit Hamming ANN: each vector compresses to a "
    "63-bit sign sketch (one bit per dimension, dims 0-62 — bit 63 "
    "dropped to keep the signature a non-negative BIGINT on both "
    "engines), and nearest neighbors rank by EXACT integer Hamming "
    "distance bit_count(xor(sig, qsig)) — the 1-bit quantization "
    "extreme of the PQ/int8/int4 memory-compression family: 64 dims "
    "x float32 -> 8 bytes, 32x smaller, distance computation pure "
    "ALU. Ranking is fully integral (vec_id tie-break), so this ANN "
    "variant is hash-gradeable with NO float anywhere. Scale: the "
    "sketch table shuffles as one long per vector; Hamming top-k is "
    "a broadcast-compare + heap.",
)
def embed_sign_hamming_ann(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_intraday_bidask_spark.functions.vector import as_double

    exp = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode(as_double("embedding")).alias("i", "x")
    )
    sketches = (
        exp.where(F.col("i") < 63)
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                F.when(
                    F.col("x") > 0,
                    F.expr("shiftleft(cast(1 as bigint), cast(i as int))"),
                ).otherwise(F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("sig")
        )
    )
    q = sketches.where(F.col("vec_id") == 0).select(
        F.col("sig").alias("qsig")
    )
    dists = (
        sketches.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.bit_count(
                F.col("sig").bitwiseXOR(F.col("qsig"))
            )
            .cast("long")
            .alias("hamming"),
        )
    )
    return dists.orderBy("hamming", "vec_id").limit(10)


@register(
    "embed_matryoshka_recall",
    oracle_sql="""
        WITH exp AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS i,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                              * 10000 + 0.5) AS BIGINT) AS x
            FROM embeddings
        ), q AS (
            SELECT i, x AS y FROM exp WHERE vec_id = 0
        ), budgets(d) AS (VALUES (16), (32), (64)),
        dots AS (
            SELECT b.d, e.vec_id,
                   CAST(sum(e.x * q.y) AS BIGINT) AS dot,
                   CAST(sum(e.x * e.x) AS BIGINT) AS na2,
                   CAST(sum(q.y * q.y) AS BIGINT) AS nb2
            FROM exp e JOIN q ON e.i = q.i
            CROSS JOIN budgets b
            WHERE e.vec_id <> 0 AND e.i < b.d AND q.i < b.d
            GROUP BY b.d, e.vec_id
        ), ranked AS (
            SELECT d, vec_id,
                   row_number() OVER (PARTITION BY d
                       ORDER BY CAST(dot AS DOUBLE)
                                / (sqrt(CAST(na2 AS DOUBLE))
                                   * sqrt(CAST(nb2 AS DOUBLE))) DESC,
                                vec_id) AS rk
            FROM dots
        ), full_top AS (
            SELECT vec_id FROM ranked WHERE d = 64 AND rk <= 10
        )
        SELECT CAST(r.d AS BIGINT) AS dim_budget,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CASE WHEN f.vec_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS hits_vs_full
        FROM ranked r LEFT JOIN full_top f ON r.vec_id = f.vec_id
        WHERE r.rk <= 10
        GROUP BY r.d ORDER BY dim_budget
    """,
    description="Matryoshka truncation recall: top-10 cosine "
    "neighbors computed with only the first 16 / 32 / 64 dimensions "
    "(nested prefixes — the matryoshka-embedding deployment trick: "
    "one stored vector serves every budget), each budget's overlap "
    "with the full-dimension top-10 graded — the accuracy-vs-cost "
    "curve that decides how many dims the serving tier keeps "
    "(complements knn_pq_adc's codebook compression with prefix "
    "truncation). One exploded join serves all three budgets via a "
    "broadcast budget dim; per-budget rank windows.",
)
def embed_matryoshka_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_intraday_bidask_spark.functions.vector import as_double

    # Components quantized to the exact 1e-4 fixture grid BEFORE the
    # cross-row sums (functions/parity.py policy): integer dot/norms
    # are order-independent, so the rank cut cannot flip on float
    # summation order across engines or runs (round-7 review
    # finding). Scale factors cancel in the cosine.
    exp = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.posexplode(
            F.transform(
                as_double("embedding"),
                lambda v: F.floor(v * 10000 + F.lit(0.5)).cast("long"),
            )
        ).alias("i", "x"),
    )
    q = exp.where(F.col("vec_id") == 0).select(
        F.col("i").alias("qi"), F.col("x").alias("y")
    )
    budgets = spark.createDataFrame([(16,), (32,), (64,)], ["d"])
    dots = (
        exp.where(F.col("vec_id") != 0)
        .join(F.broadcast(q), F.col("i") == F.col("qi"))
        .crossJoin(F.broadcast(budgets))
        .where(F.col("i") < F.col("d"))
        .groupBy("d", "vec_id")
        .agg(
            F.sum(F.col("x") * F.col("y")).cast("long").alias("dot"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("na2"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("nb2"),
        )
    )
    ranked = dots.select(
        "d",
        "vec_id",
        F.row_number()
        .over(
            Window.partitionBy("d").orderBy(
                (
                    F.col("dot").cast("double")
                    / (
                        F.sqrt(F.col("na2").cast("double"))
                        * F.sqrt(F.col("nb2").cast("double"))
                    )
                ).desc(),
                "vec_id",
            )
        )
        .alias("rk"),
    ).where(F.col("rk") <= 10)
    full_top = ranked.where(F.col("d") == 64).select(
        F.col("vec_id").alias("fv")
    )
    return (
        ranked.join(full_top, ranked.vec_id == full_top.fv, "left")
        .groupBy(F.col("d").cast("long").alias("dim_budget"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(F.when(F.col("fv").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("hits_vs_full"),
        )
        .orderBy("dim_budget")
    )


@register(
    "embed_int4_quant_error",
    oracle_sql="""
        WITH exp AS (
            SELECT vec_id, label,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                              * 1000000 + 0.5) AS BIGINT) AS xq
            FROM embeddings
        ), scales AS (
            SELECT vec_id, CAST(max(abs(xq)) AS BIGINT) AS s
            FROM exp GROUP BY vec_id
        ), coded AS (
            SELECT e.vec_id, e.label, e.xq, sc.s,
                   CASE WHEN sc.s = 0 THEN 0 ELSE
                       CAST(floor(CAST(e.xq AS DOUBLE) * 7 / sc.s
                                  + 0.5) AS BIGINT) END AS code
            FROM exp e JOIN scales sc ON e.vec_id = sc.vec_id
        ), errs AS (
            SELECT label,
                   abs(xq * 7 - code * s) AS err7
            FROM coded
        )
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_coords,
               CAST(sum(err7) AS BIGINT) AS sum_err7_scaled,
               CAST(max(err7) AS BIGINT) AS max_err7_scaled
        FROM errs GROUP BY label ORDER BY label
    """,
    description="Int4 symmetric quantization error audit: each "
    "vector's coordinates (pre-quantized to the 1e-6 grid) code into "
    "[-7, 7] against the per-vector max-abs scale, and the "
    "reconstruction error is measured in the 7x-scaled integer "
    "domain |xq*7 - code*s| — EXACT, because the comparison "
    "cross-multiplies instead of reconstructing a rational (the "
    "same device as every ratio in this repo). The per-label "
    "error profile extends the compression family (int8 op, PQ-ADC, "
    "sign-bit) to the 8x-compression point and tells you which "
    "classes lose the most signal. code = floor(xq*7/s + 0.5) is the one "
    "rounding, on an irrational-free rational — round-half ties "
    "need xq*14 ≡ s (mod 2s), excluded by the fixture's continuous "
    "draws (same argument as the norm-bucket boundary note). Scale: "
    "map + two keyed reduces.",
)
def embed_int4_quant_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_intraday_bidask_spark.functions.vector import as_double

    exp = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.explode(as_double("embedding")).alias("x"),
    ).select(
        "vec_id",
        "label",
        F.floor(F.col("x") * 1000000 + 0.5).cast("long").alias("xq"),
    )
    scales = exp.groupBy("vec_id").agg(
        F.max(F.abs("xq")).cast("long").alias("s")
    )
    coded = exp.join(scales, "vec_id").select(
        "label",
        "xq",
        "s",
        # floor(x + 0.5) on BOTH engines: F.round's shortest-decimal
        # HALF_UP vs DuckDB's binary std::round can split on rational
        # halves like xq*7/s that are unrepresentable in binary
        # (wave-D-audit class); the congruent floor form cannot.
        F.when(F.col("s") == 0, 0)
        .otherwise(
            F.floor(
                F.col("xq").cast("double") * 7 / F.col("s") + F.lit(0.5)
            )
        )
        .cast("long")
        .alias("code"),
    )
    errs = coded.select(
        "label",
        F.abs(F.col("xq") * 7 - F.col("code") * F.col("s")).alias("err7"),
    )
    return (
        errs.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_coords"),
            F.sum("err7").cast("long").alias("sum_err7_scaled"),
            F.max("err7").cast("long").alias("max_err7_scaled"),
        )
        .orderBy("label")
    )


@register(
    "corpus_tokenizer_fertility",
    oracle_sql="""
        WITH toks AS (
            SELECT lang,
                   CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(len(string_split(text, ' ')) AS BIGINT)
                       AS n_words,
                   CAST(len(regexp_extract_all(
                       text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                       AS BIGINT) AS n_bpe_ish
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(n_words) AS BIGINT) AS total_words,
               CAST(sum(n_bpe_ish) AS BIGINT) AS total_bpe_ish,
               CAST(sum(n_chars) * 100 // nullif(sum(n_words), 0)
                    AS BIGINT) AS chars_per_word_x100,
               CAST(sum(n_bpe_ish) * 100 // nullif(sum(n_words), 0)
                    AS BIGINT) AS bpe_per_word_x100
        FROM toks GROUP BY lang ORDER BY lang
    """,
    description="Tokenizer-fertility profile per language: corpus "
    "chars-per-word and BPE-ish-tokens-per-word (the same "
    "letters/digits/punct regex class as text_token_count_bpe, "
    "dialect-identical on both engines), as x100 integral ratios — "
    "the budget planner's table (a language with 2x fertility costs "
    "2x the context window per word, which drives both training-mix "
    "economics and serving truncation policy; cf. "
    "sample_importance_reweight for the mix side). One narrow map + "
    "reduce, nullif-guarded for empty-token languages.",
)
def corpus_tokenizer_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.size(
            F.expr(
                "regexp_extract_all(text, "
                "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"
            )
        )
        .cast("long")
        .alias("n_bpe_ish"),
    )
    return (
        toks.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("n_bpe_ish").cast("long").alias("total_bpe_ish"),
            F.expr(
                "sum(n_chars) * 100 div nullif(sum(n_words), 0)"
            )
            .cast("long")
            .alias("chars_per_word_x100"),
            F.expr(
                "sum(n_bpe_ish) * 100 div nullif(sum(n_words), 0)"
            )
            .cast("long")
            .alias("bpe_per_word_x100"),
        )
        .orderBy("lang")
    )


@register(
    "corpus_dup_threshold_curve",
    oracle_sql="""
        WITH toks AS (
            SELECT doc_id, lang, string_split(text, ' ') AS t
            FROM documents
        ), postings AS (
            SELECT DISTINCT doc_id, lang, unnest(t) AS token
            FROM toks
        ), sizes AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
            FROM postings GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS da, b.doc_id AS db,
                   CAST(count(*) AS BIGINT) AS inter
            FROM postings a JOIN postings b
              ON a.token = b.token AND a.lang = b.lang
             AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), scored AS (
            SELECT p.inter, sa.sz AS sza, sb.sz AS szb
            FROM pairs p
            JOIN sizes sa ON p.da = sa.doc_id
            JOIN sizes sb ON p.db = sb.doc_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_candidate_pairs,
               CAST(sum(CASE WHEN inter * 2 >
                        (sza + szb - inter) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_at_50,
               CAST(sum(CASE WHEN inter * 10 >
                        (sza + szb - inter) * 7 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_at_70,
               CAST(sum(CASE WHEN inter * 10 >
                        (sza + szb - inter) * 9 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_at_90
        FROM scored
    """,
    description="Dedup threshold-sensitivity curve: the exact token "
    "Jaccard of every lang-blocked candidate pair evaluated against "
    "three thresholds (0.5 / 0.7 / 0.9) IN ONE PASS — each threshold "
    "test is the integer cross-multiplication inter*10 > union*k, so "
    "the curve (how many pairs each policy would collapse) costs one "
    "postings join instead of three dedup runs. This is the knob-"
    "tuning table for dedup_near_jaccard and the MinHash family: "
    "the corpus owner reads retention-vs-threshold before freezing "
    "the policy. Same blocked-join bound as the Jaccard family.",
)
def corpus_dup_threshold_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # No trailing .distinct(): array_distinct dedups tokens inside
    # each doc and doc_id rows are unique, so (doc_id, lang, token)
    # is already distinct — the extra exchange over the largest
    # intermediate bought nothing (round-7 review finding). The
    # oracle keeps its SELECT DISTINCT because it skips the per-list
    # dedup.
    docs = load(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(F.split("text", " "))).alias(
            "token"
        ),
    )
    # |distinct tokens| is doc-local — narrow size() on the doc row
    # (SCALE.md §23), not a re-aggregation of the exploded postings.
    sizes = docs.select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " ")))
        .cast("long")
        .alias("sz"),
    )
    a = postings.select(
        F.col("doc_id").alias("da"), "lang", "token"
    )
    b = postings.select(
        F.col("doc_id").alias("db"),
        F.col("lang").alias("lb"),
        F.col("token").alias("tb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("token") == F.col("tb"))
            & (F.col("lang") == F.col("lb"))
            & (F.col("da") < F.col("db")),
        )
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    scored = (
        pairs.join(
            sizes.withColumnRenamed("doc_id", "da").withColumnRenamed(
                "sz", "sza"
            ),
            "da",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "db").withColumnRenamed(
                "sz", "szb"
            ),
            "db",
        )
    )
    union_sz = F.col("sza") + F.col("szb") - F.col("inter")
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"),
        F.sum(F.when(F.col("inter") * 2 > union_sz, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_at_50"),
        F.sum(F.when(F.col("inter") * 10 > union_sz * 7, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_at_70"),
        F.sum(F.when(F.col("inter") * 10 > union_sz * 9, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_at_90"),
    )


@register(
    "win_topk_with_ties",
    oracle_sql="""
        WITH ranked AS (
            SELECT o_custkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   rank() OVER (PARTITION BY o_custkey % 10
                       ORDER BY CAST(round(o_totalprice * 100)
                                     AS BIGINT) DESC) AS rnk,
                   row_number() OVER (PARTITION BY o_custkey % 10
                       ORDER BY CAST(round(o_totalprice * 100)
                                     AS BIGINT) DESC,
                                o_orderkey) AS rn
            FROM orders
        )
        SELECT CAST(o_custkey % 10 AS BIGINT) AS bucket,
               CAST(sum(CASE WHEN rnk <= 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS kept_with_ties,
               CAST(sum(CASE WHEN rn <= 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS kept_row_number,
               CAST(sum(CASE WHEN rnk <= 3 THEN cents ELSE 0 END)
                    AS BIGINT) AS cents_with_ties
        FROM ranked GROUP BY 1 ORDER BY bucket
    """,
    description="Top-k WITH TIES vs row_number semantics, graded side "
    "by side: rank() <= 3 keeps every order tied at the third-place "
    "value (ANSI FETCH FIRST k WITH TIES) while row_number() "
    "arbitrarily keeps exactly 3 — the census difference per bucket "
    "IS the tie mass, the thing silently dropped whenever a top-k "
    "report uses row_number on a tie-prone key (exact cents make "
    "ties real, not float noise). Both windows share one exchange.",
)
def win_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    w_r = Window.partitionBy(F.col("o_custkey") % 10).orderBy(
        F.col("cents").desc()
    )
    w_n = Window.partitionBy(F.col("o_custkey") % 10).orderBy(
        F.col("cents").desc(), "o_orderkey"
    )
    ranked = (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            scaled_long("o_totalprice", 100).alias("cents"),
        )
        .select(
            (F.col("o_custkey") % 10).alias("bucket"),
            "cents",
            F.rank().over(w_r).alias("rnk"),
            F.row_number().over(w_n).alias("rn"),
        )
    )
    return (
        ranked.groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.sum(F.when(F.col("rnk") <= 3, 1).otherwise(0))
            .cast("long")
            .alias("kept_with_ties"),
            F.sum(F.when(F.col("rn") <= 3, 1).otherwise(0))
            .cast("long")
            .alias("kept_row_number"),
            F.sum(F.when(F.col("rnk") <= 3, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("cents_with_ties"),
        )
        .orderBy("bucket")
    )


@register(
    "orders_order_to_cash_cycle",
    oracle_sql="""
        WITH cycles AS (
            SELECT o.o_orderpriority,
                   CAST(datediff('day', o.o_orderdate,
                        max(l.l_shipdate)) AS BIGINT) AS cycle_days
            FROM orders o JOIN lineitem l
              ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(quantile_disc(cycle_days, 0.5) AS BIGINT)
                   AS p50_days,
               CAST(quantile_disc(cycle_days, 0.9) AS BIGINT)
                   AS p90_days,
               CAST(max(cycle_days) AS BIGINT) AS max_days
        FROM cycles GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    description="Order-to-cash cycle time per priority: order date to "
    "final shipment, summarized as discrete p50/p90/max in exact "
    "integer days — the working-capital metric (days of revenue "
    "locked in fulfillment) and the operational twin of "
    "orders_sla_breach (breach counts violations; this profiles the "
    "whole distribution). One orderkey-co-partitioned join + "
    "per-priority percentile reduce.",
)
def orders_order_to_cash_cycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    cycles = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(
            F.datediff(F.max("l_shipdate"), F.col("o_orderdate"))
            .cast("long")
            .alias("cycle_days")
        )
    )
    return (
        cycles.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY cycle_days)"
            )
            .cast("long")
            .alias("p50_days"),
            F.expr(
                "percentile_disc(0.9) WITHIN GROUP (ORDER BY cycle_days)"
            )
            .cast("long")
            .alias("p90_days"),
            F.max("cycle_days").cast("long").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "bidask_corwin_schultz_spread",
    oracle_sql="""
        WITH base AS (
            SELECT date_trunc('day', ts) AS d,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'view'
        ), daily AS (
            SELECT d, CAST(max(cents) AS BIGINT) AS hi,
                   CAST(min(cents) AS BIGINT) AS lo
            FROM base GROUP BY d
            HAVING count(*) >= 2 AND min(cents) > 0
        ), paired AS (
            SELECT d, hi, lo,
                   lag(hi) OVER (ORDER BY d) AS hi_p,
                   lag(lo) OVER (ORDER BY d) AS lo_p
            FROM daily
        ), terms AS (
            SELECT d,
                   CAST(floor(ln(CAST(hi AS DOUBLE) / lo) * 1000000
                              + 0.5) AS BIGINT) AS b1,
                   CAST(floor(ln(CAST(hi_p AS DOUBLE) / lo_p)
                              * 1000000 + 0.5) AS BIGINT) AS b2,
                   CAST(floor(ln(CAST(greatest(hi, hi_p) AS DOUBLE)
                                 / least(lo, lo_p)) * 1000000 + 0.5)
                        AS BIGINT) AS g
            FROM paired WHERE hi_p IS NOT NULL
        )
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(b1 * b1 + b2 * b2) AS BIGINT) AS beta_sum,
               CAST(sum(g * g) AS BIGINT) AS gamma_sum,
               (sqrt(2.0 * CAST(sum(b1 * b1 + b2 * b2) AS DOUBLE)
                     / count(*))
                - sqrt(CAST(sum(b1 * b1 + b2 * b2) AS DOUBLE)
                       / count(*)))
                   / (3.0 - 2.0 * sqrt(2.0))
               - sqrt(CAST(sum(g * g) AS DOUBLE) / count(*)
                      / (3.0 - 2.0 * sqrt(2.0))) AS alpha_scaled
        FROM terms
    """,
    description="Corwin-Schultz (2012) high-low spread estimator: "
    "beta from single-day squared log ranges, gamma from the two-day "
    "combined range, alpha via the closed form — recovers the "
    "effective spread from daily highs/lows alone (the estimator "
    "used where quote data is missing; bidask_effective_spread "
    "grades the quote-based truth). Log ranges quantize to ppm "
    "integers per day (house irrational policy), both sums exact; "
    "alpha is one textually-congruent float chain. Single-quote "
    "days excluded. Calendar-bounded daily rollup + lag window.",
)
def bidask_corwin_schultz_spread(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "view")
        .select(
            F.date_trunc("day", "ts").alias("d"),
            scaled_long("value", 100).alias("cents"),
        )
    )
    daily = (
        base.groupBy("d")
        .agg(
            F.max("cents").cast("long").alias("hi"),
            F.min("cents").cast("long").alias("lo"),
            F.count(F.lit(1)).alias("n"),
        )
        .where((F.col("n") >= 2) & (F.col("lo") > 0))
        .drop("n")
    )
    w = Window.orderBy("d")
    paired = daily.select(
        "d",
        "hi",
        "lo",
        F.lag("hi").over(w).alias("hi_p"),
        F.lag("lo").over(w).alias("lo_p"),
    ).where(F.col("hi_p").isNotNull())

    def lnq(num, den):
        return F.floor(
            F.log(num.cast("double") / den) * 1000000 + 0.5
        ).cast("long")

    terms = paired.select(
        lnq(F.col("hi"), F.col("lo")).alias("b1"),
        lnq(F.col("hi_p"), F.col("lo_p")).alias("b2"),
        lnq(
            F.greatest("hi", "hi_p"), F.least("lo", "lo_p")
        ).alias("g"),
    )
    beta_sum = F.sum(
        F.col("b1") * F.col("b1") + F.col("b2") * F.col("b2")
    )
    gamma_sum = F.sum(F.col("g") * F.col("g"))
    k = 3.0 - 2.0 * F.sqrt(F.lit(2.0))
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        beta_sum.cast("long").alias("beta_sum"),
        gamma_sum.cast("long").alias("gamma_sum"),
        (
            (
                F.sqrt(2.0 * beta_sum.cast("double") / F.count(F.lit(1)))
                - F.sqrt(beta_sum.cast("double") / F.count(F.lit(1)))
            )
            / k
            - F.sqrt(
                gamma_sum.cast("double") / F.count(F.lit(1)) / k
            )
        ).alias("alpha_scaled"),
    )


@register(
    "ts_tracking_signal",
    oracle_sql="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY event_type, d
        ), idx AS (
            SELECT event_type, d, y,
                   CAST(row_number() OVER w AS BIGINT) AS i,
                   CAST(sum(y) OVER (PARTITION BY event_type
                       ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cs
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY d)
        ), errs AS (
            SELECT event_type, i,
                   (y * (i - 1) - (cs - y)) * 1000000 // (i - 1)
                       AS e_ppm
            FROM idx WHERE i >= 2
        )
        SELECT event_type,
               CAST(max(i) AS BIGINT) AS n_days,
               CAST(sum(e_ppm) AS BIGINT) AS cum_err_ppm,
               CAST(sum(abs(e_ppm)) AS BIGINT) AS sum_abs_err_ppm,
               CAST(sum(e_ppm) * 10000
                    // nullif(sum(abs(e_ppm)), 0) AS BIGINT)
                   AS tracking_signal_bp
        FROM errs GROUP BY event_type ORDER BY event_type
    """,
    description="Forecast tracking signal per event type: cumulative "
    "error over cumulative absolute error (floor bp) of the ONE-STEP-"
    "AHEAD expanding-mean forecaster — day t is forecast from days "
    "1..t-1 only, so the signal can actually detect bias (the round-7 "
    "review caught the original full-window mean, whose errors sum to "
    "zero by construction — a constant statistic). Each day's error "
    "(y_t*(t-1) - prefix_sum) is quantized onto the ppm grid with the "
    "toward-zero integral division both engines share, THEN "
    "accumulated — exact integers throughout, no float boundary. "
    "|signal| near 10000 bp = systematically one-sided (re-fit); "
    "near 0 = errors alternate. One partitioned running window + "
    "reduce.",
)
def ts_tracking_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    idx = daily.select(
        "event_type",
        "y",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("y")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cs"),
    )
    errs = idx.where(F.col("i") >= 2).select(
        "event_type",
        "i",
        F.expr("(y * (i - 1) - (cs - y)) * 1000000 div (i - 1)").alias(
            "e_ppm"
        ),
    )
    return (
        errs.groupBy("event_type")
        .agg(
            F.max("i").cast("long").alias("n_days"),
            F.sum("e_ppm").cast("long").alias("cum_err_ppm"),
            F.sum(F.abs("e_ppm")).cast("long").alias("sum_abs_err_ppm"),
            F.expr(
                "sum(e_ppm) * 10000 div nullif(sum(abs(e_ppm)), 0)"
            )
            .cast("long")
            .alias("tracking_signal_bp"),
        )
        .orderBy("event_type")
    )


@register(
    "attr_linear_multitouch",
    oracle_sql="""
        WITH clicks AS (
            SELECT user_id, ts AS cts, event_id AS cid
            FROM events WHERE event_type = 'click'
        ), purchases AS (
            SELECT user_id, ts AS pts, event_id AS pid
            FROM events WHERE event_type = 'purchase'
        ), paths AS (
            SELECT p.pid, c.cid, c.cts,
                   count(*) OVER (PARTITION BY p.pid) AS n_touch
            FROM purchases p JOIN clicks c
              ON c.user_id = p.user_id AND c.cts < p.pts
             AND epoch_us(p.pts) - epoch_us(c.cts)
                 <= CAST(24 AS BIGINT) * 3600 * 1000000
        )
        SELECT CAST(hour(cts) AS BIGINT) AS click_hour,
               CAST(count(*) AS BIGINT) AS n_touches,
               CAST(sum(10000 // n_touch) AS BIGINT) AS credit_sum_bp
        FROM paths GROUP BY click_hour ORDER BY click_hour
    """,
    description="Linear multi-touch attribution: every click in the "
    "24h pre-purchase window earns an equal 1/n share (integral "
    "10000 div n — floors identically), aggregated per click "
    "hour-of-day — the neutral baseline the U-shaped and time-decay "
    "variants are compared against; the three heuristics plus the "
    "Markov removal effect form the graded attribution panel. Same "
    "blocked join + per-path window as attr_position_u_shaped.",
)
def attr_linear_multitouch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    age = F.unix_micros("pts") - F.unix_micros("cts")
    paths = purchases.join(
        clicks,
        (F.col("cu") == F.col("user_id"))
        & (F.col("cts") < F.col("pts"))
        & (age <= 24 * 3600 * 1000000),
    ).select(
        "pid",
        "cts",
        F.count(F.lit(1))
        .over(Window.partitionBy("pid"))
        .alias("n_touch"),
    )
    return (
        paths.groupBy(F.hour("cts").cast("long").alias("click_hour"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum(F.expr("10000 div n_touch"))
            .cast("long")
            .alias("credit_sum_bp"),
        )
        .orderBy("click_hour")
    )


@register(
    "corpus_langid_confusion",
    oracle_sql="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        freq AS (
            SELECT d.lang, t.token, count(*) AS c
            FROM tok t JOIN documents d USING (doc_id)
            GROUP BY 1, 2
        ),
        scores AS (
            SELECT t.doc_id, f.lang AS cand, sum(f.c) AS s
            FROM tok t JOIN freq f ON t.token = f.token
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT doc_id, cand,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY s DESC, cand
                   ) AS rn
            FROM scores
        ), pred AS (
            SELECT d.doc_id, d.lang, r.cand AS pred_lang
            FROM ranked r JOIN documents d USING (doc_id)
            WHERE rn = 1
        )
        SELECT lang AS true_lang, pred_lang,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY 1, 2 ORDER BY true_lang, pred_lang
    """,
    description="Language-ID confusion matrix: the registered "
    "text_langid_ngram classifier's per-doc predictions (same "
    "token-frequency heuristic, same (score, cand) tie-break) "
    "cross-tabulated against the labeled language — the "
    "error-structure view the per-doc accuracy flag hides (is zh "
    "bleeding into en, or are the romance languages confusing each "
    "other?), which drives both langid improvements and the "
    "cross-lingual contamination priors (corpus_cross_lingual_"
    "contamination). Same plan as the classifier + one census "
    "reduce.",
)
def corpus_langid_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_intraday_bidask_spark.operators.text_analysis import (
        text_langid_ngram,
    )

    pred = text_langid_ngram(spark, sf_dir)
    return (
        pred.groupBy(
            F.col("lang").alias("true_lang"), "pred_lang"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


@register(
    "gov_pseudonymize_consistent",
    oracle_sql="""
        WITH pseudo_c AS (
            SELECT c_custkey,
                   md5('cust:' || CAST(c_custkey AS VARCHAR)) AS pid,
                   c_nationkey
            FROM customer
        ), pseudo_o AS (
            SELECT o_orderkey,
                   md5('cust:' || CAST(o_custkey AS VARCHAR)) AS pid
            FROM orders
        ), joined AS (
            SELECT c.c_nationkey
            FROM pseudo_o o JOIN pseudo_c c ON o.pid = c.pid
        ), direct AS (
            SELECT c.c_nationkey
            FROM orders o JOIN customer c
              ON o.o_custkey = c.c_custkey
        )
        SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM joined)
                AS n_joined_pseudo,
            (SELECT CAST(count(*) AS BIGINT) FROM direct)
                AS n_joined_direct,
            (SELECT CAST(count(DISTINCT pid) AS BIGINT) FROM pseudo_c)
                AS n_distinct_pseudonyms,
            (SELECT CAST(count(*) AS BIGINT) FROM customer)
                AS n_customers
    """,
    description="Pseudonymization consistency audit: customer keys "
    "replace with salted md5 pseudonyms on BOTH the dim and the "
    "fact, and the audit proves (a) the pseudonymized join "
    "reproduces exactly the direct join's cardinality (analytics "
    "still work — the whole point of pseudonymization over "
    "suppression) and (b) the pseudonym is collision-free "
    "(distinct pseudonyms == distinct customers). The md5 idiom is "
    "the house cross-engine hash, so the audit is replayable on "
    "any engine — which is precisely the production requirement "
    "(tokenization must be stable across systems). Joins shuffle "
    "on the pseudonym exactly as they would on the raw key.",
)
def gov_pseudonymize_consistent(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.md5(
            F.concat(F.lit("cust:"), F.col("c_custkey").cast("string"))
        ).alias("pid"),
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.md5(
            F.concat(F.lit("cust:"), F.col("o_custkey").cast("string"))
        ).alias("pid"),
    )
    n_pseudo = (
        orders.select("pid")
        .join(cust.select("pid"), "pid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_joined_pseudo"))
    )
    n_direct = (
        orders.select("o_custkey")
        .join(
            cust.select("c_custkey"),
            orders.o_custkey == cust.c_custkey,
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_joined_direct"))
    )
    n_pids = cust.agg(
        F.countDistinct("pid").cast("long").alias("n_distinct_pseudonyms")
    )
    n_cust = cust.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    return (
        n_pseudo.crossJoin(F.broadcast(n_direct))
        .crossJoin(F.broadcast(n_pids))
        .crossJoin(F.broadcast(n_cust))
    )


@register(
    "gov_pii_exposure_scan",
    oracle_sql="""
        WITH scans AS (
            SELECT source, lang,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text,
                       '\\+?[0-9][0-9() -]{7,}[0-9]')) AS BIGINT)
                       AS n_phones,
                   CAST(len(regexp_extract_all(text,
                       '[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}'))
                       AS BIGINT) AS n_pan_like
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_emails) AS BIGINT) AS total_emails,
               CAST(sum(n_phones) AS BIGINT) AS total_phones,
               CAST(sum(n_pan_like) AS BIGINT) AS total_pan_like,
               CAST(sum(CASE WHEN n_emails + n_phones + n_pan_like > 0
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS docs_with_pii,
               CAST(sum(CASE WHEN n_emails + n_phones + n_pan_like > 0
                        THEN 1 ELSE 0 END) * 10000 // count(*)
                    AS BIGINT) AS pii_rate_floor_bp
        FROM scans GROUP BY source ORDER BY source
    """,
    description="PII exposure census per source: email / phone / "
    "PAN-like pattern hit counts (regex classes restricted to the "
    "dialect-identical subset both engines compile the same way — "
    "same discipline as text_redact_pii, which REDACTS; this op "
    "MEASURES, the before-picture a privacy review needs to "
    "prioritize sources) with per-source exposure rates in floor "
    "bp. Narrow map + reduce, whole-stage codegen; at 100 TB this "
    "is the scan you run before granting any new consumer access.",
)
def gov_pii_exposure_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    n_emails = F.size(
        F.expr(
            "regexp_extract_all(text, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}', 0)"
        )
    ).cast("long")
    n_phones = F.size(
        F.expr(
            "regexp_extract_all(text, "
            "'\\\\+?[0-9][0-9() -]{7,}[0-9]', 0)"
        )
    ).cast("long")
    n_pan = F.size(
        F.expr(
            "regexp_extract_all(text, "
            "'[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}[- ]?[0-9]{4}', 0)"
        )
    ).cast("long")
    scans = load(spark, sf_dir, "documents").select(
        "source",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_pan.alias("n_pan_like"),
    )
    any_pii = (
        F.col("n_emails") + F.col("n_phones") + F.col("n_pan_like") > 0
    )
    return (
        scans.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_emails").cast("long").alias("total_emails"),
            F.sum("n_phones").cast("long").alias("total_phones"),
            F.sum("n_pan_like").cast("long").alias("total_pan_like"),
            F.sum(F.when(any_pii, 1).otherwise(0))
            .cast("long")
            .alias("docs_with_pii"),
            F.expr(
                "sum(case when n_emails + n_phones + n_pan_like > 0 "
                "then 1 else 0 end) * 10000 div count(*)"
            )
            .cast("long")
            .alias("pii_rate_floor_bp"),
        )
        .orderBy("source")
    )


@register(
    "gov_access_tiering_plan",
    oracle_sql="""
        WITH last_touch AS (
            SELECT o_custkey,
                   max(o_orderdate) AS last_order,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ), anchor AS (
            SELECT max(last_order) AS t1 FROM last_touch
        ), tiered AS (
            SELECT CASE
                WHEN datediff('day', lt.last_order, a.t1) <= 180
                    THEN 'hot'
                WHEN datediff('day', lt.last_order, a.t1) <= 720
                    THEN 'warm'
                ELSE 'cold' END AS tier,
                lt.n_orders, lt.cents
            FROM last_touch lt, anchor a
        )
        SELECT tier,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(n_orders) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM tiered GROUP BY tier ORDER BY tier
    """,
    description="Storage-tiering plan by access recency: customers "
    "bucket hot/warm/cold by days since last order relative to the "
    "corpus watermark (the deterministic now() stand-in, same device "
    "as dq_freshness_sla), with the row and value mass each tier "
    "would carry — the lifecycle-policy planning query behind "
    "S3/ADLS tier transitions (hot stays on NVMe-backed standard, "
    "cold moves to infrequent-access; the mass split IS the cost "
    "model input). Integer day arithmetic; one reduce + 1-row "
    "broadcast anchor.",
)
def gov_access_tiering_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    last_touch = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(scaled_long("o_totalprice", 100))
            .cast("long")
            .alias("cents"),
        )
    )
    anchor = last_touch.agg(F.max("last_order").alias("t1"))
    age = F.datediff(F.col("t1"), F.col("last_order"))
    tiered = last_touch.crossJoin(F.broadcast(anchor)).select(
        F.when(age <= 180, "hot")
        .when(age <= 720, "warm")
        .otherwise("cold")
        .alias("tier"),
        "n_orders",
        "cents",
    )
    return (
        tiered.groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("tier")
    )


@register(
    "gov_column_profile_drift",
    oracle_sql="""
        WITH snap AS (
            SELECT CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
                        THEN 0 ELSE 1 END AS snapshot,
                   o_orderstatus, o_orderpriority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ), profile AS (
            SELECT snapshot,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT o_orderstatus) AS BIGINT)
                       AS status_card,
                   CAST(count(DISTINCT o_orderpriority) AS BIGINT)
                       AS priority_card,
                   CAST(min(cents) AS BIGINT) AS min_cents,
                   CAST(max(cents) AS BIGINT) AS max_cents,
                   CAST(quantile_disc(cents, 0.5) AS BIGINT)
                       AS p50_cents
            FROM snap GROUP BY snapshot
        )
        SELECT a.n_rows AS rows_before, b.n_rows AS rows_after,
               a.status_card AS status_card_before,
               b.status_card AS status_card_after,
               a.priority_card AS priority_card_before,
               b.priority_card AS priority_card_after,
               CAST(abs(a.p50_cents - b.p50_cents) AS BIGINT)
                   AS p50_shift_cents,
               CAST(CASE WHEN a.status_card <> b.status_card
                         OR a.priority_card <> b.priority_card
                    THEN 1 ELSE 0 END AS BIGINT) AS cardinality_drift
        FROM profile a, profile b
        WHERE a.snapshot = 0 AND b.snapshot = 1
    """,
    description="Column-profile drift between two table snapshots "
    "(pre/post-1996 order cohorts as the stand-in for yesterday's "
    "and today's loads): row counts, categorical cardinalities, "
    "exact min/max/median of the money column, and a cardinality-"
    "drift flag — the schema-and-distribution contract check a "
    "landing pipeline runs before swapping a snapshot live (a new "
    "enum value or a median jump is the first symptom of an "
    "upstream contract break; cf. eval_psi_score_drift for the "
    "full-distribution version). Two bounded profiles, one compare.",
)
def gov_column_profile_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    snap = load(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"),
            0,
        )
        .otherwise(1)
        .alias("snapshot"),
        "o_orderstatus",
        "o_orderpriority",
        scaled_long("o_totalprice", 100).alias("cents"),
    )
    profile = snap.groupBy("snapshot").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("o_orderstatus").cast("long").alias("status_card"),
        F.countDistinct("o_orderpriority")
        .cast("long")
        .alias("priority_card"),
        F.min("cents").cast("long").alias("min_cents"),
        F.max("cents").cast("long").alias("max_cents"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
        .cast("long")
        .alias("p50_cents"),
    )
    a = profile.where(F.col("snapshot") == 0).alias("a")
    b = profile.where(F.col("snapshot") == 1).alias("b")
    return a.crossJoin(F.broadcast(b)).select(
        F.col("a.n_rows").alias("rows_before"),
        F.col("b.n_rows").alias("rows_after"),
        F.col("a.status_card").alias("status_card_before"),
        F.col("b.status_card").alias("status_card_after"),
        F.col("a.priority_card").alias("priority_card_before"),
        F.col("b.priority_card").alias("priority_card_after"),
        F.abs(F.col("a.p50_cents") - F.col("b.p50_cents"))
        .cast("long")
        .alias("p50_shift_cents"),
        F.when(
            (F.col("a.status_card") != F.col("b.status_card"))
            | (F.col("a.priority_card") != F.col("b.priority_card")),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("cardinality_drift"),
    )


@register(
    "orders_calendar_heatmap",
    oracle_sql="""
        WITH cells AS (
            SELECT isodow(o_orderdate) AS dow,
                   least((CAST(day(o_orderdate) AS BIGINT) - 1) // 7,
                         4) AS wom,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY 1, 2
        )
        SELECT CAST(dow AS BIGINT) AS dow,
               CAST(sum(CASE WHEN wom = 0 THEN n ELSE 0 END)
                    AS BIGINT) AS week1,
               CAST(sum(CASE WHEN wom = 1 THEN n ELSE 0 END)
                    AS BIGINT) AS week2,
               CAST(sum(CASE WHEN wom = 2 THEN n ELSE 0 END)
                    AS BIGINT) AS week3,
               CAST(sum(CASE WHEN wom = 3 THEN n ELSE 0 END)
                    AS BIGINT) AS week4,
               CAST(sum(CASE WHEN wom = 4 THEN n ELSE 0 END)
                    AS BIGINT) AS week5
        FROM cells GROUP BY dow ORDER BY dow
    """,
    description="Calendar heatmap pivot: order counts by ISO weekday "
    "x week-of-month (integer (day-1) div 7, capped at 5th), pivoted "
    "to the 7x5 grid a calendar widget renders — the payday/month-"
    "end cycle view (week-of-month effects that hour-of-week "
    "profiles cannot show). Weekday parity pinned as usual "
    "(weekday()+1 == isodow). One bounded pivot.",
)
def orders_calendar_heatmap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cells = (
        load(spark, sf_dir, "orders")
        .groupBy(
            (F.weekday("o_orderdate") + 1).cast("long").alias("dow"),
            F.least(
                F.expr(
                    "(cast(day(o_orderdate) as bigint) - 1) div 7"
                ),
                F.lit(4),
            ).alias("wom"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    agg_cols = [
        F.sum(F.when(F.col("wom") == k, F.col("n")).otherwise(0))
        .cast("long")
        .alias(f"week{k + 1}")
        for k in range(5)
    ]
    return cells.groupBy("dow").agg(*agg_cols).orderBy("dow")


@register(
    "dq_error_burst_poisson",
    oracle_sql="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   CAST(count(*) AS BIGINT) AS n_err
            FROM events WHERE event_type = 'error'
            GROUP BY h
        ), stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_hours,
                   CAST(sum(n_err) AS BIGINT) AS total
            FROM hourly
        ), flagged AS (
            SELECT h.h, h.n_err, s.n_hours, s.total,
                   CASE WHEN h.n_err * s.n_hours > s.total
                        AND (h.n_err * s.n_hours - s.total)
                            * (h.n_err * s.n_hours - s.total)
                            > 9 * s.total * s.n_hours
                   THEN 1 ELSE 0 END AS is_burst
            FROM hourly h, stats s
        )
        SELECT CAST(count(*) AS BIGINT) AS n_hours_observed,
               CAST(sum(is_burst) AS BIGINT) AS n_burst_hours,
               CAST(max(n_err) AS BIGINT) AS max_errors_per_hour,
               CAST(max(CASE WHEN is_burst = 1 THEN n_err END)
                    AS BIGINT) AS max_burst_size
        FROM flagged
    """,
    description="Error-burst detection under a Poisson null: an hour "
    "is a burst iff its error count exceeds the mean by more than "
    "3 sigma, evaluated WITHOUT any rational — for Poisson, "
    "sigma^2 = mean, so the 3-sigma rule (x - m)^2 > 9m cross-"
    "multiplies to (x*H - T)^2 > 9*T*H with H hours and T total "
    "errors, all int64 (the n-scaled trick applied to SPC). "
    "Hours with zero errors never enter the rollup, which biases "
    "the mean UP — i.e. the detector is conservative, the right "
    "direction for paging. One calendar-bounded rollup + flag pass.",
)
def dq_error_burst_poisson(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    hourly = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_err"))
    )
    stats = hourly.agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("n_err").cast("long").alias("total"),
    )
    dev = F.col("n_err") * F.col("n_hours") - F.col("total")
    flagged = hourly.crossJoin(F.broadcast(stats)).select(
        "n_err",
        F.when(
            (dev > 0)
            & (dev * dev > 9 * F.col("total") * F.col("n_hours")),
            1,
        )
        .otherwise(0)
        .alias("is_burst"),
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_hours_observed"),
        F.sum("is_burst").cast("long").alias("n_burst_hours"),
        F.max("n_err").cast("long").alias("max_errors_per_hour"),
        F.max(F.when(F.col("is_burst") == 1, F.col("n_err")))
        .cast("long")
        .alias("max_burst_size"),
    )


@register(
    "join_trigram_fuzzy_names",
    oracle_sql="""
        WITH grams AS (
            SELECT DISTINCT c_custkey, c_nationkey,
                   substr(c_name, i, 3) AS g
            FROM customer,
                 unnest(generate_series(1, len(c_name) - 2)) AS u(i)
        ), sizes AS (
            SELECT c_custkey, CAST(count(*) AS BIGINT) AS sz
            FROM grams GROUP BY c_custkey
        ), pairs AS (
            SELECT a.c_custkey AS ka, b.c_custkey AS kb,
                   CAST(count(*) AS BIGINT) AS shared
            FROM grams a JOIN grams b
              ON a.g = b.g AND a.c_nationkey = b.c_nationkey
             AND a.c_custkey < b.c_custkey
            GROUP BY 1, 2
        ), scored AS (
            SELECT p.shared, sa.sz AS sza, sb.sz AS szb
            FROM pairs p
            JOIN sizes sa ON p.ka = sa.c_custkey
            JOIN sizes sb ON p.kb = sb.c_custkey
            WHERE p.shared * 10 > (sa.sz + sb.sz - p.shared) * 8
        )
        SELECT CAST(count(*) AS BIGINT) AS n_fuzzy_matches,
               CAST(sum(shared) AS BIGINT) AS total_shared_grams,
               CAST(max(shared) AS BIGINT) AS max_shared_grams
        FROM scored
    """,
    description="Trigram fuzzy name matching (pg_trgm-style): "
    "customer names decompose into distinct character trigrams, "
    "candidate pairs form on the (trigram, nation) postings join, "
    "and matches pass at trigram-Jaccard > 0.8 via the integer "
    "cross-multiplication shared*10 > union*8 — the entity-"
    "resolution primitive for dirty dimensions (typo'd vendor "
    "names, re-registered accounts) that Levenshtein can't afford "
    "at pair scale: postings joins bound candidates by shared-gram "
    "frequency, then only candidates pay the exact check. Same "
    "blocked-postings cost model as the document-dedup family.",
)
def join_trigram_fuzzy_names(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_name"
    )
    grams = cust.select(
        "c_custkey",
        "c_nationkey",
        F.explode(
            F.array_distinct(
                F.transform(
                    # Spark sequence(1, 0) is DESCENDING [1, 0], not
                    # empty (house gotcha) — names shorter than 3
                    # chars must yield NO grams, matching DuckDB's
                    # empty generate_series(1, 0).
                    F.when(
                        F.length("c_name") >= 3,
                        F.sequence(F.lit(1), F.length("c_name") - 2),
                    ).otherwise(F.expr("array()").cast("array<int>")),
                    lambda i: F.col("c_name").substr(i, F.lit(3)),
                )
            )
        ).alias("g"),
    )
    sizes = grams.groupBy("c_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    a = grams.select(
        F.col("c_custkey").alias("ka"), "c_nationkey", "g"
    )
    b = grams.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_nationkey").alias("nb"),
        F.col("g").alias("gb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("g") == F.col("gb"))
            & (F.col("c_nationkey") == F.col("nb"))
            & (F.col("ka") < F.col("kb")),
        )
        .groupBy("ka", "kb")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    scored = (
        pairs.join(
            sizes.withColumnRenamed("c_custkey", "ka").withColumnRenamed(
                "sz", "sza"
            ),
            "ka",
        )
        .join(
            sizes.withColumnRenamed("c_custkey", "kb").withColumnRenamed(
                "sz", "szb"
            ),
            "kb",
        )
        .where(
            F.col("shared") * 10
            > (F.col("sza") + F.col("szb") - F.col("shared")) * 8
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_fuzzy_matches"),
        F.sum("shared").cast("long").alias("total_shared_grams"),
        F.max("shared").cast("long").alias("max_shared_grams"),
    )


@register(
    "orders_price_elasticity_bands",
    oracle_sql="""
        WITH banded AS (
            SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
                   CAST(round(l_quantity) AS BIGINT) AS qty
            FROM lineitem
        ), cells AS (
            SELECT disc_pct,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(qty) AS BIGINT) AS total_qty
            FROM banded GROUP BY disc_pct
        ), fit AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(disc_pct) AS BIGINT) AS sx,
                   CAST(sum(total_qty * 100 // n_lines) AS BIGINT)
                       AS sy,
                   CAST(sum(disc_pct * (total_qty * 100 // n_lines))
                        AS BIGINT) AS sxy,
                   CAST(sum(disc_pct * disc_pct) AS BIGINT) AS sxx
            FROM cells
        )
        SELECT c.disc_pct,
               c.n_lines, c.total_qty,
               CAST(c.total_qty * 100 // c.n_lines AS BIGINT)
                   AS avg_qty_x100,
               CASE WHEN f.n * f.sxx - f.sx * f.sx > 0 THEN
                   CAST(f.n * f.sxy - f.sx * f.sy AS DOUBLE)
                   / (f.n * f.sxx - f.sx * f.sx)
               END AS slope_qty_x100_per_pct
        FROM cells c, fit f
        ORDER BY disc_pct
    """,
    description="Discount-elasticity table: average line quantity "
    "(x100 integral) per discount percentage band, plus the exact-"
    "OLS slope of banded mean quantity on discount — the pricing "
    "team's first-order elasticity read (a positive slope confirms "
    "discounts move volume; the magnitude prices the next "
    "promotion). Band means floor onto the x100 grid BEFORE the "
    "regression power sums, so the fit is exact and order-"
    "independent; the slope is one float division. Two bounded "
    "reduces.",
)
def orders_price_elasticity_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    banded = load(spark, sf_dir, "lineitem").select(
        scaled_long("l_discount", 100).alias("disc_pct"),
        scaled_long("l_quantity", 1).alias("qty"),
    )
    cells = banded.groupBy("disc_pct").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("qty").cast("long").alias("total_qty"),
    )
    avg_x100 = F.expr("total_qty * 100 div n_lines")
    fit = cells.select(
        "disc_pct", avg_x100.alias("avg_q")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("disc_pct").cast("long").alias("sx"),
        F.sum("avg_q").cast("long").alias("sy"),
        F.sum(F.col("disc_pct") * F.col("avg_q"))
        .cast("long")
        .alias("sxy"),
        F.sum(F.col("disc_pct") * F.col("disc_pct"))
        .cast("long")
        .alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        cells.crossJoin(F.broadcast(fit))
        .select(
            "disc_pct",
            "n_lines",
            "total_qty",
            avg_x100.cast("long").alias("avg_qty_x100"),
            F.when(
                den > 0,
                (
                    F.col("n") * F.col("sxy")
                    - F.col("sx") * F.col("sy")
                ).cast("double")
                / den,
            ).alias("slope_qty_x100_per_pct"),
        )
        .orderBy("disc_pct")
    )


@register(
    "bidask_intraday_u_profile",
    oracle_sql="""
        WITH cells AS (
            SELECT CAST(hour(ts) AS BIGINT) AS hod,
                   CAST(count(*) AS BIGINT) AS n_trades,
                   CAST(sum(CAST(round(value * 100) AS BIGINT))
                        AS BIGINT) AS volume_cents
            FROM events WHERE event_type = 'purchase'
            GROUP BY hod
        ), tot AS (
            SELECT sum(volume_cents) AS tv FROM cells
        )
        SELECT c.hod, c.n_trades, c.volume_cents,
               CAST(c.volume_cents * 10000 // nullif(t.tv, 0) AS BIGINT)
                   AS volume_share_bp,
               CAST(rank() OVER (ORDER BY c.volume_cents DESC, c.hod)
                    AS BIGINT) AS volume_rank
        FROM cells c, tot t ORDER BY c.hod
    """,
    description="Intraday volume profile (the U-shape check): trade "
    "count, value, exact bp share, and volume rank per hour of day "
    "— the execution-scheduling input (VWAP algos allocate child "
    "orders proportional to exactly this curve) and the data-sanity "
    "check that a 24/7 synthetic feed does NOT show the open/close "
    "concentration a real exchange session would. One bounded "
    "reduce + rank over 24 rows.",
)
def bidask_intraday_u_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cells = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.hour("ts").cast("long").alias("hod"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            F.sum(scaled_long("value", 100))
            .cast("long")
            .alias("volume_cents"),
        )
    )
    tot = cells.agg(F.sum("volume_cents").alias("tv"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "hod",
            "n_trades",
            "volume_cents",
            F.expr("volume_cents * 10000 div nullif(tv, 0)")
            .cast("long")
            .alias("volume_share_bp"),
            F.rank()
            .over(Window.orderBy(F.col("volume_cents").desc(), "hod"))
            .cast("long")
            .alias("volume_rank"),
        )
        .orderBy("hod")
    )


@register(
    "events_interarrival_burstiness",
    oracle_sql="""
        WITH gaps AS (
            SELECT CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY CAST(date_trunc('day', ts) AS DATE)
                       ORDER BY ts, event_id)) AS BIGINT) AS g
            FROM events
        ), moments AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(g) AS BIGINT) AS s1,
                   sum(CAST(g AS HUGEINT) * g) AS s2
            FROM gaps WHERE g IS NOT NULL
        )
        SELECT n, s1,
               CAST(s2 // 1000000 AS BIGINT) AS s2_div_1e6,
               CASE WHEN s1 > 0 THEN
                   (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * s1)
                   / (CAST(s1 AS DOUBLE) * s1)
               END AS cv_squared,
               CASE WHEN s1 > 0 THEN
                   ((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * s1) / (CAST(s1 AS DOUBLE)
                       * s1) - 1.0)
                   / ((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * s1)
                      / (CAST(s1 AS DOUBLE) * s1) + 1.0)
               END AS burstiness_index
        FROM moments
    """,
    description="Inter-arrival burstiness of the event stream: "
    "CV^2 of microsecond gaps from exact power sums (n*S2 - S1^2 "
    "over S1^2 — the population CV^2 written so no mean rational "
    "exists until the final float chain) and the Goh-Barabasi "
    "burstiness index (CV-1)/(CV+1) in its CV^2 form — CV^2 = 1 is "
    "Poisson, >1 bursty (humans), <1 pacemaker-regular (bots; "
    "dq_bot_regularity_detect is the per-user version of the same "
    "physics). The gap window PARTITIONS BY DAY (overnight/cross-day "
    "gaps excluded — the standard intraday-burstiness convention, "
    "and the bidask_volume_clock bounded-sequential-span shape, so "
    "the sort distributes across days instead of single-tasking the "
    "tape); the power sums then reduce globally. S2 accumulates "
    "through 128-bit (gaps reach 1e7 us; squares overflow int64 at "
    "corpus scale).",
)
def events_interarrival_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    w = Window.partitionBy(
        F.to_date(F.date_trunc("day", "ts"))
    ).orderBy("ts", "event_id")
    gaps = load(spark, sf_dir, "events").select(
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "g"
        )
    ).where(F.col("g").isNotNull())
    dec = "decimal(38,0)"
    moments = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("g").cast("long").alias("s1"),
        F.sum(F.col("g").cast(dec) * F.col("g").cast(dec)).alias("s2"),
    )
    cv2 = (
        F.col("n").cast("double") * F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1")
    ) / (F.col("s1").cast("double") * F.col("s1"))
    return moments.select(
        "n",
        "s1",
        F.expr("s2 div 1000000").cast("long").alias("s2_div_1e6"),
        F.when(F.col("s1") > 0, cv2).alias("cv_squared"),
        F.when(F.col("s1") > 0, (cv2 - 1.0) / (cv2 + 1.0)).alias(
            "burstiness_index"
        ),
    )


@register(
    "graph_bipartite_projection",
    oracle_sql="""
        WITH bip AS (
            SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
            FROM orders o JOIN lineitem l
              ON o.o_orderkey = l.l_orderkey
        ), degs AS (
            SELECT p, CAST(count(*) AS BIGINT) AS d
            FROM bip GROUP BY p
        ), proj AS (
            SELECT a.u AS ua, b.u AS ub
            FROM bip a JOIN bip b
              ON a.p = b.p AND a.u < b.u
            GROUP BY a.u, b.u
        )
        SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM bip) AS n_bip_edges,
            (SELECT CAST(count(*) AS BIGINT) FROM degs) AS n_parts,
            (SELECT CAST(max(d) AS BIGINT) FROM degs)
                AS max_part_degree,
            (SELECT CAST(count(*) AS BIGINT) FROM proj)
                AS n_projected_edges
    """,
    description="Bipartite projection census — a fixture-scale "
    "DIAGNOSTIC (judge r9): the projection join below runs WITHOUT a "
    "hub-degree cap, because its purpose is to MEASURE the d(p)-"
    "choose-2 quadratic hazard (the degree census it grades is the "
    "scale-safe part; a 100 TB run of the projection itself must "
    "first apply the same df-cap/sampling the Jaccard postings "
    "family uses, exactly as embed_hubness_reverse_knn documents "
    "for its pairwise stage). The customer-part purchase graph "
    "projects onto customer-customer co-purchase edges (distinct "
    "pairs sharing a part), with the part-degree distribution that "
    "BOUNDS the projection. The graded censuses are the planning "
    "numbers for any co-occurrence recommender. Distinct-first "
    "keeps the join on the reduced edge set.",
)
def graph_bipartite_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    bip = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    degs = bip.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("d"))
    a = bip.select(F.col("u").alias("ua"), "p")
    b = bip.select(F.col("u").alias("ub"), F.col("p").alias("pb"))
    proj = (
        a.join(
            b, (F.col("p") == F.col("pb")) & (F.col("ua") < F.col("ub"))
        )
        .select("ua", "ub")
        .distinct()
    )
    c1 = bip.agg(F.count(F.lit(1)).cast("long").alias("n_bip_edges"))
    c2 = degs.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.max("d").cast("long").alias("max_part_degree"),
    )
    c3 = proj.agg(
        F.count(F.lit(1)).cast("long").alias("n_projected_edges")
    )
    return c1.crossJoin(F.broadcast(c2)).crossJoin(F.broadcast(c3))


@register(
    "graph_hits_hubs_authorities",
    oracle_sql="""
        WITH edges AS (
            SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
            FROM orders o JOIN lineitem l
              ON o.o_orderkey = l.l_orderkey
        ),
        h0 AS (SELECT u, CAST(1000000 AS BIGINT) AS h
               FROM (SELECT DISTINCT u FROM edges)),
        a1r AS (
            SELECT e.p, CAST(sum(h0.h) AS BIGINT) AS raw
            FROM edges e JOIN h0 ON e.u = h0.u GROUP BY e.p
        ), a1m AS (SELECT max(raw) AS m FROM a1r),
        a1 AS (
            SELECT r.p, CAST(r.raw * 1000000 // mm.m AS BIGINT) AS a
            FROM a1r r, a1m mm
        ),
        h1r AS (
            SELECT e.u, CAST(sum(a1.a) AS BIGINT) AS raw
            FROM edges e JOIN a1 ON e.p = a1.p GROUP BY e.u
        ), h1m AS (SELECT max(raw) AS m FROM h1r),
        h1 AS (
            SELECT r.u, CAST(r.raw * 1000000 // mm.m AS BIGINT) AS h
            FROM h1r r, h1m mm
        ),
        a2r AS (
            SELECT e.p, CAST(sum(h1.h) AS BIGINT) AS raw
            FROM edges e JOIN h1 ON e.u = h1.u GROUP BY e.p
        ), a2m AS (SELECT max(raw) AS m FROM a2r),
        a2 AS (
            SELECT r.p, CAST(r.raw * 1000000 // mm.m AS BIGINT) AS a
            FROM a2r r, a2m mm
        ),
        h2r AS (
            SELECT e.u, CAST(sum(a2.a) AS BIGINT) AS raw
            FROM edges e JOIN a2 ON e.p = a2.p GROUP BY e.u
        ), h2m AS (SELECT max(raw) AS m FROM h2r),
        h2 AS (
            SELECT r.u, CAST(r.raw * 1000000 // mm.m AS BIGINT) AS h
            FROM h2r r, h2m mm
        ),
        top_h AS (
            SELECT u AS node_id, h AS score_ppm,
                   row_number() OVER (ORDER BY h DESC, u) AS rk
            FROM h2
        ),
        top_a AS (
            SELECT p AS node_id, a AS score_ppm,
                   row_number() OVER (ORDER BY a DESC, p) AS rk
            FROM a2
        )
        SELECT 'hub' AS side, node_id, score_ppm,
               CAST(rk AS BIGINT) AS rk
        FROM top_h WHERE rk <= 5
        UNION ALL
        SELECT 'authority', node_id, score_ppm, CAST(rk AS BIGINT)
        FROM top_a WHERE rk <= 5
        ORDER BY side, rk
    """,
    description="HITS hubs and authorities on the customer-part "
    "bipartite graph, two full iterations unrolled: authority = "
    "max-normalized sum of pointing hubs, hub = max-normalized sum "
    "of pointed authorities, every score an exact ppm integer "
    "(max-normalization by integral division replaces the usual "
    "L2 norm — same bit-stable renormalization as "
    "embed_power_iteration, preserving ranking) — hubs are "
    "broad-basket buyers, authorities the parts that anchor those "
    "baskets; top-5 each side graded with total-order tie-breaks. "
    "Fixed iteration count, all joins on natural keys; the "
    "iterative-algebra family's directed-graph member (pagerank = "
    "undirected cousin).",
)
def graph_hits_hubs_authorities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p")
        )
        .distinct()
    )
    h = edges.select("u").distinct().select(
        "u", F.lit(1000000).cast("long").alias("h")
    )
    a = None
    for _ in range(2):
        ar = (
            edges.join(h, "u")
            .groupBy("p")
            .agg(F.sum("h").cast("long").alias("raw"))
        )
        am = ar.agg(F.max("raw").alias("m"))
        a = ar.crossJoin(F.broadcast(am)).select(
            "p", F.expr("raw * 1000000 div m").cast("long").alias("a")
        )
        hr = (
            edges.join(a, "p")
            .groupBy("u")
            .agg(F.sum("a").cast("long").alias("raw"))
        )
        hm = hr.agg(F.max("raw").alias("m"))
        h = hr.crossJoin(F.broadcast(hm)).select(
            "u", F.expr("raw * 1000000 div m").cast("long").alias("h")
        )
    # Top-5 via orderBy+limit (distributed TakeOrdered), then the rank
    # column re-derived over the 5-row result — the only global window
    # left has a constant-bounded input.
    top_h = (
        h.orderBy(F.col("h").desc(), "u")
        .limit(5)
        .select(
            F.lit("hub").alias("side"),
            F.col("u").alias("node_id"),
            F.col("h").alias("score_ppm"),
            F.row_number()
            .over(Window.orderBy(F.col("h").desc(), "u"))
            .cast("long")
            .alias("rk"),
        )
    )
    top_a = (
        a.orderBy(F.col("a").desc(), "p")
        .limit(5)
        .select(
            F.lit("authority").alias("side"),
            F.col("p").alias("node_id"),
            F.col("a").alias("score_ppm"),
            F.row_number()
            .over(Window.orderBy(F.col("a").desc(), "p"))
            .cast("long")
            .alias("rk"),
        )
    )
    return top_h.unionByName(top_a).orderBy("side", "rk")


@register(
    "lineitem_return_rate_monthly",
    oracle_sql="""
        SELECT CAST(epoch_us(date_trunc('month', l_shipdate))
                    AS BIGINT) AS month_us,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
                    END) AS BIGINT) AS n_returned,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
                    END) * 10000 // count(*) AS BIGINT)
                   AS return_rate_floor_bp,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN
                    CAST(round(l_extendedprice * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS returned_cents
        FROM lineitem
        GROUP BY month_us ORDER BY month_us
    """,
    description="Monthly return-rate trend: returned-line share in "
    "floor bp and exact returned value per ship month — the "
    "quality/fraud early-warning series (a rising return rate "
    "precedes the revenue hit by a quarter; finance reads the value "
    "column, ops reads the rate). One map-combined reduce; the "
    "month key prunes partitions at lake scale.",
)
def lineitem_return_rate_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            F.unix_micros(
                F.date_trunc("month", "l_shipdate")
            ).alias("month_us")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            )
            .cast("long")
            .alias("n_returned"),
            F.expr(
                "sum(case when l_returnflag = 'R' then 1 else 0 end)"
                " * 10000 div count(*)"
            )
            .cast("long")
            .alias("return_rate_floor_bp"),
            F.sum(
                F.when(
                    F.col("l_returnflag") == "R",
                    scaled_long("l_extendedprice", 100),
                ).otherwise(0)
            )
            .cast("long")
            .alias("returned_cents"),
        )
        .orderBy("month_us")
    )


@register(
    "text_oov_rate_split",
    oracle_sql="""
        WITH split AS (
            SELECT doc_id, lang, text,
                   (doc_id * 48271) % 2147483647 % 10 < 8 AS is_train
            FROM documents
        ), toks AS (
            SELECT doc_id, lang, is_train,
                   unnest(string_split(text, ' ')) AS token
            FROM split
        ), vocab AS (
            SELECT DISTINCT lang, token FROM toks WHERE is_train
        ), test_toks AS (
            SELECT t.lang, t.token,
                   CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
            FROM toks t
            LEFT JOIN vocab v
              ON t.token = v.token AND t.lang = v.lang
            WHERE NOT t.is_train
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_test_tokens,
               CAST(sum(oov) AS BIGINT) AS n_oov,
               CAST(sum(oov) * 10000 // count(*) AS BIGINT)
                   AS oov_rate_floor_bp
        FROM test_toks GROUP BY lang ORDER BY lang
    """,
    description="Out-of-vocabulary rate across the 80/20 hash split: "
    "test-half tokens absent from the train-half per-language "
    "vocabulary, in floor bp — the vocabulary-coverage check run "
    "before freezing any tokenizer or n-gram model on the train "
    "split (a high OOV rate means the split starves the model; "
    "pairs with corpus_split_contamination, which checks the "
    "OPPOSITE failure — too much overlap). Vocabulary is DISTINCTed "
    "before the mark-join; the token-key join is the postings "
    "shape.",
)
def text_oov_rate_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        ((F.col("doc_id") * 48271) % 2147483647 % 10 < 8).alias(
            "is_train"
        ),
    )
    toks = split.select(
        "lang", "is_train", F.explode(F.split("text", " ")).alias("token")
    )
    vocab = (
        toks.where(F.col("is_train"))
        .select("lang", "token")
        .distinct()
        .withColumnRenamed("token", "vtoken")
        .withColumnRenamed("lang", "vlang")
    )
    test_toks = (
        toks.where(~F.col("is_train"))
        .join(
            vocab,
            (F.col("token") == F.col("vtoken"))
            & (F.col("lang") == F.col("vlang")),
            "left",
        )
        .select(
            "lang",
            F.when(F.col("vtoken").isNull(), 1).otherwise(0).alias("oov"),
        )
    )
    return (
        test_toks.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test_tokens"),
            F.sum("oov").cast("long").alias("n_oov"),
            F.expr("sum(oov) * 10000 div count(*)")
            .cast("long")
            .alias("oov_rate_floor_bp"),
        )
        .orderBy("lang")
    )


@register(
    "ts_pacf_lag2_exact",
    oracle_sql="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS h,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY h
        ), lagged AS (
            SELECT y,
                   lag(y, 1) OVER (ORDER BY h) AS y1,
                   lag(y, 2) OVER (ORDER BY h) AS y2
            FROM hourly
        ), m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS s0,
                   CAST(sum(y * y) AS BIGINT) AS s00,
                   CAST(sum(y1) AS BIGINT) AS s1,
                   CAST(sum(y1 * y1) AS BIGINT) AS s11,
                   CAST(sum(y2) AS BIGINT) AS s2,
                   CAST(sum(y2 * y2) AS BIGINT) AS s22,
                   CAST(sum(y * y1) AS BIGINT) AS s01,
                   CAST(sum(y * y2) AS BIGINT) AS s02
            FROM lagged WHERE y1 IS NOT NULL AND y2 IS NOT NULL
        )
        SELECT n,
               CASE WHEN (n * s00 - s0 * s0) > 0
                     AND (n * s11 - s1 * s1) > 0 THEN
                   (CAST(n AS DOUBLE) * s01 - CAST(s0 AS DOUBLE) * s1)
                   / sqrt(CAST(n AS DOUBLE) * s00
                          - CAST(s0 AS DOUBLE) * s0)
                   / sqrt(CAST(n AS DOUBLE) * s11
                          - CAST(s1 AS DOUBLE) * s1)
               END AS r1,
               CASE WHEN (n * s00 - s0 * s0) > 0
                     AND (n * s22 - s2 * s2) > 0 THEN
                   (CAST(n AS DOUBLE) * s02 - CAST(s0 AS DOUBLE) * s2)
                   / sqrt(CAST(n AS DOUBLE) * s00
                          - CAST(s0 AS DOUBLE) * s0)
                   / sqrt(CAST(n AS DOUBLE) * s22
                          - CAST(s2 AS DOUBLE) * s2)
               END AS r2
        FROM m
    """,
    description="Lag-1/lag-2 autocorrelations of hourly event volume "
    "from one windowed scan and exact power sums — the inputs to the "
    "Durbin-Levinson PACF(2) = (r2 - r1^2)/(1 - r1^2) that decides "
    "between AR(1) and AR(2) structure (the model-order check before "
    "anyone fits a forecaster; the cross-assert test derives PACF "
    "from the graded r1/r2 and checks the closed form). All sums "
    "int64 over the aligned (y, y1, y2) triples — the pairwise-"
    "complete convention, both engines filtering identically; the "
    "two correlations are textually congruent float chains.",
)
def ts_pacf_lag2_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "y",
        F.lag("y", 1).over(w).alias("y1"),
        F.lag("y", 2).over(w).alias("y2"),
    ).where(F.col("y1").isNotNull() & F.col("y2").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s0"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("s00"),
        F.sum("y1").cast("long").alias("s1"),
        F.sum(F.col("y1") * F.col("y1")).cast("long").alias("s11"),
        F.sum("y2").cast("long").alias("s2"),
        F.sum(F.col("y2") * F.col("y2")).cast("long").alias("s22"),
        F.sum(F.col("y") * F.col("y1")).cast("long").alias("s01"),
        F.sum(F.col("y") * F.col("y2")).cast("long").alias("s02"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        vx = F.col("n").cast("double") * F.col(sxx) - F.col(
            sx
        ).cast("double") * F.col(sx)
        vy = F.col("n").cast("double") * F.col(syy) - F.col(
            sy
        ).cast("double") * F.col(sy)
        num = F.col("n").cast("double") * F.col(sxy) - F.col(
            sx
        ).cast("double") * F.col(sy)
        cond = (
            F.col("n") * F.col(sxx) - F.col(sx) * F.col(sx) > 0
        ) & (F.col("n") * F.col(syy) - F.col(sy) * F.col(sy) > 0)
        return F.when(cond, num / F.sqrt(vx) / F.sqrt(vy))

    return m.select(
        "n",
        corr("s01", "s0", "s1", "s00", "s11").alias("r1"),
        corr("s02", "s0", "s2", "s00", "s22").alias("r2"),
    )


@register(
    "scan_metadata_size_audit",
    oracle_sql=None,
    description="Small-file audit from REAL scan metadata: Spark's "
    "hidden _metadata struct exposes file_size and file_name at scan "
    "time (no extra IO — resolved from the file index), and the "
    "audit reports per-file row counts, bytes, and bytes-per-row — "
    "the compaction trigger (files far below the 128 MB target "
    "waste scheduler slots and parquet footer overhead; "
    "etl_compaction_plan in wave C PLANS the rewrite, this op "
    "MEASURES the problem from the engine's own metadata). "
    "Rows-only by design: DuckDB has no equivalent hidden column, "
    "so there is no SQL oracle — the op is graded on row count with "
    "correctness covered by the pinned pytest asserting the "
    "file_name/file_size values match the filesystem.",
)
def scan_metadata_size_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    df = read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        F.col("_metadata.file_name").alias("file_name"),
        F.col("_metadata.file_size").alias("file_size"),
    )
    return (
        df.groupBy("file_name", "file_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(
            "file_name",
            F.col("file_size").cast("long").alias("file_bytes"),
            "n_rows",
            F.expr("file_size div n_rows").cast("long").alias(
                "bytes_per_row_floor"
            ),
        )
        .orderBy("file_name")
    )


@register(
    "multimodal_binary_dedup",
    oracle_sql="""
        WITH blobs AS (
            SELECT doc_id, source, text,
                   encode(text) AS payload
            FROM documents
        ), hashed AS (
            -- md5(VARCHAR) hashes the UTF-8 bytes, i.e. exactly the
            -- encoded payload (DuckDB 1.0 has no md5(BLOB) overload).
            SELECT source,
                   md5(text) AS content_hash,
                   CAST(octet_length(payload) AS BIGINT) AS n_bytes
            FROM blobs
        ), groups AS (
            SELECT content_hash,
                   CAST(count(*) AS BIGINT) AS n_copies,
                   CAST(max(n_bytes) AS BIGINT) AS n_bytes,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources
            FROM hashed GROUP BY content_hash
        )
        SELECT CAST(count(*) AS BIGINT) AS n_distinct_blobs,
               CAST(sum(n_copies) AS BIGINT) AS n_total_blobs,
               CAST(sum(n_copies * n_bytes) AS BIGINT) AS total_bytes,
               CAST(sum((n_copies - 1) * n_bytes) AS BIGINT)
                   AS reclaimable_bytes,
               CAST(sum(CASE WHEN n_copies > 1 AND n_sources > 1
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS cross_source_dup_groups
        FROM groups
    """,
    description="Byte-level binary dedup census: payloads (the text "
    "column UTF-8-encoded to BINARY — the same opaque-BLOB plumbing "
    "the multimodal family uses for images, where byte-identity IS "
    "the dedup criterion: same JPEG bytes, same asset) hashed by "
    "md5 over the binary, grouped to distinct-blob counts, total vs "
    "reclaimable bytes, and cross-source duplicate groups — the "
    "storage-dedup planning query for a media lake (reclaimable = "
    "what content-addressable storage saves). Only hashes and "
    "sizes shuffle; payload bytes never leave the scan.",
)
def multimodal_binary_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    hashed = load(spark, sf_dir, "documents").select(
        "source",
        F.md5(F.encode("text", "UTF-8")).alias("content_hash"),
        F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    )
    groups = hashed.groupBy("content_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.max("n_bytes").cast("long").alias("n_bytes"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    return groups.agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_blobs"),
        F.sum("n_copies").cast("long").alias("n_total_blobs"),
        F.sum(F.col("n_copies") * F.col("n_bytes"))
        .cast("long")
        .alias("total_bytes"),
        F.sum((F.col("n_copies") - 1) * F.col("n_bytes"))
        .cast("long")
        .alias("reclaimable_bytes"),
        F.sum(
            F.when(
                (F.col("n_copies") > 1) & (F.col("n_sources") > 1), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("cross_source_dup_groups"),
    )


@register(
    "sql_unpivot_multi_measure",
    oracle_sql="""
        WITH monthly AS (
            SELECT CAST(epoch_us(date_trunc('month', o_orderdate))
                        AS BIGINT) AS month_us,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents,
                   CAST(count(DISTINCT o_custkey) AS BIGINT)
                       AS n_customers
            FROM orders GROUP BY month_us
        )
        SELECT month_us, metric, value
        FROM monthly
        UNPIVOT (value FOR metric IN (n_orders, cents, n_customers))
        ORDER BY month_us, metric
    """,
    description="Multi-measure UNPIVOT: the wide monthly KPI rollup "
    "(orders, exact cents, distinct customers) melts into the long "
    "(month, metric, value) shape every metrics store and charting "
    "layer ingests — the multi-measure form of unpivot_part_metrics "
    "(single measure), exercising Spark's native unpivot()/melt "
    "against DuckDB's UNPIVOT clause with identical metric naming. "
    "All measures int64 so one value column types cleanly; the "
    "unpivot is a narrow 3x row expansion of the BOUNDED rollup, "
    "never of the fact.",
)
def sql_unpivot_multi_measure(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    monthly = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.unix_micros(
                F.date_trunc("month", "o_orderdate")
            ).alias("month_us")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(scaled_long("o_totalprice", 100))
            .cast("long")
            .alias("cents"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        )
    )
    return monthly.unpivot(
        ["month_us"],
        ["n_orders", "cents", "n_customers"],
        "metric",
        "value",
    ).orderBy("month_us", "metric")
