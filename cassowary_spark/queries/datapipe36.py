"""Round-8 wave 38 (SURVEY.md §2): XmR individuals control chart
(C164) and weekday seasonality strength (C165) — statistical process
control and seasonal-diagnostic views over the daily revenue series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# ----------------------------------------------- C164 XmR control chart

_XMR_SIGMA = 2.66  # d2-scaled moving-range factor for individuals charts

_DAILY_SQL = """
        SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
"""


@query(
    "q_control_chart",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    mr AS (
        SELECT day, cents,
               abs(cents - lag(cents) OVER (ORDER BY day)) AS mrange
        FROM daily
    ),
    lim AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(cents) AS DOUBLE) / count(*) AS center,
               CAST(sum(mrange) AS DOUBLE) / count(mrange) AS mrbar
        FROM mr
    )
    SELECT m.day, m.cents,
           {sql_srnd("l.center / 100.0", 4)} AS center,
           {sql_srnd(
               "(l.center + {s} * l.mrbar) / 100.0".format(s=_XMR_SIGMA),
               4)} AS ucl,
           {sql_srnd(
               "(l.center - {s} * l.mrbar) / 100.0".format(s=_XMR_SIGMA),
               4)} AS lcl,
           CASE WHEN CAST(m.cents AS DOUBLE) > l.center + {_XMR_SIGMA} * l.mrbar
                THEN 'high'
                ELSE 'low' END AS side
    FROM mr m CROSS JOIN lim l
    WHERE CAST(m.cents AS DOUBLE) > l.center + {_XMR_SIGMA} * l.mrbar
       OR CAST(m.cents AS DOUBLE) < l.center - {_XMR_SIGMA} * l.mrbar
    """,
)
def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR individuals control chart (C164): daily revenue days that
    breach the Shewhart natural-process limits center ± 2.66·mR̄ —
    the SPC anomaly screen (2.66 = 3/d₂ for n=2 moving ranges; the
    limits come from SHORT-TERM variation, so slow drifts flag while
    seasonal noise doesn't widen them). Complements q_cusum_changepoint
    (mean shifts) and q_mad_outliers (static robust bands) with the
    process-control view.

    Determinism: daily totals are exact integer cents; the moving
    range is an integer lag difference over the day-string order;
    center and mR̄ are single exact-sum divisions; the limit compare
    is int-vs-double against identically-computed limits on both
    engines. Output days ship as 'YYYY-MM-DD' strings (no DATE-typed
    columns — SURVEY §5).

    Scale shape: one day-keyed partial agg (map-side combine → days,
    not orders); the lag window and the 1-row limits both run over
    the ~2.4k-day frame; flagged days join the limits by broadcast.
    The day-ordered window is a single partition by design — the
    series frame is calendar-sized, not corpus-sized.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = o.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
            "day"
        )
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("cents")
    )
    mr = daily.withColumn(
        "mrange",
        F.abs(F.col("cents") - F.lag("cents").over(Window.orderBy("day"))),
    )
    lim = mr.agg(
        F.count("*").cast("long").alias("n_days"),
        (F.sum("cents").cast("double") / F.count("*")).alias("center"),
        (F.sum("mrange").cast("double") / F.count("mrange")).alias("mrbar"),
    )
    j = mr.crossJoin(F.broadcast(lim))
    ucl = F.col("center") + F.lit(_XMR_SIGMA) * F.col("mrbar")
    lcl = F.col("center") - F.lit(_XMR_SIGMA) * F.col("mrbar")
    return (
        j.filter(
            (F.col("cents").cast("double") > ucl)
            | (F.col("cents").cast("double") < lcl)
        )
        .select(
            "day",
            "cents",
            srnd(F.col("center") / F.lit(100.0), 4).alias("center"),
            srnd(ucl / F.lit(100.0), 4).alias("ucl"),
            srnd(lcl / F.lit(100.0), 4).alias("lcl"),
            F.when(F.col("cents").cast("double") > ucl, "high")
            .otherwise("low")
            .alias("side"),
        )
    )


# ------------------------------------------- C165 seasonality strength


@query(
    "q_seasonality_strength",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    d2 AS (
        SELECT day, cents,
               date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) % 7
                   AS dow
        FROM daily
    ),
    wk AS (
        SELECT dow, CAST(sum(cents) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM d2 GROUP BY dow
    ),
    tot AS (
        SELECT CAST(sum(s) AS BIGINT) AS ts, CAST(sum(n) AS BIGINT) AS tn
        FROM wk
    ),
    dev AS (
        SELECT d.day,
               CAST(d.cents AS DOUBLE) - CAST(t.ts AS DOUBLE) / t.tn AS dt,
               CAST(d.cents AS DOUBLE) - CAST(w.s AS DOUBLE) / w.n AS rem
        FROM d2 d JOIN wk w ON w.dow = d.dow CROSS JOIN tot t
    ),
    v AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               list_sum(list(dt * dt ORDER BY day)) AS v_tot,
               list_sum(list(rem * rem ORDER BY day)) AS v_rem
        FROM dev
    )
    SELECT n_days,
           {sql_srnd("v_tot / n_days / 10000.0", 4)} AS var_total,
           {sql_srnd("v_rem / n_days / 10000.0", 4)} AS var_remainder,
           {sql_srnd(
               "CASE WHEN v_tot > 0.0 THEN"
               " CASE WHEN 1.0 - v_rem / v_tot > 0.0"
               "      THEN 1.0 - v_rem / v_tot ELSE 0.0 END"
               " ELSE 0.0 END", 6)} AS strength
    FROM v
    """,
)
def q_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality strength (C165): the STL-style statistic
    F = max(0, 1 − Var(remainder)/Var(deviation)) (Hyndman's
    seasonal-strength measure with a weekday-mean seasonal component)
    over daily revenue — the diagnostic that decides whether a series
    needs the q_seasonal_baseline treatment at all (F≈0 no weekday
    pattern, F→1 strongly weekly).

    Determinism: daily cents and weekday sums are exact integers;
    weekday/global means are single exact divisions; both variance
    accumulations are FIXED-ORDER day-sorted folds (DuckDB
    list(… ORDER BY day) + list_sum == Spark array_sort(collect_list)
    + aggregate — the C69 idiom), so the IEEE sequence matches before
    the final srnd. Weekday = epoch-day % 7 — identical integer math
    on both engines (no locale-dependent dayofweek numbering).

    Scale shape: orders collapse to the calendar-sized daily frame in
    one map-side-combining agg; weekday means are a 7-row rollup;
    the variance folds run over the ~2.4k-day frame. Nothing beyond
    the daily agg touches corpus-sized data.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    daily = o.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
            "day"
        )
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("cents")
    )
    d2 = persist(daily.withColumn(
        "dow",
        F.datediff(F.col("day").cast("date"), F.lit("1970-01-01").cast("date"))
        % 7,
    ))  # calendar-sized; weekday rollup + deviations reuse it
    wk = d2.groupBy("dow").agg(
        F.sum("cents").alias("s"), F.count("*").alias("n")
    )
    tot = wk.agg(F.sum("s").alias("ts"), F.sum("n").alias("tn"))
    dev = (
        d2.join(F.broadcast(wk), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "day",
            (
                F.col("cents").cast("double")
                - F.col("ts").cast("double") / F.col("tn")
            ).alias("dt"),
            (
                F.col("cents").cast("double")
                - F.col("s").cast("double") / F.col("n")
            ).alias("rem"),
        )
    )
    v = dev.agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(day, dt * dt))),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.col2)"
        ).alias("v_tot"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(day, rem * rem))),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.col2)"
        ).alias("v_rem"),
    )
    raw = F.lit(1.0) - F.col("v_rem") / F.col("v_tot")
    strength = F.when(
        F.col("v_tot") > 0.0, F.when(raw > 0.0, raw).otherwise(F.lit(0.0))
    ).otherwise(F.lit(0.0))
    return v.select(
        "n_days",
        srnd(F.col("v_tot") / F.col("n_days") / F.lit(10000.0), 4).alias(
            "var_total"
        ),
        srnd(F.col("v_rem") / F.col("n_days") / F.lit(10000.0), 4).alias(
            "var_remainder"
        ),
        srnd(strength, 6).alias("strength"),
    )
