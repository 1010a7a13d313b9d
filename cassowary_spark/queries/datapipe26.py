"""Round-6 wave 28 (SURVEY.md §2): model-targeting and forecast-
uncertainty analytics — cumulative gains / lift deciles, and
empirical (residual-quantile) forecast intervals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# -------------------------------------- C143 cumulative gains / lift

# C99's deterministic synthetic classifier, extended with the order
# key so deciles have a TOTAL order (ties on the score would
# otherwise straddle decile boundaries engine-dependently).
_SQL_SCORED_KEYED = """
    scored AS (
        SELECT o_orderkey AS k,
               (CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                                    1, 8) AS BIGINT) % 1000
                + 300 * CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                   AS s,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    )
"""


@query(
    "q_lift_deciles",
    oracle=f"""
    WITH {_SQL_SCORED_KEYED},
    cells AS (
        SELECT s, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(y) AS BIGINT) AS cpos
        FROM scored GROUP BY 1
    ),
    banded AS (
        SELECT s, cnt, cpos,
               CAST(1 + ((CAST(sum(cnt) OVER (ORDER BY s DESC)
                               AS BIGINT) - 1) * 10)
                    // CAST(sum(cnt) OVER () AS BIGINT)
                    AS INT) AS decile
        FROM cells
    ),
    per AS (
        SELECT decile, CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(cpos) AS BIGINT) AS pos
        FROM banded GROUP BY 1
    ),
    cum AS (
        SELECT decile, n, pos,
               CAST(sum(n) OVER w AS BIGINT) AS cum_n,
               CAST(sum(pos) OVER w AS BIGINT) AS cum_pos,
               CAST(sum(n) OVER () AS BIGINT) AS nn,
               CAST(sum(pos) OVER () AS BIGINT) AS kk
        FROM per
        WINDOW w AS (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT decile, n, pos,
           {sql_srnd(
               "CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)", 6)} AS rate,
           {sql_srnd(
               "CAST(cum_pos AS DOUBLE) / CAST(kk AS DOUBLE)",
               6)} AS capture,
           {sql_srnd(
               "(CAST(cum_pos AS DOUBLE) / CAST(cum_n AS DOUBLE))"
               " / (CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE))",
               6)} AS cum_lift
    FROM cum
    """,
)
def q_lift_deciles(
    spark: SparkSession, sf_dir: str, *, approx: bool = False
) -> DataFrame:
    """Cumulative gains / lift deciles (C143): rank the population by
    C99's classifier score, cut into 10 equi-depth score bands, and
    report each decile's response rate, the cumulative capture (share
    of all positives reached by decile d) and cumulative lift vs the
    base rate — the targeting chart ("mail the top 3 deciles, get
    68% of responders") that turns C99's threshold-free AUC into an
    operating decision. Completes the eval battery: ROC (ranking),
    calibration (probability quality), lift (business targeting).

    Semantics (r11 re-authoring): the decile cut is TIES-TOGETHER
    (operators/ranks.counts_bands, score DESC) — every order with the
    same score lands in the same decile, which is the operationally
    honest chart (you cannot mail half the customers at one score
    threshold). Tie-invariant: no positional tiebreak, the result is
    a pure function of the (score, label) multiset. Decile sizes are
    equal up to tie-group granularity (exact when scores at the cuts
    are distinct).

    Determinism: all counts are exact BIGINTs through the banding
    arithmetic; the three ratios divide exact integers; the
    cumulative window runs over 10 rows.

    Scale shape: ONE groupBy collapses the corpus to its score cells
    (the score domain is 0..1299 here — 1300 cells at ANY corpus
    size; real model scores quantize to fixed decimals the same way);
    the banding window runs over that frame only
    (sp_corpus_windows = 0) — no corpus sort exists in the plan, so
    this exact form IS the 100 TB form. ``approx=True`` keeps the
    sketch-cut variant (approx_percentile boundaries + row-local
    bucketing) for unquantized score domains;
    tests/test_quantiles.py pins the agreement.
    """
    o = load_table(spark, sf_dir, "orders")
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
        16,
        10,
    ).cast("long")
    scored = o.select(
        F.col("o_orderkey").alias("k"),
        (h % 1000 + 300 * y).alias("s"),
        y.alias("y"),
    )
    if approx:
        from cassowary_spark.operators.quantiles import with_approx_ntiles

        # s ranks DESC in the exact form (decile 1 = highest scores),
        # so its ascending approx metric is the negation
        decs = with_approx_ntiles(scored, [("decile", -F.col("s"), 10)]).select(
            "decile", "y"
        )
        per = decs.groupBy("decile").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    else:
        from cassowary_spark.operators.ranks import counts_bands

        cells = scored.groupBy("s").agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("y").cast("long").alias("cpos"),
        )
        banded = counts_bands(
            cells, "s", "cnt", 10, descending=True, out_col="decile"
        )
        per = banded.groupBy("decile").agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum("cpos").cast("long").alias("pos"),
        )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy()
    cum = per.select(
        "decile",
        "n",
        "pos",
        F.sum("n").over(wc).cast("long").alias("cum_n"),
        F.sum("pos").over(wc).cast("long").alias("cum_pos"),
        F.sum("n").over(wt).cast("long").alias("nn"),
        F.sum("pos").over(wt).cast("long").alias("kk"),
    )
    return cum.select(
        "decile",
        "n",
        "pos",
        srnd(
            F.col("pos").cast("double") / F.col("n").cast("double"), 6
        ).alias("rate"),
        srnd(
            F.col("cum_pos").cast("double") / F.col("kk").cast("double"),
            6,
        ).alias("capture"),
        srnd(
            (F.col("cum_pos").cast("double")
             / F.col("cum_n").cast("double"))
            / (F.col("kk").cast("double") / F.col("nn").cast("double")),
            6,
        ).alias("cum_lift"),
    )


# ----------------------- C144 empirical forecast interval (residuals)


@query(
    "q_forecast_interval",
    oracle=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1992-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    fc AS (
        SELECT a.d, a.rev, CAST(sum(f.rev) AS BIGINT) AS sum_fc
        FROM daily a JOIN daily f ON a.d - f.d IN (7, 14, 21, 28)
        GROUP BY a.d, a.rev HAVING count(*) = 4
    ),
    resid AS (
        SELECT d, 4 * rev - sum_fc AS r4,
               row_number() OVER (ORDER BY 4 * rev - sum_fc, d) AS rk,
               count(*) OVER () AS n
        FROM fc
    ),
    qs AS (
        SELECT CAST(max(n) AS BIGINT) AS n_evals,
               CAST(max(CASE WHEN rk = greatest(
                       CAST(ceil(0.05 * n) AS BIGINT), 1)
                   THEN r4 END) AS BIGINT) AS lo4,
               CAST(max(CASE WHEN rk = CAST(ceil(0.95 * n) AS BIGINT)
                   THEN r4 END) AS BIGINT) AS hi4
        FROM resid
    ),
    cov AS (
        SELECT CAST(count(*) AS BIGINT) AS n_in
        FROM resid CROSS JOIN qs
        WHERE r4 >= lo4 AND r4 <= hi4
    )
    SELECT n_evals,
           {sql_srnd("CAST(lo4 AS DOUBLE) / 4.0", 6)} AS resid_q05,
           {sql_srnd("CAST(hi4 AS DOUBLE) / 4.0", 6)} AS resid_q95,
           {sql_srnd(
               "CAST(n_in AS DOUBLE) / CAST(n_evals AS DOUBLE)",
               6)} AS coverage
    FROM qs CROSS JOIN cov
    """,
)
def q_forecast_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical forecast interval (C144): the [q05, q95] band of the
    seasonal-naive forecast's residuals (C129's model: mean of the
    same weekday 1-4 weeks prior) — the distribution-free prediction
    interval ("tomorrow's revenue will be fc + [q05, q95] with ~90%
    coverage") that turns a point forecaster into an uncertainty
    statement without any normality assumption; the empirical
    coverage of the band is reported as the self-check. C130
    bootstraps the MEAN's uncertainty; this bounds a single next
    observation.

    Determinism: residuals stay exact — r4 = 4·rev − Σfc is an
    integer (never divide the forecast by 4 before subtracting);
    quantiles are type-1 rank selections at ceil(0.05n)/ceil(0.95n)
    over the (r4, day) total order; coverage counts exact integers.

    Scale shape: C129's calendar-bounded shape end to end — daily
    agg (persisted), the calendar×4 lag join, then rank selection
    and a count over ~2.4k residual rows.
    """
    o = load_table(spark, sf_dir, "orders")
    dollars = F.floor(F.col("o_totalprice") + 0.5).cast("long")
    daily = persist(
        o.groupBy(
            F.datediff(
                F.to_date("o_orderdate"), F.to_date(F.lit("1992-01-01"))
            ).alias("d")
        )
        .agg(F.sum(dollars).alias("rev"))
    )
    a, f_ = daily.alias("a"), daily.alias("f")
    fc = (
        a.join(f_, (F.col("a.d") - F.col("f.d")).isin([7, 14, 21, 28]))
        .groupBy(F.col("a.d").alias("d"), F.col("a.rev").alias("rev"))
        .agg(
            F.sum("f.rev").cast("long").alias("sum_fc"),
            F.count("*").alias("kk"),
        )
        .filter(F.col("kk") == 4)
    )
    r4 = (4 * F.col("rev") - F.col("sum_fc")).alias("r4")
    resid = fc.select("d", r4)
    wr = Window.orderBy("r4", "d")
    resid = persist(resid.select(
        "r4",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    ))  # r14: qs AND cov consume this — without the persist
    # the calendar×4 lag theta-join + ranking window ran twice
    # (calendar-bounded rows, so the cache is ~2.4k rows)
    qs = resid.agg(
        F.max("n").cast("long").alias("n_evals"),
        F.max(
            F.when(
                F.col("rk")
                == F.greatest(
                    F.ceil(0.05 * F.col("n")).cast("long"), F.lit(1)
                ),
                F.col("r4"),
            )
        )
        .cast("long")
        .alias("lo4"),
        F.max(
            F.when(
                F.col("rk") == F.ceil(0.95 * F.col("n")).cast("long"),
                F.col("r4"),
            )
        )
        .cast("long")
        .alias("hi4"),
    )
    cov = (
        resid.crossJoin(F.broadcast(qs))
        .filter((F.col("r4") >= F.col("lo4")) & (F.col("r4") <= F.col("hi4")))
        .agg(F.count("*").cast("long").alias("n_in"))
    )
    return qs.crossJoin(F.broadcast(cov)).select(
        "n_evals",
        srnd(F.col("lo4").cast("double") / 4.0, 6).alias("resid_q05"),
        srnd(F.col("hi4").cast("double") / 4.0, 6).alias("resid_q95"),
        srnd(
            F.col("n_in").cast("double") / F.col("n_evals").cast("double"),
            6,
        ).alias("coverage"),
    )
