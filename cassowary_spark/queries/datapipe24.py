"""Round-6 wave 26 (SURVEY.md §2): robust / nonparametric trend
analytics — Theil-Sen median slope and the Mann-Kendall trend test
over the daily revenue series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# The shared daily collapse (C122's discipline): integer day index,
# integer-dollar revenue.
_SQL_DAILY = """
        SELECT date_diff('day', DATE '1992-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dollars = F.floor(F.col("o_totalprice") + 0.5).cast("long")
    return o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1992-01-01"))
        ).alias("d")
    ).agg(F.sum(dollars).alias("rev"))


# --------------------------------------- C140 Theil-Sen median slope

# one pair in _TS_SAMPLE (by slope hash) picks the range boundaries
_TS_SAMPLE = 256


@query(
    "q_theil_sen",
    oracle=f"""
    WITH daily AS ({_SQL_DAILY}),
    pairs AS (
        SELECT (CAST(b.rev AS DOUBLE) - CAST(a.rev AS DOUBLE))
                   / (CAST(b.d AS DOUBLE) - CAST(a.d AS DOUBLE)) AS sl
        FROM daily a JOIN daily b ON a.d < b.d
    ),
    ranked AS (
        SELECT sl, row_number() OVER (ORDER BY sl) AS rk,
               count(*) OVER () AS np
        FROM pairs
    ),
    slope AS (
        SELECT sl AS m, CAST(np AS BIGINT) AS n_pairs
        FROM ranked WHERE rk = (np + 1) // 2
    ),
    resid AS (
        SELECT CAST(rev AS DOUBLE) - m * CAST(d AS DOUBLE) AS r0,
               row_number() OVER (
                   ORDER BY CAST(rev AS DOUBLE) - m * CAST(d AS DOUBLE)
               ) AS rk,
               count(*) OVER () AS nd
        FROM daily CROSS JOIN slope
    )
    SELECT n_pairs,
           {sql_srnd("m", 6)} AS ts_slope,
           {sql_srnd(
               "(SELECT r0 FROM resid WHERE rk = (nd + 1) // 2)", 6)}
               AS ts_intercept
    FROM slope CROSS JOIN (SELECT max(nd) AS nd FROM resid)
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator (C140): the MEDIAN of all pairwise slopes
    of the daily revenue series (lower median, type-1), plus the
    companion intercept median(yᵢ − m·xᵢ) — the robust trend line
    that shrugs off the outlier days that drag B52's least-squares
    line around (~29% breakdown point vs 0%). The
    robust-regression representative beside C115's MAD (robust
    scale) and C107's winsorized mean (robust location).

    Determinism: pairwise slopes are fixed IEEE ratios of exact
    integer differences; the median is a row_number rank selection
    at (N+1)//2 with identical doubles on both engines (duplicate
    slope values are interchangeable at the selection boundary, so
    the SELECTED VALUE is deterministic even where the ordering of
    equal doubles is not); same for the residual median.

    Scale shape: the corpus collapses to the CALENDAR-BOUNDED daily
    agg first, so the O(n²) pair join is calendar², never corpus²
    (~2.9M pairs at 2.4k days — a few MB of doubles); the rank
    selection is a DISTRIBUTED order statistic (r15): range-partition
    the slopes, rank locally per range bucket, and add the cumulative
    bucket offsets — the k-th smallest falls out of one parallel sort
    instead of the old single-partition row_number window, which
    funneled every pair through one task (5.6× slower measured at
    sf0.1, and the only not-embarrassingly-parallel step this query
    had). The pair COUNT rides the same 1-row aggregate as the range
    boundaries — no count-over-unbounded-window pass. The selected k-th VALUE is
    a deterministic order statistic wherever the range boundaries
    land (equal keys are never split across buckets); the boundaries
    themselves are a deterministic hash sample, so no shared persist
    or partition-id assignment carries correctness. On a
    series long enough to break the calendar² bound, swap in the
    standard sampled-pairs Theil-Sen — same shape over a hash-sampled
    pair subset.
    """
    daily = persist(_daily(spark, sf_dir))
    a, b = daily.alias("a"), daily.alias("b")
    joined = a.join(b, F.col("a.d") < F.col("b.d"))
    sl = (
        (F.col("b.rev").cast("double") - F.col("a.rev").cast("double"))
        / (F.col("b.d").cast("double") - F.col("a.d").cast("double"))
    ).alias("sl")
    # One 1-row pass over the pairs gives np, the lower-median rank
    # k = (np+1) div 2, and nparts-1 range boundaries cut from the
    # sorted slopes of a hash sample of the day pairs (1 in
    # _TS_SAMPLE). A pair's bucket is the number of boundaries below
    # its slope: a function of sl alone and monotone in sl, so the
    # local-rank and bucket-offset consumers agree however often
    # either recomputes the pairs (an empty sample puts every pair in
    # bucket 0). ranged is persisted only so the pair join runs once
    # for both consumers; correctness does not rest on it.
    nparts = spark.sparkContext.defaultParallelism
    sampled = F.pmod(F.xxhash64("a.d", "b.d"), F.lit(_TS_SAMPLE)) == 0
    stats = joined.agg(
        F.count("*").alias("np"),
        F.sort_array(F.collect_list(F.when(sampled, sl))).alias("s"),
    ).select(
        "np",
        F.expr("(np + 1) div 2").alias("k"),
        F.expr(
            f"transform(filter(sequence(1, {nparts - 1}), i -> size(s) > 0),"
            f" i -> s[(i * size(s)) div {nparts}])"
        ).alias("bounds"),
    )
    ranged = persist(
        joined.select(sl).crossJoin(F.broadcast(stats)).select(
            "sl",
            "np",
            "k",
            F.size(F.filter("bounds", lambda x: x < F.col("sl"))).alias("pid"),
        )
    )
    wloc = Window.partitionBy("pid").orderBy("sl")
    loc = ranged.withColumn("lrk", F.row_number().over(wloc))
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        ranged.groupBy("pid")
        .agg(F.count("*").alias("c"))
        .withColumn("off", F.coalesce(F.sum("c").over(woff), F.lit(0)))
        .select("pid", "off")
    )
    slope = (
        loc.join(F.broadcast(offs), "pid")
        .filter(F.col("lrk") + F.col("off") == F.col("k"))
        .select(
            F.col("sl").alias("m"), F.col("np").cast("long").alias("n_pairs")
        )
    )
    resid = daily.crossJoin(F.broadcast(slope)).select(
        "m",
        "n_pairs",
        (F.col("rev").cast("double") - F.col("m") * F.col("d").cast("double"))
        .alias("r0"),
    )
    wi = Window.orderBy("r0")
    resid = resid.select(
        "m",
        "n_pairs",
        "r0",
        F.row_number().over(wi).alias("rk"),
        F.count("*").over(Window.partitionBy()).alias("nd"),
    )
    return resid.filter(
        F.col("rk") == F.floor((F.col("nd") + 1) / 2)
    ).select(
        "n_pairs",
        srnd(F.col("m"), 6).alias("ts_slope"),
        srnd(F.col("r0"), 6).alias("ts_intercept"),
    )


# --------------------------------------- C141 Mann-Kendall trend test


@query(
    "q_mann_kendall",
    oracle=f"""
    WITH daily AS ({_SQL_DAILY}),
    s AS (
        SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1
                             WHEN b.rev < a.rev THEN -1
                             ELSE 0 END) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM daily a JOIN daily b ON a.d < b.d
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
    ties AS (
        SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
                    AS BIGINT) AS tie18
        FROM (SELECT count(*) AS t FROM daily GROUP BY rev
              HAVING count(*) > 1)
    ),
    v AS (
        SELECT s.s, s.n_pairs, n.n,
               (n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie18) AS var18
        FROM s CROSS JOIN n CROSS JOIN ties
    )
    SELECT n, n_pairs, s AS mk_s,
           {sql_srnd("CAST(var18 AS DOUBLE) / 18.0", 6)} AS var_s,
           {sql_srnd(
               "CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0)"
               "     / sqrt(CAST(var18 AS DOUBLE) / 18.0)"
               " WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0)"
               "     / sqrt(CAST(var18 AS DOUBLE) / 18.0)"
               " ELSE 0.0 END", 6)} AS z
    FROM v
    """,
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test (C141): S = Σ_{i<j} sign(y_j − y_i)
    over the daily revenue series with the tie-corrected variance
    Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18 and the
    continuity-corrected z — the standard NONPARAMETRIC "is there a
    monotone trend" test (C140 estimates the trend's size; this
    tests its existence without assuming linearity or normality).

    Determinism: S, the pair count, and the 18-scaled variance are
    EXACT BIGINTs end to end (the only floats are one division, one
    sqrt, one ratio — fixed sequence); sign() over exact integer
    revenues has no boundary ambiguity.

    Scale shape: same calendar²-bounded pair join as C140 (the
    corpus collapses to the daily agg first), but here the pair
    table never materializes — sign() reduces inside ONE partial
    agg, so the whole test is a join feeding a 1-row reduce; ties
    are a second tiny agg on the persisted daily frame.
    """
    daily = persist(_daily(spark, sf_dir))
    a, b = daily.alias("a"), daily.alias("b")
    s = a.join(b, F.col("a.d") < F.col("b.d")).agg(
        F.sum(
            F.when(F.col("b.rev") > F.col("a.rev"), 1)
            .when(F.col("b.rev") < F.col("a.rev"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    n = daily.agg(F.count("*").cast("long").alias("n"))
    ties = (
        daily.groupBy("rev")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie18")
        )
    )
    v = (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .select(
            "n",
            "n_pairs",
            "s",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie18")
            ).alias("var18"),
        )
    )
    sd = F.col("s").cast("double")
    root = F.sqrt(F.col("var18").cast("double") / 18.0)
    return v.select(
        "n",
        "n_pairs",
        F.col("s").alias("mk_s"),
        srnd(F.col("var18").cast("double") / 18.0, 6).alias("var_s"),
        srnd(
            F.when(F.col("s") > 0, (sd - 1.0) / root)
            .when(F.col("s") < 0, (sd + 1.0) / root)
            .otherwise(F.lit(0.0)),
            6,
        ).alias("z"),
    )
