"""Round-9 wave 52 (SURVEY.md §2): Kruskal-Wallis k-group rank test
(C190) and CUPED variance-reduced experiment readout (C191).

C190 completes the nonparametric ladder (C189 Mann-Whitney is its
k = 2 case, as C188 ANOVA is the parametric k-group omnibus); C191 is
the modern experimentation platform's variance-reduction workhorse —
the same z-test as C139 but on pre-period-adjusted outcomes, buying
effective sample size without more traffic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.operators.ranks import (
    attach_doubled_midranks,
    tie_correction,
)
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# --------------------------------------- C190 Kruskal-Wallis H test


@query(
    "q_kruskal_wallis",
    oracle=f"""
    WITH m AS (
        SELECT event_type AS grp,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x
        FROM events
    ),
    r AS (
        SELECT grp,
               2 * rank() OVER (ORDER BY x)
                 + count(*) OVER (PARTITION BY x) - 1 AS u2
        FROM m
    ),
    cells AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n_i,
               CAST(sum(u2) AS BIGINT) AS r2_i
        FROM r GROUP BY grp
    ),
    tot AS (
        SELECT CAST(sum(n_i) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS g
        FROM cells
    ),
    ties AS (
        SELECT CAST(coalesce(sum(tie * tie * tie - tie), 0) AS BIGINT)
                   AS tsum
        FROM (SELECT x, CAST(count(*) AS BIGINT) AS tie
              FROM m GROUP BY x) t
        WHERE tie > 1
    ),
    h0 AS (
        SELECT (SELECT g FROM tot) AS n_groups,
               (SELECT n FROM tot) AS n_rows,
               {sql_srnd(
                   "12.0 / (CAST((SELECT n FROM tot) AS DOUBLE)"
                   "        * (CAST((SELECT n FROM tot) AS DOUBLE) + 1.0))"
                   " * list_sum(list("
                   "   (CAST(r2_i AS DOUBLE) / 2.0)"
                   "   * (CAST(r2_i AS DOUBLE) / 2.0)"
                   "   / CAST(n_i AS DOUBLE) ORDER BY grp))"
                   " - 3.0 * (CAST((SELECT n FROM tot) AS DOUBLE) + 1.0)",
                   8)} AS h_raw
        FROM cells
    )
    SELECT n_groups, n_rows,
           {sql_srnd(
               "h_raw / nullif(1.0 - CAST((SELECT tsum FROM ties)"
               " AS DOUBLE)"
               " / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)"
               "    * CAST(n_rows AS DOUBLE) - CAST(n_rows AS DOUBLE)),"
               " 0.0)", 6)} AS h_stat
    FROM h0
    """,
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (C190): the k-group rank omnibus over event
    values by event type — H = 12/(N(N+1))·Σ R_i²/n_i − 3(N+1),
    tie-corrected by ÷(1 − Σ(t³−t)/(N³−N)). Completes the
    nonparametric ladder: C189 Mann-Whitney is the k = 2 case,
    exactly as C188's ANOVA is the parametric k-group omnibus — and
    the one to reach for when C178's Hill index says the values are
    too heavy-tailed for mean-based F.

    Determinism: the doubled-average-rank identity (C168/C189),
    computed from pooled per-value COUNTS
    (operators/ranks.doubled_midranks), keeps every group rank sum
    Σ_x cnt_i(x)·u2(x) an exact BIGINT identical to ranking the
    rows; Σ R_i²/n_i folds its ≤|types| terms in group order (C69);
    the tie sum is an exact BIGINT; H is one fixed srnd expression.

    Scale shape: NO corpus sort — one map-side-combining
    groupBy(grp, x) collapses events to its (group × distinct
    cents-value) cell frame, and a join-free VALUE-framed running
    sum (operators/ranks.attach_doubled_midranks: rangeBetween pools
    the cumulative count across groups at the same value) attaches
    pooled u2 directly to each cell for the group rank sums. The
    only window runs over the domain-bounded cell frame. This IS the
    100 TB shape; the former row-ranked global window is gone (r9
    verdict ask).
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    m = ev.select(
        F.col("event_type").alias("grp"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("x"),
    )
    grp_cells = m.groupBy("grp", "x").agg(
        F.count("*").cast("long").alias("cnt")
    )
    cells = (
        attach_doubled_midranks(grp_cells, "x", "cnt")
        .groupBy("grp")
        .agg(
            F.sum("cnt").cast("long").alias("n_i"),
            F.sum(F.col("cnt") * F.col("u2")).cast("long").alias("r2_i"),
        )
    )
    tot = cells.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.count("*").cast("long").alias("g"),
    )
    ties = tie_correction(
        grp_cells.groupBy("x").agg(F.sum("cnt").cast("long").alias("cnt")),
        "cnt",
    )
    term = (
        (F.col("r2_i").cast("double") / 2.0)
        * (F.col("r2_i").cast("double") / 2.0)
        / F.col("n_i").cast("double")
    )
    folded = (
        cells.select("grp", term.alias("t"))
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(struct(grp, t))),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.t)"
            ).alias("s")
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
    )
    nn = F.col("n").cast("double")
    h_raw = srnd(12.0 / (nn * (nn + 1.0)) * F.col("s") - 3.0 * (nn + 1.0), 8)
    return folded.select(
        F.col("g").alias("n_groups"),
        F.col("n").alias("n_rows"),
        srnd(
            h_raw
            / F.nullif(
                1.0 - F.col("tsum").cast("double") / (nn * nn * nn - nn),
                F.lit(0.0),
            ),
            6,
        ).alias("h_stat"),
    )


# ----------------------------------- C191 CUPED variance reduction

_CUPED_SPLIT_DAY = 16  # pre-period: Jan 1-15; outcome: Jan 16-30


@query(
    "q_cuped",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN day(ts) < {_CUPED_SPLIT_DAY}
                        THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x_cents,
               CAST(sum(CASE WHEN day(ts) >= {_CUPED_SPLIT_DAY}
                        THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y_cents,
               CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                        1, 8) AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END AS t
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x_cents) AS BIGINT) AS sx,
               CAST(sum(y_cents) AS BIGINT) AS sy,
               CAST(sum(x_cents * y_cents) AS BIGINT) AS sxy,
               CAST(sum(x_cents * x_cents) AS BIGINT) AS sxx,
               CAST(sum(y_cents * y_cents) AS BIGINT) AS syy
        FROM per_user
    ),
    th AS (
        SELECT n,
               {sql_srnd(
                   "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
                   " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
                   " / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
                   " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)",
                   8)} AS theta,
               {sql_srnd(
                   "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
                   " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
                   " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
                   "    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
                   " / nullif((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
                   "  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
                   " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
                   "    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0)",
                   8)} AS rho_sq
        FROM s
    ),
    adj AS (
        SELECT p.t,
               CAST(count(*) AS BIGINT) AS n_arm,
               {sql_srnd(
                   "(CAST(sum(y_cents) AS DOUBLE)"
                   " - (SELECT theta FROM th)"
                   "   * CAST(sum(x_cents) AS DOUBLE))"
                   " / (100.0 * CAST(count(*) AS DOUBLE))", 6)} AS adj_mean
        FROM per_user p GROUP BY p.t
    )
    SELECT (SELECT n FROM th) AS n_users,
           {sql_srnd("(SELECT theta FROM th)", 6)} AS theta,
           {sql_srnd("(SELECT rho_sq FROM th)", 6)} AS var_reduction,
           CAST(sum(CASE WHEN t = 1 THEN n_arm ELSE 0 END) AS BIGINT)
               AS n_treated,
           {sql_srnd(
               "sum(CASE WHEN t = 1 THEN adj_mean ELSE 0 END)"
               " - sum(CASE WHEN t = 0 THEN adj_mean ELSE 0 END)",
               6)} AS cuped_diff
    FROM adj
    """,
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED experiment readout (C191): adjust each user's outcome-
    period value by θ·(pre-period value), θ = cov(Y,X)/var(X), and
    report the adjusted treated-control difference plus the variance
    reduction ρ² — the "controlled-experiment using pre-experiment
    data" estimator modern platforms run by default, because a ρ² of
    0.3 is 30% fewer users for the same power (it composes with
    C182's MDE directly: MDE_cuped = MDE·√(1−ρ²)). Pre-period =
    days 1-15 of the fixture month, outcome = days 16-30; treatment
    is the C94 hash bit.

    Determinism: per-user (x, y) cents are exact BIGINTs from one
    conditional agg; the five cross-moment sums are exact BIGINTs
    (products bounded well inside int64 at fixture scales); θ and ρ²
    are single fixed IEEE expressions srnd8'd; each arm's adjusted
    mean reduces ALGEBRAICALLY to exact integer sums —
    (Σy − θ·Σx)/(100·n) — so no per-user float mean ever exists to
    expose fold order (the C69 rule applied by elimination).

    Scale shape: one user-keyed conditional agg (the per-unit frame
    every experiment metric already builds), one 1-row moment
    reduce, one 2-row arm agg. day(ts) is ns-read-safe (truncation
    never moves a day boundary).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    pre = F.when(F.dayofmonth("ts") < _CUPED_SPLIT_DAY, cents).otherwise(0)
    post = F.when(F.dayofmonth("ts") >= _CUPED_SPLIT_DAY, cents).otherwise(0)
    t = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
        == 1
    ).cast("int")
    per_user = persist(ev.groupBy("user_id").agg(
        F.sum(pre).cast("long").alias("x_cents"),
        F.sum(post).cast("long").alias("y_cents"),
    ).withColumn("t", t))  # per-unit frame; moments + arms reuse
    s = per_user.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x_cents").cast("long").alias("sx"),
        F.sum("y_cents").cast("long").alias("sy"),
        F.sum(F.col("x_cents") * F.col("y_cents")).cast("long").alias("sxy"),
        F.sum(F.col("x_cents") * F.col("x_cents")).cast("long").alias("sxx"),
        F.sum(F.col("y_cents") * F.col("y_cents")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    varx_n = nd * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    vary_n = nd * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    th = s.select(
        "n",
        srnd(cov_n / F.nullif(varx_n, F.lit(0.0)), 8).alias("theta"),
        srnd(
            cov_n * cov_n / F.nullif(varx_n * vary_n, F.lit(0.0)), 8
        ).alias("rho_sq"),
    )
    # the adjusted arm mean reduces ALGEBRAICALLY to exact integer
    # sums: mean(y/100 − θ·x/100) = (Σy − θ·Σx)/(100·n) — no per-user
    # float mean exists to expose fold order (the C69 rule)
    adj = (
        per_user.groupBy("t")
        .agg(
            F.count("*").cast("long").alias("n_arm"),
            F.sum("x_cents").cast("long").alias("sx_arm"),
            F.sum("y_cents").cast("long").alias("sy_arm"),
        )
        .crossJoin(F.broadcast(th))
        .select(
            "t",
            "n_arm",
            srnd(
                (
                    F.col("sy_arm").cast("double")
                    - F.col("theta") * F.col("sx_arm").cast("double")
                )
                / (100.0 * F.col("n_arm").cast("double")),
                6,
            ).alias("adj_mean"),
        )
    )
    return (
        adj.crossJoin(F.broadcast(th.select("n", "theta", "rho_sq")))
        .agg(
            F.max("n").cast("long").alias("n_users"),
            srnd(F.max("theta"), 6).alias("theta"),
            srnd(F.max("rho_sq"), 6).alias("var_reduction"),
            F.sum(F.when(F.col("t") == 1, F.col("n_arm")).otherwise(0))
            .cast("long")
            .alias("n_treated"),
            srnd(
                F.sum(F.when(F.col("t") == 1, F.col("adj_mean")).otherwise(0.0))
                - F.sum(
                    F.when(F.col("t") == 0, F.col("adj_mean")).otherwise(0.0)
                ),
                6,
            ).alias("cuped_diff"),
        )
    )
