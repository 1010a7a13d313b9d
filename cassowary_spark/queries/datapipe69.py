"""Round-13 wave 72 (SURVEY.md §2): effect-size / inequality /
robust-shift finishers — Cohen's d + Hedges' g (C251), Bartlett's
variance-homogeneity test (C252), the Atkinson inequality index
(C253) and the Palma ratio (C254) completing the Gini/Theil/Lorenz
battery, the two-sample Hodges–Lehmann shift estimate (C255, the
point estimate whose test is C189 Mann-Whitney), Cronbach's alpha
(C256, extending the kappa agreement battery to internal
consistency), Dirichlet-smoothed query-likelihood retrieval (C257,
the language-model ranker beside C61's BM25), and the rare-token
document screen (C258, the tail-quality counterpart of C27's heavy
hitters).

Determinism conventions as the r9-r12 waves: every variable-length
float reduction is either an exact integer/DECIMAL sum or a
per-element srnd/floor-quantized integer sum (the C69 fold
discipline); single srnd-quantized divisions at the end; ordered
cuts tie-break on ids.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# ------------------------------------ C251 Cohen's d effect size

_D_A, _D_B = "click", "view"


@query(
    "q_cohens_d",
    oracle=f"""
    WITH g AS (
        SELECT
            CAST(sum(CASE WHEN event_type = '{_D_A}' THEN 1 ELSE 0 END)
                 AS BIGINT) AS na,
            CAST(sum(CASE WHEN event_type = '{_D_B}' THEN 1 ELSE 0 END)
                 AS BIGINT) AS nb,
            CAST(sum(CASE WHEN event_type = '{_D_A}'
                 THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS sa,
            CAST(sum(CASE WHEN event_type = '{_D_B}'
                 THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS sb,
            CAST(sum(CASE WHEN event_type = '{_D_A}'
                 THEN CAST(floor(value * 100.0 + 0.5) AS HUGEINT)
                      * CAST(floor(value * 100.0 + 0.5) AS HUGEINT)
                 ELSE 0 END) AS HUGEINT) AS qa,
            CAST(sum(CASE WHEN event_type = '{_D_B}'
                 THEN CAST(floor(value * 100.0 + 0.5) AS HUGEINT)
                      * CAST(floor(value * 100.0 + 0.5) AS HUGEINT)
                 ELSE 0 END) AS HUGEINT) AS qb
        FROM events WHERE event_type IN ('{_D_A}', '{_D_B}')
    )
    SELECT na AS n_a, nb AS n_b,
           {sql_srnd(
               "((CAST(sa AS DOUBLE) / na) - (CAST(sb AS DOUBLE) / nb))"
               " / sqrt(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na)"
               "       + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb))"
               "      / (na + nb - 2))", 6
           )} AS cohens_d,
           {sql_srnd(
               "(((CAST(sa AS DOUBLE) / na) - (CAST(sb AS DOUBLE) / nb))"
               " / sqrt(((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na)"
               "       + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb))"
               "      / (na + nb - 2)))"
               " * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0))", 6
           )} AS hedges_g
    FROM g
    """,
)
def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size (C251): the standardized mean difference
    of event value between '{a}' and '{b}' events, with the Hedges'
    g small-sample correction g = d·(1 − 3/(4(n_a+n_b) − 9)) — the
    number an experiment readout reports NEXT to its p-value (C229's
    Welch t says "is there a difference", d says "how big"), and the
    input every power analysis (C182 MDE sizing) consumes.

    d = (x̄_a − x̄_b)/s_p with the pooled SD s_p² =
    ((n_a−1)s_a² + (n_b−1)s_b²)/(n_a+n_b−2).

    Determinism: values quantize to integer cents; all sufficient
    statistics (n, Σx, Σx²) are exact BIGINT/HUGEINT conditional
    sums, so the assembled doubles are identical on both engines
    ((n−1)s² = Σx² − (Σx)²/n spelled once, in that form); two srnd6
    outputs.

    Scale shape: ONE filtered map-side-combining aggregate over the
    scan → a 1-row frame; zero joins, zero windows.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_D_A, _D_B)
    )
    dec = "decimal(38,0)"
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    is_a = F.col("event_type") == _D_A
    g = ev.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(is_a, cents).otherwise(0)).cast("long").alias("sa"),
        F.sum(F.when(~is_a, cents).otherwise(0)).cast("long").alias("sb"),
        F.sum(F.when(is_a, cents.cast(dec) * cents).otherwise(F.lit(0).cast(dec))).alias("qa"),
        F.sum(F.when(~is_a, cents.cast(dec) * cents).otherwise(F.lit(0).cast(dec))).alias("qb"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    qa, qb = F.col("qa").cast("double"), F.col("qb").cast("double")
    ssq = (qa - sa * F.col("sa") / F.col("na")) + (
        qb - sb * F.col("sb") / F.col("nb")
    )
    d = (sa / na - sb / nb) / F.sqrt(ssq / (na + nb - 2.0))
    return g.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        srnd(d, 6).alias("cohens_d"),
        srnd(d * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0)), 6).alias("hedges_g"),
    )


q_cohens_d.__doc__ = q_cohens_d.__doc__.format(a=_D_A, b=_D_B)


# --------------------------- C252 Bartlett variance-homogeneity test


@query(
    "q_bartlett",
    oracle=f"""
    WITH per AS (
        SELECT l_returnflag AS flag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(l_extendedprice + 0.5) AS BIGINT))
                    AS BIGINT) AS s,
               CAST(sum(CAST(floor(l_extendedprice + 0.5) AS HUGEINT)
                        * CAST(floor(l_extendedprice + 0.5) AS HUGEINT))
                    AS HUGEINT) AS q
        FROM lineitem GROUP BY 1
    ),
    v AS (
        SELECT flag, n,
               CAST(n AS DOUBLE) * q / n - CAST(s AS DOUBLE) * s / n AS a
        FROM per
    ),
    t AS (
        SELECT flag, n, a / (n - 1) AS s2 FROM v
    ),
    qn AS (
        SELECT
            CAST(count(*) AS BIGINT) AS k,
            CAST(sum(n) AS BIGINT) AS nn,
            CAST(sum((n - 1)
                 * CAST(floor(ln(s2) * 100000000.0 + 0.5) AS BIGINT))
                 AS HUGEINT) AS lnsum_q,
            CAST(sum(CAST(n - 1 AS HUGEINT)
                 * CAST(floor(s2 * 10000.0 + 0.5) AS HUGEINT))
                 AS HUGEINT) AS wv_q,
            CAST(sum(CAST(floor(1e15 / (n - 1) + 0.5) AS BIGINT))
                 AS BIGINT) AS inv_q
        FROM t
    )
    SELECT k AS n_groups, nn AS n_rows,
           {sql_srnd(
               "((CAST(nn AS DOUBLE) - k)"
               "   * ln(CAST(wv_q AS DOUBLE) / 10000.0"
               "        / (CAST(nn AS DOUBLE) - k))"
               " - CAST(lnsum_q AS DOUBLE) / 100000000.0)"
               " / (1.0 + (CAST(inv_q AS DOUBLE) / 1e15"
               "           - 1.0 / (CAST(nn AS DOUBLE) - k))"
               "          / (3.0 * (k - 1.0)))", 6
           )} AS bartlett_t
    FROM qn
    """,
)
def q_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test (C252): variance homogeneity of whole-dollar
    line prices across return flags — the higher-power (but
    normality-sensitive) sibling of C231 Levene, T =
    [(N−k)·ln(s_p²) − Σ(n_i−1)·ln(s_i²)] / C with the standard
    correction C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1)); an
    ANOVA-precondition check (C188) a metrics pipeline runs before
    trusting pooled variances.

    Determinism: per-group sufficient statistics are exact
    BIGINT/HUGEINT (n·s² derived as (n·Σx² − (Σx)²)/n in one spelled
    form); the three variable-length cross-group sums are
    floor-quantized integer sums (ln(s_i²) at 1e-8, s_i² at 1e-4 —
    mean-scale magnitudes, r12 saturation rule — and 1/(n_i−1) at
    1e-15), exact in HUGEINT/DECIMAL(38,0); one srnd6 assembly.

    Scale shape: ONE map-side-combining groupBy(flag) (k=3 groups)
    then a 1-row reduce — two aggregates, zero joins/windows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    dol = F.floor(F.col("l_extendedprice") + 0.5).cast("long")
    per = li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dol).cast("long").alias("s"),
        F.sum(dol.cast(dec) * dol).alias("q"),
    )
    n = F.col("n").cast("double")
    a = n * F.col("q").cast("double") / F.col("n") - F.col("s").cast(
        "double"
    ) * F.col("s") / F.col("n")
    t = per.select("n", (a / (F.col("n") - 1)).alias("s2"))
    qn = t.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum(
            (F.col("n") - 1)
            * F.floor(F.log(F.col("s2")) * 1e8 + 0.5).cast("long")
        )
        .cast(dec)
        .alias("lnsum_q"),
        F.sum(
            (F.col("n") - 1).cast(dec)
            * F.floor(F.col("s2") * 1e4 + 0.5).cast(dec)
        ).alias("wv_q"),
        F.sum(F.floor(F.lit(1e15) / (F.col("n") - 1) + 0.5).cast("long"))
        .cast("long")
        .alias("inv_q"),
    )
    k = F.col("k").cast("double")
    nn = F.col("nn").cast("double")
    sp2 = F.col("wv_q").cast("double") / 1e4 / (nn - k)
    num = (nn - k) * F.log(sp2) - F.col("lnsum_q").cast("double") / 1e8
    c = 1.0 + (F.col("inv_q").cast("double") / 1e15 - 1.0 / (nn - k)) / (
        3.0 * (k - 1.0)
    )
    return qn.select(
        F.col("k").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        srnd(num / c, 6).alias("bartlett_t"),
    )


# ------------------------------------ C253 Atkinson inequality index


@query(
    "q_atkinson_index",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
               CAST(sum(CAST(floor(ln(cents) * 100000000.0 + 0.5)
                             AS BIGINT)) AS HUGEINT) AS lq
        FROM spend WHERE cents > 0
    )
    SELECT n AS n_customers,
           {sql_srnd(
               "1.0 - exp(CAST(lq AS DOUBLE) / n / 100000000.0)"
               " / (CAST(s AS DOUBLE) / n)", 6
           )} AS atkinson
    FROM agg
    """,
)
def q_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index at ε=1 (C253): A = 1 − geomean/mean
    of per-customer spend — the welfare-theoretic member of the
    inequality battery (C101 Gini, C207 Theil, C202 Lorenz) whose
    value reads directly as "the fraction of total spend society
    would give up for perfect equality"; at ε=1 it is a monotone
    transform of Theil-L, making the pair a cross-check.

    Determinism: spend is exact integer cents; the geometric mean's
    Σ ln(cents) is a per-customer floor-quantized (1e-8) integer sum
    (the C69 fold discipline — a raw double sum would be
    fold-order-dependent); mean from the exact cent total; one srnd6
    expression of exp/ratio.

    Scale shape: one custkey partial agg, one 1-row reduce — the
    same two-aggregate shape as C101/C207, no sort (Gini needs the
    ordered pass; Atkinson doesn't — worth knowing at 100 TB).
    """
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    ).filter(F.col("cents") > 0)
    dec = "decimal(38,0)"
    agg = spend.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cents").cast(dec)).alias("s"),
        F.sum(F.floor(F.log("cents") * 1e8 + 0.5).cast("long"))
        .cast(dec)
        .alias("lq"),
    )
    n = F.col("n").cast("double")
    return agg.select(
        F.col("n").alias("n_customers"),
        srnd(
            1.0
            - F.exp(F.col("lq").cast("double") / n / 1e8)
            / (F.col("s").cast("double") / n),
            6,
        ).alias("atkinson"),
    )


# ------------------------------------------- C254 Palma ratio

_PALMA_BANDS = 10


@query(
    "q_palma_ratio",
    oracle=f"""
    WITH spend AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    cells AS (
        SELECT cents AS v, CAST(count(*) AS BIGINT) AS cnt
        FROM spend GROUP BY 1
    ),
    cum AS (
        SELECT v, cnt,
               CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
               CAST(sum(cnt) OVER () AS BIGINT) AS tot
        FROM cells
    ),
    binned AS (
        SELECT CAST(1 + ((cum - 1) * {_PALMA_BANDS}) // tot AS INT) AS band,
               v, cnt
        FROM cum
    )
    SELECT CAST(sum(cnt) AS BIGINT) AS n_customers,
           CAST(sum(CASE WHEN band = {_PALMA_BANDS}
                    THEN CAST(v AS HUGEINT) * cnt ELSE 0 END)
                AS BIGINT) AS top10_cents,
           CAST(sum(CASE WHEN band <= 4
                    THEN CAST(v AS HUGEINT) * cnt ELSE 0 END)
                AS BIGINT) AS bottom40_cents,
           {sql_srnd(
               "CAST(sum(CASE WHEN band = " + str(_PALMA_BANDS) +
               " THEN CAST(v AS HUGEINT) * cnt ELSE 0 END) AS DOUBLE)"
               " / nullif(CAST(sum(CASE WHEN band <= 4"
               " THEN CAST(v AS HUGEINT) * cnt ELSE 0 END) AS DOUBLE), 0.0)",
               6,
           )} AS palma
    FROM binned
    """,
)
def q_palma_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palma ratio (C254): top-decile spend share over bottom-40%
    share of per-customer spend — the inequality headline number
    policy shops quote because (unlike Gini) it responds only to the
    tails that actually move; completes the battery with C101/C202/
    C207/C253.

    Decile membership is TIES-TOGETHER via operators/ranks
    ``counts_bands`` (band = 1 + (cum−1)·10 div N over the
    distinct-spend cells frame) — tie-invariant, no positional
    tiebreak, the exact q_equidepth_hist semantics, so "top decile"
    is a pure function of the spend multiset on both engines.

    Determinism: integer cents and BIGINT banding end to end; band
    sums exact; one guarded srnd6 division.

    Scale shape: custkey partial agg → distinct-spend cells →
    counts-frame banding window (customer-domain-bounded, never
    corpus rows) → 1-row reduce.
    """
    from cassowary_spark.operators.ranks import counts_bands

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    cells = spend.groupBy(F.col("cents").alias("v")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    dec = "decimal(38,0)"
    banded = counts_bands(cells, "v", "cnt", _PALMA_BANDS)
    top = F.when(
        F.col("band") == _PALMA_BANDS, F.col("v").cast(dec) * F.col("cnt")
    ).otherwise(F.lit(0).cast(dec))
    bot = F.when(
        F.col("band") <= 4, F.col("v").cast(dec) * F.col("cnt")
    ).otherwise(F.lit(0).cast(dec))
    return banded.agg(
        F.sum("cnt").cast("long").alias("n_customers"),
        F.sum(top).cast("long").alias("top10_cents"),
        F.sum(bot).cast("long").alias("bottom40_cents"),
        srnd(
            F.sum(top).cast("double")
            / F.nullif(F.sum(bot).cast("double"), F.lit(0.0)),
            6,
        ).alias("palma"),
    )


# ---------------------- C255 two-sample Hodges–Lehmann shift estimate


@query(
    "q_hodges_lehmann",
    oracle=f"""
    WITH xa AS (
        SELECT CAST(floor(value + 0.5) AS BIGINT) AS u,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events WHERE event_type = '{_D_A}' GROUP BY 1
    ),
    xb AS (
        SELECT CAST(floor(value + 0.5) AS BIGINT) AS u,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events WHERE event_type = '{_D_B}' GROUP BY 1
    ),
    diffs AS (
        SELECT xa.u - xb.u AS d,
               CAST(sum(CAST(xa.cnt AS HUGEINT) * xb.cnt) AS HUGEINT) AS w
        FROM xa CROSS JOIN xb GROUP BY 1
    ),
    cum AS (
        SELECT d, w,
               CAST(sum(w) OVER (ORDER BY d) AS HUGEINT) AS cw,
               CAST(sum(w) OVER () AS HUGEINT) AS tw
        FROM diffs
    )
    SELECT (SELECT CAST(sum(cnt) AS BIGINT) FROM xa) AS n_a,
           (SELECT CAST(sum(cnt) AS BIGINT) FROM xb) AS n_b,
           CAST(max(tw) AS BIGINT) AS n_pairs,
           CAST(min(CASE WHEN 2 * cw >= tw THEN d END) AS BIGINT)
               AS hl_shift
    FROM cum
    """,
)
def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Hodges–Lehmann shift (C255): the median of all
    pairwise differences x_a − x_b between '{a}' and '{b}' event
    values (unit-quantized) — the robust location-shift POINT
    estimate that pairs with C189's Mann-Whitney test (it inverts
    the same statistic), immune to the outliers that drag the plain
    mean difference (C251 reports that, standardized).

    Pure integers end to end: values quantize to whole units, the
    pair multiset collapses to (diff, weight = cnt_a·cnt_b) over the
    VALUE-CELLS cross product — never row pairs — and the median is
    the type-1 lower weighted median (smallest diff with
    2·cum ≥ total), the same integer cross-multiplication cut as
    C120. Exact; no floats anywhere.

    Scale shape: ONE events pass to the (event_type, u) value cells
    (unit-quantized domain — corpus-size-independent), then the
    domain² pair arithmetic, the cumulative-weight median cut and
    both sample sizes run as row-local folds over the packed sorted
    cell arrays (wave-8 ladder-collapse discipline; ~330² cells
    here, under the ~1k² fold crossover). Exact DECIMAL(38,0)
    weights — fold order irrelevant; the ungrouped cumulative scan
    over d-sorted pairs crosses the 2·cum ≥ total threshold at the
    same d as the old grouped-by-d window (within a run of equal d
    the crossing d is that run's d). The classic trick for making an
    O(n²) rank estimator corpus-scale, now with a two-exchange plan.
    """
    ev = load_table(spark, sf_dir, "events")
    dec = "DECIMAL(38,0)"
    u = F.floor(F.col("value") + 0.5).cast("long").alias("u")
    cells = (
        ev.filter(F.col("event_type").isin(_D_A, _D_B))
        .select(F.col("event_type").alias("et"), u)
        .groupBy("et", "u")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    packed = cells.agg(
        F.expr(
            "array_sort(collect_list("
            f"CASE WHEN et = '{_D_A}' THEN struct(u, cnt) END))"
        ).alias("ca"),
        F.expr(
            "array_sort(collect_list("
            f"CASE WHEN et = '{_D_B}' THEN struct(u, cnt) END))"
        ).alias("cb"),
    )
    sel = packed.select(
        F.expr(
            "IF(size(ca) = 0, CAST(NULL AS BIGINT),"
            " aggregate(ca, 0L, (a, c) -> a + c.cnt))"
        ).alias("n_a"),
        F.expr(
            "IF(size(cb) = 0, CAST(NULL AS BIGINT),"
            " aggregate(cb, 0L, (a, c) -> a + c.cnt))"
        ).alias("n_b"),
        F.expr(
            "array_sort(flatten(transform(ca, a -> transform(cb, b ->"
            f" struct(a.u - b.u AS d, CAST(a.cnt AS {dec}) * b.cnt AS w)))))"
        ).alias("dw"),
    ).select(
        "n_a",
        "n_b",
        "dw",
        F.expr(
            f"aggregate(dw, CAST(0 AS {dec}),"
            f" (a, x) -> CAST(a + x.w AS {dec}))"
        ).alias("tw"),
    )
    return sel.select(
        "n_a",
        "n_b",
        # empty-side guard (r14 ADVICE): the old grouped plan returned
        # n_pairs = NULL when either sample is empty (max over an empty
        # frame), while a fold over the empty pair array starts at 0 —
        # keep the NULL convention so the row stays consistent with
        # n_a/n_b in that degenerate case
        F.expr("IF(size(dw) = 0, CAST(NULL AS BIGINT), CAST(tw AS BIGINT))")
        .alias("n_pairs"),
        F.expr(
            f"aggregate(dw, struct(CAST(0 AS {dec}) AS c,"
            " CAST(NULL AS BIGINT) AS hd),"
            f" (acc, x) -> struct(CAST(acc.c + x.w AS {dec}) AS c,"
            " CASE WHEN acc.hd IS NOT NULL THEN acc.hd"
            " WHEN 2 * (acc.c + x.w) >= tw THEN x.d END AS hd),"
            " acc -> acc.hd)"
        )
        .cast("long")
        .alias("hl_shift"),
    )


q_hodges_lehmann.__doc__ = q_hodges_lehmann.__doc__.format(a=_D_A, b=_D_B)


# ------------------------------------------ C256 Cronbach's alpha

_CRON_ITEMS = ("click", "view", "purchase", "signup", "error")


@query(
    "q_cronbach_alpha",
    oracle=f"""
    WITH m AS (
        SELECT user_id,
            {", ".join(
                f'''CAST(sum(CASE WHEN event_type = '{t}'
                    THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS x{i}'''
                for i, t in enumerate(_CRON_ITEMS)
            )}
        FROM events GROUP BY user_id
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
            {", ".join(
                f"CAST(sum(CAST(x{i} AS HUGEINT)) AS HUGEINT) AS s{i},"
                f" CAST(sum(CAST(x{i} AS HUGEINT) * x{i}) AS HUGEINT) AS q{i}"
                for i in range(len(_CRON_ITEMS))
            )},
            CAST(sum(CAST({"+".join(f"x{i}" for i in range(len(_CRON_ITEMS)))}
                 AS HUGEINT)) AS HUGEINT) AS st,
            CAST(sum(CAST({"+".join(f"x{i}" for i in range(len(_CRON_ITEMS)))}
                 AS HUGEINT)
                 * ({"+".join(f"x{i}" for i in range(len(_CRON_ITEMS)))}))
                 AS HUGEINT) AS qt
        FROM m
    )
    SELECT n AS n_users,
           CAST({len(_CRON_ITEMS)} AS INT) AS k_items,
           {sql_srnd(
               f"({len(_CRON_ITEMS)}.0 / {len(_CRON_ITEMS) - 1}.0)"
               " * (1.0 - ("
               + " + ".join(
                   f"(CAST(n AS DOUBLE) * q{i} - CAST(s{i} AS DOUBLE) * s{i})"
                   for i in range(len(_CRON_ITEMS))
               )
               + ") / (CAST(n AS DOUBLE) * qt"
               "       - CAST(st AS DOUBLE) * st))", 6
           )} AS cronbach_alpha
    FROM agg
    """,
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha (C256): internal-consistency reliability of
    the k=5 per-user event-type spend "items" — α = k/(k−1) ·
    (1 − Σᵢ Var(itemᵢ)/Var(total)) — extending the agreement battery
    (C150 Cohen, C216 Fleiss, C218 Cochran) from rater agreement to
    scale reliability: do the per-type signals measure one
    underlying engagement trait?

    The n·(n−1) variance denominators cancel between numerator and
    denominator, so α reduces to exact integer algebra:
    Σᵢ(n·Σxᵢ² − (Σxᵢ)²) / (n·Σt² − (Σt)²) with every sum an exact
    HUGEINT/DECIMAL — the k-term numerator is a FIXED written-order
    sum of exact integers (no float fold anywhere); one srnd6.

    Scale shape: one user-keyed conditional-sum partial agg builds
    the dense user×item matrix row (missing items are true zeros),
    one 1-row reduce computes all 2k+2 sufficient statistics; no
    joins, no windows, no pivot shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    m = ev.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, cents).otherwise(0))
            .cast("long")
            .alias(f"x{i}")
            for i, t in enumerate(_CRON_ITEMS)
        ]
    )
    dec = "decimal(38,0)"
    k = len(_CRON_ITEMS)
    tot = sum((F.col(f"x{i}") for i in range(1, k)), F.col("x0"))
    aggs = [F.count("*").cast("long").alias("n")]
    for i in range(k):
        x = F.col(f"x{i}")
        aggs.append(F.sum(x.cast(dec)).alias(f"s{i}"))
        aggs.append(F.sum(x.cast(dec) * x).alias(f"q{i}"))
    aggs.append(F.sum(tot.cast(dec)).alias("st"))
    aggs.append(F.sum(tot.cast(dec) * tot).alias("qt"))
    agg = m.agg(*aggs)
    n = F.col("n").cast("double")
    item_var_sum = None
    for i in range(k):
        term = n * F.col(f"q{i}").cast("double") - F.col(f"s{i}").cast(
            "double"
        ) * F.col(f"s{i}")
        item_var_sum = term if item_var_sum is None else item_var_sum + term
    tot_var = n * F.col("qt").cast("double") - F.col("st").cast(
        "double"
    ) * F.col("st")
    alpha = (k / (k - 1.0)) * (1.0 - item_var_sum / tot_var)
    return agg.select(
        F.col("n").alias("n_users"),
        F.lit(k).cast("int").alias("k_items"),
        srnd(alpha, 6).alias("cronbach_alpha"),
    )


# ------------------- C257 Dirichlet-smoothed query likelihood ranking

_DLM_TERMS = ("scan", "join", "vector")
_DLM_MU = 2000.0
_DLM_TOPK = 20


@query(
    "q_dirichlet_lm",
    oracle=f"""
    WITH dl AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents
    ),
    stats AS (
        SELECT CAST(sum(dl) AS BIGINT) AS coll FROM dl
    ),
    tok AS (
        SELECT doc_id, w FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
        ) WHERE w IN {_DLM_TERMS!r}
    ),
    tf AS (
        SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2
    ),
    cf AS (
        SELECT w, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1
    ),
    corr AS (
        SELECT tf.doc_id,
               CAST(sum(CAST(floor((ln(tf.tf + {_DLM_MU}
                        * cf.cf / (SELECT coll FROM stats))
                      - ln({_DLM_MU} * cf.cf / (SELECT coll FROM stats)))
                      * 100000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS cq,
               CAST(count(*) AS INT) AS n_matched
        FROM tf JOIN cf ON tf.w = cf.w
        GROUP BY 1
    ),
    base AS (
        SELECT dl.doc_id, dl.dl,
               coalesce(corr.cq, 0) AS cq,
               coalesce(corr.n_matched, 0) AS n_matched
        FROM dl LEFT JOIN corr ON corr.doc_id = dl.doc_id
    ),
    lnp AS (
        SELECT CAST(sum(CAST(floor(ln({_DLM_MU} * cf
                     / (SELECT coll FROM stats)) * 100000000.0 + 0.5)
                     AS BIGINT)) AS BIGINT) AS basep,
               CAST(count(*) AS BIGINT) AS nq
        FROM cf
    )
    SELECT doc_id, n_matched,
           {sql_srnd(
               "(CAST((SELECT basep FROM lnp) AS DOUBLE) + cq)"
               " / 100000000.0"
               " - (SELECT nq FROM lnp)"
               f"   * ln(dl + {_DLM_MU})", 4
           )} AS dlm_score
    FROM base
    ORDER BY dlm_score DESC, doc_id
    LIMIT {_DLM_TOPK}
    """,
)
def q_dirichlet_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (C257): score(d)
    = Σ_q ln((tf_qd + μ·p(q|C)) / (|d| + μ)), μ={mu} — the
    language-model ranker that sits beside C61's BM25 in every IR
    stack (Zhai–Lafferty smoothing: unseen query terms back off to
    the collection model instead of zeroing the document).

    Decomposition for scale AND determinism: score = [Σ_q ln(μ·p_q)
    + Σ_{{matched}} (ln(tf + μ·p_q) − ln(μ·p_q))] − |q|·ln(|d| + μ).
    The first sum is a query-level constant (|q| rows, broadcast);
    the per-doc correction folds ONLY matched (doc, term) rows —
    floor-quantized (1e-8) integer contributions summed exactly, the
    C69 discipline — and the length penalty is row-local. Docs
    matching nothing still score (pure smoothing), exactly as the
    model defines. Top-{k} cut orders by (srnd4 score, doc_id) —
    TakeOrderedAndProject, no global sort.

    Scale shape: tokens filter to |q| terms BEFORE the tf groupBy
    (the C61 shape); cf/collection totals are tiny broadcasts; the
    only corpus-sized shuffle is the matched (doc, term) tf agg.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dl = persist(d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dl")
    ))  # r14: two longs per doc; the collection total AND the
    # final length-penalty join both consume it — unpersisted each
    # re-split the full corpus text (narrow lineage, nothing for AQE
    # exchange reuse to dedup)
    stats = dl.agg(F.sum("dl").cast("long").alias("coll"))
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w").isin(*_DLM_TERMS))
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").cast("long").alias("tf"))
    cf = tf.groupBy("w").agg(F.sum("tf").cast("long").alias("cf"))
    p = (
        cf.crossJoin(F.broadcast(stats))
        .select(
            "w",
            (F.lit(_DLM_MU) * F.col("cf") / F.col("coll")).alias("mup"),
        )
    )
    corr = (
        tf.join(F.broadcast(p), "w")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.floor(
                    (F.log(F.col("tf") + F.col("mup")) - F.log("mup"))
                    * 1e8
                    + 0.5
                ).cast("long")
            )
            .cast("long")
            .alias("cq"),
            F.count("*").cast("int").alias("n_matched"),
        )
    )
    basep = p.agg(
        F.sum(F.floor(F.log("mup") * 1e8 + 0.5).cast("long"))
        .cast("long")
        .alias("basep"),
        F.count("*").cast("long").alias("nq"),
    )
    base = (
        dl.join(corr, "doc_id", "left")
        .crossJoin(F.broadcast(basep))
        .select(
            "doc_id",
            F.coalesce(F.col("n_matched"), F.lit(0).cast("int")).alias(
                "n_matched"
            ),
            srnd(
                (
                    F.col("basep").cast("double")
                    + F.coalesce(F.col("cq"), F.lit(0).cast("long"))
                )
                / 1e8
                - F.col("nq") * F.log(F.col("dl") + F.lit(_DLM_MU)),
                4,
            ).alias("dlm_score"),
        )
    )
    return base.orderBy(F.desc("dlm_score"), F.asc("doc_id")).limit(_DLM_TOPK)


q_dirichlet_lm.__doc__ = q_dirichlet_lm.__doc__.format(
    mu=int(_DLM_MU), k=_DLM_TOPK
)


# ------------------------------- C258 rare-token document screen

_RARE_DF = 2
_RARE_FRAC = 0.2


@query(
    "q_rare_token_docs",
    oracle=f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, w FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents
        )
    ),
    df AS (
        SELECT w, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY 1
    ),
    per AS (
        SELECT dt.doc_id,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(sum(CASE WHEN df.df <= {_RARE_DF} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_rare
        FROM dt JOIN df ON dt.w = df.w
        GROUP BY 1
    ),
    scored AS (
        SELECT d.source, per.n_rare, per.n_distinct,
               CAST(floor(CAST(per.n_rare AS DOUBLE) / per.n_distinct
                          * 1000000.0 + 0.5) AS BIGINT) AS frac_q
        FROM per JOIN documents d ON d.doc_id = per.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN frac_q >= {int(_RARE_FRAC * 1e6)}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           {sql_srnd(
               "CAST(sum(frac_q) AS DOUBLE) / count(*) / 1000000.0", 6
           )} AS avg_rare_frac
    FROM scored GROUP BY source
    """,
)
def q_rare_token_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token document screen (C258): per source, how many
    documents draw ≥{pct}% of their distinct vocabulary from
    corpus-rare tokens (global document frequency ≤ {df}) — the
    tail-quality screen that catches OCR garbage, mojibake and
    boilerplate hashes, complementing C27's heavy-hitter (head) view
    and C37's surface-quality gauntlet; a pretraining pipeline drops
    or down-weights the flagged docs.

    Determinism: df and per-doc counts are exact integers over the
    per-doc-distinct token set; each doc's rare fraction quantizes
    to 1e-6 integer units BEFORE the per-source average (exact
    BIGINT sum — the C69 fold discipline), so the threshold compare
    and the mean are engine-stable.

    Scale shape: one distinct (doc, token) explode (map-side
    distinct inside the doc), one token-keyed df agg joined back on
    the token hash — disjoint vocabularies never meet — then
    doc-keyed and source-keyed partial aggs. Same join discipline as
    the dedup family's shingle equi-join; a df cap is unnecessary
    because the join fans out per (doc, token) occurrence, never
    per token pair.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    dt = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )
    df = dt.groupBy("w").agg(F.count("*").cast("long").alias("df"))
    per = (
        dt.join(df, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_distinct"),
            F.sum(F.when(F.col("df") <= _RARE_DF, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
    )
    scored = per.join(d.select("doc_id", "source"), "doc_id").select(
        "source",
        F.floor(
            F.col("n_rare").cast("double")
            / F.col("n_distinct")
            * 1e6
            + 0.5
        )
        .cast("long")
        .alias("frac_q"),
    )
    return scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("frac_q") >= int(_RARE_FRAC * 1e6), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_flagged"),
        srnd(
            F.sum("frac_q").cast("double") / F.count("*") / 1e6, 6
        ).alias("avg_rare_frac"),
    )


q_rare_token_docs.__doc__ = q_rare_token_docs.__doc__.format(
    pct=int(_RARE_FRAC * 100), df=_RARE_DF
)
