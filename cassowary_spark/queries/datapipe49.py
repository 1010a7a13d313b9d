"""Round-9 wave 51 (SURVEY.md §2): one-way ANOVA across sources
(C188) and the Mann-Whitney U test with rank-biserial effect size
(C189).

C188 is the continuous-outcome "do groups differ at all" omnibus the
battery lacked (χ² answers it for categories); C189 is the
nonparametric two-sample location test — the robust companion to
C139's z and the effect-size language (rank-biserial = Cliff's delta)
reviewers ask for when distributions are skewed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.operators.ranks import doubled_midranks
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# ------------------------------------------- C188 one-way ANOVA F


@query(
    "q_anova_f",
    oracle=f"""
    WITH m AS (
        SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
    ),
    cells AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               CAST(sum(x * x) AS BIGINT) AS q
        FROM m GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(s) AS BIGINT) AS ss,
               CAST(sum(q) AS BIGINT) AS qq, CAST(count(*) AS BIGINT) AS g
        FROM cells
    ),
    parts AS (
        SELECT
            {sql_srnd(
                "list_sum(list("
                "CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
                " ORDER BY source))"
                " - CAST((SELECT ss FROM tot) AS DOUBLE)"
                "   * CAST((SELECT ss FROM tot) AS DOUBLE)"
                "   / CAST((SELECT nn FROM tot) AS DOUBLE)", 6)} AS ssb,
            {sql_srnd(
                "CAST((SELECT qq FROM tot) AS DOUBLE)"
                " - list_sum(list("
                "CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
                " ORDER BY source))", 6)} AS ssw
        FROM cells
    )
    SELECT (SELECT g FROM tot) AS n_groups,
           (SELECT nn FROM tot) AS n_rows, ssb, ssw,
           {sql_srnd(
               "(ssb / (CAST((SELECT g FROM tot) AS DOUBLE) - 1.0))"
               " / nullif(ssw / (CAST((SELECT nn FROM tot) AS DOUBLE)"
               "                 - CAST((SELECT g FROM tot) AS DOUBLE)),"
               " 0.0)", 6)} AS f_stat,
           {sql_srnd(
               "ssb / nullif(ssb + ssw, 0.0)", 6)} AS eta_sq
    FROM parts
    """,
)
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across sources (C188): F = MS_between/MS_within
    for document length over source groups, with η² = SSB/SST as the
    variance-explained effect size — the continuous-outcome omnibus
    "do ANY groups differ" test the battery lacked (χ²/Cramér's V
    answer it for categorical cells, C168 Spearman for monotone
    pairs; ANOVA is the k-group mean comparison every corpus-mix
    dashboard implicitly eyeballs).

    Determinism: per-source (n, Σx, Σx²) are exact BIGINTs in one
    pass; SSB's Σ s²/n folds over ≤|sources| terms in source order
    (C69) — the only sum over float terms anywhere — and SSB/SSW/F/η²
    are fixed IEEE expressions srnd6'd with explicit nullif guards
    for the degenerate zero-variance case.

    Scale shape: one map-side-combining groupBy to |sources| rows;
    everything after is arithmetic on that frame. The 100 TB shape
    of ANOVA is exactly its sufficient statistics — nothing but
    (n, Σ, Σ²) per group ever moves.
    """
    d = load_table(spark, sf_dir, "documents")
    cells = persist(
        d.select("source", F.col("n_chars").cast("long").alias("x"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("s"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
        )
    )  # |sources| rows; totals + folds reuse it
    tot = cells.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("ss"),
        F.sum("q").cast("long").alias("qq"),
        F.count("*").cast("long").alias("g"),
    )
    fold_s2n = F.expr(
        "aggregate(array_sort(collect_list(struct(source, t))),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.t)"
    )
    terms = cells.select(
        "source",
        (
            F.col("s").cast("double")
            * F.col("s").cast("double")
            / F.col("n").cast("double")
        ).alias("t"),
    )
    agg = terms.agg(fold_s2n.alias("s2n")).crossJoin(F.broadcast(tot))
    ssb = srnd(
        F.col("s2n")
        - F.col("ss").cast("double")
        * F.col("ss").cast("double")
        / F.col("nn").cast("double"),
        6,
    )
    ssw = srnd(F.col("qq").cast("double") - F.col("s2n"), 6)
    out = agg.select(
        F.col("g").alias("n_groups"),
        F.col("nn").alias("n_rows"),
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        srnd(
            (ssb / (F.col("g").cast("double") - 1.0))
            / F.nullif(
                ssw
                / (F.col("nn").cast("double") - F.col("g").cast("double")),
                F.lit(0.0),
            ),
            6,
        ).alias("f_stat"),
        srnd(ssb / F.nullif(ssb + ssw, F.lit(0.0)), 6).alias("eta_sq"),
    )
    return out


# ---------------------- C189 Mann-Whitney U + rank-biserial effect


@query(
    "q_mann_whitney",
    oracle=f"""
    WITH m AS (
        SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                     1, 8) AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END AS t,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x
        FROM events
    ),
    r AS (
        SELECT t,
               2 * rank() OVER (ORDER BY x)
                 + count(*) OVER (PARTITION BY x) - 1 AS u2,
               CAST(count(*) OVER (PARTITION BY x) AS BIGINT) AS tie
        FROM m
    ),
    s AS (
        SELECT CAST(sum(CASE WHEN t = 1 THEN u2 ELSE 0 END) AS BIGINT)
                   AS r2_t,
               CAST(sum(t) AS BIGINT) AS n_t,
               CAST(count(*) - sum(t) AS BIGINT) AS n_c,
               CAST(count(*) AS BIGINT) AS n
        FROM r
    ),
    ties AS (
        SELECT CAST(coalesce(sum(tie * tie * tie - tie), 0) AS BIGINT)
                   AS tsum
        FROM (SELECT x, CAST(count(*) AS BIGINT) AS tie
              FROM m GROUP BY x) g
        WHERE tie > 1
    ),
    u AS (
        SELECT n_t, n_c, n,
               {sql_srnd(
                   "CAST(r2_t AS DOUBLE) / 2.0"
                   " - CAST(n_t AS DOUBLE)"
                   "   * (CAST(n_t AS DOUBLE) + 1.0) / 2.0", 6)} AS u_t,
               (SELECT tsum FROM ties) AS tsum
        FROM s
    )
    SELECT n_t, n_c, u_t,
           {sql_srnd(
               "2.0 * u_t / (CAST(n_t AS DOUBLE) * CAST(n_c AS DOUBLE))"
               " - 1.0", 6)} AS rank_biserial,
           {sql_srnd(
               "(u_t - CAST(n_t AS DOUBLE) * CAST(n_c AS DOUBLE) / 2.0)"
               " / nullif(sqrt("
               "   CAST(n_t AS DOUBLE) * CAST(n_c AS DOUBLE) / 12.0"
               "   * ((CAST(n AS DOUBLE) + 1.0)"
               "      - CAST(tsum AS DOUBLE)"
               "        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))"
               "), 0.0)", 6)} AS z
    FROM u
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (C189): the rank-sum test of treated-vs-control
    event value with the tie-corrected normal approximation and the
    rank-biserial effect size (= Cliff's delta: P(X>Y) − P(X<Y)) —
    the nonparametric companion to C139's mean z-test, and the one
    that stays valid when value distributions are heavy-tailed
    (which C178's Hill estimator will happily tell you they are).

    Determinism: ranks use the exact doubled-average-rank identity
    (2·ar = 2·min_rank + tie_count − 1 — C168's idiom) computed from
    per-value COUNTS (operators/ranks.doubled_midranks), so the
    treated rank SUM Σ cnt_t(x)·u2(x) is an exact BIGINT identical to
    ranking the rows; U, the effect size, and the tie-corrected z are
    fixed IEEE expressions over exact integers, each srnd6'd; the
    tie-correction Σ(t³−t) is an exact BIGINT sum over the same
    counts frame.

    Scale shape: NO corpus sort — one map-side-combining groupBy
    collapses events to its distinct cents-quantized value frame
    (domain-bounded), one running-sum window over THAT frame yields
    the midranks, and the rank sum + tie sum are aggregates of the
    same counts frame (one scan, one shuffle on x). Treatment
    assignment is row-local hashing. This IS the 100 TB shape; the
    former row-ranked global window is gone (r9 verdict ask).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    t = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
        == 1
    ).cast("int")
    m = ev.select(
        t.alias("t"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("x"),
    )
    cells = m.groupBy("x").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("t").cast("long").alias("cnt_t"),
    )
    cells = doubled_midranks(cells, "x", "cnt")
    tie = F.col("cnt")
    s = cells.agg(
        F.sum(F.col("cnt_t") * F.col("u2")).cast("long").alias("r2_t"),
        F.sum("cnt_t").cast("long").alias("n_t"),
        (F.sum("cnt") - F.sum("cnt_t")).cast("long").alias("n_c"),
        F.sum("cnt").cast("long").alias("n"),
        # the tie sum shares this aggregate — one frame, one pass,
        # no second lineage over the cells (the former ties branch)
        F.coalesce(
            F.sum(F.when(tie > 1, tie * tie * tie - tie).otherwise(F.lit(0))),
            F.lit(0),
        )
        .cast("long")
        .alias("tsum"),
    )
    u_t = srnd(
        F.col("r2_t").cast("double") / 2.0
        - F.col("n_t").cast("double") * (F.col("n_t").cast("double") + 1.0) / 2.0,
        6,
    )
    base = s.withColumn("u_t", u_t)
    rb = srnd(
        2.0 * F.col("u_t") / (F.col("n_t").cast("double") * F.col("n_c").cast("double"))
        - 1.0,
        6,
    )
    z = srnd(
        (
            F.col("u_t")
            - F.col("n_t").cast("double") * F.col("n_c").cast("double") / 2.0
        )
        / F.nullif(
            F.sqrt(
                F.col("n_t").cast("double")
                * F.col("n_c").cast("double")
                / 12.0
                * (
                    (F.col("n").cast("double") + 1.0)
                    - F.col("tsum").cast("double")
                    / (
                        F.col("n").cast("double")
                        * (F.col("n").cast("double") - 1.0)
                    )
                )
            ),
            F.lit(0.0),
        ),
        6,
    )
    return base.select(
        "n_t", "n_c", F.col("u_t"), rb.alias("rank_biserial"), z.alias("z")
    )
