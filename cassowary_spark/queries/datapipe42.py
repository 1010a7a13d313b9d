"""Round-9 wave 44 (SURVEY.md §2): experiment-operations and
heavy-tail diagnostics — sample-ratio-mismatch guardrail (C176),
Simpson's-paradox direction audit (C177), and the Hill tail-index
estimator (C178).

All three are marginal-frame statistics: one conditional-aggregate or
order-statistic pass over the fact table, then arithmetic on a
broadcast-sized frame — the family shape of C139/C160/C175.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# -------------------------------- C176 sample-ratio-mismatch guardrail

_SRM_CRIT_6 = 3.841459  # chi-square(1 df) upper 5% critical value


@query(
    "q_srm_check",
    oracle=f"""
    WITH a AS (
        SELECT CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                     1, 8) AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END AS t
        FROM (SELECT DISTINCT user_id FROM events) u
    ),
    c AS (
        SELECT CAST(sum(t) AS BIGINT) AS n_t,
               CAST(count(*) - sum(t) AS BIGINT) AS n_c,
               CAST(count(*) AS BIGINT) AS n
        FROM a
    )
    SELECT n_t, n_c,
           {sql_srnd(
               "(CAST(n_t AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)"
               " * (CAST(n_t AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)"
               " / (CAST(n AS DOUBLE) / 2.0)"
               " + (CAST(n_c AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)"
               " * (CAST(n_c AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)"
               " / (CAST(n AS DOUBLE) / 2.0)",
               6)} AS chi2,
           CAST(CASE WHEN
               {sql_srnd(
                   "(CAST(n_t AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)"
                   " * (CAST(n_t AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)"
                   " / (CAST(n AS DOUBLE) / 2.0)"
                   " + (CAST(n_c AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)"
                   " * (CAST(n_c AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)"
                   " / (CAST(n AS DOUBLE) / 2.0)",
                   6)} > {_SRM_CRIT_6}
               THEN 1 ELSE 0 END AS INT) AS srm_flag
    FROM c
    """,
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail (C176): the chi-square(1)
    goodness-of-fit of observed per-UNIT assignment counts against
    the designed 50/50 split — the first gate every experimentation
    platform runs before reading a single metric, because a biased
    assignment (logging loss, bot filtering applied to one arm,
    redirect bugs) silently invalidates C139's z-test and C160's
    DiD. Assignment is the C94 user-hash bit over DISTINCT users —
    units, not events, because event-weighted counts would flag
    heavy users as "mismatch".

    Determinism: integer unit counts from one distinct + conditional
    agg; the statistic is a single fixed IEEE expression over two
    BIGINTs, srnd6'd; the flag compares the QUANTIZED statistic to
    the 5% critical value so a 1-ulp wiggle can't flip it. On the
    md5-randomized fixture the expected χ² is ~1 (gate: no flag).

    Scale shape: distinct users is the one shuffle (the same
    user-keyed partial-dedup any per-unit metric pays); everything
    after is arithmetic on a 1-row frame.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id").distinct()
    t = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
        == 1
    ).cast("int")
    c = ev.select(t.alias("t")).agg(
        F.sum("t").cast("long").alias("n_t"),
        (F.count("*") - F.sum("t")).cast("long").alias("n_c"),
        F.count("*").cast("long").alias("n"),
    )
    half = F.col("n").cast("double") / 2.0
    chi2 = srnd(
        (F.col("n_t").cast("double") - half)
        * (F.col("n_t").cast("double") - half)
        / half
        + (F.col("n_c").cast("double") - half)
        * (F.col("n_c").cast("double") - half)
        / half,
        6,
    )
    return c.select(
        "n_t",
        "n_c",
        chi2.alias("chi2"),
        F.when(chi2 > _SRM_CRIT_6, 1).otherwise(0).cast("int").alias("srm_flag"),
    )


# ------------------------------- C177 Simpson's-paradox direction audit


@query(
    "q_simpson_flip",
    oracle=f"""
    WITH e AS (
        SELECT event_type,
               CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                        1, 8) AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END AS t,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    cells AS (
        SELECT event_type,
               CAST(sum(t) AS BIGINT) AS n_t,
               CAST(count(*) - sum(t) AS BIGINT) AS n_c,
               CAST(sum(CASE WHEN t = 1 THEN cents ELSE 0 END)
                    AS BIGINT) AS s_t,
               CAST(sum(CASE WHEN t = 0 THEN cents ELSE 0 END)
                    AS BIGINT) AS s_c
        FROM e GROUP BY 1
    ),
    pooled AS (
        SELECT {sql_srnd(
            "CAST(sum(s_t) AS DOUBLE) / (100.0 * CAST(sum(n_t) AS DOUBLE))"
            " - CAST(sum(s_c) AS DOUBLE)"
            " / (100.0 * CAST(sum(n_c) AS DOUBLE))", 6)} AS pooled_diff
        FROM cells
    ),
    strata AS (
        SELECT event_type,
               {sql_srnd(
                   "CAST(s_t AS DOUBLE) / (100.0 * CAST(n_t AS DOUBLE))"
                   " - CAST(s_c AS DOUBLE)"
                   " / (100.0 * CAST(n_c AS DOUBLE))", 6)} AS diff
        FROM cells WHERE n_t > 0 AND n_c > 0
    )
    SELECT (SELECT pooled_diff FROM pooled) AS pooled_diff,
           CAST(count(*) AS BIGINT) AS n_strata,
           CAST(sum(CASE WHEN sign(diff)
                         <> sign((SELECT pooled_diff FROM pooled))
                         AND diff <> 0.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_opposing,
           CAST(CASE WHEN count(*) > 0 AND
                sum(CASE WHEN sign(diff)
                         <> sign((SELECT pooled_diff FROM pooled))
                         AND diff <> 0.0 THEN 1 ELSE 0 END) = count(*)
                THEN 1 ELSE 0 END AS INT) AS simpson_flag
    FROM strata
    """,
)
def q_simpson_flip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox direction audit (C177): compare the POOLED
    treated-vs-control outcome difference against the per-stratum
    (event_type) differences and count strata whose sign OPPOSES the
    pooled sign; flag the full reversal (every stratum opposing the
    pooled direction) — the aggregation pathology that makes a
    per-segment dashboard and its topline disagree, and the reason
    C175's stratified estimate exists. An analytics engine that
    ships group-bys owes its users this audit.

    Determinism: the same exact-integer cell frame as C175 (one
    conditional-agg pass); pooled and per-stratum differences are
    fixed IEEE expressions srnd6-quantized BEFORE sign comparison —
    a 1-ulp wiggle cannot flip a sign because signs compare on the
    quantized values, and exact zeros are excluded from "opposing"
    on both engines identically.

    Scale shape: one map-side-combining groupBy to |event_types|
    rows; pooled rolls up from the same cell frame (persisted);
    all comparisons row-local on the marginal frame.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    t = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
        == 1
    ).cast("int")
    e = ev.select(
        "event_type",
        t.alias("t"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    cells = persist(
        e.groupBy("event_type")
        .agg(
            F.sum("t").cast("long").alias("n_t"),
            (F.count("*") - F.sum("t")).cast("long").alias("n_c"),
            F.sum(F.when(F.col("t") == 1, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("s_t"),
            F.sum(F.when(F.col("t") == 0, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("s_c"),
        )
    )  # |types| rows; pooled + strata reuse one scan
    pooled = cells.agg(
        srnd(
            F.sum("s_t").cast("double")
            / (100.0 * F.sum("n_t").cast("double"))
            - F.sum("s_c").cast("double")
            / (100.0 * F.sum("n_c").cast("double")),
            6,
        ).alias("pooled_diff")
    )
    diff = srnd(
        F.col("s_t").cast("double") / (100.0 * F.col("n_t").cast("double"))
        - F.col("s_c").cast("double") / (100.0 * F.col("n_c").cast("double")),
        6,
    )
    strata = (
        cells.filter((F.col("n_t") > 0) & (F.col("n_c") > 0))
        .select(diff.alias("diff"))
        .crossJoin(F.broadcast(pooled))
    )
    opposing = F.when(
        (F.signum(F.col("diff")) != F.signum(F.col("pooled_diff")))
        & (F.col("diff") != 0.0),
        1,
    ).otherwise(0)
    return strata.agg(
        F.max("pooled_diff").alias("pooled_diff"),
        F.count("*").cast("long").alias("n_strata"),
        F.sum(opposing).cast("long").alias("n_opposing"),
        F.when(
            (F.count("*") > 0) & (F.sum(opposing) == F.count("*")), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("simpson_flag"),
    )


# ----------------------------------- C178 Hill tail-index estimator

_HILL_K = 100  # top-k order statistics used


@query(
    "q_hill_tail_index",
    oracle=f"""
    WITH v AS (
        SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
               row_number() OVER (
                   ORDER BY floor(value * 100.0 + 0.5) DESC, event_id
               ) AS rnk
        FROM events WHERE value > 0
    ),
    top AS (SELECT cents, rnk FROM v WHERE rnk <= {_HILL_K} + 1),
    kth AS (SELECT cents AS ck FROM top WHERE rnk = {_HILL_K} + 1),
    terms AS (
        SELECT rnk,
               {sql_srnd(
                   "ln(CAST(cents AS DOUBLE)"
                   " / CAST((SELECT ck FROM kth) AS DOUBLE))", 8)} AS term
        FROM top WHERE rnk <= {_HILL_K}
    ),
    h AS (
        SELECT {sql_srnd(
            "list_sum(list(term ORDER BY rnk))"
            f" / {_HILL_K}.0", 8)} AS hill
        FROM terms
    )
    SELECT CAST({_HILL_K} AS INT) AS k,
           {sql_srnd("hill", 6)} AS hill_mean_log_excess,
           {sql_srnd("1.0 / nullif(hill, 0.0)", 6)} AS tail_index
    FROM h
    """,
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator (C178): over the top-k order
    statistics of event value, H = (1/k)·Σ ln(x_(i)/x_(k+1)) and the
    tail index α̂ = 1/H — the standard "how heavy is this tail"
    estimator (α < 2 ⇒ infinite variance: sampling and mean-based
    metrics misbehave). Completes the heavy-tail battery: C30 finds
    the hot keys, C133 fits Zipf's slope over the whole rank curve,
    Hill measures the EXTREME tail where capacity planning and
    outlier budgets live.

    Determinism: values quantize to integer cents BEFORE ranking and
    the rank order carries an event_id tiebreak, so the top-(k+1)
    set is identical on both engines; each log-excess is one fixed
    IEEE sequence srnd8'd against the exact k+1-th order statistic,
    and the mean folds the k quantized terms in RANK order (C69).

    Scale shape: the only corpus-wide work is the top-(k+1)
    selection, SHIPPED as orderBy+limit → TakeOrderedAndProject
    (per-partition top-k + a (k+1)-row merge — the q_topk evolution,
    r10); one aggregate folds the estimator over the k+1 surviving
    rows, so the corpus is scanned once.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    v = ev.select(
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
        "event_id",
    )
    # orderBy+limit compiles to TakeOrderedAndProject — per-partition
    # top-(k+1) + a (k+1)-row merge, NO corpus-wide sort or window;
    # ONE aggregate then folds the k+1 surviving rows: sorted into
    # rank order (cents DESC, event_id), the last is the k+1-th pivot
    # and the first k are the terms, summed in rank order (C69); with
    # no k+1-th row there are no terms, as in the oracle's join
    sel = v.orderBy(F.col("cents").desc(), F.col("event_id")).limit(
        _HILL_K + 1
    )
    h = sel.agg(
        F.array_sort(
            F.collect_list(
                F.struct((-F.col("cents")).alias("nc"), "event_id", "cents")
            )
        ).alias("top")
    ).select(
        F.slice(
            "top", 1, F.when(F.size("top") > _HILL_K, _HILL_K).otherwise(0)
        ).alias("top"),
        F.get("top", _HILL_K)["cents"].cast("double").alias("ck"),
    )
    h = h.select(
        srnd(
            F.aggregate(
                F.transform(
                    "top",
                    lambda x: srnd(F.log(x["cents"].cast("double") / F.col("ck")), 8),
                ),
                F.lit(0.0).cast("double"),
                lambda acc, t: acc + t,
            )
            / float(_HILL_K),
            8,
        ).alias("hill")
    )
    return h.select(
        F.lit(_HILL_K).cast("int").alias("k"),
        srnd(F.col("hill"), 6).alias("hill_mean_log_excess"),
        srnd(1.0 / F.nullif(F.col("hill"), F.lit(0.0)), 6).alias("tail_index"),
    )
