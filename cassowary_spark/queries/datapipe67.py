"""Round-12 wave 70 (SURVEY.md §2): monitoring finishers — the
Page–Hinkley drift statistic (C249) and Youden-J optimal threshold
selection (C250).

C249 joins C104's CUSUM as the other classical sequential
change-detector (PH tracks the mean-centered cumulative path's
RANGE — one number a monitor thresholds, where CUSUM emits the
changepoint location); C250 turns C99's ROC curve into the operating
point a deployed classifier actually needs (the threshold maximizing
TPR − FPR), computed exactly from the same score-cells frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# ------------------------------------- C249 Page–Hinkley drift range


@query(
    "q_page_hinkley",
    oracle=f"""
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
               CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    m AS (
        SELECT day,
               CAST(sum(rev) OVER (ORDER BY day) AS HUGEINT)
                   * (SELECT count(*) FROM daily)
                 - CAST(row_number() OVER (ORDER BY day) AS HUGEINT)
                   * (SELECT sum(rev) FROM daily) AS mt,
               CAST((SELECT count(*) FROM daily) AS BIGINT) AS n
        FROM daily
    ),
    ext AS (
        SELECT max(n) AS n,
               max(mt) AS mx, min(mt) AS mn,
               min(CASE WHEN mt = (SELECT max(mt) FROM m)
                   THEN day END) AS peak_day,
               min(CASE WHEN mt = (SELECT min(mt) FROM m)
                   THEN day END) AS trough_day
        FROM m
    )
    SELECT n AS n_days, peak_day, trough_day,
           {sql_srnd(
               "CAST(mx - mn AS DOUBLE) / n / n", 4
           )} AS ph_range
    FROM ext
    """,
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley drift range (C249): the range of the
    mean-centered cumulative path of daily revenue, max_t m_t −
    min_t m_t with m_t = Σ_{i≤t}(x_i − x̄) — the classical
    sequential mean-shift detector (δ = 0 form). A flat series walks
    near zero; a level shift makes the path vee at the change, so
    the RANGE (scaled back to per-day dollars) is what a monitor
    thresholds, and the argmax/argmin days bracket the shift that
    C104's CUSUM localizes.

    Determinism: the path is kept in exact integers by clearing the
    mean's denominator — m_t·N = S_t·N − t·S (prefix sums and totals
    are exact HUGEINT/DECIMAL(38,0)) — so max/min/range are exact;
    extreme days tie-break to the EARLIEST day; one srnd4 division
    (range/N², magnitude-stable per-day dollars — the r12
    floor-saturation rule).

    Scale shape: calendar-bounded after the daily collapse (C122's
    shape): one ordered window over ~2.4k rows, then 1-row reduces.
    """
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = persist(o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") + 0.5).cast("long")).alias("rev")
    ))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    m = daily.select(
        "day",
        (
            F.sum("rev").over(w).cast(dec) * F.count("*").over(wall)
            - F.row_number().over(Window.orderBy("day")).cast(dec)
            * F.sum("rev").over(wall)
        ).alias("mt"),
        F.count("*").over(wall).cast("long").alias("n"),
    )
    # single pass: max/min of mt plus earliest extreme days via
    # min_by(struct) orderings — no driver-side collect
    ext = m.agg(
        F.max("n").alias("n"),
        F.max("mt").alias("mx"),
        F.min("mt").alias("mn"),
        F.min_by(
            "day", F.struct((-F.col("mt")).alias("a"), F.col("day").alias("b"))
        ).alias("peak_day"),
        F.min_by(
            "day", F.struct(F.col("mt").alias("a"), F.col("day").alias("b"))
        ).alias("trough_day"),
    )
    n = F.col("n").cast("double")
    return ext.select(
        F.col("n").alias("n_days"),
        "peak_day",
        "trough_day",
        srnd((F.col("mx") - F.col("mn")).cast("double") / n / n, 4).alias(
            "ph_range"
        ),
    )


# ------------------------------------ C250 Youden-J optimal threshold


@query(
    "q_youden_j",
    oracle=f"""
    WITH scored AS (
        SELECT (CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                     AS BIGINT) % 1000
                + 300 * CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                   AS s,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    by_s AS (
        SELECT s, CAST(sum(y) AS BIGINT) AS np,
               CAST(count(*) - sum(y) AS BIGINT) AS nn
        FROM scored GROUP BY 1
    ),
    c AS (
        SELECT s,
            CAST(sum(np) OVER (ORDER BY s DESC) AS BIGINT) AS tp,
            CAST(sum(nn) OVER (ORDER BY s DESC) AS BIGINT) AS fp,
            CAST(sum(np) OVER () AS BIGINT) AS n_pos,
            CAST(sum(nn) OVER () AS BIGINT) AS n_neg
        FROM by_s
    ),
    j AS (
        SELECT s, tp, fp, n_pos, n_neg,
               CAST(tp AS HUGEINT) * n_neg
                 - CAST(fp AS HUGEINT) * n_pos AS j_scaled
        FROM c
    )
    SELECT s AS threshold, tp, fp, n_pos, n_neg,
           {sql_srnd(
               "CAST(tp AS DOUBLE) / n_pos", 6)} AS tpr,
           {sql_srnd(
               "CAST(fp AS DOUBLE) / n_neg", 6)} AS fpr,
           {sql_srnd(
               "CAST(j_scaled AS DOUBLE)"
               " / (CAST(n_pos AS DOUBLE) * n_neg)", 6)} AS youden_j
    FROM j
    ORDER BY j_scaled DESC, s ASC LIMIT 1
    """,
)
def q_youden_j(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden-J optimal threshold (C250): the score cut maximizing
    J = TPR − FPR over C99's deterministic scorer — the operating
    point a deployed quality classifier actually runs at, where
    q_roc_auc reports the curve's integral. "Score ≥ threshold ⇒
    positive"; ties in J break to the LOWEST threshold (the more
    permissive cut).

    Determinism: TP/FP per candidate threshold are reverse cumulative
    sums over the score-cells frame; the argmax runs on the EXACT
    integer j_scaled = tp·n_neg − fp·n_pos (HUGEINT/DECIMAL(38,0) —
    products cross int64 near sf10), so threshold selection never
    touches a float; TPR/FPR/J are srnd6 reports of the selected row.

    Scale shape: C99's shape verbatim — one score-keyed partial agg
    (≤1300 cells by score quantization), reverse-cumulative windows
    over those cells, TakeOrdered(1). The corpus is scanned once and
    never sorted.
    """
    from cassowary_spark.queries.datapipe13 import _scored

    dec = "decimal(38,0)"
    by_s = _scored(spark, sf_dir).groupBy("s").agg(
        F.sum("y").cast("long").alias("np"),
        (F.count("*") - F.sum("y")).cast("long").alias("nn"),
    )
    wd = Window.orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    c = by_s.select(
        "s",
        F.sum("np").over(wd).cast("long").alias("tp"),
        F.sum("nn").over(wd).cast("long").alias("fp"),
        F.sum("np").over(wall).cast("long").alias("n_pos"),
        F.sum("nn").over(wall).cast("long").alias("n_neg"),
    )
    j = c.select(
        "s",
        "tp",
        "fp",
        "n_pos",
        "n_neg",
        (
            F.col("tp").cast(dec) * F.col("n_neg")
            - F.col("fp").cast(dec) * F.col("n_pos")
        ).alias("j_scaled"),
    )
    out = j.orderBy(F.desc("j_scaled"), F.asc("s")).limit(1)
    return out.select(
        F.col("s").alias("threshold"),
        "tp",
        "fp",
        "n_pos",
        "n_neg",
        srnd(F.col("tp").cast("double") / F.col("n_pos"), 6).alias("tpr"),
        srnd(F.col("fp").cast("double") / F.col("n_neg"), 6).alias("fpr"),
        srnd(
            F.col("j_scaled").cast("double")
            / (F.col("n_pos").cast("double") * F.col("n_neg")),
            6,
        ).alias("youden_j"),
    )
