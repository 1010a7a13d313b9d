"""Round-8 wave 35 (SURVEY.md §2): split-conformal prediction
intervals (C158) and stratified k-fold assignment with one-pass
out-of-fold statistics (C159) — the model-evaluation plumbing a
training pipeline runs between dataset assembly and metric reporting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# --------------------------------------- C158 split-conformal interval

_CF_ALPHA_PCT = 10  # 90% target coverage


def _u32_sql(key: str) -> str:
    return f"CAST('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 8) AS BIGINT)"


def _u32_col(key) -> F.Column:
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "long"
    )


@query(
    "q_conformal_interval",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, n_chars,
               {_u32_sql("doc_id")} % 10 AS b
        FROM documents
    ),
    pred AS (
        SELECT lang,
               CAST((sum(n_chars) * 1000000) // count(*) AS BIGINT)
                   AS pred_micro
        FROM d WHERE b <= 6 GROUP BY lang
    ),
    cal AS (
        SELECT d.lang,
               abs(d.n_chars * 1000000 - p.pred_micro) AS r
        FROM d JOIN pred p ON p.lang = d.lang
        WHERE d.b IN (7, 8)
    ),
    kq AS (
        SELECT lang, count(*) AS n_cal,
               CAST(least(ceil((count(*) + 1) * (100 - {_CF_ALPHA_PCT})
                          / 100.0), count(*)) AS BIGINT) AS kth
        FROM cal GROUP BY lang
    ),
    qhat AS (
        SELECT c.lang, kq.n_cal, c.r AS q_hat
        FROM (SELECT lang, r,
                     row_number() OVER (PARTITION BY lang ORDER BY r) AS rn
              FROM cal) c
        JOIN kq ON kq.lang = c.lang AND c.rn = kq.kth
    )
    SELECT q.lang,
           CAST(q.n_cal AS BIGINT) AS n_cal,
           CAST(q.q_hat AS BIGINT) AS q_hat_micro,
           CAST(count(*) AS BIGINT) AS n_test,
           {sql_srnd(
               "CAST(sum(CASE WHEN abs(d.n_chars * 1000000 - p.pred_micro)"
               " <= q.q_hat THEN 1 ELSE 0 END) AS DOUBLE)"
               " / CAST(count(*) AS DOUBLE)", 4)} AS coverage
    FROM d JOIN pred p ON p.lang = d.lang
    JOIN qhat q ON q.lang = d.lang
    WHERE d.b = 9
    GROUP BY q.lang, q.n_cal, q.q_hat
    """,
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (C158): per-lang 90%
    intervals around a group-mean predictor of document length, with
    EMPIRICAL test coverage — the distribution-free uncertainty
    wrapper (Vovk; Lei et al.) a pipeline fits after any point
    predictor. Three hash splits (train 70 / calibration 20 / test
    10, md5-bucketed like C94): the predictor fits on train, q_hat is
    the ceil((n+1)(1-α))-th smallest absolute calibration residual
    (the finite-sample-valid conformal quantile, clamped to n), and
    coverage is the fraction of test docs inside pred ± q_hat.

    Determinism: the predictor is an exact integer floor-division
    (micro-units; Spark ``div`` = DuckDB ``//`` on non-negative
    sums), residuals are exact integers, q_hat is an ORDER STATISTIC
    of integers (row_number = k — ties in r give the same r value, so
    no tiebreak column is needed for the VALUE), and coverage is an
    integer-compare ratio srnd4-quantized once.

    Scale shape: split tags are row-local md5 predicates; the
    predictor and the k-table are tiny per-lang aggs joined by
    broadcast; the order statistic is a lang-partitioned window (one
    shuffle of the 20% calibration slice — at 100 TB replace with
    approx_percentile on the residuals, the documented approx
    evolution, trading finite-sample exactness for a sketch bound);
    the coverage pass is one filtered agg over the 10% test slice.
    """
    d = persist(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .withColumn("b", _u32_col(F.col("doc_id")) % 10)
    )  # tagged once; train/cal/test slices reuse it
    pred = (
        d.filter(F.col("b") <= 6)
        .groupBy("lang")
        .agg(
            F.expr("(sum(n_chars) * 1000000) div count(*)")
            .cast("long")
            .alias("pred_micro")
        )
    )
    cal = (
        d.filter(F.col("b").isin(7, 8))
        .join(F.broadcast(pred), "lang")
        .select(
            "lang",
            F.abs(
                F.col("n_chars") * F.lit(1000000) - F.col("pred_micro")
            ).alias("r"),
        )
    )
    # n_cal and the conformal k fold into the SAME lang-partitioned
    # window pass that ranks the residuals (the unbounded count
    # reuses the rank's exchange+sort) — the old separate groupBy +
    # broadcast join-back is gone
    rn = cal.select(
        "lang",
        "r",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("r"))
        .alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("n_cal"),
    )
    kth = F.least(
        F.ceil(
            (F.col("n_cal") + 1) * F.lit(100 - _CF_ALPHA_PCT) / F.lit(100.0)
        ),
        F.col("n_cal"),
    ).cast("long")
    qhat = rn.filter(F.col("rn") == kth).select(
        "lang", "n_cal", F.col("r").alias("q_hat")
    )
    test = (
        d.filter(F.col("b") == 9)
        .join(F.broadcast(pred), "lang")
        .join(F.broadcast(qhat), "lang")
    )
    covered = F.when(
        F.abs(F.col("n_chars") * F.lit(1000000) - F.col("pred_micro"))
        <= F.col("q_hat"),
        1,
    ).otherwise(0)
    return (
        test.groupBy("lang", "n_cal", "q_hat")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(covered).alias("n_cov"),
        )
        .select(
            "lang",
            F.col("n_cal").cast("long").alias("n_cal"),
            F.col("q_hat").cast("long").alias("q_hat_micro"),
            "n_test",
            srnd(
                F.col("n_cov").cast("double") / F.col("n_test").cast("double"),
                4,
            ).alias("coverage"),
        )
    )


# --------------------------------------- C159 stratified k-fold + OOF

_KF_FOLDS = 5


@query(
    "q_stratified_kfold",
    oracle=f"""
    WITH d AS (
        SELECT lang, n_chars,
               {_u32_sql("doc_id")} % {_KF_FOLDS} AS fold
        FROM documents
    ),
    per AS (
        SELECT fold, lang, count(*) AS n,
               CAST(sum(n_chars) AS BIGINT) AS s
        FROM d GROUP BY fold, lang
    ),
    tot AS (
        SELECT lang, CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(s) AS BIGINT) AS ss
        FROM per GROUP BY lang
    )
    SELECT CAST(p.fold AS INT) AS fold, p.lang,
           CAST(p.n AS BIGINT) AS n,
           {sql_srnd(
               "CAST(p.n AS DOUBLE) / CAST(t.nn AS DOUBLE)", 6)} AS frac,
           {sql_srnd(
               "CAST(t.ss - p.s AS DOUBLE) / CAST(t.nn - p.n AS DOUBLE)",
               6)} AS oof_mean_chars
    FROM per p JOIN tot t ON t.lang = p.lang
    """,
)
def q_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified k-fold audit with one-pass out-of-fold means
    (C159): deterministic md5 fold assignment (append-stable, the C94
    split discipline generalized to k folds), per-(fold, stratum)
    balance fractions, and each fold's OUT-OF-FOLD mean document
    length — the target-encoding / CV-baseline statistic.

    The scale trick: OOF statistics for ALL k folds come from ONE
    pass — per-(fold, lang) integer sums roll up to per-lang totals,
    and fold f's out-of-fold mean is (total − fold_f) / (N − n_f),
    exact integer subtraction before the single srnd6 division. A
    naive implementation re-aggregates the complement k times (k
    corpus scans); this is the leave-one-out identity that makes
    k-fold target encoding feasible at 100 TB. Fold assignment is
    row-local; the only shuffle is the (fold × stratum)-keyed partial
    agg, and the totals join is broadcast-size.
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .select("lang", "n_chars", _u32_col(F.col("doc_id")).alias("u"))
        .withColumn("fold", F.col("u") % _KF_FOLDS)
    )
    per = d.groupBy("fold", "lang").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("s")
    )
    tot = per.groupBy("lang").agg(
        F.sum("n").alias("nn"), F.sum("s").alias("ss")
    )
    return per.join(F.broadcast(tot), "lang").select(
        F.col("fold").cast("int").alias("fold"),
        "lang",
        F.col("n").cast("long").alias("n"),
        srnd(F.col("n").cast("double") / F.col("nn").cast("double"), 6).alias(
            "frac"
        ),
        srnd(
            (F.col("ss") - F.col("s")).cast("double")
            / (F.col("nn") - F.col("n")).cast("double"),
            6,
        ).alias("oof_mean_chars"),
    )
