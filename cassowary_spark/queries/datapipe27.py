"""Round-6 wave 29 (SURVEY.md §2): survival and market-structure
analytics — the Kaplan-Meier product-limit estimator for time-to-
repeat-purchase, log-log price elasticity per brand, and
Herfindahl-Hirschman market concentration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.operators.survival import reorder_durations
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# ---------------------------------- C145 Kaplan-Meier product-limit

_KM_MAX_T = 180  # report the curve's first 180 days


@query(
    "q_kaplan_meier",
    oracle=f"""
    WITH firsts AS (
        SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS f
        FROM orders GROUP BY 1
    ),
    seconds AS (
        SELECT o.o_custkey, min(CAST(o.o_orderdate AS DATE)) AS s
        FROM orders o JOIN firsts fi ON o.o_custkey = fi.o_custkey
        WHERE CAST(o.o_orderdate AS DATE) > fi.f
        GROUP BY 1
    ),
    censor AS (SELECT max(CAST(o_orderdate AS DATE)) AS c FROM orders),
    durs AS (
        SELECT fi.o_custkey,
               CASE WHEN se.s IS NOT NULL
                    THEN date_diff('day', fi.f, se.s)
                    ELSE date_diff('day', fi.f, censor.c) END AS dur,
               CASE WHEN se.s IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM firsts fi
        LEFT JOIN seconds se ON se.o_custkey = fi.o_custkey
        CROSS JOIN censor
    ),
    per AS (
        SELECT dur, CAST(count(*) AS BIGINT) AS n_all,
               CAST(sum(ev) AS BIGINT) AS d
        FROM durs GROUP BY 1
    ),
    risk AS (
        SELECT dur, d,
               CAST(sum(n_all) OVER (ORDER BY dur DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_risk
        FROM per
    ),
    ev_t AS (
        SELECT dur AS t, d, n_risk,
               {sql_srnd(
                   "ln(1.0 - CAST(d AS DOUBLE)"
                   " / CAST(n_risk AS DOUBLE))", 8)} AS lterm
        FROM risk WHERE d > 0 AND dur <= {_KM_MAX_T}
    )
    SELECT t, n_risk, d,
           {sql_srnd(
               "exp(floor(sum(lterm) OVER (ORDER BY t"
               " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
               " * 100000000.0 + 0.5) / 100000000.0)", 6)} AS s_hat
    FROM ev_t
    """,
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit estimator (C145): survival of
    "still hasn't reordered" over days since a customer's FIRST
    order, with customers who never reorder right-censored at the
    dataset's last date — Ŝ(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) at each event
    time. THE standard censoring-correct survival curve (C103's
    life table evaluates fixed horizons; KM is the full event-time-
    indexed estimator), reported over the first 180 days.

    Determinism: durations are integer day diffs; at-risk counts
    come from a reverse running sum over per-duration aggregates
    (running frame, never the O(n²) unbounded-following form); each
    hazard term ln(1−d/n) is one fixed IEEE sequence srnd8-quantized
    BEFORE the cumulative sum (exact event-time order), and the
    final exp runs on an explicitly quantized input (the C70
    pow-quantization precedent).

    Scale shape: ONE custkey partial agg (sorted distinct order
    dates; first/reorder dates are elements 0/1, the censor reduces
    from the per-customer maxima — operators/survival.py); everything
    after operates on PER-DURATION aggregates — the curve's input is
    bounded by distinct day values (≤ calendar span), not customers.
    """
    durs = reorder_durations(spark, sf_dir)
    per = durs.groupBy("dur").agg(
        F.count("*").cast("long").alias("n_all"),
        F.sum("ev").cast("long").alias("d"),
    )
    w_desc = Window.orderBy(F.col("dur").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = per.select(
        "dur",
        "d",
        F.sum("n_all").over(w_desc).cast("long").alias("n_risk"),
    )
    lterm = srnd(
        F.log(
            1.0 - F.col("d").cast("double") / F.col("n_risk").cast("double")
        ),
        8,
    )
    ev_t = risk.filter(
        (F.col("d") > 0) & (F.col("dur") <= _KM_MAX_T)
    ).select(
        F.col("dur").alias("t"), "n_risk", "d", lterm.alias("lterm")
    )
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = F.floor(F.sum("lterm").over(w_asc) * 1e8 + 0.5) / 1e8
    return ev_t.select(
        "t", "n_risk", "d", srnd(F.exp(cum), 6).alias("s_hat")
    )


# ------------------------------- C146 log-log price elasticity

_EL_MIN_N = 50


@query(
    "q_elasticity",
    oracle=f"""
    WITH pts AS (
        SELECT p.p_brand AS brand,
               CAST(floor(ln(l.l_extendedprice / l.l_quantity)
                          * 1000000.0 + 0.5) AS BIGINT) AS x6,
               CAST(floor(ln(l.l_quantity) * 1000000.0 + 0.5)
                    AS BIGINT) AS y6
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    ),
    s AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x6) AS BIGINT) AS sx,
               CAST(sum(y6) AS BIGINT) AS sy,
               sum(CAST(x6 AS HUGEINT) * y6) AS sxy,
               sum(CAST(x6 AS HUGEINT) * x6) AS sxx
        FROM pts GROUP BY 1 HAVING count(*) >= {_EL_MIN_N}
    )
    SELECT brand, n,
           {sql_srnd(
               "CAST(CAST(n AS HUGEINT) * sxy"
               "     - CAST(sx AS HUGEINT) * sy AS DOUBLE)"
               " / nullif(CAST(CAST(n AS HUGEINT) * sxx"
               "  - CAST(sx AS HUGEINT) * sx AS DOUBLE), 0.0)",
               6)} AS elasticity
    FROM s
    """,
)
def q_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity (C146): per brand, the OLS slope of
    ln(quantity) on ln(unit price) across its line items — the
    constant-elasticity demand model's ε ("a 1% price increase moves
    volume by ε%"), the pricing-analytics staple that B52's linear
    regression family doesn't express (elasticity lives in log
    space). Brands with under {_EL_MIN_N} observations are excluded
    (no meaningful fit), and zero-variance price bases are NULL by
    guard.

    Determinism: the unit price is one double division from the
    parquet values (identical both engines), both ln's are quantized
    to exact 1e-6 BIGINTs before summation (the C128 discipline);
    the cross-products accumulate in WIDE exact integers
    (DECIMAL(38,0) / HUGEINT — int64 Σx² overflowed at sf1's 240k
    rows per brand, the r11 probe) and the slope terms assemble
    exactly in that width with one double conversion each.

    Scale shape: one broadcast dim join into a 25-key partial agg —
    the whole regression is map-side-combinable sufficient
    statistics; nothing downstream exceeds the brand count.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pts = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .select(
            F.col("p_brand").alias("brand"),
            F.floor(
                F.log(F.col("l_extendedprice") / F.col("l_quantity"))
                * 1e6
                + 0.5
            )
            .cast("long")
            .alias("x6"),
            F.floor(F.log(F.col("l_quantity")) * 1e6 + 0.5)
            .cast("long")
            .alias("y6"),
        )
    )
    dec = "decimal(19,0)"
    s = (
        pts.groupBy("brand")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x6").cast("long").alias("sx"),
            F.sum("y6").cast("long").alias("sy"),
            F.sum(F.col("x6").cast(dec) * F.col("y6").cast(dec)).alias(
                "sxy"
            ),
            F.sum(F.col("x6").cast(dec) * F.col("x6").cast(dec)).alias(
                "sxx"
            ),
        )
        .filter(F.col("n") >= _EL_MIN_N)
    )
    nd = F.col("n").cast(dec)
    sxd, syd = F.col("sx").cast(dec), F.col("sy").cast(dec)
    num = (nd * F.col("sxy") - sxd * syd).cast("double")
    den = (nd * F.col("sxx") - sxd * sxd).cast("double")
    return s.select(
        "brand",
        "n",
        srnd(num / F.nullif(den, F.lit(0.0)), 6).alias("elasticity"),
    )


# --------------------------- C147 Herfindahl-Hirschman concentration


@query(
    "q_hhi",
    oracle=f"""
    WITH rev AS (
        SELECT year(l.l_shipdate) AS yr, p.p_brand AS brand,
               CAST(sum(CAST(floor(l.l_extendedprice * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE year(l.l_shipdate) IN (1996, 1997)
        GROUP BY 1, 2
    ),
    tot AS (SELECT yr, CAST(sum(cents) AS BIGINT) AS t
            FROM rev GROUP BY 1),
    terms AS (
        SELECT rev.yr, rev.brand,
               {sql_srnd(
                   "(CAST(cents AS DOUBLE) / CAST(t AS DOUBLE))"
                   " * (CAST(cents AS DOUBLE) / CAST(t AS DOUBLE))",
                   8)} AS sh2
        FROM rev JOIN tot ON rev.yr = tot.yr
    )
    SELECT yr, CAST(count(*) AS BIGINT) AS n_brands,
           {sql_srnd("list_sum(list(sh2 ORDER BY brand))", 6)} AS hhi,
           {sql_srnd(
               "1.0 / list_sum(list(sh2 ORDER BY brand))",
               6)} AS effective_n
    FROM terms GROUP BY 1
    """,
)
def q_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index (C147): Σ share² of brand revenue
    per year, plus the effective number of competitors 1/HHI — the
    antitrust-standard concentration scalar (C101's Gini measures
    inequality of the distribution; HHI measures how few players
    hold it; a market of k equal brands has HHI exactly 1/k, the
    planted gate). Year-over-year HHI movement is the
    consolidation monitor.

    Determinism: brand revenues are exact cents; each share² is one
    fixed IEEE sequence srnd8-quantized before the ≤25-term sum;
    effective-n inverts the quantized sum.

    Scale shape: ONE (year × brand)-bounded partial agg with the
    year predicate at the scan (persisted; totals + terms reuse
    it), then arithmetic over ≤50 cells.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    yr = F.year("l_shipdate")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")
    rev = persist(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(yr.isin(1996, 1997))
        .groupBy(yr.alias("yr"), F.col("p_brand").alias("brand"))
        .agg(F.sum(cents).alias("cents"))
    )  # <=50 cells; totals + terms reuse one fact scan
    tot = rev.groupBy("yr").agg(F.sum("cents").cast("long").alias("t"))
    share = F.col("cents").cast("double") / F.col("t").cast("double")
    terms = rev.join(F.broadcast(tot), "yr").select(
        "yr", "brand", srnd(share * share, 8).alias("sh2")
    )
    # fixed-order fold: sum the srnd8 share² terms in brand order on
    # both engines (the q_psi/q_kl/q_chi_square 1-ulp boundary class)
    fold = F.expr(
        "aggregate(array_sort(collect_list(struct(brand, sh2))),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.sh2)"
    )
    return terms.groupBy("yr").agg(
        F.count("*").cast("long").alias("n_brands"),
        srnd(fold, 6).alias("hhi"),
        srnd(1.0 / fold, 6).alias("effective_n"),
    )
