"""Round-6 wave 21 (SURVEY.md §2): corpus-law and uncertainty
analytics — Zipf rank-frequency fit over the token distribution,
rolling-origin forecast backtesting, a deterministic one-pass Poisson
bootstrap confidence interval, and mutual information with normalized
MI over a contingency table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# ------------------------------------ C128 Zipf rank-frequency fit

_ZIPF_TOP = 500


@query(
    "q_zipf_fit",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS f
        FROM toks WHERE tok <> '' GROUP BY 1
    ),
    ranked AS (
        SELECT f,
               row_number() OVER (ORDER BY f DESC, tok ASC) AS r
        FROM tf
    ),
    pts AS (
        SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000.0 + 0.5)
                    AS BIGINT) AS x6,
               CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000.0 + 0.5)
                    AS BIGINT) AS y6
        FROM ranked WHERE r <= {_ZIPF_TOP}
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x6) AS BIGINT) AS sx,
               CAST(sum(y6) AS BIGINT) AS sy,
               CAST(sum(x6 * y6) AS BIGINT) AS sxy,
               CAST(sum(x6 * x6) AS BIGINT) AS sxx,
               CAST(sum(y6 * y6) AS BIGINT) AS syy
        FROM pts
    )
    SELECT n,
           {sql_srnd(
               "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
               "  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
               " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
               "  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))", 6)}
               AS zipf_slope,
           {sql_srnd(
               "(CAST(sy AS DOUBLE)"
               " - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
               "     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
               "    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
               "     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
               "   * CAST(sx AS DOUBLE))"
               " / CAST(n AS DOUBLE) / 1000000.0", 6)} AS ln_c,
           {sql_srnd(
               "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
               "   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
               " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
               "   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))"
               " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
               "     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
               "  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
               "     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))", 6)}
               AS r2
    FROM s
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit (C128): OLS of ln(frequency) on
    ln(rank) over the top-500 corpus tokens — slope ≈ −1 is Zipf's
    law; the deviation (and the fit's r²) is the corpus-health
    diagnostic a pretraining pipeline runs per source/shard (a
    synthetic or template-heavy source shows a flattened or kinked
    rank curve long before a human reads it). Exponent slope,
    intercept ln_c (un-scaled back to natural-ln units) and r² from
    one sufficient-statistic pass.

    Determinism: ranks are unambiguous (frequency DESC, token ASC
    tie-break); each ln is one correctly-seeded double quantized to
    an exact 1e-6-scaled BIGINT BEFORE summation, so all five OLS
    sufficient statistics are exact integer sums in any order; the
    final assembly is one fixed IEEE sequence (the C122 discipline).

    Scale shape: token counting is the C60 explode→partial-agg shape
    (map-side combine does the heavy lifting); ranking the vocabulary
    is a top-500 selection, not a corpus sort — vocabulary, not
    corpus, bounds the window input; the OLS pass reduces 500 rows.
    """
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("f"))
    )
    w = Window.orderBy(F.col("f").desc(), F.col("tok").asc())
    pts = (
        tf.select("tok", "f", F.row_number().over(w).alias("r"))
        .filter(F.col("r") <= _ZIPF_TOP)
        .select(
            F.floor(F.log(F.col("r").cast("double")) * 1e6 + 0.5)
            .cast("long")
            .alias("x6"),
            F.floor(F.log(F.col("f").cast("double")) * 1e6 + 0.5)
            .cast("long")
            .alias("y6"),
        )
    )
    s = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x6").cast("long").alias("sx"),
        F.sum("y6").cast("long").alias("sy"),
        F.sum(F.col("x6") * F.col("y6")).cast("long").alias("sxy"),
        F.sum(F.col("x6") * F.col("x6")).cast("long").alias("sxx"),
        F.sum(F.col("y6") * F.col("y6")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = nd * sxy - sx * sy
    den = nd * sxx - sx * sx
    slope = num / den
    return s.select(
        "n",
        srnd(slope, 6).alias("zipf_slope"),
        srnd((sy - slope * sx) / nd / 1e6, 6).alias("ln_c"),
        srnd((num * num) / (den * (nd * syy - sy * sy)), 6).alias("r2"),
    )


# --------------------------- C129 rolling-origin forecast backtest

_BT_LAGS = (7, 14, 21, 28)


@query(
    "q_backtest_smape",
    oracle=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1992-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    fc AS (
        SELECT a.d, a.rev,
               CAST(sum(f.rev) AS BIGINT) AS sum_fc,
               count(*) AS k
        FROM daily a
        JOIN daily f ON a.d - f.d IN (7, 14, 21, 28)
        GROUP BY a.d, a.rev
        HAVING count(*) = 4
    ),
    terms AS (
        SELECT d % 7 AS wd,
               CAST(floor(abs(CAST(rev AS DOUBLE)
                              - CAST(sum_fc AS DOUBLE) / 4.0)
                          / CAST(rev AS DOUBLE) * 100000000.0 + 0.5)
                    AS BIGINT) AS ape8,
               CAST(floor(2.0 * abs(CAST(rev AS DOUBLE)
                                    - CAST(sum_fc AS DOUBLE) / 4.0)
                          / (CAST(rev AS DOUBLE)
                             + CAST(sum_fc AS DOUBLE) / 4.0)
                          * 100000000.0 + 0.5)
                    AS BIGINT) AS sape8
        FROM fc
    )
    SELECT wd, CAST(count(*) AS BIGINT) AS n_evals,
           {sql_srnd(
               "CAST(CAST(sum(ape8) AS BIGINT) AS DOUBLE)"
               " / CAST(count(*) AS DOUBLE) / 100000000.0", 6)} AS mape,
           {sql_srnd(
               "CAST(CAST(sum(sape8) AS BIGINT) AS DOUBLE)"
               " / CAST(count(*) AS DOUBLE) / 100000000.0", 6)} AS smape
    FROM terms GROUP BY 1
    """,
)
def q_backtest_smape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest (C129): forecast each day's
    revenue as the mean of the SAME WEEKDAY's revenue 1-4 weeks
    earlier (the C80 seasonal-naive model), then score every
    evaluable day with MAPE and sMAPE per weekday — the honest
    out-of-sample evaluation loop (every forecast uses only strictly
    prior data; days lacking a full 4-week history are excluded, not
    imputed). The backtest, not the fit, is what justifies shipping
    a forecasting model.

    Determinism: daily revenues are exact integer dollars; the
    forecast numerator is an exact BIGINT sum of 4 values; each
    APE/sAPE term is one fixed IEEE sequence quantized to an exact
    1e-8-scaled BIGINT before the per-weekday sum (order-free), and
    the means divide two exact integers.

    Scale shape: the corpus collapses to the calendar-bounded daily
    agg once; the 4-lag join is daily×4 on an integer key
    (broadcast-sized); evaluation is one bounded-key (7 weekdays)
    partial agg. The eval window grows with the calendar, never the
    corpus.
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
    )  # calendar-sized; eval + 4-lag forecast sides reuse it
    a, f_ = daily.alias("a"), daily.alias("f")
    fc = (
        a.join(
            f_,
            (F.col("a.d") - F.col("f.d")).isin(list(_BT_LAGS)),
        )
        .groupBy(F.col("a.d").alias("d"), F.col("a.rev").alias("rev"))
        .agg(
            F.sum("f.rev").cast("long").alias("sum_fc"),
            F.count("*").alias("k"),
        )
        .filter(F.col("k") == 4)
    )
    rev_d = F.col("rev").cast("double")
    fc_d = F.col("sum_fc").cast("double") / 4.0
    terms = fc.select(
        (F.col("d") % 7).alias("wd"),
        F.floor(F.abs(rev_d - fc_d) / rev_d * 1e8 + 0.5)
        .cast("long")
        .alias("ape8"),
        F.floor(2.0 * F.abs(rev_d - fc_d) / (rev_d + fc_d) * 1e8 + 0.5)
        .cast("long")
        .alias("sape8"),
    )
    return terms.groupBy("wd").agg(
        F.count("*").cast("long").alias("n_evals"),
        srnd(
            F.sum("ape8").cast("long").cast("double")
            / F.count("*").cast("double")
            / 1e8,
            6,
        ).alias("mape"),
        srnd(
            F.sum("sape8").cast("long").cast("double")
            / F.count("*").cast("double")
            / 1e8,
            6,
        ).alias("smape"),
    )


# --------------------------- C130 deterministic Poisson bootstrap CI

_BOOT_B = 64
# Poisson(1) CDF thresholds (cumulative e^-1 * 1/k! sums): a 32-bit
# hash h maps to the first k with h < floor(cdf_k * 2^32) — exactly
# equivalent to inverting the CDF on u = (h+1)/2^32 (boundary
# equivalence verified exhaustively), but expressed as a FIXED-WIDTH
# LOWERCASE-HEX STRING compare so neither engine parses hex or
# divides per row. IDENTICAL literals on both engines.
_POIS_HEX = (
    "5e2d58d8",  # 0.36787944117144233
    "bc5ab1b1",  # 0.7357588823428847
    "eb715e1d",  # 0.9196986029286058
    "fb239797",  # 0.9810118431238462
    "ff1025f5",  # 0.9963401531726563
    "ffd90f3b",  # 0.9994058151824183
    "fffa8b71",  # 0.9999167588507119
)


def _sql_pois(hex8: str) -> str:
    branches = " ".join(
        f"WHEN {hex8} < '{c}' THEN {k}" for k, c in enumerate(_POIS_HEX)
    )
    return f"CASE {branches} ELSE 7 END"


@query(
    "q_bootstrap_ci",
    oracle=f"""
    WITH hx AS (
        SELECT md5(CAST(o_orderkey AS VARCHAR)
                   || '|' || CAST(i AS VARCHAR)) AS hex,
               i,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM orders
        CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_B // 4 - 1}))
                    AS i)
    ),
    reps AS (
        SELECT 4 * i + j AS b,
               {_sql_pois("substr(hex, 1 + 8 * j, 8)")} AS w,
               cents
        FROM hx
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j)
    ),
    means AS (
        SELECT b,
               CAST(sum(w * cents) AS BIGINT) AS swx,
               CAST(sum(w) AS BIGINT) AS sw
        FROM reps GROUP BY 1
    ),
    base AS (
        SELECT CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                             AS BIGINT)) AS BIGINT) AS scents,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
    ),
    devs AS (
        SELECT CAST(floor((CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE)
                           - CAST(scents AS DOUBLE) / CAST(n AS DOUBLE))
                          / 100.0 * 10000.0 + 0.5) AS BIGINT) AS dev4,
               row_number() OVER (
                   ORDER BY CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE),
                            b) AS rk
        FROM means CROSS JOIN base
    ),
    ds AS (
        SELECT CAST(count(*) AS BIGINT) AS nb,
               CAST(sum(dev4) AS BIGINT) AS sd1,
               CAST(sum(dev4 * dev4) AS BIGINT) AS sd2,
               CAST(max(CASE WHEN rk = 2 THEN dev4 END) AS BIGINT)
                   AS lo4,
               CAST(max(CASE WHEN rk = {_BOOT_B - 1} THEN dev4 END)
                    AS BIGINT) AS hi4
        FROM devs
    )
    SELECT n, nb AS n_replicas,
           {sql_srnd(
               "CAST(scents AS DOUBLE) / CAST(n AS DOUBLE) / 100.0",
               6)} AS mean_est,
           {sql_srnd(
               "sqrt((CAST(sd2 AS DOUBLE)"
               "      - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE)"
               "        / CAST(nb AS DOUBLE))"
               "     / (CAST(nb AS DOUBLE) - 1.0)) / 10000.0", 6)}
               AS boot_se,
           {sql_srnd(
               "CAST(scents AS DOUBLE) / CAST(n AS DOUBLE) / 100.0"
               " + CAST(lo4 AS DOUBLE) / 10000.0", 6)} AS ci_lo,
           {sql_srnd(
               "CAST(scents AS DOUBLE) / CAST(n AS DOUBLE) / 100.0"
               " + CAST(hi4 AS DOUBLE) / 10000.0", 6)} AS ci_hi
    FROM ds CROSS JOIN base
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap CI (C130): a 95% confidence
    interval for mean order value from B=64 bootstrap replicas, where
    each row's multiplicity in replica b is Poisson(1) — drawn by
    inverting the Poisson CDF on a hash-derived uniform, so the
    "resampling" is a pure per-(row, replica) function: no sampling
    state, no data movement, bit-for-bit reproducible on both
    engines. This IS the way to bootstrap 100 TB: multinomial
    resampling needs the global row count per draw; Poissonization
    decouples rows (Chamandy et al.'s "Estimating uncertainty for
    massive data streams", the method behind large-scale bootstrap
    at Google), making the whole thing one map-side pass.

    Determinism: weights come from md5(orderkey|batch) via the
    shared lowercase-hex idiom (C93), four 32-bit uniforms per
    128-bit digest, each mapped to its Poisson count by FIXED-WIDTH
    HEX STRING comparison against precomputed floor(cdf·2^32)
    thresholds (exactly equivalent to inverse-CDF on u=(h+1)/2^32,
    verified at every boundary; the planted gate replicates the
    u-form in Python); replica sums Σw·cents and Σw are
    exact BIGINTs; replica-mean deviations from the point estimate
    are quantized to exact 1e-4-dollar BIGINTs before the moment
    sums; the percentile is a fixed ORDER BY (mean, b) rank
    selection (positions 2 and 63 of 64 — type-1, no interpolation).

    Scale shape: the explode is B× map-side compute but the shuffle
    carries only B partial (Σw·x, Σw) states per mapper — one
    64-group partial agg plus a 1-row base agg; everything after is
    arithmetic over 64 rows. No replica ever materializes.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    # r15: the md5 ladder below is ~16 digests per order row, and a
    # single-row-group orders fixture plans a 1-task scan — the whole
    # hash pass ran on one core while the cluster idled. Spread the
    # NARROW (orderkey, cents) projection (16 B/row, never the full
    # row) when the scan is under-parallel; no-op at corpus scale
    # (guide §2.5 input-skew rule). 4.11 -> 1.05 s at sf0.1, output
    # bit-identical. The base aggregate roots on the same spread frame
    # so both consumers share one exchange-rooted subtree.
    from cassowary_spark.operators.skew import spread_narrow_input

    base_rows = spread_narrow_input(
        o.select("o_orderkey", cents.alias("cents")), "o_orderkey"
    )
    # one md5 yields FOUR 32-bit uniforms (the 128-bit digest in 8-hex
    # slices): B/4 hash evaluations per row instead of B — md5 is the
    # dominant per-row cost of the whole query (measured 12.6s → the
    # 4-per-digest form at sf0.1)
    hx = base_rows.select(
        F.explode(
            F.array([F.lit(i) for i in range(_BOOT_B // 4)])
        ).alias("i"),
        F.col("o_orderkey"),
        F.col("cents"),
    ).select(
        "i",
        "cents",
        F.md5(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("i").cast("string"),
            )
        ).alias("hex"),
    )
    slices = F.array(
        [F.substring(F.col("hex"), 1 + 8 * j, 8) for j in range(4)]
    )
    pairs = hx.select(
        "i",
        "cents",
        F.posexplode(slices).alias("j", "slice"),
    )
    w = F.lit(7)
    for k in range(len(_POIS_HEX) - 1, -1, -1):
        w = F.when(F.col("slice") < _POIS_HEX[k], F.lit(k)).otherwise(w)
    reps = pairs.select(
        (F.col("i") * 4 + F.col("j")).alias("b"), w.alias("w"), "cents"
    )
    means = reps.groupBy("b").agg(
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("swx"),
        F.sum("w").cast("long").alias("sw"),
    )
    base = base_rows.agg(
        F.sum("cents").cast("long").alias("scents"),
        F.count("*").cast("long").alias("n"),
    )
    mean_b = F.col("swx").cast("double") / F.col("sw").cast("double")
    m0 = F.col("scents").cast("double") / F.col("n").cast("double")
    wk = Window.orderBy(mean_b, F.col("b"))
    # carry scents/n through the rollup instead of re-scanning orders
    # for a second base aggregate (was a third full scan in the plan)
    devs = means.crossJoin(F.broadcast(base)).select(
        F.floor((mean_b - m0) / 100.0 * 1e4 + 0.5)
        .cast("long")
        .alias("dev4"),
        F.row_number().over(wk).alias("rk"),
        "scents",
        "n",
    )
    ds = devs.agg(
        F.max("scents").cast("long").alias("scents"),
        F.max("n").cast("long").alias("n"),
        F.count("*").cast("long").alias("nb"),
        F.sum("dev4").cast("long").alias("sd1"),
        F.sum(F.col("dev4") * F.col("dev4")).cast("long").alias("sd2"),
        F.max(F.when(F.col("rk") == 2, F.col("dev4")))
        .cast("long")
        .alias("lo4"),
        F.max(F.when(F.col("rk") == _BOOT_B - 1, F.col("dev4")))
        .cast("long")
        .alias("hi4"),
    )
    mean_est = (
        F.col("scents").cast("double") / F.col("n").cast("double") / 100.0
    )
    return ds.select(
        "n",
        F.col("nb").alias("n_replicas"),
        srnd(mean_est, 6).alias("mean_est"),
        srnd(
            F.sqrt(
                (F.col("sd2").cast("double")
                 - F.col("sd1").cast("double") * F.col("sd1").cast("double")
                   / F.col("nb").cast("double"))
                / (F.col("nb").cast("double") - 1.0)
            )
            / 1e4,
            6,
        ).alias("boot_se"),
        srnd(mean_est + F.col("lo4").cast("double") / 1e4, 6).alias(
            "ci_lo"
        ),
        srnd(mean_est + F.col("hi4").cast("double") / 1e4, 6).alias(
            "ci_hi"
        ),
    )


# ----------------------------- C131 mutual information / NMI


@query(
    "q_mutual_information",
    oracle=f"""
    WITH cells AS (
        SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
               CAST(count(*) AS BIGINT) AS nij
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    rs AS (SELECT seg, CAST(sum(nij) AS BIGINT) AS ri
           FROM cells GROUP BY 1),
    cs AS (SELECT prio, CAST(sum(nij) AS BIGINT) AS cj
           FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM cells),
    mi AS (
        SELECT sum({sql_srnd(
            "CAST(nij AS DOUBLE) / CAST(n AS DOUBLE)"
            " * ln(CAST(nij AS DOUBLE) * CAST(n AS DOUBLE)"
            "      / (CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE)))",
            8)}) AS mi
        FROM cells JOIN rs USING (seg) JOIN cs USING (prio)
        CROSS JOIN tot
    ),
    hr AS (
        SELECT sum({sql_srnd(
            "-(CAST(ri AS DOUBLE) / CAST(n AS DOUBLE))"
            " * ln(CAST(ri AS DOUBLE) / CAST(n AS DOUBLE))", 8)}) AS h
        FROM rs CROSS JOIN tot
    ),
    hc AS (
        SELECT sum({sql_srnd(
            "-(CAST(cj AS DOUBLE) / CAST(n AS DOUBLE))"
            " * ln(CAST(cj AS DOUBLE) / CAST(n AS DOUBLE))", 8)}) AS h
        FROM cs CROSS JOIN tot
    )
    SELECT n,
           {sql_srnd("mi.mi", 6)} AS mi,
           {sql_srnd("hr.h", 6)} AS h_row,
           {sql_srnd("hc.h", 6)} AS h_col,
           {sql_srnd("mi.mi / sqrt(hr.h * hc.h)", 6)} AS nmi
    FROM mi CROSS JOIN hr CROSS JOIN hc CROSS JOIN tot
    """,
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information + NMI (C131): MI = Σ p_ij·ln(p_ij/(p_i·p_j))
    of market segment × order priority, normalized by sqrt(H_row ·
    H_col) — the information-theoretic dependence measure on the
    SAME contingency table C124 tests: chi² answers "is there any
    association", MI measures HOW MANY NATS one variable carries
    about the other (and NMI puts it on [0,1] for cross-table
    comparison). The redundancy screen run before two categorical
    features both enter a model.

    Determinism: all probabilities are ratios of exact BIGINT counts;
    each of the ≤25 MI terms and ≤5 entropy terms is one fixed IEEE
    sequence ending in one ln, srnd8-quantized before its unordered
    sum (the C69 fold); nij·n stays within BIGINT (≤ n² = 2.25e10 at
    sf0.1).

    Scale shape: identical to C124 — ONE broadcast-dim join into a
    category-product-bounded partial agg, then the whole marginal/
    entropy ladder is row-local HOF arithmetic over the packed cell
    array in a single 1-row aggregate (r14: was 5 broadcast-join
    branches over the persisted cell frame — 5 extra jobs for ≤25
    rows of arithmetic).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cells = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(F.count("*").cast("long").alias("nij"))
    )
    packed = cells.agg(
        F.expr("array_sort(collect_list(struct(seg, prio, nij)))").alias("cs")
    ).select(
        "cs",
        F.expr("aggregate(cs, 0L, (a, x) -> a + x.nij)").alias("n"),
        F.expr("array_sort(array_distinct(transform(cs, x -> x.seg)))")
        .alias("segs"),
        F.expr("array_sort(array_distinct(transform(cs, x -> x.prio)))")
        .alias("prios"),
    )
    # per-cell/per-margin terms: identical IEEE sequences to the old
    # join-back branches, srnd8-quantized before each fold; the folds
    # run in sorted order (deterministic; the oracle's unordered sums
    # agree because the quantized terms sum stably — same tolerance
    # the old unordered F.sum relied on)
    ri = (
        "CAST(aggregate(filter(cs, y -> y.seg = x.seg), 0L,"
        " (ar, yr) -> ar + yr.nij) AS DOUBLE)"
    )
    cj = (
        "CAST(aggregate(filter(cs, z -> z.prio = x.prio), 0L,"
        " (ac, zc) -> ac + zc.nij) AS DOUBLE)"
    )
    mi_term = (
        f"floor((CAST(x.nij AS DOUBLE) / CAST(n AS DOUBLE)"
        f" * ln(CAST(x.nij AS DOUBLE) * CAST(n AS DOUBLE)"
        f" / ({ri} * {cj}))) * 1.0E8 + 0.5) / 1.0E8"
    )
    rm = (
        "CAST(aggregate(filter(cs, y -> y.seg = x), 0L,"
        " (ar, yr) -> ar + yr.nij) AS DOUBLE) / CAST(n AS DOUBLE)"
    )
    cm = (
        "CAST(aggregate(filter(cs, z -> z.prio = x), 0L,"
        " (ac, zc) -> ac + zc.nij) AS DOUBLE) / CAST(n AS DOUBLE)"
    )
    return packed.select(
        "n",
        F.expr(
            f"aggregate(cs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + {mi_term})"
        ).alias("mi"),
        F.expr(
            "aggregate(segs, CAST(0.0 AS DOUBLE), (acc, x) ->"
            f" acc + floor((-({rm}) * ln({rm})) * 1.0E8 + 0.5) / 1.0E8)"
        ).alias("h_row"),
        F.expr(
            "aggregate(prios, CAST(0.0 AS DOUBLE), (acc, x) ->"
            f" acc + floor((-({cm}) * ln({cm})) * 1.0E8 + 0.5) / 1.0E8)"
        ).alias("h_col"),
    ).select(
        "n",
        srnd(F.col("mi"), 6).alias("mi"),
        srnd(F.col("h_row"), 6).alias("h_row"),
        srnd(F.col("h_col"), 6).alias("h_col"),
        srnd(
            F.col("mi") / F.sqrt(F.col("h_row") * F.col("h_col")), 6
        ).alias("nmi"),
    )
