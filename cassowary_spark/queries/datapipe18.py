"""Round-6 wave 20 (SURVEY.md §2): dependence and feature-screening
analytics — lead/lag cross-correlation between two daily series,
chi-square/Cramér's V contingency tests, leakage-safe smoothed target
encoding, weight-of-evidence / information value, and a co-purchase
triangle census.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# ------------------------------------- C123 lead/lag cross-correlation

_CCF_LAGS = (0, 1, 7)

# Pearson r assembled EXACTLY in HUGEINT from the wide-exact
# sufficient statistics, one correctly-rounded double conversion per
# term (int64 Σy² overflowed at sf1 daily revenue — the r11 probe;
# the former all-double assembly also differed from Spark in ulps
# past 2^53).
_SQL_PEARSON = (
    "CAST(CAST(n_pairs AS HUGEINT) * sxy"
    "     - CAST(sx AS HUGEINT) * sy AS DOUBLE)"
    " / nullif(sqrt(CAST(CAST(n_pairs AS HUGEINT) * sxx"
    "         - CAST(sx AS HUGEINT) * sx AS DOUBLE)"
    "      * CAST(CAST(n_pairs AS HUGEINT) * syy"
    "         - CAST(sy AS HUGEINT) * sy AS DOUBLE)), 0.0)"
)


def _sql_ccf_terms(k: int) -> str:
    return f"""
        SELECT {k} AS lag_days,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(a.cnt) AS BIGINT) AS sx,
               CAST(sum(b.rev) AS BIGINT) AS sy,
               sum(CAST(a.cnt AS HUGEINT) * b.rev) AS sxy,
               sum(CAST(a.cnt AS HUGEINT) * a.cnt) AS sxx,
               sum(CAST(b.rev AS HUGEINT) * b.rev) AS syy
        FROM daily a JOIN daily b ON b.d = a.d + {k}
    """


@query(
    "q_crosscorrelation",
    oracle=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1992-01-01',
                         CAST(o_orderdate AS DATE)) AS d,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CAST(floor(o_totalprice + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    terms AS (
        {" UNION ALL ".join(_sql_ccf_terms(k) for k in _CCF_LAGS)}
    )
    SELECT lag_days, n_pairs,
           {sql_srnd(_SQL_PEARSON, 6)} AS ccf_r
    FROM terms
    """,
)
def q_crosscorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag cross-correlation (C123): Pearson correlation of the
    daily ORDER-COUNT series against the daily REVENUE series shifted
    k days forward (k = 0, 1, 7) — "does volume today predict revenue
    in k days", the cross-series sibling of C122's autocorrelation
    and the diagnostic that justifies using one metric as a leading
    indicator of another. Pairs are calendar-exact (joined on
    day-index + k, not row offsets), so missing days never misalign
    the shift.

    Determinism: x is the exact integer daily order count, y the
    integer-DOLLAR daily revenue; the sums of squares/products
    accumulate in WIDE exact integers (DECIMAL(38,0) on Spark,
    HUGEINT on DuckDB — int64 Σy² overflowed at sf1's ~1e8-$ days,
    the r11 probe) and the Pearson terms are assembled exactly in
    that width, then converted to double once each (correctly
    rounded identically in both engines).

    Scale shape: the raw scan collapses to ONE calendar-bounded daily
    agg (map-side combine); each lag is a self-join of that ~2.4k-row
    table on an integer key — broadcast-sized forever, because the
    calendar, not the corpus, fixes its cardinality.
    """
    o = load_table(spark, sf_dir, "orders")
    dollars = F.floor(F.col("o_totalprice") + 0.5).cast("long")
    daily = persist(o.groupBy(
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lit("1992-01-01"))
        ).alias("d")
    ).agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(dollars).alias("rev"),
    ))  # ~2.4k calendar rows; both join sides reuse one scan
    dec = "decimal(19,0)"
    # r14: ONE lag-exploded self-join + grouped conditional aggregate
    # — the old per-lag union of (join + 1-row agg) branches re-ran
    # the whole join ladder once PER LAG (guide §1.3 plan-branch
    # dedup). The a-side carries each row once per lag; the LEFT join
    # keeps pair-less lags alive so every k still emits its row (with
    # n_pairs=0 and NULL sums, exactly the old empty-join aggregate);
    # all sums condition on the match so the per-k statistics are the
    # old inner-join sums bit-for-bit.
    a = daily.select(
        "d",
        "cnt",
        F.explode(F.array(*[F.lit(k) for k in _CCF_LAGS])).alias("k"),
    )
    b = daily.select(F.col("d").alias("bd"), F.col("rev"))
    j = a.join(b, F.col("bd") == F.col("d") + F.col("k"), "left")
    x, y = F.col("cnt"), F.col("rev")
    on = lambda e: F.when(F.col("bd").isNotNull(), e)  # noqa: E731
    terms = j.groupBy("k").agg(
        F.count("bd").cast("long").alias("n_pairs"),
        F.sum(on(x)).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x.cast(dec) * y.cast(dec)).alias("sxy"),
        F.sum(on(x.cast(dec) * x.cast(dec))).alias("sxx"),
        F.sum(y.cast(dec) * y.cast(dec)).alias("syy"),
    ).select(F.col("k").cast("int").alias("lag_days"), "n_pairs",
             "sx", "sy", "sxy", "sxx", "syy")
    nd = F.col("n_pairs").cast(dec)
    num = (
        nd * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy").cast(dec)
    ).cast("double")
    d1 = (
        nd * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    ).cast("double")
    d2 = (
        nd * F.col("syy") - F.col("sy").cast(dec) * F.col("sy").cast(dec)
    ).cast("double")
    den = F.sqrt(d1 * d2)
    return terms.select(
        "lag_days",
        "n_pairs",
        srnd(num / F.nullif(den, F.lit(0.0)), 6).alias("ccf_r"),
    )


# --------------------------------- C124 chi-square independence test


@query(
    "q_chi_square",
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
    tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
                   CAST(count(DISTINCT seg) AS BIGINT) AS nr,
                   CAST(count(DISTINCT prio) AS BIGINT) AS nc
            FROM cells),
    terms AS (
        SELECT seg, prio, {sql_srnd(
            "(CAST(nij AS DOUBLE)"
            "  - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE)"
            "    / CAST(n AS DOUBLE))"
            " * (CAST(nij AS DOUBLE)"
            "  - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE)"
            "    / CAST(n AS DOUBLE))"
            " / (CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE)"
            "    / CAST(n AS DOUBLE))", 8)} AS term
        FROM cells JOIN rs USING (seg) JOIN cs USING (prio)
        CROSS JOIN tot
    )
    SELECT n, (nr - 1) * (nc - 1) AS dof,
           {sql_srnd("chi2", 6)} AS chi2,
           {sql_srnd(
               "sqrt(chi2 / (CAST(n AS DOUBLE)"
               "     * CAST(least(nr - 1, nc - 1) AS DOUBLE)))",
               6)} AS cramers_v
    FROM (SELECT list_sum(list(term ORDER BY seg, prio)) AS chi2
          FROM terms) CROSS JOIN tot
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test + Cramér's V (C124): is order
    priority independent of the customer's market segment? The
    categorical-vs-categorical feature screen (the numeric siblings
    are B17's corr and C112's KS) run before a feature enters a
    model: chi² measures deviation from the independence expectation
    ri·cj/n, Cramér's V normalizes it to [0,1] effect size.

    Determinism: all contingency inputs (cell/row/column/total
    counts) are exact BIGINTs; each of the ≤25 per-cell terms is one
    fixed IEEE sequence srnd-quantized to 8dp BEFORE the final sum
    (the C69-entropy fold idiom), and the 6dp output tolerance
    absorbs the ≤25-term unordered add.

    Scale shape: one join (customer side broadcastable) into ONE
    partial-agg groupBy whose output is bounded by the category
    product (25 cells), then the whole marginal/term ladder runs
    row-locally over the packed cell array in a single 1-row
    aggregate — no marginal join-backs, no extra jobs. At 100 TB the
    shuffle carries 25 partial states per mapper, nothing more.
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
    # pack the <=25 cells into ONE sorted array; marginals, totals and
    # the chi2 fold are then row-local HOF arithmetic over that array
    # (same IEEE sequences as the old join-back branches, and the fold
    # runs in (seg, prio) order exactly like the oracle's ordered
    # list_sum)
    packed = cells.agg(
        F.expr("array_sort(collect_list(struct(seg, prio, nij)))").alias("cs")
    ).select(
        "cs",
        F.expr("aggregate(cs, 0L, (a, x) -> a + x.nij)").alias("n"),
        F.expr("size(array_distinct(transform(cs, x -> x.seg)))")
        .cast("long")
        .alias("nr"),
        F.expr("size(array_distinct(transform(cs, x -> x.prio)))")
        .cast("long")
        .alias("nc"),
    )
    ri = (
        "CAST(aggregate(filter(cs, y -> y.seg = x.seg), 0L,"
        " (ar, yr) -> ar + yr.nij) AS DOUBLE)"
    )
    cj = (
        "CAST(aggregate(filter(cs, z -> z.prio = x.prio), 0L,"
        " (ac, zc) -> ac + zc.nij) AS DOUBLE)"
    )
    e = f"({ri} * {cj} / CAST(n AS DOUBLE))"
    term = (
        f"floor(((CAST(x.nij AS DOUBLE) - {e})"
        f" * (CAST(x.nij AS DOUBLE) - {e}) / {e})"
        " * 1.0E8 + 0.5) / 1.0E8"
    )
    chi2 = packed.select(
        "n",
        "nr",
        "nc",
        F.expr(
            f"aggregate(cs, CAST(0.0 AS DOUBLE), (acc, x) -> acc + {term})"
        ).alias("chi2"),
    )
    return chi2.select(
        "n",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
        srnd(F.col("chi2"), 6).alias("chi2"),
        srnd(
            F.sqrt(
                F.col("chi2")
                / (F.col("n").cast("double")
                   * F.least(F.col("nr") - 1, F.col("nc") - 1)
                     .cast("double"))
            ),
            6,
        ).alias("cramers_v"),
    )


# ------------------------------- C125 leakage-safe target encoding

_TE_M = 100.0  # smoothing pseudo-count


@query(
    "q_target_encoding",
    oracle=f"""
    WITH y AS (
        SELECT p.p_brand AS brand,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    per AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS k
        FROM y GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                   CAST(sum(k) AS BIGINT) AS kk FROM per)
    SELECT brand, n, k,
           {sql_srnd(
               "(CAST(k AS DOUBLE) + 100.0 * (CAST(kk AS DOUBLE)"
               " / CAST(nn AS DOUBLE))) / (CAST(n AS DOUBLE) + 100.0)",
               6)} AS enc,
           {sql_srnd(
               "CASE WHEN k > 0 THEN"
               " (CAST(k AS DOUBLE) - 1.0 + 100.0 * (CAST(kk AS DOUBLE)"
               "  / CAST(nn AS DOUBLE)))"
               " / (CAST(n AS DOUBLE) - 1.0 + 100.0) END",
               6)} AS enc_loo_pos,
           {sql_srnd(
               "CASE WHEN n - k > 0 THEN"
               " (CAST(k AS DOUBLE) + 100.0 * (CAST(kk AS DOUBLE)"
               "  / CAST(nn AS DOUBLE)))"
               " / (CAST(n AS DOUBLE) - 1.0 + 100.0) END",
               6)} AS enc_loo_neg
    FROM per CROSS JOIN tot
    """,
)
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding with leave-one-out (C125): encode
    p_brand by its smoothed return rate enc = (k + m·prior)/(n + m),
    m = 100, prior = global rate — the classic high-cardinality
    categorical feature for tree/linear models. Leakage discipline
    (the C109-PIT theme, applied to aggregation instead of time):
    the row's OWN label must not leak into its feature, so the two
    leave-one-out values a row can receive — enc without one positive
    (enc_loo_pos) and without one negative (enc_loo_neg) — are
    emitted per category; any row's encoding is one of them, derived
    from sufficient statistics alone.

    Determinism: (n, k) per brand and the global (N, K) are exact
    BIGINTs; each encoding is one fixed IEEE sequence over their
    doubles, srnd6; degenerate LOO denominators (a category where
    the excluded class is absent) are NULL by CASE guard.

    Scale shape: one broadcast join (part is the dimension), ONE
    25-group partial agg, one 1-row total — the whole feature fits
    in a broadcast for the downstream scoring join. At 100 TB the
    shuffle carries one (n, k) pair per brand per mapper.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    per = persist(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(y).cast("long").alias("k"),
        )
    )  # 25 brands; total + output reuse one fact scan
    tot = per.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("k").cast("long").alias("kk"),
    )
    prior = F.col("kk").cast("double") / F.col("nn").cast("double")
    m = F.lit(_TE_M)
    nd, kd = F.col("n").cast("double"), F.col("k").cast("double")
    return per.crossJoin(F.broadcast(tot)).select(
        "brand",
        "n",
        "k",
        srnd((kd + m * prior) / (nd + m), 6).alias("enc"),
        srnd(
            F.when(
                F.col("k") > 0,
                (kd - 1.0 + m * prior) / (nd - 1.0 + m),
            ),
            6,
        ).alias("enc_loo_pos"),
        srnd(
            F.when(
                F.col("n") - F.col("k") > 0,
                (kd + m * prior) / (nd - 1.0 + m),
            ),
            6,
        ).alias("enc_loo_neg"),
    )


# ------------------------- C126 weight of evidence / information value


@query(
    "q_woe_iv",
    oracle=f"""
    WITH per AS (
        SELECT o_orderpriority AS prio,
               CAST(sum(CASE WHEN o_orderstatus = 'F'
                        THEN 0 ELSE 1 END) AS BIGINT) AS goods,
               CAST(sum(CASE WHEN o_orderstatus = 'F'
                        THEN 1 ELSE 0 END) AS BIGINT) AS bads
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(goods) AS BIGINT) AS gg,
                   CAST(sum(bads) AS BIGINT) AS bb FROM per),
    w AS (
        SELECT prio, goods, bads,
               {sql_srnd(
                   "ln(((CAST(goods AS DOUBLE) + 0.5)"
                   "    * CAST(bb AS DOUBLE))"
                   "   / ((CAST(bads AS DOUBLE) + 0.5)"
                   "    * CAST(gg AS DOUBLE)))", 6)} AS woe,
               {sql_srnd(
                   "((CAST(goods AS DOUBLE) + 0.5) / CAST(gg AS DOUBLE)"
                   " - (CAST(bads AS DOUBLE) + 0.5) / CAST(bb AS DOUBLE))"
                   " * ln(((CAST(goods AS DOUBLE) + 0.5)"
                   "       * CAST(bb AS DOUBLE))"
                   "      / ((CAST(bads AS DOUBLE) + 0.5)"
                   "       * CAST(gg AS DOUBLE)))", 8)} AS iv_term
        FROM per CROSS JOIN tot
    )
    SELECT prio, goods, bads, woe, iv_term,
           {sql_srnd(
               "(SELECT list_sum(list(iv_term ORDER BY prio)) FROM w)",
               6)} AS iv_total
    FROM w
    """,
)
def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence / information value (C126): per order
    priority, WoE = ln((goods_i/G)/(bads_i/B)) against the binary
    target "order finished" (o_orderstatus = 'F' = bad), and the
    predictor-level IV = Σ (g_i/G − b_i/B)·WoE_i — credit-scoring's
    standard categorical screen (IV < 0.02 → useless predictor),
    complementing C124's chi² with a DIRECTIONAL per-level score.
    Cells are Laplace-smoothed (+0.5) so an empty class never hits
    ln(0).

    Determinism: goods/bads/totals are exact BIGINTs; WoE is one
    fixed IEEE sequence ending in one ln (cross-engine stable under
    srnd6 — the C69-entropy precedent); iv_terms are srnd8-quantized
    before the ≤5-term sum.

    Scale shape: ONE bounded-key partial agg over the fact table,
    then arithmetic over 5 rows. The IV total rides a broadcast of
    the same 5 rows — no second scan.
    """
    o = load_table(spark, sf_dir, "orders")
    bad = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    per = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.sum(1 - bad).cast("long").alias("goods"),
        F.sum(bad).cast("long").alias("bads"),
    )
    # r14: totals, per-prio WoE/IV terms and the IV fold run
    # row-locally over the packed 5-row array in ONE 1-row aggregate,
    # then the rows explode back (was: persisted frame + totals
    # broadcast + fold job + final crossJoin). The srnd8 IV terms
    # still fold in prio order (the q_psi/q_kl/q_chi_square 1-ulp
    # boundary class).
    gd = "(CAST(x.goods AS DOUBLE) + 0.5)"
    bd = "(CAST(x.bads AS DOUBLE) + 0.5)"
    woe = f"ln(({gd} * CAST(bb AS DOUBLE)) / ({bd} * CAST(gg AS DOUBLE)))"
    iv_t = (
        f"floor((({gd} / CAST(gg AS DOUBLE)"
        f" - {bd} / CAST(bb AS DOUBLE)) * {woe}) * 1.0E8 + 0.5) / 1.0E8"
    )
    packed = per.agg(
        F.expr("array_sort(collect_list(struct(prio, goods, bads)))").alias(
            "cls"
        )
    ).select(
        "cls",
        F.expr("aggregate(cls, 0L, (a, x) -> a + x.goods)").alias("gg"),
        F.expr("aggregate(cls, 0L, (a, x) -> a + x.bads)").alias("bb"),
    ).select(
        F.expr(
            "transform(cls, x -> struct(x.prio AS prio,"
            " x.goods AS goods, x.bads AS bads,"
            f" floor({woe} * 1.0E6 + 0.5) / 1.0E6 AS woe,"
            f" {iv_t} AS iv_term))"
        ).alias("terms"),
    ).select(
        "terms",
        F.expr(
            "aggregate(terms, CAST(0.0 AS DOUBLE),"
            " (acc, x) -> acc + x.iv_term)"
        ).alias("iv_sum"),
    )
    return packed.select(F.explode("terms").alias("x"), "iv_sum").select(
        F.col("x.prio").alias("prio"),
        F.col("x.goods").alias("goods"),
        F.col("x.bads").alias("bads"),
        F.col("x.woe").alias("woe"),
        F.col("x.iv_term").alias("iv_term"),
        srnd(F.col("iv_sum"), 6).alias("iv_total"),
    )


# --------------------------------- C127 co-purchase triangle census

_TRI_SUPPORT = 2  # a pair must co-occur in >= this many orders


@query(
    "q_triangle_count",
    oracle=f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT a.p AS x, b.p AS y
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= {_TRI_SUPPORT}
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT x AS node FROM edges
              UNION ALL SELECT y FROM edges)
        GROUP BY 1
    ),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e2.x = e1.y
        JOIN edges e3 ON e3.x = e1.x AND e3.y = e2.y
    ),
    summ AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
        FROM deg
    ),
    ecnt AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           {sql_srnd(
               "3.0 * CAST(n_triangles AS DOUBLE)"
               " / nullif(CAST(n_wedges AS DOUBLE), 0.0)", 6)}
               AS global_cc
    FROM summ CROSS JOIN ecnt CROSS JOIN tri
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase triangle census (C127): build the graph of part
    pairs co-ordered in ≥2 distinct orders, then count its nodes,
    edges, wedges (open 2-paths, Σ d·(d−1)/2) and triangles, and the
    global clustering coefficient 3·triangles/wedges — the
    community-structure diagnostic (C117 measured degrees; this
    measures closure) behind "customers who bought X and Y also
    bought Z" co-purchase analytics.

    Determinism: pure integer counting end to end; the only float is
    the final coefficient (one fixed division, srnd6, NULL on a
    wedge-free graph).

    Scale shape: pair generation is an equi-join keyed on orderkey —
    per-order fanout is bounded by basket size (≤7 lineitems in
    TPC-H shape), so it's O(rows·basket), never O(parts²); the
    support-≥2 HAVING sparsifies the edge set (random co-occurrence
    rarely repeats) BEFORE the triangle join; triangles are
    enumerated once each via the x<y<z canonical orientation
    (compact-forward), and the wedge join cost is Σ deg², bounded by
    the support filter. Hot hub parts → AQE skew handling, the C105
    discipline. The edge set is persisted: degrees, wedges and the
    triangle join all reuse one materialization instead of
    recomputing the pair-gen shuffle three times.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # r14: basket-collect pair-gen (the r12 q_shortest_path pattern)
    # replaces distinct() + o-keyed self-join: collect_set dedups
    # inside the basket agg and the C(k,2) ordered pairs are emitted
    # row-locally over the ≤7-part sorted basket — one exchange where
    # the former shape paid three (distinct + both join sides),
    # identical edge multiset.
    baskets = li.groupBy("o").agg(
        F.sort_array(F.collect_set("p")).alias("ps")
    )
    edges = persist(
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (a, i) -> "
                    "transform(slice(ps, i+2, size(ps)-i-1), "
                    "b -> struct(a as x, b as y))))"
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.x").alias("x"), F.col("pr.y").alias("y"))
        .agg(F.count("*").alias("m"))
        .filter(F.col("m") >= _TRI_SUPPORT)
        .select("x", "y")
    )
    deg = (
        edges.select(F.col("x").alias("node"))
        .unionAll(edges.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    summ = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("long")
        .alias("n_wedges"),
    )
    ecnt = edges.agg(F.count("*").cast("long").alias("n_edges"))
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.x") == F.col("e1.y"))
        .join(
            e3,
            (F.col("e3.x") == F.col("e1.x"))
            & (F.col("e3.y") == F.col("e2.y")),
        )
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return (
        summ.crossJoin(F.broadcast(ecnt))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            srnd(
                3.0 * F.col("n_triangles").cast("double")
                / F.nullif(
                    F.col("n_wedges").cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("global_cc"),
        )
    )
