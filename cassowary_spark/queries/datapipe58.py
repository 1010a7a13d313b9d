"""Round-11 wave 61 (SURVEY.md §2): structural/agreement/compression
audits — degree assortativity of the co-purchase graph (C215),
Fleiss' kappa multi-rater agreement (C216) and int8 embedding
quantization QA (C217).

C215 extends the graph battery (C117 degrees, C127 closure) with the
mixing question — do hubs link to hubs? C216 extends the agreement
battery (C150's two-rater Cohen) to the k-rater labeling crews that
produce LLM training labels. C217 extends the embedding-ops battery
(C66 norms, C170 dim variance, C46 PQ) with the error audit for the
int8 post-training quantization every serving stack applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# --------------------------------- C215 degree assortativity

_ASSORT_SUPPORT = 2


@query(
    "q_assortativity",
    oracle=f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    edges AS (
        SELECT a.p AS x, b.p AS y
        FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= {_ASSORT_SUPPORT}
    ),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT x AS node FROM edges
              UNION ALL SELECT y FROM edges)
        GROUP BY 1
    ),
    s AS (
        SELECT CAST(2 * count(*) AS BIGINT) AS m,
               CAST(sum(dx.d + dy.d) AS BIGINT) AS sa,
               CAST(2 * sum(dx.d * dy.d) AS BIGINT) AS sab,
               CAST(sum(dx.d * dx.d + dy.d * dy.d) AS BIGINT) AS saa
        FROM edges e
        JOIN deg dx ON dx.node = e.x
        JOIN deg dy ON dy.node = e.y
    )
    SELECT CAST(m / 2 AS BIGINT) AS n_edges,
           {sql_srnd(
               "(CAST(m AS DOUBLE) * CAST(sab AS DOUBLE)"
               " - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))"
               " / nullif(CAST(m AS DOUBLE) * CAST(saa AS DOUBLE)"
               "          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE),"
               "          0.0)", 6)} AS assortativity
    FROM s
    """,
)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (C215): the Pearson correlation of the
    degrees at the two ends of every edge of C127's co-purchase
    graph (support ≥ {s}), computed on the symmetrized edge list —
    r > 0 means hubs co-occur with hubs (assortative mixing, social-
    network-like), r < 0 the hub-and-spoke shape typical of
    catalog/basket graphs. The mixing diagnostic that says whether
    C39-style propagation will stay inside communities or flood
    through hubs.

    Determinism: pure integer counting into four exact BIGINT
    sufficient statistics (symmetrization makes Σa = Σb and
    Σa² = Σb², so the Pearson formula collapses to one expression);
    a single srnd6 division, NULL on degree-regular graphs.

    Scale shape: edge-gen is the bounded-basket pair expansion
    q_shortest_path ships (r12 pattern) — collect each order's
    ≤7-part basket sorted, emit its C(k,2) ordered pairs row-locally,
    so the basket shuffles ONCE (groupBy o) instead of twice (both
    sides of the former self-join); the support filter sparsifies
    BEFORE the degree joins; degrees attach via two node-keyed
    equi-joins (degree frame is node-sized, co-partitioned); the
    reduce is one row. No windows, no sort. Degree headroom: d ≤
    node count, Σa·b ≤ m·d² — BIGINT-safe past 10⁶-degree hubs on
    10⁹ edges.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    # collect_set dedups inside the basket agg itself: the former
    # distinct() + collect_list paid a full extra (o, p)-keyed
    # exchange removing duplicates the set-agg removes for free —
    # one shuffle instead of two, same sorted basket.
    baskets = li.groupBy("o").agg(
        F.sort_array(F.collect_set("p")).alias("ps")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (a, i) -> "
                "transform(slice(ps, i+2, size(ps)-i-1), "
                "b -> struct(a as x, b as y))))"
            )
        ).alias("pr")
    )
    # consumed three times (two degree projections + the attach
    # join): persist the sparsified edge set instead of re-running
    # the pair-gen shuffle, the C127 discipline
    edges = persist(
        pairs.groupBy(F.col("pr.x").alias("x"), F.col("pr.y").alias("y"))
        .agg(F.count("*").alias("mcnt"))
        .filter(F.col("mcnt") >= _ASSORT_SUPPORT)
        .select("x", "y")
    )
    deg = (
        edges.select(F.col("x").alias("node"))
        .unionAll(edges.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("d"))
    )
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("da"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("db"))
    attached = edges.join(dx, "x").join(dy, "y")
    # symmetrization folds algebraically into ONE pass over the edge
    # list: each edge contributes both (da,db) and (db,da), so
    # m = 2|E|, Σa = Σ(da+db), Σab = 2Σda·db, Σa² = Σ(da²+db²) — a
    # UNION of the two orientations would execute the degree joins
    # twice
    da, db = F.col("da"), F.col("db")
    s = attached.agg(
        (2 * F.count("*")).cast("long").alias("m"),
        F.sum(da + db).cast("long").alias("sa"),
        (2 * F.sum(da * db)).cast("long").alias("sab"),
        F.sum(da * da + db * db).cast("long").alias("saa"),
    )
    md = F.col("m").cast("double")
    num = md * F.col("sab").cast("double") - F.col("sa").cast("double") * F.col("sa").cast("double")
    den = md * F.col("saa").cast("double") - F.col("sa").cast("double") * F.col("sa").cast("double")
    return s.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        srnd(num / F.nullif(den, F.lit(0.0)), 6).alias("assortativity"),
    )


q_assortativity.__doc__ = q_assortativity.__doc__.format(s=_ASSORT_SUPPORT)


# ------------------------------------------ C216 Fleiss' kappa

_FLEISS_RATERS = 3


@query(
    "q_fleiss_kappa",
    oracle=f"""
    WITH ratings AS (
        SELECT d.doc_id, r.j,
               CASE WHEN (CAST('0x' || substr(md5(CAST(d.doc_id
                              AS VARCHAR) || '-' || CAST(r.j AS VARCHAR)),
                              1, 8) AS BIGINT) % 10) < 8
                    THEN d.lang
                    ELSE (SELECT min(lang) FROM documents) END AS label
        FROM documents d CROSS JOIN range(0, {_FLEISS_RATERS}) r(j)
    ),
    cellc AS (
        SELECT doc_id, label, CAST(count(*) AS BIGINT) AS nij
        FROM ratings GROUP BY 1, 2
    ),
    items AS (
        SELECT doc_id, CAST(sum(nij * nij) AS BIGINT) AS sq
        FROM cellc GROUP BY 1
    ),
    marg AS (
        SELECT label, CAST(sum(nij) AS BIGINT) AS cj
        FROM cellc GROUP BY 1
    ),
    tots AS (
        SELECT CAST((SELECT count(*) FROM items) AS BIGINT) AS n_items,
               CAST((SELECT sum(sq) FROM items) AS BIGINT) AS ssq,
               (SELECT {sql_srnd(
                   "list_sum(list("
                   "  (CAST(cj AS DOUBLE)"
                   f"   / (CAST((SELECT count(*) FROM items) AS DOUBLE)"
                   f"      * {_FLEISS_RATERS}.0))"
                   "  * (CAST(cj AS DOUBLE)"
                   f"   / (CAST((SELECT count(*) FROM items) AS DOUBLE)"
                   f"      * {_FLEISS_RATERS}.0))"
                   " ORDER BY label))", 8)} FROM marg) AS pe
    )
    SELECT n_items,
           {sql_srnd(
               f"(CAST(ssq AS DOUBLE)"
               f" - CAST(n_items AS DOUBLE) * {_FLEISS_RATERS}.0)"
               f" / (CAST(n_items AS DOUBLE) * {_FLEISS_RATERS}.0"
               f"    * ({_FLEISS_RATERS}.0 - 1.0))", 6)} AS p_bar,
           {sql_srnd("pe", 6)} AS p_e,
           {sql_srnd(
               f"((CAST(ssq AS DOUBLE)"
               f"  - CAST(n_items AS DOUBLE) * {_FLEISS_RATERS}.0)"
               f" / (CAST(n_items AS DOUBLE) * {_FLEISS_RATERS}.0"
               f"    * ({_FLEISS_RATERS}.0 - 1.0)) - pe)"
               " / nullif(1.0 - pe, 0.0)", 6)} AS kappa
    FROM tots
    """,
)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (C216): chance-corrected agreement among {r}
    raters assigning each document a category — the k-rater
    generalization of C150's Cohen kappa, THE acceptance metric for
    the labeling crews (human or LLM-judge ensembles) that produce
    training labels. Raters are simulated deterministically: each
    (doc, rater) keeps the document's true lang with probability
    0.8 (md5 staircase) and otherwise votes the alphabetically first
    lang — planted imperfect agreement with a known structure.

    Determinism: P̄ reduces to (Σᵢ Σⱼ nᵢⱼ² − N·n)/(N·n(n−1)) — pure
    BIGINT until one fixed division; P̄ₑ = Σⱼ pⱼ² folds the per-
    category squares in FIXED label order (C69; the margins frame is
    |labels| rows); kappa is one guarded srnd6 expression.

    Scale shape: ratings explode the corpus ×{r} row-locally; ONE
    (doc, label) groupBy (map-side combined — ≤ {r} rows per doc
    collapse immediately), a doc-keyed partial agg to per-item
    sums, a |labels|-row margin agg, a 1-row reduce. No windows, no
    sort, nothing wider than the corpus ×{r} map stage.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    base = d.crossJoin(F.broadcast(d.agg(F.min("lang").alias("__l0"))))
    j = F.explode(
        F.sequence(F.lit(0), F.lit(_FLEISS_RATERS - 1))
    ).alias("j")
    rt = base.select("doc_id", "lang", "__l0", j)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "-",
                    F.col("doc_id").cast("string"),
                    F.col("j").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    ratings = rt.select(
        "doc_id",
        F.when(h % 10 < 8, F.col("lang")).otherwise(F.col("__l0")).alias(
            "label"
        ),
    )
    cellc = ratings.groupBy("doc_id", "label").agg(
        F.count("*").cast("long").alias("nij")
    )
    items = cellc.groupBy("doc_id").agg(
        F.sum(F.col("nij") * F.col("nij")).cast("long").alias("sq")
    )
    marg = cellc.groupBy("label").agg(
        F.sum("nij").cast("long").alias("cj")
    )
    itot = items.agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("sq").cast("long").alias("ssq"),
    )
    nr = float(_FLEISS_RATERS)
    pj = F.col("cj").cast("double") / (F.col("n_items").cast("double") * nr)
    pe_terms = marg.crossJoin(F.broadcast(itot)).select(
        "label", "n_items", "ssq", (pj * pj).alias("pjsq")
    )
    agg = pe_terms.agg(
        F.max("n_items").cast("long").alias("n_items"),
        F.max("ssq").cast("long").alias("ssq"),
        srnd(
            F.expr(
                "aggregate(array_sort(collect_list(struct(label, pjsq))),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.pjsq)"
            ),
            8,
        ).alias("pe"),
    )
    nd = F.col("n_items").cast("double")
    p_bar = (F.col("ssq").cast("double") - nd * nr) / (nd * nr * (nr - 1.0))
    return agg.select(
        "n_items",
        srnd(p_bar, 6).alias("p_bar"),
        srnd(F.col("pe"), 6).alias("p_e"),
        srnd(
            (p_bar - F.col("pe")) / F.nullif(1.0 - F.col("pe"), F.lit(0.0)),
            6,
        ).alias("kappa"),
    )


q_fleiss_kappa.__doc__ = q_fleiss_kappa.__doc__.format(r=_FLEISS_RATERS)


# ------------------------------- C217 int8 quantization error audit

_QZ_UNIT = 1_000_000  # micro-units (the C157/C170 idiom)


@query(
    "q_embed_quantize_qa",
    oracle=f"""
    WITH comp AS (
        SELECT vec_id, label,
               CAST(floor(CAST(u.x AS DOUBLE) * {_QZ_UNIT} + 0.5)
                    AS BIGINT) AS m
        FROM embeddings, unnest(embedding) AS u(x)
    ),
    scales AS (
        SELECT vec_id, CAST(max(abs(m)) AS BIGINT) AS s
        FROM comp GROUP BY 1
    ),
    qz AS (
        SELECT c.vec_id, c.label, c.m, sc.s,
               CASE WHEN sc.s = 0 THEN 0
                    ELSE CAST(floor(127.0 * CAST(c.m AS DOUBLE)
                              / CAST(sc.s AS DOUBLE) + 0.5) AS BIGINT)
               END AS q
        FROM comp c JOIN scales sc ON sc.vec_id = c.vec_id
    ),
    err AS (
        SELECT vec_id, label,
               CAST(floor(CAST(m AS DOUBLE)
                          - CAST(q AS DOUBLE) * CAST(s AS DOUBLE) / 127.0
                          + 0.5) AS BIGINT) AS e
        FROM qz
    )
    SELECT label,
           CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
           CAST(count(*) AS BIGINT) AS n_comps,
           CAST(max(abs(e)) AS BIGINT) AS max_abs_err_u,
           {sql_srnd(
               "CAST(sum(e * e) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
               f" / ({_QZ_UNIT}.0 * {_QZ_UNIT}.0)", 10)} AS mse
    FROM err GROUP BY label
    """,
)
def q_embed_quantize_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization error audit (C217): symmetric per-vector
    int8 PTQ (q = round(127·x/max|x|)), reconstruction error per
    component, and per-label max-abs error + MSE — the
    deploy-gate audit run before serving embeddings quantized
    (pairs with C46: PQ compresses for ANN recall, int8 compresses
    for bandwidth; this measures what the latter costs, per label
    so a degraded class is visible).

    Determinism: components quantize to micro-unit BIGINTs BEFORE
    anything (C157/C170 idiom); the per-vector scale is an exact
    BIGINT max; q = floor(127·m/s + 0.5) and the reconstruction
    error e = round(m − q·s/127) are fixed IEEE expressions over
    exact integers, re-quantized to BIGINT micro-units — so Σe² is
    an exact BIGINT in any order (e ≤ s/254 ≤ ~4e3 micro-units;
    e² ≤ 1.6e7 — BIGINT-safe past 10¹¹ components); MSE is one
    srnd10 division, zero-vectors map to q = 0 exactly.

    Scale shape: posexplode to components (row-local), one
    vec-keyed partial-agg max for scales, one vec-keyed equi-join
    back (co-partitioned — both sides share the vec_id shuffle),
    one label rollup. No windows, no sort, no broadcast of anything
    corpus-sized.
    """
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "vec_id",
        "label",
        F.explode("embedding").alias("x"),
    ).select(
        "vec_id",
        "label",
        F.floor(F.col("x").cast("double") * _QZ_UNIT + 0.5)
        .cast("long")
        .alias("m"),
    )
    scales = comp.groupBy("vec_id").agg(
        F.max(F.abs("m")).cast("long").alias("s")
    )
    qz = comp.join(scales, "vec_id").select(
        "vec_id",
        "label",
        "m",
        "s",
        F.when(F.col("s") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                127.0 * F.col("m").cast("double") / F.col("s").cast("double")
                + 0.5
            ).cast("long")
        )
        .alias("q"),
    )
    err = qz.select(
        "vec_id",
        "label",
        F.floor(
            F.col("m").cast("double")
            - F.col("q").cast("double") * F.col("s").cast("double") / 127.0
            + 0.5
        )
        .cast("long")
        .alias("e"),
    )
    return err.groupBy("label").agg(
        F.countDistinct("vec_id").cast("long").alias("n_vecs"),
        F.count("*").cast("long").alias("n_comps"),
        F.max(F.abs("e")).cast("long").alias("max_abs_err_u"),
        srnd(
            F.sum(F.col("e") * F.col("e")).cast("double")
            / F.count("*").cast("double")
            / (float(_QZ_UNIT) * float(_QZ_UNIT)),
            10,
        ).alias("mse"),
    )
