"""Round-6 wave 32 (SURVEY.md §2): ML-evaluation metrics — Cohen's
kappa (inter-rater agreement), corpus BLEU (clipped n-gram precision
of mutated twins against their originals), and nDCG@10 (graded
ranking quality).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# ------------------------------------------- C150 Cohen's kappa


@query(
    "q_cohens_kappa",
    oracle=f"""
    WITH r AS (
        SELECT CASE WHEN (CAST('0x' || substr(md5(CAST(o_orderkey
                        AS VARCHAR)), 1, 8) AS BIGINT) % 1000
                    + 300 * CASE WHEN o_orderstatus = 'F'
                            THEN 1 ELSE 0 END) >= 650
                    THEN 1 ELSE 0 END AS a,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS b
        FROM orders
    ),
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a * b) AS BIGINT) AS n11,
               CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
               CAST(sum((1 - a) * b) AS BIGINT) AS n01,
               CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
        FROM r
    )
    SELECT n, n11, n10, n01, n00,
           {sql_srnd(
               "CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)",
               6)} AS po,
           {sql_srnd(
               "(CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)"
               " + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))"
               " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))", 6)} AS pe,
           {sql_srnd(
               "(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)"
               " - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)"
               "    + CAST(n01 + n00 AS DOUBLE)"
               "    * CAST(n10 + n00 AS DOUBLE))"
               "   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
               " / nullif(1.0"
               " - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)"
               "    + CAST(n01 + n00 AS DOUBLE)"
               "    * CAST(n10 + n00 AS DOUBLE))"
               "   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0.0)",
               6)} AS kappa
    FROM c
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (C150): chance-corrected agreement between two
    binary raters — rater A is C99's thresholded classifier (score ≥
    650), rater B the true status — κ = (p_o − p_e)/(1 − p_e). The
    label-quality workhorse: raw agreement (C100's calibration
    cousin) rewards raters that both say "no" to everything; kappa
    subtracts the agreement chance would produce. Perfect-agreement
    raters → 1, independent raters → 0 (both planted).

    Determinism: the confusion matrix is four exact BIGINTs from
    deterministic raters; p_o, p_e and κ are one fixed IEEE sequence
    each (κ nullif-guarded against the degenerate p_e = 1 case).

    Scale shape: ONE 1-row reduce over the fact scan — the cheapest
    possible evaluation pass; everything is map-side partials.
    """
    o = load_table(spark, sf_dir, "orders")
    b = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
        16,
        10,
    ).cast("long")
    a = F.when((h % 1000 + 300 * b) >= 650, 1).otherwise(0)
    r = o.select(a.alias("a"), b.alias("b"))
    c = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b")))
        .cast("long")
        .alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    pe = (
        (F.col("n11") + F.col("n10")).cast("double")
        * (F.col("n11") + F.col("n01")).cast("double")
        + (F.col("n01") + F.col("n00")).cast("double")
        * (F.col("n10") + F.col("n00")).cast("double")
    ) / (nd * nd)
    return c.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        srnd(po, 6).alias("po"),
        srnd(pe, 6).alias("pe"),
        srnd((po - pe) / F.nullif(1.0 - pe, F.lit(0.0)), 6).alias(
            "kappa"
        ),
    )


# --------------------------------------------- C151 corpus BLEU-2

_BLEU_SUFFIX = " qq17 zz93 vv41"


def _grams_expr(tokens_expr: str, n: int) -> F.Column:
    """Non-distinct n-grams of a token array (multiset semantics —
    BLEU clips per-gram COUNTS, so array_distinct would be wrong)."""
    return F.expr(
        f"transform(sequence(1, greatest(size({tokens_expr}) - {n - 1},"
        f" 1)), i -> array_join(slice({tokens_expr}, i, {n}), ' '))"
    )


def _duck_grams(col: str, n: int) -> str:
    return (
        f"list_transform(range(1, greatest(len(string_split({col}, ' '))"
        f" - {n - 1}, 1) + 1), i -> array_to_string(list_slice("
        f"string_split({col}, ' '), i, i + {n - 1}), ' '))"
    )


def _sql_bleu_layer(n: int) -> str:
    return f"""
        g{n} AS (
            SELECT doc_id, side, gram, count(*) AS c
            FROM (
                SELECT doc_id, side,
                       unnest({_duck_grams("text", n)}) AS gram
                FROM pair
            ) GROUP BY 1, 2, 3
        ),
        m{n} AS (
            SELECT CAST(sum(least(ca.c, coalesce(rf.c, 0)))
                        AS BIGINT) AS clipped,
                   CAST(sum(ca.c) AS BIGINT) AS total
            FROM (SELECT doc_id, gram, c FROM g{n}
                  WHERE side = 'cand') ca
            LEFT JOIN (SELECT doc_id, gram, c FROM g{n}
                       WHERE side = 'ref') rf
              ON rf.doc_id = ca.doc_id AND rf.gram = ca.gram
        )
    """


@query(
    "q_corpus_bleu",
    oracle=f"""
    WITH pair AS (
        SELECT doc_id, 'ref' AS side, text FROM documents
        UNION ALL
        SELECT doc_id, 'cand' AS side, text || '{_BLEU_SUFFIX}' AS text
        FROM documents
    ),
    {_sql_bleu_layer(1)},
    {_sql_bleu_layer(2)},
    lens AS (
        SELECT CAST(sum(CASE WHEN side = 'cand'
                   THEN len(string_split(text, ' ')) END) AS BIGINT)
                   AS cand_len,
               CAST(sum(CASE WHEN side = 'ref'
                   THEN len(string_split(text, ' ')) END) AS BIGINT)
                   AS ref_len
        FROM pair
    )
    SELECT m1.clipped AS c1, m1.total AS t1,
           m2.clipped AS c2, m2.total AS t2,
           cand_len, ref_len,
           {sql_srnd(
               "CASE WHEN cand_len >= ref_len THEN 1.0"
               " ELSE exp(1.0 - CAST(ref_len AS DOUBLE)"
               "          / CAST(cand_len AS DOUBLE)) END"
               " * exp((ln(CAST(m1.clipped AS DOUBLE)"
               "           / CAST(m1.total AS DOUBLE))"
               "       + ln(CAST(m2.clipped AS DOUBLE)"
               "           / CAST(m2.total AS DOUBLE))) / 2.0)",
               6)} AS bleu2
    FROM m1 CROSS JOIN m2 CROSS JOIN lens
    """,
)
def q_corpus_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BLEU-2 (C151): clipped 1- and 2-gram precision of every
    document's suffix-mutated twin against its original, combined as
    BP·exp(½(ln p₁ + ln p₂)) with corpus-level numerators/
    denominators — the standard machine-translation/generation
    overlap metric, here exercised as the similarity-side sibling of
    the C2 dedup family (dedup asks "same?", BLEU asks "how close?").
    Gram counts are MULTISET-clipped per (doc, gram) — min(candidate
    count, reference count) — which is exactly what array_distinct
    shingles would get wrong.

    Determinism: clipped/total counts and corpus lengths are exact
    BIGINTs; the brevity penalty branch and the two-ln/one-exp
    assembly are one fixed IEEE sequence (C70 precedent), srnd6.

    Scale shape: n-gram counting is the C60 explode→partial-agg
    shape per side; the clip is a (doc, gram)-keyed left join of two
    halves of the SAME aggregate; the metric is a 1-row reduce. At
    100 TB per-doc gram tables shard on doc_id and nothing global
    ever materializes beyond six numbers.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pair = d.select(
        "doc_id", F.lit("ref").alias("side"), F.col("text")
    ).unionByName(
        d.select(
            "doc_id",
            F.lit("cand").alias("side"),
            F.concat(F.col("text"), F.lit(_BLEU_SUFFIX)).alias("text"),
        )
    )
    from cassowary_spark.operators.skew import spread_narrow_input

    # r15: the tagged gram explode ran inside a 1-2-task scan stage;
    # spread only when under-parallel (no-op at corpus scale)
    toks = spread_narrow_input(pair, "doc_id").select(
        "doc_id", "side", F.split("text", " ").alias("tk")
    )
    # r14: ONE documents pass — both gram sizes ride a single tagged
    # explode into one (doc, side, n, gram) count (guide §1.3; the
    # old per-n loop plus the separate length aggregate re-scanned
    # the corpus five times: 2 sides × 2 n's + lens). The persisted
    # frame is the same per-doc gram vocabulary the old per-n aggs
    # built. Corpus lengths come FREE from the n=1 slice: split()
    # never yields an empty array, so Σ 1-gram counts per side
    # == Σ size(tk) — the old lens sums exactly.
    def _tag(n: int):
        # closure factory, NOT a default-arg lambda: transform() feeds
        # a 2-arity lambda (element, index) — a `lambda x, n=n` would
        # silently receive the array INDEX as n
        return lambda x: F.struct(F.lit(n).alias("n"), x.alias("gram"))

    tagged = F.concat(
        *[F.transform(_grams_expr("tk", n), _tag(n)) for n in (1, 2)]
    )
    g = persist(
        toks.select("doc_id", "side", F.explode(tagged).alias("s"))
        .groupBy(
            "doc_id", "side", F.col("s.n").alias("n"),
            F.col("s.gram").alias("gram"),
        )
        .agg(F.count("*").alias("c"))
    )
    ca = g.filter(F.col("side") == "cand").select(
        "n", "doc_id", "gram", F.col("c").alias("cc")
    )
    rf = g.filter(F.col("side") == "ref").select(
        "n", "doc_id", "gram", F.col("c").alias("rc")
    )
    m = ca.join(rf, ["n", "doc_id", "gram"], "left").groupBy("n").agg(
        F.sum(F.least(F.col("cc"), F.coalesce(F.col("rc"), F.lit(0))))
        .cast("long")
        .alias("clipped"),
        F.sum("cc").cast("long").alias("total"),
    )
    stats = m.agg(
        *[
            F.max(F.when(F.col("n") == n, F.col(c)))
            .cast("long")
            .alias(f"{c[0]}{n}")
            for n in (1, 2)
            for c in ("clipped", "total")
        ]
    )
    lens = g.filter(F.col("n") == 1).agg(
        F.sum(F.when(F.col("side") == "cand", F.col("c")))
        .cast("long")
        .alias("cand_len"),
        F.sum(F.when(F.col("side") == "ref", F.col("c")))
        .cast("long")
        .alias("ref_len"),
    )
    joined = stats.crossJoin(F.broadcast(lens))
    bp = F.when(
        F.col("cand_len") >= F.col("ref_len"), F.lit(1.0)
    ).otherwise(
        F.exp(
            1.0
            - F.col("ref_len").cast("double")
            / F.col("cand_len").cast("double")
        )
    )
    p1 = F.col("c1").cast("double") / F.col("t1").cast("double")
    p2 = F.col("c2").cast("double") / F.col("t2").cast("double")
    return joined.select(
        "c1",
        "t1",
        "c2",
        "t2",
        "cand_len",
        "ref_len",
        srnd(bp * F.exp((F.log(p1) + F.log(p2)) / 2.0), 6).alias(
            "bleu2"
        ),
    )


# ------------------------------------------------- C152 nDCG@10

_NDCG_K = 10
# 1/log2(i+1) position weights for i = 1..10, srnd8-quantized shared
# literals so both engines sum identical exact values.
_NDCG_W = tuple(
    math.floor(1.0 / math.log2(i + 1) * 1e8 + 0.5) / 1e8
    for i in range(1, _NDCG_K + 1)
)


@query(
    "q_ndcg",
    oracle=f"""
    WITH scored AS (
        SELECT o_orderkey AS k,
               (CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                                    1, 8) AS BIGINT) % 1000
                + 300 * CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                   AS s,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    top AS (
        SELECT y, row_number() OVER (ORDER BY s DESC, k) AS rn
        FROM scored
    ),
    dcg AS (
        SELECT sum(CASE rn {" ".join(
            f"WHEN {i + 1} THEN y * {w!r}"
            for i, w in enumerate(_NDCG_W))} END) AS dcg,
               CAST(sum(y) AS BIGINT) AS hits
        FROM top WHERE rn <= {_NDCG_K}
    ),
    npos AS (SELECT CAST(sum(y) AS BIGINT) AS np FROM scored),
    ideal AS (
        SELECT CASE {" ".join(
            f"WHEN least(np, {_NDCG_K}) = {m} THEN "
            + repr(round(sum(_NDCG_W[:m]), 10))
            for m in range(0, _NDCG_K + 1))} END AS idcg
        FROM npos
    )
    SELECT hits, np AS n_pos,
           {sql_srnd("dcg", 6)} AS dcg,
           {sql_srnd("idcg", 6)} AS idcg,
           {sql_srnd("dcg / nullif(idcg, 0.0)", 6)} AS ndcg
    FROM dcg CROSS JOIN npos CROSS JOIN ideal
    """,
)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 (C152): discounted cumulative gain of C99's classifier
    ranking at depth 10, normalized by the ideal ordering — the
    position-weighted retrieval metric that completes the eval
    battery's ranking axis (C99 AUC is order-only; nDCG says whether
    the TOP of the list is right, which is all a recommender's
    first screen shows). Binary gains; IDCG places min(n_pos, 10)
    ones first.

    Determinism: the top-10 is a total order (score DESC, key); the
    ten 1/log2(i+1) position weights are srnd8-quantized shared
    literals, so DCG is a sum of ≤10 identical exact values on both
    engines and IDCG is a closed-form lookup.

    Scale shape: the top-10 selection SHIPS as orderBy+limit →
    TakeOrderedAndProject (per-partition top-10 then a 10-row merge
    — the q_topk evolution, r10); the rank window and the DCG ladder
    run over the 10 surviving rows only, and n_pos is a plain
    corpus agg on the same scan.
    """
    o = load_table(spark, sf_dir, "orders")
    y = F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
        16,
        10,
    ).cast("long")
    scored = o.select(
        F.col("o_orderkey").alias("k"),
        (h % 1000 + 300 * y).alias("s"),
        y.alias("y"),
    )
    sel = scored.orderBy(F.col("s").desc(), F.col("k")).limit(_NDCG_K)
    top = sel.select(
        "y",
        F.row_number()
        .over(Window.orderBy(F.col("s").desc(), F.col("k")))
        .alias("rn"),
    )
    wexpr = F.lit(None).cast("double")
    for i, w in enumerate(_NDCG_W):
        wexpr = F.when(F.col("rn") == i + 1, F.col("y") * F.lit(w)).otherwise(
            wexpr
        )
    dcg = top.filter(F.col("rn") <= _NDCG_K).agg(
        F.sum(wexpr).alias("dcg"),
        F.sum("y").cast("long").alias("hits"),
    )
    npos = scored.agg(F.sum("y").cast("long").alias("np"))
    ideal = F.lit(None).cast("double")
    for m in range(0, _NDCG_K + 1):
        ideal = F.when(
            F.least(F.col("np"), F.lit(_NDCG_K)) == m,
            F.lit(round(sum(_NDCG_W[:m]), 10)),
        ).otherwise(ideal)
    return (
        dcg.crossJoin(F.broadcast(npos))
        .select(
            "hits",
            F.col("np").alias("n_pos"),
            srnd(F.col("dcg"), 6).alias("dcg"),
            srnd(ideal, 6).alias("idcg"),
            srnd(
                F.col("dcg") / F.nullif(ideal, F.lit(0.0)), 6
            ).alias("ndcg"),
        )
    )
