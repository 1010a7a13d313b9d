"""Round-8 wave 34 (SURVEY.md §2): frequent itemsets (market-basket
A-priori, C155), differentially-private noisy counts (discrete-Laplace
mechanism with an engine-exact integer inverse CDF, C156), and
embedding drift (per-source centroid cosine shift, C157).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# ------------------------------------------- C155 frequent itemsets

_FI_TOPK = 25  # emitted itemsets per size k
_FI_MINSUP_PERMILLE = 1  # support floor: itemset in >= 0.1% of baskets


@query(
    "q_freq_itemsets",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l.l_orderkey AS oid, p.p_brand AS item
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT count(DISTINCT oid) AS nb FROM items),
    p2 AS (
        SELECT a.item AS ia, b.item AS ib, count(*) AS c
        FROM items a JOIN items b
          ON a.oid = b.oid AND a.item < b.item
        GROUP BY 1, 2
        HAVING count(*) * 1000 >= {_FI_MINSUP_PERMILLE} * (SELECT nb FROM nb)
    ),
    p3 AS (
        SELECT a.item AS ia, b.item AS ib, c.item AS ic, count(*) AS c
        FROM items a
        JOIN items b ON a.oid = b.oid AND a.item < b.item
        JOIN items c ON b.oid = c.oid AND b.item < c.item
        GROUP BY 1, 2, 3
        HAVING count(*) * 1000 >= {_FI_MINSUP_PERMILLE} * (SELECT nb FROM nb)
    ),
    sets AS (
        SELECT 2 AS k, ia || ',' || ib AS items, c FROM p2
        UNION ALL
        SELECT 3 AS k, ia || ',' || ib || ',' || ic AS items, c FROM p3
    ),
    ranked AS (
        SELECT k, items, c,
               row_number() OVER (PARTITION BY k
                                  ORDER BY c DESC, items ASC) AS rnk
        FROM sets
    )
    SELECT CAST(k AS INT) AS k, items,
           CAST(c AS BIGINT) AS n_baskets,
           {sql_srnd(
               "CAST(c AS DOUBLE) / CAST((SELECT nb FROM nb) AS DOUBLE)",
               6)} AS support,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {_FI_TOPK}
    """,
)
def q_freq_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent itemsets (C155): top-{k} brand pairs and triples by
    basket support over order baskets — market-basket mining, the
    A-priori shape. A "basket" is an order's distinct set of part
    brands (lineitem ⋈ broadcast part); supports are counts of baskets
    containing ALL items of the set.

    Candidate generation (the scale story): each basket collapses to
    ONE row holding its sorted item array in a single basket-keyed
    shuffle (collect_set dedups in the same agg — no separate
    distinct pass); the A-priori level-1 prune — drop items below
    minsup BEFORE any combinatorics — broadcasts the frequent-singles
    ARRAY (1 row) and filters each basket row-locally; then all
    2-/3-subsets are generated ROW-LOCALLY by nested array HOFs
    (``transform`` over suffix ``slice``s). With basket cardinality bounded (single-digit
    brands per order; C(n,2)+C(n,3) combinations per basket), this
    replaces the level-wise basket-keyed self-joins with a single
    map-side explode feeding one count shuffle keyed by itemset —
    measured 3-4x faster than the join ladder at sf0.1, and at 100 TB
    the shuffle carries candidate counts (vocabulary-of-itemsets
    sized), not pair events. A pathological basket with thousands of
    distinct frequent items would explode combinatorially; the guard
    at scale is the same level-1 prune (tighter minsup) or falling
    back to level-wise joins for the rare oversized baskets — the
    shape switch is documented, not needed on order data. The prune
    does not change RESULTS (an itemset passing minsup implies all
    its items pass — monotonicity), so the oracle computes plain
    unpruned self-joins.

    Emission: minsup (0.1% of baskets) is the floor; within survivors
    the top {k} per size k by (count DESC, items ASC) — row_number
    with a full tiebreak, deterministic on both engines (itemset
    strings are comma-joins of the SORTED basket array, so both
    engines name each set identically). Support is a single
    srnd6-quantized division of exact integers.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # ONE basket-keyed shuffle: collect_set dedups in the same agg, so
    # no separate distinct pass over the (oid, item) stream
    baskets0 = persist(
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("oid"), F.col("p_brand").alias("item"))
        .groupBy("oid")
        .agg(F.array_sort(F.collect_set("item")).alias("bs0"))
    )  # one row per basket; nb/singles/candidates reuse it
    nb = baskets0.agg(F.count("*").alias("nb"))
    # A-priori level 1: frequent singles from the (tiny) basket frame,
    # broadcast back as ONE sorted array for a row-local basket prune
    f1arr = (
        baskets0.select(F.explode("bs0").alias("item"))
        .groupBy("item")
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(nb))
        .filter(F.col("c") * 1000 >= F.lit(_FI_MINSUP_PERMILLE) * F.col("nb"))
        .agg(F.array_sort(F.collect_list("item")).alias("f1"))
    )
    baskets = baskets0.crossJoin(F.broadcast(f1arr)).select(
        "oid",
        F.expr("filter(bs0, x -> array_contains(f1, x))").alias("bs"),
    )
    # row-local subset generation over the sorted basket array:
    # pairs (x_i, y_j) with j > i, triples (x_i, y_j, z_l) with l > j
    pairs = (
        "flatten(transform(bs, (x, i) ->"
        " transform(slice(bs, i + 2, size(bs) - i - 1),"
        " y -> concat(x, ',', y))))"
    )
    triples = (
        "flatten(flatten(transform(bs, (x, i) ->"
        " transform(slice(bs, i + 2, size(bs) - i - 1), (y, j) ->"
        " transform(slice(bs, i + j + 3, size(bs) - i - j - 2),"
        " z -> concat(x, ',', y, ',', z))))))"
    )
    cand = baskets.select(
        F.explode(F.expr(f"concat({pairs}, {triples})")).alias("items")
    )
    counts = (
        cand.groupBy("items")
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(nb))
        .filter(F.col("c") * 1000 >= F.lit(_FI_MINSUP_PERMILLE) * F.col("nb"))
        .withColumn(
            "k", (F.size(F.split(F.col("items"), ",")).cast("int")).alias("k")
        )
    )
    w = Window.partitionBy("k").orderBy(F.desc("c"), F.asc("items"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _FI_TOPK)
        .select(
            "k",
            "items",
            F.col("c").cast("long").alias("n_baskets"),
            srnd(
                F.col("c").cast("double") / F.col("nb").cast("double"), 6
            ).alias("support"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# --------------------------------------- C156 differentially-private counts

_DP_K = 20  # noise support clamped to [-K, K]
_DP_EPSILON = 1.0  # sensitivity-1 counts -> alpha = exp(-epsilon)


def _dp_thresholds() -> list[int]:
    """Integer inverse-CDF staircase for the two-sided geometric
    (discrete Laplace) with alpha = exp(-epsilon): T_k =
    floor(CDF(k) * 2^32) for k in [-K, K-1]. noise(u32) = -K +
    #{T_k <= u32}. Computed ONCE in Python and embedded as literals
    in BOTH engines' expressions, so the runtime needs only integer
    compares — no transcendental functions, bit-identical everywhere.
    """
    alpha = math.exp(-_DP_EPSILON)
    ts = []
    for k in range(-_DP_K, _DP_K):
        if k < 0:
            cdf = alpha ** (-k) / (1.0 + alpha)
        else:
            cdf = 1.0 - alpha ** (k + 1) / (1.0 + alpha)
        ts.append(int(math.floor(cdf * 2**32)))
    return ts


_DP_TS = _dp_thresholds()


@query(
    "q_dp_counts",
    oracle=f"""
    WITH g AS (
        SELECT lang, source, count(*) AS n,
               CAST('0x' || substr(md5(lang || '|' || source), 1, 8)
                    AS BIGINT) AS u32
        FROM documents GROUP BY lang, source
    )
    SELECT lang, source,
           CAST(-{_DP_K} + list_sum(list_transform(
               {list(_DP_TS)},
               t -> CASE WHEN u32 >= t THEN 1 ELSE 0 END)) AS INT) AS noise,
           CAST(n + (-{_DP_K} + list_sum(list_transform(
               {list(_DP_TS)},
               t -> CASE WHEN u32 >= t THEN 1 ELSE 0 END))) AS BIGINT)
               AS dp_n
    FROM g
    """,
)
def q_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Laplace noisy group counts (C156): per-(lang, source)
    document counts passed through the discrete-Laplace (two-sided
    geometric) mechanism's noise SHAPE — the release-surface pattern a
    pipeline puts in front of corpus-statistics dashboards.

    PRIVACY CAVEAT (this is a mechanism-shape/parity demo, NOT a DP
    guarantee): the noise here is seeded from the md5 of the PUBLIC
    group key, so anyone can recompute and subtract it — epsilon is
    effectively infinite. The deterministic seed is a harness
    requirement (the DuckDB oracle must reproduce the identical
    release); a production deployment obtains the claimed epsilon=1 by
    fixing the draw with a SECRET — HMAC(secret_salt, group_key) in
    place of md5(group_key) — which keeps the noise-reuse posture
    (stable across re-publishes, so repeated queries don't average the
    noise away) while making the draw unpredictable to consumers. The
    Spark/DuckDB plumbing is identical either way; only the seed's key
    material changes.

    Engine-exact noise without transcendentals: the mechanism's
    inverse CDF is a STAIRCASE, so its thresholds are compile-time
    constants — computed once in Python (the only place exp() runs)
    and embedded as a {2 * _DP_K}-entry int64 literal array in both
    engines. Runtime noise = -K + #{{thresholds <= u32}} where u32 is
    the md5 hex prefix of the group key: pure integer compares, no
    ln/exp in either engine, no srnd boundary risk (the established
    hex-threshold idiom from q_bootstrap_ci, here yielding a VALUE
    instead of a compare). A NULL lang/source NULL-propagates through
    F.concat exactly like the oracle's ``||`` (u32 NULL → noise -K on
    both engines).

    Scale shape: one map-side-combining groupBy on (lang, source);
    the noise is a row-local expression over the tiny group frame.
    The true count column is withheld from the output (only noise and
    dp_n ship) — mirroring the release-surface shape, though with a
    public seed that withholding is cosmetic, per the caveat above.
    """
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    # F.concat (NOT concat_ws): it NULL-propagates exactly like the
    # oracle's `||`, so a NULL lang/source hashes to NULL (noise -K)
    # in BOTH engines instead of silently diverging (ADVICE r8).
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("lang"), F.lit("|"), F.col("source"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    arr = "array(" + ",".join(f"{t}L" for t in _DP_TS) + ")"
    noise = F.expr(
        f"-{_DP_K} + aggregate({arr}, 0,"
        " (acc, t) -> acc + IF(u32 >= t, 1, 0))"
    )
    return (
        g.withColumn("u32", u32)
        .withColumn("noise", noise.cast("int"))
        .select(
            "lang",
            "source",
            "noise",
            (F.col("n") + F.col("noise")).cast("long").alias("dp_n"),
        )
    )


# ------------------------------------------- C157 embedding drift

_ED_Q = 1_000_000.0  # micro-unit quantization for exact integer sums


@query(
    "q_embedding_drift",
    oracle=f"""
    WITH j AS (
        SELECT d.source, list_transform(e.embedding,
                                        x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    ),
    comp AS (
        SELECT source, i AS dim,
               CAST(floor(v[i] * {_ED_Q} + 0.5) AS BIGINT) AS q
        FROM j, UNNEST(range(1, len(v) + 1)) u(i)
    ),
    per AS (
        SELECT source, dim, CAST(sum(q) AS BIGINT) AS sq,
               CAST(count(*) AS BIGINT) AS n
        FROM comp GROUP BY source, dim
    ),
    gl AS (
        SELECT dim, CAST(sum(q) AS BIGINT) AS gq,
               CAST(count(*) AS BIGINT) AS gn
        FROM comp GROUP BY dim
    ),
    cc AS (
        SELECT p.source, p.dim, p.n,
               CAST(p.sq AS DOUBLE) / (CAST(p.n AS DOUBLE) * {_ED_Q}) AS cs,
               CAST(g.gq AS DOUBLE) / (CAST(g.gn AS DOUBLE) * {_ED_Q}) AS cg
        FROM per p JOIN gl g ON g.dim = p.dim
    ),
    folds AS (
        SELECT source, max(n) AS n_vecs,
               list_sum(list(cs * cg ORDER BY dim)) AS dot,
               list_sum(list(cs * cs ORDER BY dim)) AS ss,
               list_sum(list(cg * cg ORDER BY dim)) AS gg
        FROM cc GROUP BY source
    )
    SELECT source, CAST(n_vecs AS BIGINT) AS n_vecs,
           {sql_srnd(
               "dot / nullif(sqrt(ss) * sqrt(gg), 0.0)", 6)} AS cos_sim,
           {sql_srnd(
               "1.0 - dot / nullif(sqrt(ss) * sqrt(gg), 0.0)", 6)} AS drift
    FROM folds
    """,
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift (C157): cosine distance between each source's
    embedding centroid and the global centroid — the corpus-mix /
    model-ops metric that flags a source whose content has moved away
    from the corpus center (ingestion regressions, domain shift,
    poisoning screens).

    Determinism: components quantize to integer micro-units BEFORE
    the per-(source, dim) sums (unordered integer sums are exact, the
    C-series money idiom applied to vectors); centroids are then
    single exact divisions, and the dot/norm reductions are
    fixed-order folds over dim (DuckDB list(... ORDER BY dim) +
    list_sum, Spark array_sort(collect_list(struct)) + aggregate —
    the C69 idiom), so the IEEE sequence is identical on both
    engines before the final srnd6.

    Scale shape: posexplode fans each vector into 64 (source, dim)
    rows that partial-aggregate map-side down to |sources| × dims —
    the shuffle carries centroid-sized frames, not the corpus; the
    global centroid reuses the same exploded pass; the cosine fold
    happens on a |sources| × dims frame. At 100 TB the explode feeds
    a two-level agg (per-partition combine then final), which is
    exactly what hash aggregation already does; no row ever carries
    the whole vector through a shuffle.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = e.join(d, e.vec_id == d.doc_id).select(
        "source", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )
    comp = j.select(
        "source", F.posexplode("v").alias("dim0", "x")
    ).select(
        "source",
        (F.col("dim0") + F.lit(1)).alias("dim"),  # 1-based like the oracle
        F.floor(F.col("x") * F.lit(_ED_Q) + F.lit(0.5)).cast("long").alias("q"),
    )
    per = persist(comp.groupBy("source", "dim").agg(
        F.sum("q").alias("sq"), F.count("*").alias("n")
    ))  # |sources| x dims rows; the global rollup reuses it
    # global centroid sums ROLL UP from the per-source partial —
    # exact integer addition, so equal to re-aggregating the corpus,
    # without a second pass over the exploded rows
    glob = per.groupBy("dim").agg(
        F.sum("sq").alias("gq"), F.sum("n").alias("gn")
    )
    cc = per.join(F.broadcast(glob), "dim").select(
        "source",
        "dim",
        "n",
        (F.col("sq").cast("double") / (F.col("n").cast("double") * F.lit(_ED_Q))).alias("cs"),
        (F.col("gq").cast("double") / (F.col("gn").cast("double") * F.lit(_ED_Q))).alias("cg"),
    )
    folds = cc.groupBy("source").agg(
        F.max("n").alias("n_vecs"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(dim, cs * cg))),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.col2)"
        ).alias("dot"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(dim, cs * cs))),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.col2)"
        ).alias("ss"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(dim, cg * cg))),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.col2)"
        ).alias("gg"),
    )
    cos = F.col("dot") / F.nullif(
        F.sqrt(F.col("ss")) * F.sqrt(F.col("gg")), F.lit(0.0)
    )
    return folds.select(
        "source",
        F.col("n_vecs").cast("long").alias("n_vecs"),
        srnd(cos, 6).alias("cos_sim"),
        srnd(F.lit(1.0) - cos, 6).alias("drift"),
    )
