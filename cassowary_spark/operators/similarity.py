"""Vector similarity search over ArrayType(FloatType) embeddings
(SURVEY.md §2 C3).

- brute-force cosine top-k: the exact baseline. Dot products run as
  JVM higher-order functions (zip_with + aggregate) in double
  precision; top-k is TakeOrdered (per-partition heaps, no global
  sort). Fine up to ~10^7 vectors per query batch.
- LSH-bucketed ANN: the 100 TB path. Random-hyperplane sign bits
  (deterministic, hash-seeded) bucket the corpus; only the query's
  bucket (plus multi-probe neighbors) is scanned.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist


def as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (matches DuckDB's
    list_dot_product element order, so oracles agree bit-for-bit)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity, zero-norm-safe: a zero vector's cosine is
    pinned to -1.0 (sinks in every descending top-k) instead of the
    0/0 NaN that Spark's ordering treats as LARGER than any number —
    unguarded, k garbage vectors would displace every true match."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(-1.0)).otherwise(dot(a, b) / denom)


def cosine_topk(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec_col: str,
    k: int,
) -> DataFrame:
    """Exact top-k by cosine vs a single query vector (1-row DataFrame).

    The query side is crossJoin(broadcast(...)) — no driver collect, so
    the same plan works when the "query" is produced by an upstream
    stage. Returns (id, cos_sim) with id as tiebreaker.
    """
    qv = as_double(query_vec_col)
    cv = as_double(vec_col)
    scored = corpus.crossJoin(F.broadcast(query)).select(
        F.col(id_col),
        cosine(cv, qv).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def cosine_pairs_blocked(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float,
) -> DataFrame:
    """All cosine pairs >= threshold within each block (id_a < id_b).

    The scale formulation for pairwise similarity: rows are blocked by
    a key (a cluster/label/LSH bucket), each block runs ONE numpy gram
    matrix (BLAS) inside applyInPandas instead of |block|² interpreted
    per-pair expression evaluations — measured ~4× faster than the
    zip_with/aggregate form even at sf0.1, and the gap grows with
    block size. Blocks must fit in a worker (bound bucket width
    upstream; split oversized blocks by salting).
    """
    # id dtype follows the input schema — hardcoding bigint breaks
    # (or silently coerces) string/int32 id columns at Arrow transfer
    id_t = corpus.schema[id_col].dataType.simpleString()
    return corpus.select(block_col, id_col, vec_col).groupBy(block_col).applyInPandas(
        partial(_block_pairs, id_col, vec_col, threshold),
        f"id_a {id_t}, id_b {id_t}, cos_sim double",
    )


def _block_pairs(id_col: str, vec_col: str, threshold: float, pdf):
    """cosine_pairs_blocked's kernel; module level, so it pickles by reference."""
    import numpy as np
    import pandas as pd

    ids = pdf[id_col].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    v = np.array([np.asarray(x, dtype=np.float64) for x in pdf[vec_col].iloc[order]])
    g = v @ v.T
    norms = np.sqrt(np.diag(g))
    zero = norms == 0.0
    norms[zero] = np.inf
    cos = g / np.outer(norms, norms)
    if zero.any():
        # same convention as cosine(): zero-norm vectors pin to
        # -1.0 so they sink below ANY threshold, including <= 0 —
        # the inf-norm division alone would leave them at 0.0 and
        # emit pairs the expression path sinks
        cos[zero, :] = -1.0
        cos[:, zero] = -1.0
    ia, ib = np.triu_indices(len(ids), k=1)
    # strict id inequality: duplicate ids inside a block would
    # otherwise emit id_a == id_b rows, violating the contract
    keep = (cos[ia, ib] >= threshold) & (ids[ia] != ids[ib])
    return pd.DataFrame(
        {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "cos_sim": cos[ia[keep], ib[keep]]}
    )


def hyperplane_bits(vec_col: Column, n_planes: int, dim: int, seed: int = 42) -> Column:
    """Deterministic random-hyperplane signature (n_planes sign bits).

    Plane p's weight for dimension d is ±1 from xxhash64(seed, p, d) —
    reproducible across runs and engines with no stored model.
    """
    idx = F.sequence(F.lit(0), F.lit(dim - 1))

    def plane_sum(p: int) -> Column:
        # p bound as a function parameter: the lambda stays 2-arg
        # (element, index) — a default-arg capture would change its
        # detected arity and break zip_with.
        signed = F.zip_with(
            vec_col,
            idx,
            lambda x, i: F.when(
                F.xxhash64(F.lit(seed), F.lit(p), i).bitwiseAND(F.lit(1)) == 1, x
            ).otherwise(-x),
        )
        return F.aggregate(signed, F.lit(0.0), lambda acc, x: acc + x)

    bits = []
    for p in range(n_planes):
        s = plane_sum(p)
        bits.append(F.when(s > 0, F.shiftleft(F.lit(1), p)).otherwise(0))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket.cast("int")


def ann_lsh_topk(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec_col: str,
    k: int,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: scan only the query's hyperplane bucket.

    At scale the corpus is written bucketed/partitioned by `bucket`, so
    the probe is a partition-pruned scan (~1/2^n_planes of the data)
    followed by exact cosine on the candidates.
    """
    bucketed = corpus.withColumn("bucket", hyperplane_bits(as_double(vec_col), n_planes, dim))
    q = query.withColumn("qbucket", hyperplane_bits(as_double(query_vec_col), n_planes, dim))
    cand = bucketed.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
    scored = cand.select(
        F.col(id_col),
        cosine(as_double(vec_col), as_double(query_vec_col)).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def ivf_assign(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k_centroids: int = 16,
    lloyd_iters: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: (corpus + cluster id, centroids).

    Centroid seeding is deterministic (the k lowest-id vectors), then
    ``lloyd_iters`` distributed k-means steps refine them — each step
    is one broadcast-join assignment plus one (cluster, dim-position)
    mean aggregation, i.e. shuffle state of K×dim doubles regardless of
    corpus size. The returned assignment is what you'd persist
    partitioned-by-cluster at 100 TB so probes prune to nprobe/K of
    the data on read.
    """
    seeds = corpus.orderBy(id_col).limit(k_centroids)
    # constant partition key: the window runs over K<=16 seed rows, and
    # an explicit spec silences Spark's global-window warning
    w = Window.partitionBy(F.lit(0)).orderBy(id_col)
    centroids = seeds.select(
        (F.row_number().over(w) - 1).alias("cid"), as_double(vec_col).alias("cvec")
    )
    # Pre-normalize once per row so the K-way broadcast compare does one
    # dot product per centroid, not a full cosine (norms recomputed K×).
    # Cached as (id, vec, _vn) — the original vector plus ONE double —
    # never the double-cast copy of the payload (r14 cached both, 3×
    # the vector bytes; the cast is re-projected per assignment pass
    # below, one vectorized cast per row, while the sqrt-fold norm
    # stays cached). Persist only when lloyd_iters > 0: with zero
    # Lloyd steps the single assignment pass is the frame's only
    # consumer and a persist is pure materialization overhead.
    prepped = corpus.select(
        F.col(id_col), F.col(vec_col)
    ).withColumn("_vn", l2_norm(as_double(vec_col)))
    if lloyd_iters > 0:
        prepped = persist(prepped)

    def assign(cents: DataFrame) -> DataFrame:
        # r14: row-local argmax over a 1-row nested centroid array —
        # the old K-way crossJoin + row_number window hash-shuffled
        # the WHOLE corpus (vectors included) just to pick each row's
        # best of K centroids. Collapsing the K×dim centroid table to
        # one array row (sorted by cid) and folding over it keeps the
        # assignment inside the scan stage: zero exchanges of corpus
        # bytes. Arithmetic is the same dot/l2_norm expressions, the
        # fold visits cids ascending with a strict ">", so ties keep
        # the lowest cid — exactly the old (sim DESC, cid ASC) pick.
        cents1 = (
            cents.withColumn("_cn", l2_norm(F.col("cvec")))
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("cid", "cvec", "_cn"))
                ).alias("__cents")
            )
        )

        def step(acc, c):
            sim = dot(F.col("_vd"), c["cvec"]) / (F.col("_vn") * c["_cn"])
            return F.when(
                sim > acc["sim"],
                F.struct(sim.alias("sim"), c["cid"].alias("cid")),
            ).otherwise(acc)

        best = F.aggregate(
            F.col("__cents"),
            F.struct(
                F.lit(float("-inf")).alias("sim"),
                F.lit(-1).alias("cid"),
            ),
            step,
        )
        # _vd projected per pass from the cached float vector: one
        # cast per row, evaluated once in the Project (the fold's K
        # references resolve to the same attribute).
        return (
            prepped.withColumn("_vd", as_double(vec_col))
            .crossJoin(F.broadcast(cents1))
            .select(
                F.col(id_col),
                F.col(vec_col),
                # all-NaN similarities (zero-norm row) fall through the
                # strict ">" — pin them to cid 0, the old window's pick
                F.when(best["cid"] < 0, F.lit(0)).otherwise(best["cid"]).alias("cid"),
            )
        )

    assigned = assign(centroids)
    for _ in range(lloyd_iters):
        # new centroid = element-wise mean of its members (K×dim state)
        centroids = (
            assigned.select("cid", F.posexplode(as_double(vec_col)).alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("cvec")
            )
        )
        assigned = assign(centroids)
    return assigned, centroids


def write_ivf_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    k_centroids: int = 16,
    lloyd_iters: int = 1,
) -> None:
    """Persist an IVF-Flat index: inverted lists + centroids (offline).

    The lists land as parquet **partitioned by cid** — the on-disk
    twin of FAISS's inverted lists. Probes then read only the nprobe
    matching partitions (dynamic partition pruning on the broadcast
    probe join), so query cost is ~nprobe/K of the corpus regardless
    of total size; the index build is a once-per-corpus batch job, not
    per-query work.
    """
    import os

    assigned, centroids = ivf_assign(corpus, id_col, vec_col, k_centroids, lloyd_iters)
    assigned.write.mode("overwrite").partitionBy("cid").parquet(
        os.path.join(path, "lists")
    )
    centroids.select(
        "cid", F.col("cvec").cast("array<double>").alias("cvec")
    ).write.mode("overwrite").parquet(os.path.join(path, "centroids"))


def ann_ivf_probe(
    spark,
    index_path: str,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec_col: str,
    k: int,
    nprobe: int = 4,
) -> DataFrame:
    """Query-time half of IVF-Flat over a persisted index.

    Ranks the (tiny, broadcast) centroid table against the query
    vector, keeps the nprobe best cluster ids, and exact-scores only
    those inverted-list partitions — the parquet scan is pruned to
    nprobe/K of the files by the partition-column join.
    """
    import os

    centroids = spark.read.parquet(os.path.join(index_path, "centroids"))
    lists = spark.read.parquet(os.path.join(index_path, "lists"))
    qc = query.crossJoin(F.broadcast(centroids)).select(
        F.col(query_vec_col), F.col("cid"),
        cosine(as_double(query_vec_col), F.col("cvec")).alias("csim"),
    )
    probes = (
        qc.orderBy(F.col("csim").desc(), F.col("cid"))
        .limit(nprobe)
        .select("cid", query_vec_col)
    )
    cand = lists.join(F.broadcast(probes), "cid")
    scored = cand.select(
        F.col(id_col),
        cosine(as_double(vec_col), as_double(query_vec_col)).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def ann_ivf_topk(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec_col: str,
    k: int,
    k_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: probe the nprobe nearest inverted lists.

    The query ranks centroids (K rows, driver-free broadcast compare),
    keeps nprobe cluster ids, and exact-scores only vectors assigned to
    them — scanning ~nprobe/K of the corpus. Recall/latency trade via
    nprobe, as in classic IVF-Flat.
    """
    assigned, centroids = ivf_assign(corpus, id_col, vec_col, k_centroids)
    qc = query.crossJoin(F.broadcast(centroids)).select(
        F.col(query_vec_col), F.col("cid"),
        cosine(as_double(query_vec_col), F.col("cvec")).alias("csim"),
    )
    probes = qc.orderBy(F.col("csim").desc(), F.col("cid")).limit(nprobe).select("cid", query_vec_col)
    cand = assigned.join(F.broadcast(probes), "cid")
    scored = cand.select(
        F.col(id_col),
        cosine(as_double(vec_col), as_double(query_vec_col)).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)


def int8_quantize(df: DataFrame, vec_col: str, out_col: str = "q8") -> DataFrame:
    """Per-vector int8 scalar quantization: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5) ∈ [-127, 127].

    The 100 TB ANN memory path — 4× smaller vectors (and integer dot
    products) for candidate scoring; scales cancel in cosine, so the
    quantized cosine is exactly the cosine of the int8 vectors.
    floor(x+0.5) rounding (not round()) keeps the arithmetic
    bit-identical across engines. All JVM higher-order functions.
    """
    d = df.withColumn("__vd", F.expr(f"transform({vec_col}, x -> cast(x as double))"))
    d = d.withColumn(
        "__scale",
        F.expr(
            "greatest(aggregate(__vd, cast(0.0 as double), (a, v) -> greatest(a, abs(v))),"
            " cast(1e-30 as double)) / 127.0"
        ),
    )
    return d.withColumn(
        out_col, F.expr("transform(__vd, x -> cast(floor(x / __scale + 0.5) as long))")
    ).drop("__vd", "__scale")


def quantized_cosine_topk(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    q8_col: str,
    query_q8_col: str,
    k: int = 10,
) -> DataFrame:
    """Top-k by cosine over int8-quantized vectors.

    Integer dot products (exact in int64), one correctly-rounded
    division + sqrt per row — bit-identical across engines, so the
    unrounded score is a deterministic sort key. Query side broadcast;
    TakeOrdered top-k, no global sort, no driver collect.
    """
    j = corpus.crossJoin(F.broadcast(query))
    dot = F.expr(
        f"aggregate(zip_with({q8_col}, {query_q8_col}, (x, y) -> x * y),"
        " cast(0 as long), (a, v) -> a + v)"
    )
    nsq = F.expr(
        f"aggregate(transform({q8_col}, x -> x * x), cast(0 as long), (a, v) -> a + v)"
    )
    qsq = F.expr(
        f"aggregate(transform({query_q8_col}, x -> x * x), cast(0 as long), (a, v) -> a + v)"
    )
    scored = j.select(
        F.col(id_col),
        (dot.cast("double") / (F.sqrt(nsq.cast("double")) * F.sqrt(qsq.cast("double")))).alias(
            "cos_q"
        ),
    )
    return scored.orderBy(F.col("cos_q").desc(), F.col(id_col)).limit(k)


def ann_ivfpq_topk(
    corpus: DataFrame,
    query: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec_col: str,
    k: int,
    k_centroids: int = 8,
    nprobe: int = 2,
    n_sub: int = 4,
    cand_rank: int = 100,
) -> DataFrame:
    """IVFPQ ANN (the FAISS-style full pipeline): IVF coarse probe →
    product-quantized asymmetric-distance shortlist → exact re-rank.

    1. ``ivf_assign`` buckets the corpus (cosine routing, scale-
       invariant); the query probes its ``nprobe`` nearest lists.
    2. A per-subspace codebook (k_centroids codes = per-cluster
       sub-centroids) PQ-encodes the PROBED rows only; the shortlist
       keeps every row whose asymmetric distance RANKS ≤ cand_rank —
       rank(), not row_number(), so distance ties are never cut (a
       vector sharing the query's exact codes cannot be dropped, which
       is what makes the planted-recall gate structural).
    3. Exact cosine re-ranks the shortlist to the final top-k.

    Scale shape: centroids and codebooks are K×dim / K×n_sub×subdim
    broadcasts (corpus-independent); encoding touches only the probed
    ~nprobe/K of the corpus; the asymmetric distance is a broadcast
    lookup join against an (n_sub × K)-row query-distance table, so
    candidate scoring reads 4 SMALL codes per vector, not 64 floats —
    at 100 TB the PQ codes are the only per-row bytes the shortlist
    pass touches. The rank window runs over one query's candidate
    set (per-query partition when batched).
    """
    # lloyd_iters=0: the coarse stage uses the seed assignment as-is —
    # the PQ codebook below IS a per-cluster mean (the Lloyd M-step),
    # so refining the coarse centroids first would run the same
    # corpus passes twice for marginal routing quality. With zero
    # Lloyd steps ivf_assign persists nothing (single-consumer
    # normalized frame) — the only cache on this path is `assigned`.
    assigned, centroids = ivf_assign(
        corpus, id_col, vec_col, k_centroids, lloyd_iters=0
    )
    # the assignment feeds BOTH the codebook build and the candidate
    # probe — cache it so its lineage computes once, not once per
    # consumer. In the offline production layout this is the persisted
    # partitioned-by-cluster index (write_ivf_index); caching is its
    # in-session stand-in.
    assigned = persist(assigned)

    # --- probe: nprobe nearest lists by cosine (K-row broadcast)
    cents_n = centroids.withColumn("_cn", l2_norm(F.col("cvec")))
    qn = query.withColumn("_qd", as_double(query_vec_col)).withColumn(
        "_qn", l2_norm(F.col("_qd"))
    )
    qc = qn.crossJoin(F.broadcast(cents_n)).select(
        F.col(query_vec_col), F.col("_qd"), F.col("cid"),
        (dot(F.col("_qd"), F.col("cvec")) / (F.col("_qn") * F.col("_cn"))).alias("csim"),
    )
    probes = (
        qc.orderBy(F.col("csim").desc(), F.col("cid"))
        .limit(nprobe)
        .select("cid", query_vec_col, "_qd")
    )

    # --- per-subspace codebook: code id = cluster id, vector = the
    # cluster's element-wise mean subvector (K codes per subspace)
    subs = assigned.select(
        F.col(id_col).alias("__sid"),
        F.col("cid").alias("code"),
        F.expr(
            f"posexplode(transform(sequence(0, {n_sub - 1}),"
            f" s -> slice(transform({vec_col}, x -> CAST(x AS DOUBLE)),"
            f" s * (size({vec_col}) div {n_sub}) + 1,"
            f" size({vec_col}) div {n_sub})))"
        ).alias("s", "sv"),
    )
    cb = (
        subs.select("code", "s", F.posexplode("sv").alias("pos", "val"))
        .groupBy("code", "s", "pos")
        .agg(F.avg("val").alias("cv"))
        .groupBy("code", "s")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("__c"))
        .select("code", "s", F.expr("transform(__c, x -> x.cv)").alias("cvec_sub"))
    )

    # --- query-side distance table: d2(query subvector, every code)
    qsubs = probes.select(
        "cid",
        F.expr(
            f"posexplode(transform(sequence(0, {n_sub - 1}),"
            f" s -> slice(_qd, s * (size(_qd) div {n_sub}) + 1,"
            f" size(_qd) div {n_sub})))"
        ).alias("s", "qsv"),
    ).select("cid", "s", "qsv")
    qd = qsubs.join(F.broadcast(cb), "s").select(
        "cid",
        "s",
        "code",
        F.expr(
            "aggregate(zip_with(qsv, cvec_sub, (a, b) -> (a - b) * (a - b)),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        ).alias("qdist"),
    ).select("s", "code", "qdist").distinct()

    # --- PQ-encode the probed rows only, then asymmetric distance
    cand = assigned.join(F.broadcast(probes.select("cid")), "cid")
    cand_subs = cand.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(
            f"posexplode(transform(sequence(0, {n_sub - 1}),"
            f" s -> slice(transform({vec_col}, x -> CAST(x AS DOUBLE)),"
            f" s * (size({vec_col}) div {n_sub}) + 1,"
            f" size({vec_col}) div {n_sub})))"
        ).alias("s", "sv"),
    )
    enc = cand_subs.join(F.broadcast(cb), "s").select(
        F.col(id_col),
        "s",
        "code",
        F.expr(
            "aggregate(zip_with(sv, cvec_sub, (a, b) -> (a - b) * (a - b)),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        ).alias("d2"),
    )
    codes = (
        enc.groupBy(id_col, "s")
        .agg(F.min(F.struct("d2", "code")).alias("__m"))
        .select(id_col, "s", F.col("__m.code").alias("code"))
    )
    adc = (
        codes.join(F.broadcast(qd), ["s", "code"])
        .groupBy(id_col)
        .agg(F.sum("qdist").alias("adc"))
    )
    wq = Window.partitionBy(F.lit(0)).orderBy(F.col("adc").asc())
    shortlist = adc.withColumn("__r", F.rank().over(wq)).filter(
        F.col("__r") <= cand_rank
    ).select(id_col)

    # --- exact re-rank of the shortlist
    final = (
        cand.join(shortlist, id_col)
        .crossJoin(F.broadcast(qn.select("_qd", "_qn")))
        .select(
            F.col(id_col),
            (
                dot(as_double(vec_col), F.col("_qd"))
                / (l2_norm(as_double(vec_col)) * F.col("_qn"))
            ).alias("cos_sim"),
        )
    )
    return final.orderBy(F.col("cos_sim").desc(), F.col(id_col)).limit(k)
