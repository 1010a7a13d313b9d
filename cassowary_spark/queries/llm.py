"""LLM-data-pipeline queries (SURVEY.md §2 group C + extensions).

The fixture corpus has no real duplicates (every documents.text is
unique) and unclustered embeddings (max pairwise cosine ≈ 0.48,
measured), so the dedup queries synthesize deterministic twins —
union-with-self for exact dedup, a suffix-mutated copy for near-dup,
a scaled copy for embedding near-dup — exactly as SURVEY.md §7 M4
prescribes. All twin construction happens identically in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import scope
from cassowary_spark.multimodal.decode import attach_binary, image_meta
from cassowary_spark.operators.dedup import (
    SHINGLE_DF_CAP,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from cassowary_spark.operators.similarity import (
    ann_lsh_topk,
    as_double,
    cosine,
    cosine_topk,
)
from cassowary_spark.operators.text import (
    LANG_MARKERS,
    LANG_ORDER,
    lang_id,
    quality_score,
    regex_token_count,
    token_count,
)
from cassowary_spark.exprs import srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import derived_fixture, load_table

# ---------------------------------------------------------------- helpers

MUTATION_SUFFIX = " extra token tail"
TWIN_OFFSET = 100_000


def _docs_with_twins(
    spark: SparkSession, sf_dir: str, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """documents ∪ suffix-mutated copy (ids shifted by TWIN_OFFSET).

    ``extra_cols`` carry additional document columns (e.g. ``lang``)
    through both halves unchanged — the twin scheme stays defined in
    exactly one place (here + ``_docs_twins_sql``).
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", *extra_cols
    )
    twin = d.select(
        (F.col("doc_id") + TWIN_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(MUTATION_SUFFIX)).alias("text"),
        *extra_cols,
    )
    return d.unionByName(twin)


def _docs_twins_sql(extra_cols: tuple[str, ...] = ()) -> str:
    """DuckDB spelling of ``_docs_with_twins`` (kept textually parallel)."""
    extra = "".join(f", {c}" for c in extra_cols)
    return f"""
        SELECT doc_id, text{extra} FROM documents
        UNION ALL
        SELECT doc_id + {TWIN_OFFSET} AS doc_id,
               text || '{MUTATION_SUFFIX}' AS text{extra}
        FROM documents
"""


_DOCS_TWINS_SQL = _docs_twins_sql()

def _duck_shingles(k: int) -> str:
    """DuckDB expression mirroring operators.dedup.shingles."""
    return (
        "list_distinct(list_transform("
        f" range(1, greatest(len(string_split(text, ' ')) - {k - 1}, 1) + 1),"
        f" i -> array_to_string(list_slice(string_split(text, ' '), i, i + {k - 1}), ' ')))"
    )


def _duck_marker_score(lang: str) -> str:
    terms = " + ".join(
        f"len(list_filter(string_split(text, ' '), t -> t = '{m}'))" for m in LANG_MARKERS[lang]
    )
    return f"({terms})"


def _duck_lang_id() -> str:
    """CASE chain mirroring operators.text.lang_id (same tiebreak order)."""
    clauses = []
    for lang in LANG_ORDER:
        conds = [f"{_duck_marker_score(lang)} > 0"]
        for other in LANG_ORDER:
            if other != lang:
                conds.append(f"{_duck_marker_score(lang)} >= {_duck_marker_score(other)}")
        clauses.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + " ELSE 'und' END"


# ---------------------------------------------------------------- C1 exact dedup


@query(
    "q_dedup_exact",
    oracle=f"""
    WITH all_docs AS (
        {_DOCS_TWINS_SQL}
        UNION ALL
        SELECT doc_id + {2 * TWIN_OFFSET} AS doc_id, text FROM documents
    )
    SELECT sha256(text) AS doc_hash, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM all_docs GROUP BY sha256(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (C1).

    Corpus = documents ∪ mutated twins ∪ verbatim copy, so every
    original text occurs twice (dupe) and each twin once. Output is the
    per-hash keeper + multiplicity; the shuffle key is the 64-hex hash.
    """
    base = _docs_with_twins(spark, sf_dir)
    copy = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") + 2 * TWIN_OFFSET).alias("doc_id"), "text"
    )
    corpus = base.unionByName(copy)
    return corpus.groupBy(F.sha2("text", 256).alias("doc_hash")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").alias("n_copies"),
    )


@query("q_dedup_near")  # rows-only: MinHash-LSH is not ANSI-SQL expressible
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (C2): 64 minhashes, 16 bands.

    Each doc pairs with its suffix-mutated twin (true Jaccard ≈ 0.7+).
    Deterministic (hash-seeded), verified by the twin-recall pytest.
    Driver-adjudicated through its oracle-gated sibling
    q_dedup_near_verified, whose brute-force pair SQL proves this same
    LSH machinery end-to-end.
    """
    corpus = _docs_with_twins(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        corpus, "doc_id", "text", num_hashes=64, bands=16, shingle_k=3, threshold=0.4
    )
    return pairs.select("id_a", "id_b", srnd("est_jaccard", 4).alias("est_jaccard"))


# Exact 5-gram Jaccard pair set over the SHINGLE_DF_CAP-filtered
# shingle space — the brute-force ground truth BOTH q_dedup_ngram and
# the LSH-verified q_dedup_near_verified must reproduce exactly. The
# cap value lives in operators/dedup.py (one knob, both engines).
_NGRAM_PAIRS_SQL = f"""
    WITH docs AS ({_DOCS_TWINS_SQL}),
    sh0 AS (
        SELECT doc_id, unnest({_duck_shingles(5)}) AS shingle FROM docs
    ),
    sh AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
            FROM sh0
        ) WHERE df <= {SHINGLE_DF_CAP}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           floor((CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter)) * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
    """


@query("q_dedup_ngram", oracle=_NGRAM_PAIRS_SQL)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard near-dup pairs (C2 verify stage).

    k=5: the fixture vocabulary is tiny, so 3-gram shingles recur in
    thousands of docs and the shingle join explodes 18M-wide (measured);
    5-grams are selective (max freq 15 at sf0.01, ~320k pairs) — the
    same knob a real corpus dedup turns. The stop-shingle cap is
    SHINGLE_DF_CAP on both engines (r13 re-linearization: the old 1000
    measured super-linear across sf1→sf10, see operators/dedup.py).
    """
    corpus = _docs_with_twins(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        corpus, "doc_id", "text", shingle_k=5, threshold=0.5,
        max_shingle_df=SHINGLE_DF_CAP,
    )
    return pairs.select("id_a", "id_b", srnd("jaccard", 4).alias("jaccard"))


@query("q_dedup_near_verified", oracle=_NGRAM_PAIRS_SQL)
def q_dedup_near_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates + exact-Jaccard verification (C2, hard-checked).

    The production two-stage near-dup pipeline: banded MinHash-LSH
    proposes candidates, exact 5-gram Jaccard is computed ONLY for
    candidate pairs (never the full shingle self-join). The oracle is
    the brute-force exact pair set — so this key IS a 100%-recall gate
    on the LSH stage: any pair the bands miss fails the row count.
    """
    corpus = _docs_with_twins(spark, sf_dir)
    from cassowary_spark.operators.dedup import lsh_verified_pairs

    pairs = lsh_verified_pairs(
        corpus, "doc_id", "text", num_hashes=64, bands=32,
        shingle_k=5, threshold=0.5, max_shingle_df=SHINGLE_DF_CAP,
    )
    return pairs.select("id_a", "id_b", srnd("jaccard", 4).alias("jaccard"))


@query("q_dedup_simhash")  # rows-only: xxhash64 has no DuckDB counterpart
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (C2): deterministic 64-bit signatures;
    twin-pair Hamming distance asserted small in tests.
    Driver-adjudicated through its oracle-gated sibling q_simhash_dup
    (identical-text signature-equality over the same machinery)."""
    corpus = _docs_with_twins(spark, sf_dir)
    return simhash(corpus, "doc_id", "text")


@query(
    "q_simhash_dup",
    oracle=f"""
    SELECT doc_id AS id_a, doc_id + {2 * TWIN_OFFSET} AS id_b,
           CAST(0 AS INTEGER) AS hamming
    FROM documents
    """,
)
def q_simhash_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash exact-duplicate invariant (C2, hard-checked twin of
    q_dedup_simhash): identical texts MUST produce identical 64-bit
    fingerprints, so every (doc, verbatim copy) pair has Hamming
    distance exactly 0. Gates signature determinism, the bit-vote
    aggregation, and the Hamming computation — a single flipped vote
    anywhere fails the value hash. Same shuffle shape as simhash
    itself plus one id-keyed equi-join."""
    from cassowary_spark.operators.dedup import hamming64

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copy = d.select((F.col("doc_id") + 2 * TWIN_OFFSET).alias("doc_id"), "text")
    sigs = simhash(d.unionByName(copy), "doc_id", "text")
    a = sigs.filter(F.col("doc_id") < 2 * TWIN_OFFSET).select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("__sa")
    )
    b = sigs.filter(F.col("doc_id") >= 2 * TWIN_OFFSET).select(
        (F.col("doc_id") - 2 * TWIN_OFFSET).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.col("simhash").alias("__sb"),
    )
    return a.join(b, "id_a").select(
        "id_a", "id_b", hamming64(F.col("__sa"), F.col("__sb")).cast("int").alias("hamming")
    )


@query(
    "q_dedup_embed",
    oracle="""
    WITH base AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    corpus AS (
        SELECT vec_id, label, v FROM base
        UNION ALL
        SELECT vec_id + 100000, label, list_transform(v, x -> x * 1.01) FROM base
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor((list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))) * 10000.0 + 0.5) / 10000.0
               AS cos_sim
    FROM corpus a JOIN corpus b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.99
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (C2): each vector vs its scaled
    twin (cosine exactly 1). Blocked by label so the pair join is an
    equi-join, not a cartesian — the blocking pattern that survives
    scale (swap label for an LSH bucket on unlabeled data)."""
    from cassowary_spark.operators.similarity import cosine_pairs_blocked

    e = load_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", "label", as_double("embedding").alias("v"))
    twin = base.select(
        (F.col("vec_id") + TWIN_OFFSET).alias("vec_id"),
        "label",
        F.transform("v", lambda x: x * 1.01).alias("v"),
    )
    corpus = base.unionByName(twin)
    pairs = cosine_pairs_blocked(corpus, "vec_id", "v", "label", threshold=0.99)
    return pairs.select("id_a", "id_b", srnd("cos_sim", 4).alias("cos_sim"))


# ---------------------------------------------------------------- C3 similarity search


@query(
    "q_sim_search",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, floor((cos_sim) * 10000.0 + 0.5) / 10000.0 AS cos_sim FROM (
        SELECT e.vec_id,
               list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(q.qv, q.qv))) AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    ) ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def q_sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs the vec_id=0 query vector (C3).

    TakeOrdered top-k (per-partition heaps); the query row is
    broadcast, never collected to the driver.
    """
    e = load_table(spark, sf_dir, "embeddings")
    qdf = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    topk = cosine_topk(
        e.filter(F.col("vec_id") != 0), qdf, "vec_id", "embedding", "qv", k=10
    )
    return topk.select("vec_id", srnd("cos_sim", 4).alias("cos_sim"))


@query("q_ann_lsh")  # rows-only: approximate by construction
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate NN (C3 scale path): random-hyperplane
    signatures prune the corpus to the query's bucket before exact
    scoring. Recall vs brute force asserted in tests.
    Driver-adjudicated through its oracle-gated sibling
    q_ann_lsh_planted (planted-neighbor recall over the same path)."""
    e = load_table(spark, sf_dir, "embeddings")
    qdf = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    topk = ann_lsh_topk(
        e.filter(F.col("vec_id") != 0), qdf, "vec_id", "embedding", "qv", k=10, n_planes=6
    )
    return topk.select("vec_id", srnd("cos_sim", 4).alias("cos_sim"))


PLANT_OFFSET = 200_000
_PLANT_SCALES = [f"{1 + i / 100.0:.2f}" for i in range(1, 11)]

# Brute-force top-10 over embeddings ∪ ten scaled copies of vec 0.
# Positive scaling preserves cosine (exactly 1.0 after rounding) AND
# every hyperplane sign / centroid preference, so a correct ANN index
# must retrieve precisely these ten rows — recall@10 == 1 is
# structurally guaranteed, making the approximate operators
# oracle-checkable. Scales appear as identical decimal literals in
# both engines so the planted vectors are bit-identical.
_ANN_PLANTED_SQL = (
    """
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id <> 0
    ),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0),
    corpus AS (
        SELECT vec_id, v FROM base
    """
    + "".join(
        f"    UNION ALL SELECT {PLANT_OFFSET + i + 1} AS vec_id,"
        f" list_transform(q, x -> x * {s}) AS v FROM qv\n"
        for i, s in enumerate(_PLANT_SCALES)
    )
    + """
    ),
    scored AS (
        SELECT c.vec_id,
               list_dot_product(c.v, qv.q) /
               (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(qv.q, qv.q)))
                   AS cos_sim
        FROM corpus c, qv
    )
    SELECT vec_id, floor(cos_sim * 10000.0 + 0.5) / 10000.0 AS cos_sim
    FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10
    """
)


def _ann_planted_corpus(spark: SparkSession, sf_dir: str):
    """(corpus, query) pair with ten scaled near-duplicates of vec 0
    planted — the deterministic recall fixture behind the *_planted
    ANN keys (see _ANN_PLANTED_SQL)."""
    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") != 0).select(
        "vec_id", as_double("embedding").alias("v")
    )
    v0 = e.filter(F.col("vec_id") == 0).select(as_double("embedding").alias("v"))
    # r14: ONE exploded branch instead of ten unioned single-row
    # selects — the old shape re-scanned the embeddings parquet once
    # per plant (11 scan branches in every consumer's plan). The scale
    # literals are the same decimal strings, parsed to identical
    # doubles, so the planted vectors are bit-identical.
    scales = F.array(*[F.expr(f"CAST({s} AS DOUBLE)") for s in _PLANT_SCALES])
    planted = v0.select("v", F.posexplode(scales).alias("i", "s")).select(
        (F.lit(PLANT_OFFSET + 1) + F.col("i")).cast("long").alias("vec_id"),
        F.transform(F.col("v"), lambda x: x * F.col("s")).alias("v"),
    )
    corpus = base.unionByName(planted)
    qdf = e.filter(F.col("vec_id") == 0).select(as_double("embedding").alias("qv"))
    return corpus, qdf


@query("q_ann_lsh_planted", oracle=_ANN_PLANTED_SQL)
def q_ann_lsh_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN recall gate (C3, hard-checked twin of q_ann_lsh).

    Ten scaled copies of the query vector are planted in the corpus;
    scaling preserves every random-hyperplane sign, so all ten land in
    the query's bucket and a correct LSH probe must return exactly
    them as the top-10 (cosine 1.0). The oracle brute-forces the same
    corpus — a wrong bucket join, broken signature, or bad scoring
    all fail the hash. q_ann_lsh stays as the honest-recall probe on
    unplanted (neighborless) data."""
    corpus, qdf = _ann_planted_corpus(spark, sf_dir)
    topk = ann_lsh_topk(corpus, qdf, "vec_id", "v", "qv", k=10, n_planes=6)
    return topk.select("vec_id", srnd("cos_sim", 4).alias("cos_sim"))


@query("q_ann_ivf_planted", oracle=_ANN_PLANTED_SQL)
def q_ann_ivf_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN recall gate (C3, hard-checked twin of q_ann_ivf): the
    planted copies rank every centroid identically to the query
    vector, so they live in the probed inverted lists by construction
    and an exact-scoring probe must surface all ten."""
    from cassowary_spark.operators.similarity import ann_ivf_topk

    corpus, qdf = _ann_planted_corpus(spark, sf_dir)
    topk = ann_ivf_topk(
        corpus, qdf, "vec_id", "v", "qv", k=10, k_centroids=8, nprobe=2
    )
    return topk.select("vec_id", srnd("cos_sim", 4).alias("cos_sim"))


@query("q_ann_ivfpq_planted", oracle=_ANN_PLANTED_SQL)
def q_ann_ivfpq_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ end-to-end recall gate (C55): the full FAISS-style
    pipeline — IVF coarse probe, product-quantized asymmetric-distance
    shortlist, exact cosine re-rank — against the planted brute-force
    oracle. Recall is structural, not probabilistic: the planted
    copies share the query's cosine centroid ranking (probe keeps
    them), quantize to the query's own PQ codes (their asymmetric
    distance is the global minimum), and the shortlist cuts by
    rank() — ties at the minimum are never dropped — so all ten reach
    the exact re-rank, which must score them 1.0.
    """
    from cassowary_spark.operators.similarity import ann_ivfpq_topk

    corpus, qdf = _ann_planted_corpus(spark, sf_dir)
    topk = ann_ivfpq_topk(
        corpus, qdf, "vec_id", "v", "qv", k=10,
        k_centroids=8, nprobe=2, n_sub=4, cand_rank=100,
    )
    return topk.select("vec_id", srnd("cos_sim", 4).alias("cos_sim"))


def build_ivf_index(spark: SparkSession, sf_dir: str, k_centroids: int = 8) -> str:
    """Build-once IVF index over embeddings (cached per sf_dir).

    The offline half of IVF-Flat: a distributed k-means coarse
    quantizer (deterministic seeds + one Lloyd step, K×dim shuffle
    state) buckets the corpus into inverted lists persisted as parquet
    partitioned by cluster id. Queries are probe-only reads.
    """
    from cassowary_spark.operators.similarity import write_ivf_index

    e = load_table(spark, sf_dir, "embeddings")
    return derived_fixture(
        sf_dir, f"ivf_embeddings_k{k_centroids}", ("embeddings",),
        lambda path: write_ivf_index(
            e.filter(F.col("vec_id") != 0), "vec_id", "embedding", path,
            k_centroids=k_centroids,
        ),
    )


@query("q_ann_ivf")  # rows-only: approximate by construction
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate NN (C3 scale path #2), probe side.

    The coarse quantizer runs offline (build_ivf_index); the query
    ranks the broadcast centroid table, keeps nprobe cluster ids, and
    exact-scores only those inverted-list partitions — the parquet
    scan prunes to ~nprobe/K of the corpus via the partition-column
    join. Recall vs brute force asserted in tests.
    Driver-adjudicated through its oracle-gated sibling
    q_ann_ivf_planted (planted-neighbor recall over the same path)."""
    from cassowary_spark.operators.similarity import ann_ivf_probe

    index = build_ivf_index(spark, sf_dir, k_centroids=8)
    e = load_table(spark, sf_dir, "embeddings")
    qdf = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    topk = ann_ivf_probe(spark, index, qdf, "vec_id", "embedding", "qv", k=10, nprobe=4)
    return topk.select("vec_id", srnd("cos_sim", 4).alias("cos_sim"))


# ---------------------------------------------------------------- C4 text analysis


@query(
    "q_text_stats",
    oracle="""
    SELECT lang,
           count(*)                                            AS n_docs,
           count(DISTINCT source)                              AS n_sources,
           floor((avg(len(string_split(text, ' ')))) * 10000.0 + 0.5) / 10000.0         AS avg_tokens,
           floor((avg(n_chars)) * 10000.0 + 0.5) / 10000.0                              AS avg_chars,
           CAST(sum(n_chars) AS BIGINT)                        AS total_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics by language (C4)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        srnd(F.avg(token_count(F.col("text"))), 4).alias("avg_tokens"),
        srnd(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "q_lang_id",
    oracle=f"""
    SELECT doc_id, lang, {_duck_lang_id()} AS lang_pred
    FROM documents
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID heuristic (C4) — deterministic argmax
    over per-language stopword counts."""
    d = load_table(spark, sf_dir, "documents")
    # the marker-count expression tree is wide; spread it past the
    # parquet file count (row-trivial shuffle, heavy projection after)
    return d.repartition(F.col("doc_id")).select(
        "doc_id", "lang", lang_id(F.col("text")).alias("lang_pred")
    )


@query(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' '))                                         AS ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))    AS subword_tokens,
           floor((CAST(n_chars AS DOUBLE) / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0     AS chars_per_token
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (C4): whitespace + BPE-ish regex pre-tokenizer."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        regex_token_count(F.col("text")).alias("subword_tokens"),
        srnd(
            F.col("n_chars").cast("double") / token_count(F.col("text")), 4
        ).alias("chars_per_token"),
    )


@query(
    "q_quality_score",
    oracle="""
    SELECT doc_id,
           floor((0.4 * (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80 THEN 1.0
                         WHEN len(string_split(text, ' ')) >= 10 THEN 0.5
                         ELSE 0.0 END)
           + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS DOUBLE)
                          / greatest(CAST(n_chars AS DOUBLE), 1.0))
           + 0.3 * (CASE WHEN len(list_filter(string_split(text, ' '), t -> t = 'the'))
                            + len(list_filter(string_split(text, ' '), t -> t = 'and'))
                            + len(list_filter(string_split(text, ' '), t -> t = 'of'))
                            + len(list_filter(string_split(text, ' '), t -> t = 'a')) > 0
                    THEN 1.0 ELSE 0.0 END)) * 10000.0 + 0.5) / 10000.0 AS quality
    FROM documents
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (C4): length band + punctuation ratio +
    stopword presence."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", quality_score(F.col("text"), F.col("n_chars")).alias("quality")
    )


@query(
    "q_fingerprint",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({_duck_shingles(3)}) AS shingle FROM documents
    )
    SELECT doc_id,
           min(md5(shingle)) AS fp_min,
           max(md5(shingle)) AS fp_max,
           count(*)          AS n_shingles
    FROM sh GROUP BY doc_id
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (C4): winnowing-style min/max shingle
    hash — a stable content signature robust to reordering-free edits."""
    from cassowary_spark.operators.dedup import shingles_of_tokens

    d = load_table(spark, sf_dir, "documents")
    # repartition before the explode: few parquet files would
    # otherwise pin the shingle+md5 map stage to few tasks, and the
    # id-hash partitioning is reused by the groupBy (no re-shuffle)
    sh = d.repartition(F.col("doc_id")).withColumn("__toks", F.split("text", " ")).select(
        "doc_id", F.explode(shingles_of_tokens("__toks", 3)).alias("shingle")
    )
    return sh.groupBy("doc_id").agg(
        F.min(F.md5("shingle")).alias("fp_min"),
        F.max(F.md5("shingle")).alias("fp_max"),
        F.count("*").alias("n_shingles"),
    )


# ---------------------------------------------------------------- C5 multimodal


@query(
    "q_multimodal_join",
    oracle="""
    SELECT d.doc_id, d.lang, d.n_chars,
           len(e.embedding) AS dim,
           floor((sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[])))) * 10000.0 + 0.5) / 10000.0 AS emb_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def q_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal co-residency (C5): text metadata ⋈ vector column."""
    from cassowary_spark.operators.similarity import l2_norm

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "n_chars",
        F.size("embedding").alias("dim"),
        srnd(l2_norm(as_double("embedding")), 4).alias("emb_norm"),
    )


@query(
    "q_mm_decode",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS INT)               AS n_bytes,
           CAST(strlen(text) % 64 + 1 AS INT)      AS width,
           CAST((strlen(text) * 7) % 64 + 1 AS INT) AS height,
           3                                        AS channels
    FROM documents
    """,
)
def q_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing (C5): binary payload → mapInPandas
    decode stub → typed metadata. The oracle replays the deterministic
    fake-decode arithmetic on the UTF-8 byte length."""
    d = load_table(spark, sf_dir, "documents")
    binary = attach_binary(d, "doc_id", "text")
    return image_meta(binary, "doc_id", "content")


@query(
    "q_mm_frames",
    oracle="""
    WITH nums AS (
        SELECT unnest(range(0, (
            SELECT CAST(ceil(ceil(max(strlen(text)) / 64.0) / 2.0) AS BIGINT)
            FROM documents
        ))) AS i
    )
    SELECT d.doc_id,
           CAST(n.i AS INT) AS frame_no,
           CAST(least(64, strlen(d.text) - n.i * 2 * 64) AS INT) AS frame_bytes
    FROM documents d JOIN nums n ON n.i * 2 * 64 < strlen(d.text)
    """,
)
def q_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (C5): binary payload → mapInPandas
    flat-map → one row per sampled frame (every 2nd 64-byte chunk of
    the deterministic fake stream). The oracle replays the chunk
    arithmetic; the binary frame itself is projected out of the gated
    result (metadata-only compare) but carried by the operator."""
    from cassowary_spark.multimodal.decode import sample_frames

    d = load_table(spark, sf_dir, "documents")
    binary = attach_binary(d, "doc_id", "text")
    return sample_frames(binary, every_n=2).select("doc_id", "frame_no", "frame_bytes")


# ---------------------------------------------------------------- sampling


@query(
    "q_sample_hash",
    oracle="""
    SELECT lang,
           count(*) AS n_sampled,
           min(doc_id) AS min_id
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
    GROUP BY lang
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (~10%) — the training-data split.

    Sampling by content-stable hash (not rand()) is how corpus
    pipelines shard: the same doc lands in the same split on every
    run, across engines, regardless of partitioning — so train/val
    splits survive reprocessing. The predicate is a pure row-local
    filter (no shuffle, no state); the only shuffle is the final
    per-lang count. ~10.2% = 26/256 of the first hash byte.
    """
    d = load_table(spark, sf_dir, "documents")
    sampled = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2) < "1a"
    )
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_sampled"),
        F.min("doc_id").alias("min_id"),
    )


@query(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    docs AS ({_DOCS_TWINS_SQL}),
    sh0 AS (
        SELECT doc_id, unnest({_duck_shingles(5)}) AS shingle FROM docs
    ),
    sh AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, count(*) OVER (PARTITION BY shingle) AS df
            FROM sh0
        ) WHERE df <= {SHINGLE_DF_CAP}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(v, r) AS (
        SELECT doc_id, doc_id FROM docs
        UNION
        SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
    )
    SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup clusters (C2 final stage): connected
    components over the exact 5-gram-Jaccard pair graph, cluster_id =
    min doc_id per component — what a training pipeline keys on to
    keep one representative per duplicate cluster.

    Spark side: iterative min-label propagation (operators/dedup.py
    ``connected_components``), all joins/groupBys, converging in
    diameter rounds. Oracle: DuckDB recursive CTE computing the
    transitive closure over the same deterministic edge set and
    taking min reachable id — engine-independent because the exact
    5-gram Jaccard pairs over the SHINGLE_DF_CAP-filtered shingle
    space define the graph (LSH only finds them; the verify stage is
    exact, so 100% candidate recall makes the two graphs identical
    and any missed pair fails the value hash).

    r13 re-linearization: the pair stage is the production
    bucket-capped LSH + exact-verify path (lsh_verified_pairs) —
    never the full shingle self-join this key ran through r12, whose
    uncapped shingle space measured α=+2.15 across sf1→sf10 with a
    64 GiB heap cliff. Candidate work is bounded per band bucket
    (bucket_cap²) and per shingle (SHINGLE_DF_CAP²), both linear in
    corpus size at fixed caps.
    """
    from cassowary_spark.operators.dedup import connected_components, lsh_verified_pairs

    corpus = _docs_with_twins(spark, sf_dir)
    # Materialize the pair list ONCE, then release the pair
    # pipeline's caches (the scope's exit) BEFORE the CC loop: the
    # loop is frontier-bounded, but holding the shingle cache
    # (disk-backed blocks, tens of GB at sf100) plus the pipeline's
    # live shuffle files through its rounds is what exhausted local
    # disk in the r13 third-decade probe. After this checkpoint the
    # edge list is a leaf; nothing upstream is ever re-read.
    with scope():
        pairs = lsh_verified_pairs(
            corpus, "doc_id", "text", num_hashes=64, bands=32,
            shingle_k=5, threshold=0.5, max_shingle_df=SHINGLE_DF_CAP,
            bucket_cap=1000,
        )
        edges = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    return connected_components(corpus.select("doc_id"), edges, "doc_id")


@query(
    "q_repetition",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS b
        FROM t
    ),
    per AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(max(c) AS BIGINT) AS top_cnt,
           floor((CAST(max(c) AS DOUBLE) / sum(c)) * 10000.0 + 0.5) / 10000.0 AS top_frac,
           floor((1 - CAST(count(*) AS DOUBLE) / sum(c)) * 10000.0 + 0.5) / 10000.0 AS dup_frac
    FROM per GROUP BY doc_id
    """,
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition metrics (C4/Gopher-style quality
    rule, distinct from q_quality_score's surface stats): top-bigram
    fraction and duplicate-bigram fraction per document — the signals
    used to drop boilerplate/spam before pretraining.

    Row-local explode + two partial-agg groupBys keyed by doc_id; at
    100 TB the bigram shuffle is the only wide op and carries
    (doc_id, 64-bit-hashable bigram, count) rows with map-side
    combine. No UDFs — all JVM exprs.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    d2 = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 2)
    bg = d2.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
            )
        ).alias("b"),
    )
    per = bg.groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_cnt"),
        srnd(F.max("c").cast("double") / F.sum("c"), 4).alias("top_frac"),
        srnd(F.lit(1.0) - F.count("*").cast("double") / F.sum("c"), 4).alias("dup_frac"),
    )


@query(
    "q_dedup_incremental",
    oracle=f"""
    WITH corpus AS ({_DOCS_TWINS_SQL}),
    old AS (SELECT * FROM corpus WHERE doc_id % 4 <> 0),
    new AS (SELECT * FROM corpus WHERE doc_id % 4 = 0)
    SELECT n.doc_id, md5(n.text) AS content_hash
    FROM new n
    WHERE NOT EXISTS (SELECT 1 FROM old o WHERE md5(o.text) = md5(n.text))
      AND n.doc_id = (SELECT min(n2.doc_id) FROM new n2 WHERE md5(n2.text) = md5(n.text))
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (C1 at steady state): screen an arriving
    batch against the existing corpus by content hash — keep only new
    docs whose content is unseen, deduping within the batch too (min
    doc_id wins).

    r15: ONE grouped pass over the hashed corpus — per content_hash,
    the min batch doc_id and an any-old flag are two conditional
    aggregates, so "unseen in old" is a filter on the same 1-exchange
    aggregate instead of the r14 shape (persisted hash frame + anti
    join + per-hash window = 3 exchanges and a cache whose lifetime
    nothing owned). Map-side partial aggregation ships one row per
    distinct hash per partition — strictly fewer bytes than the anti
    join shuffled, and the leaked persist is gone. At 100 TB with a
    pre-computed corpus hash table the anti-join form returns, but
    when both sides derive from one frame the single pass wins at any
    scale.
    """
    corpus = _docs_with_twins(spark, sf_dir)
    hashed = corpus.select("doc_id", F.md5("text").alias("content_hash"))
    per_hash = hashed.groupBy("content_hash").agg(
        F.min(F.when(F.col("doc_id") % 4 == 0, F.col("doc_id"))).alias("__new_min"),
        F.max(F.when(F.col("doc_id") % 4 != 0, F.lit(1))).alias("__has_old"),
    )
    return (
        per_hash.filter(F.col("__new_min").isNotNull() & F.col("__has_old").isNull())
        .select(F.col("__new_min").alias("doc_id"), "content_hash")
    )


@query(
    "q_ann_quantized",
    oracle="""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q8 AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(floor(
                   x / (greatest(list_aggregate(list_transform(v, y -> abs(y)), 'max'),
                                 1e-30) / 127.0) + 0.5) AS BIGINT)) AS q
        FROM base
    ),
    qq AS (SELECT q AS qv FROM q8 WHERE vec_id = 0),
    scored AS (
        SELECT q8.vec_id,
               CAST(list_dot_product(CAST(q8.q AS DOUBLE[]), CAST(qq.qv AS DOUBLE[])) AS DOUBLE) /
               (sqrt(list_dot_product(CAST(q8.q AS DOUBLE[]), CAST(q8.q AS DOUBLE[]))) *
                sqrt(list_dot_product(CAST(qq.qv AS DOUBLE[]), CAST(qq.qv AS DOUBLE[])))) AS cos_q
        FROM q8, qq WHERE q8.vec_id <> 0
    )
    SELECT vec_id, floor(cos_q * 10000.0 + 0.5) / 10000.0 AS cos_q
    FROM scored ORDER BY scored.cos_q DESC, vec_id LIMIT 10
    """,
)
def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized cosine top-10 (C3's memory path): per-vector
    scalar quantization (scale = max|x|/127, floor(x/scale+0.5)), then
    integer dot products — 4× smaller vectors for candidate scoring at
    100 TB, exact int64 arithmetic so the score is bit-identical
    across engines (sort key is the unrounded ratio; floor-rounded
    only for display). Scales cancel in cosine, so this IS the cosine
    of the int8 vectors.
    """
    from cassowary_spark.operators.similarity import int8_quantize, quantized_cosine_topk

    e = load_table(spark, sf_dir, "embeddings")
    q8 = int8_quantize(e, "embedding", "q8")
    qdf = q8.filter(F.col("vec_id") == 0).select(F.col("q8").alias("qq8"))
    topk = quantized_cosine_topk(
        q8.filter(F.col("vec_id") != 0), qdf, "vec_id", "q8", "qq8", k=10
    )
    return topk.select("vec_id", srnd("cos_q", 4).alias("cos_q"))


@query(
    "q_vocab_topk",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    )
    SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS doc_freq
    FROM tok GROUP BY term
    ORDER BY tf DESC, term LIMIT 100
    """,
)
def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build (C4 family): top-100 terms by total
    frequency with document frequency — the first pass of any
    tokenizer-training / stopword-mining pipeline.

    Scale shape: explode is row-local; ONE shuffle keyed by term with
    partial aggregation on both counts (count-distinct over doc_id
    expands per-term but doc ids are already co-partitioned after the
    term shuffle); the global top-100 is TakeOrdered on (tf, term) —
    per-partition heads only, no full sort. Vocabulary cardinality is
    the shuffle size, not corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    vocab = tok.groupBy("term").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    return vocab.orderBy(F.desc("tf"), F.asc("term")).limit(100)


@query(
    "q_label_centroids",
    oracle="""
    SELECT label, i AS pos,
           floor(avg(embedding[i]) * 10000.0 + 0.5) / 10000.0 AS centroid_val,
           count(*) AS n
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) t(i)
    GROUP BY label, i
    """,
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (C3 family) — the M-step of a
    distributed k-means, and the building block of the IVF index's
    offline clustering, exposed as a first-class operator.

    Scale shape: posexplode multiplies rows by the (fixed, small)
    dimension — row-local; ONE shuffle keyed by (label, pos) with
    map-side partial sums; output cardinality = labels × dim,
    regardless of corpus size. No driver-side collection — centroids
    stay a DataFrame for the next iteration to join/broadcast.
    """
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "val")
    return comp.groupBy("label", "pos").agg(
        srnd(F.avg("val"), 4).alias("centroid_val"),
        F.count("*").alias("n"),
    )


@query(
    "q_tablesample_bucket",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           floor(sum(l_extendedprice) * 100.0 + 0.5) / 100.0 AS sum_price
    FROM lineitem
    WHERE substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
    GROUP BY l_returnflag
    """,
)
def q_tablesample_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive ``TABLESAMPLE(BUCKET 1 OUT OF 8 ON key)`` parity: a
    deterministic 1-in-8 bucket of rows selected by a hash of the ON
    column — the HiveQL sampling surface the reference's tables
    inherited (SURVEY.md §2 B-group, reconstruction [P]). The bucket
    predicate is the md5 first nibble (2 of 16 values = 1/8), so the
    SAME rows are chosen on every engine and every run — unlike
    rand()-based sampling, resumable and join-stable.

    Scale shape: pure row-local predicate evaluated at the scan — no
    shuffle, no state; the aggregation after it is an ordinary
    partial+final groupBy on a 4-value key.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 1)
    return (
        li.filter(bucket.isin("0", "1"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            srnd(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@query(
    "q_source_cap",
    oracle="""
    WITH ranked AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    SELECT source,
           count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars,
           min(doc_id) AS min_kept_id
    FROM ranked WHERE rn <= 50
    GROUP BY source
    """,
)
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (C6 family) — the per-domain cap every
    crawl-corpus pipeline applies so no single source dominates the
    training mix. Selection order is a content-stable hash (md5 of the
    doc id), NOT arrival order: the same documents survive on every
    engine, every run, and every re-shard — rerunning after adding new
    sources never churns previously-kept docs of existing sources.

    Scale shape: one window keyed by source (the only shuffle;
    per-source partitions rank in O(n log n)), then a per-source
    groupBy that reuses the same partitioning. WindowGroupLimit prunes
    rows past the cap before the final sort at scale. Skew = the
    biggest single source's row count, the quantity this operator
    exists to bound.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = d.withColumn("rn", F.row_number().over(w))
    return (
        ranked.filter(F.col("rn") <= 50)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.min("doc_id").alias("min_kept_id"),
        )
    )
