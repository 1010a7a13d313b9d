"""Dataset-assembly operators (SURVEY.md §2 C-family, wave 5): the
three operations every training-data pipeline runs LAST, after
cleaning and dedup — deterministic split assignment, sized-shard
export planning, and cross-split leakage detection.

All three are driven by content-free hash arithmetic on ``doc_id``
(the lowercase-hex ``md5`` prefix idiom established by
``q_sample_hash``), so assignment is reproducible across runs,
engines, and cluster sizes — no global sort, no RNG state, no driver
round-trip. The leakage check reuses the hashed-shingle machinery of
the dedup family (``operators/dedup.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.operators.dedup import drop_hot_keys, shingles
from cassowary_spark.queries.llm import (
    TWIN_OFFSET,
    _docs_twins_sql,
    _docs_with_twins,
    _duck_shingles,
)
from cassowary_spark.registry import query
from cassowary_spark.tables import load_table

# md5-prefix split boundaries: 256 two-hex-char buckets; '0d' = 13
# buckets ≈ 5.1% test, the next 13 ≈ 5.1% validation, rest train.
_SPLIT_CASE_SQL = """
    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d' THEN 'test'
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'valid'
         ELSE 'train' END
"""


def _split_col() -> F.Column:
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return (
        F.when(h2 < "0d", "test").when(h2 < "1a", "valid").otherwise("train")
    )


def shard_order_key() -> F.Column:
    """Salted intra-shard order key — the single definition the
    manifest query AND the real export (tests drive it) share, so the
    write path and the manifest are provably on the same key."""
    return F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))


def shard_id_col() -> F.Column:
    """16-way shard = first hex digit of ``shard_order_key``."""
    return F.substring(shard_order_key(), 1, 1)


# ------------------------------------------------ deterministic split


@query(
    "q_dataset_split",
    oracle=f"""
    SELECT {_SPLIT_CASE_SQL} AS split,
           lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_id
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test split (C-family): assign every
    document to a split by a content-free hash of its id — ~5% test,
    ~5% valid, ~90% train — and report per-(split, lang) composition.

    Hash-range splitting is the only split that survives a growing
    corpus: re-running on an appended corpus never reassigns an
    existing document (no RNG, no row numbering), so yesterday's test
    set is a strict subset of today's.

    Scale shape: the split key is a row-local md5 prefix — zero
    shuffle to assign; the composition rollup is one partial+final
    hash agg on a ≤15-value key. At 100 TB the same expression feeds
    ``.write.partitionBy("split")`` unchanged.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(
        _split_col().alias("split"), F.col("lang")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_id"),
    )


# ------------------------------------------------ shard export manifest


@query(
    "q_shard_export",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, n_chars, source,
               md5('shard:' || CAST(doc_id AS VARCHAR)) AS okey
        FROM documents
    )
    SELECT substr(okey, 1, 1) AS shard_id,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           arg_min(doc_id, okey) AS first_doc,
           arg_max(doc_id, okey) AS last_doc
    FROM keyed
    GROUP BY 1
    """,
)
def q_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sized-shard export manifest (C-family): plan a 16-way sharded
    export — shard = first hex digit of a salted id hash, intra-shard
    order = the full hash — and emit per-shard stats plus the first-
    and last-by-order document ids (the manifest a downstream loader
    uses to verify shard integrity).

    The salt ('shard:') makes the shard key independent of the split
    hash above, so sharding does not correlate with split membership.
    Hash sharding beats NTILE-style equal-count sharding at scale:
    ntile needs a global total order (one-partition window), while
    the hash assigns row-locally and balances to ±O(√n) per shard.

    Scale shape: assignment and order key are row-local expressions;
    one shard-keyed shuffle serves the rollup (and, in a real export,
    the ``repartition(shard_id)`` before write). min_by/max_by ride
    the same partial agg — no sort anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.withColumn("okey", shard_order_key())
    return keyed.groupBy(
        F.substring("okey", 1, 1).alias("shard_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.min_by("doc_id", "okey").alias("first_doc"),
        F.max_by("doc_id", "okey").alias("last_doc"),
    )


# ------------------------------------------------ cross-split leakage


@query(
    "q_split_leakage",
    oracle=f"""
    WITH corpus AS ({_docs_twins_sql(("lang",))}),
    tagged AS (
        SELECT doc_id, text, lang, {_SPLIT_CASE_SQL} AS split FROM corpus
    ),
    sh0 AS (
        SELECT doc_id, lang, split, unnest({_duck_shingles(5)}) AS shingle
        FROM tagged
    ),
    sh AS (
        SELECT doc_id, lang, split, shingle FROM (
            SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM sh0
        ) WHERE df <= 1000
    ),
    leaked AS (
        SELECT DISTINCT te.doc_id, te.lang
        FROM sh te
        JOIN (SELECT DISTINCT shingle FROM sh WHERE split = 'train') tr
             ON te.shingle = tr.shingle
        WHERE te.split = 'test'
    ),
    test_docs AS (
        SELECT lang, count(*) AS n_test FROM tagged
        WHERE split = 'test' GROUP BY lang
    )
    SELECT t.lang, t.n_test,
           CAST(count(l.doc_id) AS BIGINT) AS n_leaked,
           {sql_srnd("CAST(count(l.doc_id) AS DOUBLE) / t.n_test", 4)}
               AS leak_rate
    FROM test_docs t
    LEFT JOIN leaked l ON l.lang = t.lang
    GROUP BY t.lang, t.n_test
    """,
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage screen (C-family): which TEST documents
    share a 5-word shingle with ANY train document — the test-set
    contamination check run before any evaluation is trusted. The
    fixture's texts are all unique, so the corpus is augmented with
    suffix-mutated twins (the dedup family's planted-duplicate trick):
    a twin usually lands in a different split than its source and
    shares all interior shingles with it — guaranteed detectable
    leakage with a known ground truth.

    Scale shape: splits assign row-locally (md5 prefix); the train
    side collapses to DISTINCT shingles before the join, and the
    test side is ~5% of the corpus, so the shingle-keyed shuffle
    carries |train shingles| + |test shingle rows|, never the pair
    fanout; hot shingles (df > 1000) are dropped on BOTH sides first
    (same bound as the dedup family — at 100 TB the cap is what
    keeps stop-phrase shingles from exploding the join). The hot set
    is found with a partial-agg groupBy (map-side combine shrinks the
    shuffle to distinct-shingles-per-partition) and removed with a
    broadcast anti join — NOT a count-over-window, which would move
    every shingle ROW through one exchange uncombined. The per-lang
    rollup is a broadcast-size frame.
    """
    from cassowary_spark.operators.skew import spread_narrow_input

    # r15: the shingle explode below ran inside a 1-2-task scan stage
    # (single-row-group fixtures); spread only when under-parallel —
    # no-op at corpus scale (guide §2.5 input-skew rule)
    corpus = spread_narrow_input(
        _docs_with_twins(spark, sf_dir, ("lang",)), "doc_id"
    )
    tagged = corpus.withColumn("split", _split_col())
    # persisted: the hot-set job and the main pass both consume the
    # shingle explode — without the persist it would run twice (the
    # dedup family's hashed_shingles does the same)
    # r14: shingles shuffle as 64-bit xxhash64 keys, not strings — the
    # hot-set groupBy, the train-side DISTINCT and the semi join all
    # key on 8-byte longs instead of ~30-byte 5-gram strings (guide
    # §2.3 "shuffle keys, not payloads"; the dedup family's documented
    # ~1e-12 collision tolerance applies — a collision can only mark
    # one extra doc leaked).
    sh0 = persist(
        tagged.select(
            "doc_id",
            "lang",
            "split",
            F.explode(shingles("text", 5)).alias("shingle"),
        )
        .select(
            "doc_id", "lang", "split", F.xxhash64("shingle").alias("sh_h")
        )
    )
    sh = drop_hot_keys(sh0, "sh_h", 1000, broadcast_hot=True)
    train_sh = (
        sh.filter(F.col("split") == "train").select("sh_h").distinct()
    )
    leaked = (
        sh.filter(F.col("split") == "test")
        .join(train_sh, "sh_h", "left_semi")
        .select("doc_id", "lang")
        .distinct()
    )
    test_docs = (
        tagged.filter(F.col("split") == "test")
        .groupBy("lang")
        .agg(F.count("*").alias("n_test"))
    )
    return (
        test_docs.join(leaked, "lang", "left")
        .groupBy("lang", "n_test")
        .agg(F.count("doc_id").cast("long").alias("n_leaked"))
        .select(
            "lang",
            "n_test",
            "n_leaked",
            srnd(
                F.col("n_leaked").cast("double") / F.col("n_test"), 4
            ).alias("leak_rate"),
        )
    )


# ------------------------------------------- end-to-end pipeline capstone


@query(
    "q_corpus_pipeline_e2e",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text, lang FROM documents
        UNION ALL
        SELECT doc_id + {TWIN_OFFSET} AS doc_id,
               '  ' || upper(text) || '  ' AS text, lang
        FROM documents
    ),
    norm AS (
        SELECT doc_id, lang,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS ntext
        FROM corpus
    ),
    dedup AS (
        SELECT ntext, min(doc_id) AS doc_id, min(lang) AS lang
        FROM norm GROUP BY ntext
    ),
    qual AS (
        SELECT doc_id, lang,
               len(string_split(ntext, ' ')) AS n_tokens
        FROM dedup
        WHERE len(string_split(ntext, ' ')) >= 5
    ),
    tagged AS (
        SELECT doc_id, lang, n_tokens, {_SPLIT_CASE_SQL} AS split
        FROM qual
    )
    SELECT split, lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(doc_id) AS min_id
    FROM tagged GROUP BY split, lang
    """,
)
def q_corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-prep capstone (C-family): the whole
    assembly line as ONE composed DataFrame program — normalize
    (lowercase + whitespace collapse), exact-dedup on normalized
    text, quality-gate (≥5 tokens), hash-split, per-(split, lang)
    token accounting. The corpus is augmented with case/extra-
    whitespace twins so the normalize→dedup stages provably collapse
    them (the twin survives normalization identical to its source;
    min-id keeps the original): output counts match the raw corpus,
    not the doubled one — a pipeline that skipped either stage fails
    the hash.

    Scale shape: this is the composition argument — normalize and the
    quality gate are row-local; dedup is ONE normalized-text-keyed
    shuffle (the sha2-grouping shape of C1 — here the text itself is
    the key because the survivor's id must be the group min); split
    assignment is a row-local md5 prefix on the SURVIVOR id (so it
    matches q_dataset_split's assignment of the same doc); the final
    rollup is a ≤15-key partial agg. Catalyst pipelines all
    row-local stages into the scan — the whole program is one
    corpus pass (two scans here only because the planted-twin demo
    unions the table with itself), one dedup shuffle, one rollup
    exchange.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    corpus = docs.unionByName(
        docs.select(
            (F.col("doc_id") + F.lit(TWIN_OFFSET)).alias("doc_id"),
            F.concat(
                F.lit("  "), F.upper("text"), F.lit("  ")
            ).alias("text"),
            "lang",
        )
    )
    norm = corpus.select(
        "doc_id",
        "lang",
        F.trim(
            F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
        ).alias("ntext"),
    )
    dedup = norm.groupBy("ntext").agg(
        F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang")
    )
    qual = dedup.select(
        "doc_id",
        "lang",
        F.size(F.split("ntext", " ")).alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 5)
    tagged = qual.withColumn("split", _split_col())
    return tagged.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("doc_id").alias("min_id"),
    )
