"""Retrieval-layer operators (SURVEY.md §2 C61-C64, A13): BM25
scoring, reciprocal-rank fusion, cross-source vocabulary overlap,
trailing-window distinct reach, and the binary-file ingest connector —
the search/RAG side of the LLM-data pipeline (C7's TF-IDF and C26's
inverted index feed a ranker; these ARE the ranker and its fusion and
diagnostics layers).

Float discipline matches the house rules (exprs.py): every
transcendental is srnd-quantized the moment it is produced, every
cross-row float reduction is a fixed-order fold over srnd'd terms,
and every ranking cut orders by (quantized score, id) so the row set
is engine-stable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import derived_fixture, load_table, table_path

# --------------------------------------------------------- C61 BM25

# Query terms drawn from the fixture vocabulary (FIXTURES.md: word
# soup over a small shared vocabulary; 'hash'/'join'/'vector' appear
# in ~80% of docs, so idf is low but nonzero — the interesting case).
_BM25_TERMS = ("hash", "join", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


@query(
    "q_bm25",
    oracle=f"""
    WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    dl AS (SELECT doc_id, len(t) AS dl FROM tk),
    stats AS (
        SELECT count(*) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    tok AS (SELECT doc_id, unnest(t) AS w FROM tk),
    tf AS (
        SELECT doc_id, w, count(*) AS tf FROM tok
        WHERE w IN ('hash', 'join', 'vector')
        GROUP BY doc_id, w
    ),
    idf AS (
        SELECT tf.w,
               {sql_srnd(
                   "ln((s.n_docs - count(DISTINCT tf.doc_id) + 0.5)"
                   " / (count(DISTINCT tf.doc_id) + 0.5) + 1.0)", 8)}
                   AS idf
        FROM tf CROSS JOIN stats s GROUP BY tf.w, s.n_docs
    ),
    scored AS (
        SELECT tf.doc_id, tf.w,
               {sql_srnd(
                   "idf.idf * (tf.tf * (1.2 + 1.0))"
                   " / (tf.tf + 1.2 * (1.0 - 0.75"
                   "      + 0.75 * dl.dl / s.avgdl))", 6)} AS s
        FROM tf
        JOIN dl ON dl.doc_id = tf.doc_id
        JOIN idf ON idf.w = tf.w
        CROSS JOIN stats s
    ),
    folded AS (
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_terms,
               {sql_srnd("list_sum(list(s ORDER BY w))", 4)} AS bm25
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_terms, bm25 FROM folded
    ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOPK}
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (C61): Okapi BM25 over the corpus for a
    fixed conjunctive term query — the classical sparse ranker that
    TF-IDF (C7) and the inverted index (C26) exist to serve, and the
    sparse half of hybrid retrieval (fused with dense ANN in C62).

    Scale shape: tokens are filtered to the |q| query terms BEFORE the
    tf groupBy, so the only corpus-sized shuffle is (doc, term)-keyed
    on matching rows only; idf is |q| rows and avgdl/N one row — both
    broadcast. The per-doc score folds srnd-quantized per-term
    contributions in term order (never an unordered float sum), and
    the top-k cut is orderBy+limit → TakeOrderedAndProject, a partial
    per-partition heap — no global sort, no collect. On 100 TB the
    same plan holds with the tf side bucketed by doc.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dl = d.select(
        "doc_id", F.size(F.split("text", " ")).alias("dl")
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w").isin(*_BM25_TERMS))
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    idf = (
        tf.crossJoin(F.broadcast(stats.select("n_docs")))
        .groupBy("w", "n_docs")
        .agg(F.countDistinct("doc_id").alias("df"))
        .select(
            "w",
            srnd(
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                ),
                8,
            ).alias("idf"),
        )
    )
    k1, b = _BM25_K1, _BM25_B
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "w")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select(
            "doc_id",
            "w",
            srnd(
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.col("avgdl")
                    )
                ),
                6,
            ).alias("s"),
        )
    )
    folded = scored.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_terms"),
        srnd(
            F.expr(
                "aggregate(array_sort(collect_list(struct(w, s))),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.s)"
            ),
            4,
        ).alias("bm25"),
    )
    return folded.orderBy(
        F.desc("bm25"), F.asc("doc_id")
    ).limit(_BM25_TOPK)


# --------------------------------------- C62 reciprocal-rank fusion

_RRF_K = 60
_RRF_TERM = "vector"
_RRF_TOPK = 50


@query(
    "q_rank_fusion",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, count(*) AS tf FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents) t
        WHERE w = '{_RRF_TERM}' GROUP BY doc_id
    ),
    base AS (
        SELECT d.doc_id, d.n_chars, coalesce(tf.tf, 0) AS tf
        FROM documents d LEFT JOIN tf ON tf.doc_id = d.doc_id
    ),
    ranked AS (
        SELECT doc_id,
           CAST(rank() OVER (ORDER BY n_chars DESC) AS BIGINT) AS r_len,
           CAST(rank() OVER (ORDER BY tf DESC) AS BIGINT) AS r_tf
        FROM base
    ),
    fused AS (
        SELECT doc_id, r_len, r_tf,
               {sql_srnd(
                   f"1.0 / ({_RRF_K} + r_len) + 1.0 / ({_RRF_K} + r_tf)", 8)}
                   AS rrf
        FROM ranked
    )
    SELECT doc_id, r_len, r_tf, rrf FROM fused
    ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOPK}
    """,
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (C62): combine two independent rankings
    of the corpus — a length/quality ranking and a term-frequency
    ranking standing in for sparse-vs-dense retriever outputs — via
    RRF(d) = Σᵢ 1/(k + rankᵢ(d)), the standard hybrid-search merge
    (no score calibration needed, only ranks).

    Semantics (r12 re-authoring, the q_equidepth_hist precedent):
    ranks are MIN-ranks — every doc tied on a metric value shares the
    tie group's first rank (SQL ``rank()``), the ties-together
    convention the whole former positional-cut family now uses.
    Tie-invariant: no positional tiebreak column exists, so both
    ranks are pure functions of the value multisets and the oracle's
    ``rank() OVER (ORDER BY … DESC)`` agrees bit-for-bit.

    Scale shape: both rankings are DESC running sums over the
    distinct-VALUE frames (doc lengths and term counts are
    domain-bounded — the operators/ranks counts discipline), carried
    onto docs by two broadcast joins; the final cut is TakeOrdered
    with a doc_id tiebreak. No corpus sort or corpus window anywhere
    (sp_corpus_windows = 0) — this exact form IS the 100 TB form; in
    production the inputs are per-query shortlists of ≤1k rows each
    anyway, so RRF runs over frames that are driver-sized by
    construction.
    """
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") == _RRF_TERM)
        .groupBy("doc_id")
        .agg(F.count("*").alias("tf"))
    )
    base = (
        d.select("doc_id", "n_chars")
        .join(tf, "doc_id", "left")
        .select(
            "doc_id", "n_chars", F.coalesce("tf", F.lit(0)).alias("tf")
        )
    )

    def min_ranks(val: str, out: str) -> DataFrame:
        cnt = base.groupBy(val).agg(F.count("*").cast("long").alias("c"))
        wd = Window.orderBy(F.desc(val)).rowsBetween(
            Window.unboundedPreceding, -1
        )
        return cnt.select(
            val,
            (F.coalesce(F.sum("c").over(wd), F.lit(0)) + 1)
            .cast("long")
            .alias(out),
        )

    ranked = base.join(
        F.broadcast(min_ranks("n_chars", "r_len")), "n_chars"
    ).join(F.broadcast(min_ranks("tf", "r_tf")), "tf").select(
        "doc_id", "r_len", "r_tf"
    )
    fused = ranked.select(
        "doc_id",
        "r_len",
        "r_tf",
        srnd(
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_len"))
            + F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_tf")),
            8,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(_RRF_TOPK)


# ------------------------------------ C63 cross-source vocab overlap


@query(
    "q_source_overlap",
    oracle=f"""
    WITH sv AS (
        SELECT DISTINCT source, w FROM (
            SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents) t
    ),
    sizes AS (SELECT source, count(*) AS n FROM sv GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               count(*) AS n_common
        FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, i.n_common,
           {sql_srnd(
               "CAST(i.n_common AS DOUBLE)"
               " / (sa.n + sb.n - i.n_common)", 6)} AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap (C63): pairwise Jaccard of the
    distinct-term sets of every source pair — the "are these two
    crawls the same corpus wearing different hats" diagnostic that
    decides whether C56's drift monitor should alarm and whether C28's
    mixing weights double-count a source.

    Scale shape: the distinct pass is one (source, term)-keyed
    map-side-combining shuffle; the pair join is term-keyed with
    per-term fanout bounded by #sources² (20² here, a constant — never
    corpus-quadratic); sizes broadcast. Integer counts end-to-end,
    one float division per output row.
    """
    d = load_table(spark, sf_dir, "documents")
    sv = d.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    sizes = sv.groupBy("source").agg(F.count("*").alias("n"))
    a = sv.alias("a")
    b = sv.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = F.broadcast(sizes).alias("sa")
    sb = F.broadcast(sizes).alias("sb")
    return (
        inter.join(sa, F.col("src_a") == F.col("sa.source"))
        .join(sb, F.col("src_b") == F.col("sb.source"))
        .select(
            "src_a",
            "src_b",
            "n_common",
            srnd(
                F.col("n_common").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# ------------------------------- C64 trailing-window distinct reach


@query(
    "q_rolling_distinct",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT CAST(d.day AS VARCHAR) AS day,
           CAST(count(DISTINCT CASE WHEN du.day = d.day
                                    THEN du.user_id END) AS BIGINT)
               AS dau,
           CAST(count(DISTINCT du.user_id) AS BIGINT) AS wau_7d
    FROM days d
    JOIN du ON du.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window distinct reach (C64): per day, the distinct
    users active that day (DAU) and in the trailing 7 days (WAU) —
    the canonical engagement pair, and the one rolling metric a RANGE
    window cannot produce (COUNT DISTINCT doesn't decompose over
    frames; C58's trailing counts do, distincts don't).

    Scale shape: the corpus collapses FIRST to distinct (day, user)
    pairs — one map-side-combining shuffle keyed by (day, user) — and
    only that slim frame (≤ days × users rows) joins the tiny
    broadcast day spine with a 7-day band predicate (each pair lands
    in ≤7 spine rows — bounded fanout, not a cross join). The final
    distinct-count shuffle is day-keyed. At 100 TB the first distinct
    does all the heavy lifting and is exactly partial-aggregable.
    """
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    d = F.broadcast(days).alias("d")
    joined = d.join(
        du.alias("du"),
        F.col("du.day").between(
            F.date_sub(F.col("d.day"), 6), F.col("d.day")
        ),
    )
    return (
        joined.withColumn(
            "__same_day",
            F.when(
                F.col("du.day") == F.col("d.day"), F.col("du.user_id")
            ),
        )
        .groupBy(F.col("d.day").alias("__day"))
        .agg(
            F.countDistinct("__same_day")
            .cast("long")
            .alias("dau"),
            F.countDistinct("du.user_id").cast("long").alias("wau_7d"),
        )
        .select(
            F.date_format("__day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau_7d",
        )
    )


# -------------------------------------- A13 binary-file ingest


def build_binary_corpus(sf_dir: str) -> str:
    """Materialize each document as a standalone ``<doc_id>.txt`` file
    (idempotent, cached beside the sstable snapshots) — the on-disk
    shape a crawled corpus actually arrives in before any table
    exists, and the input the binaryFile connector ingests."""
    import pyarrow.parquet as pq

    def build(out: str) -> None:
        t = pq.read_table(
            table_path(sf_dir, "documents"), columns=["doc_id", "text"]
        )
        for doc_id, text in zip(
            t.column("doc_id").to_pylist(), t.column("text").to_pylist()
        ):
            with open(os.path.join(out, f"{doc_id}.txt"), "wb") as f:
                f.write(text.encode("utf-8"))

    return derived_fixture(sf_dir, "binary_corpus", ("documents",), build)


@query(
    "q_binary_ingest",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           substr(text, 1, 16) AS head
    FROM documents
    """,
)
def q_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-file ingest (A13): read a directory of raw files
    through Spark's built-in ``binaryFile`` source — the ingestion
    path for multimodal corpora (images/audio land exactly this way
    before C5's decode UDFs see them). Each file becomes one row of
    (path, modificationTime, length, content); we recover the doc id
    from the filename and prove content fidelity byte-for-byte
    against the documents table (fixture text is ASCII, so DuckDB's
    strlen(text) is the byte length).

    Scale shape: binaryFile is a JVM DataSource with per-file splits
    and a pushed path filter; the projection is row-local (no
    shuffle). At 100 TB ingest this is exactly the "many small crawl
    files → one binary column" pattern, normally followed by a
    compaction write (A8/C31) into larger parquet row groups.
    """
    corpus_dir = build_binary_corpus(sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(corpus_dir)
    )
    return files.select(
        F.regexp_extract(
            F.element_at(F.split("path", "/"), -1), r"^(\d+)\.txt$", 1
        )
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.decode(
            F.expr("substring(content, 1, 16)"), "UTF-8"
        ).alias("head"),
    )
