"""Round-6 second-wave pipeline operators (SURVEY.md §2 C65, C66,
C68, A14): contrastive negative sampling, BPE tokenizer application,
per-event EWMA velocity, and corrupt-record-tolerant CSV ingest.

C66 deliberately re-derives the SAME three merge rules as C51
(`datapipe3.q_bpe_merges`) and then applies them to the corpus — the
train→apply handoff is the point: the merge table an offline trainer
ships must reproduce inside the encode job, and the oracle re-derives
it independently in DuckDB so a drift in either half fails the gate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import derived_fixture, load_table, table_path

# --------------------------------- C65 contrastive negative sampling

_NEG_K = 3  # negatives per anchor


@query(
    "q_negative_pairs",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, lang, source,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS r,
               CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS anchor_id, a.lang, a.r, a.n,
               CAST(j.j AS INT) AS offset,
               ((a.r - 1 + j.j) % a.n) + 1 AS pr,
               a.source AS anchor_source
        FROM ranked a, (SELECT unnest(range(1, {_NEG_K} + 1)) AS j) j
        WHERE a.n > {_NEG_K}
    )
    SELECT p.anchor_id, p.offset, b.doc_id AS neg_id,
           (b.source <> p.anchor_source) AS cross_source
    FROM pairs p
    JOIN ranked b ON b.lang = p.lang AND b.r = p.pr
    """,
)
def q_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling (C65): for each anchor doc,
    pick k pseudo-random same-language negatives by ring-shifting a
    content-hash ordering — the contrastive-pair generator for
    embedding training. Hash-ring selection (not rand()) makes the
    pairs rerun-stable and engine-stable, the same property C6/C8
    demand of splits; the ring guarantees every doc serves as a
    negative exactly k times (balanced usage, no coupon-collector
    skew), and k < |lang| guarantees no self-pairs.

    Scale shape: ranking partitions by language — each window sorts
    only its shard (distributed, unlike a global rank); the
    ring-partner join is (lang, rank)-keyed equi, reusing the same
    hash; the offset explode is map-local (k tiny). Output = k rows
    per anchor. At 100 TB, sub-shard the ring by hash prefix so each
    window sorts a bounded slice — ring adjacency within a shard is
    still uniformly pseudo-random.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.asc("doc_id")
    )
    ranked = d.select(
        "doc_id",
        "lang",
        "source",
        F.row_number().over(w).cast("long").alias("r"),
        F.count("*")
        .over(Window.partitionBy("lang"))
        .cast("long")
        .alias("n"),
    )
    pairs = (
        ranked.filter(F.col("n") > _NEG_K)
        .select(
            F.col("doc_id").alias("anchor_id"),
            "lang",
            "r",
            "n",
            F.col("source").alias("anchor_source"),
            F.explode(
                F.sequence(F.lit(1), F.lit(_NEG_K))
            ).alias("offset"),
        )
        .withColumn("offset", F.col("offset").cast("int"))
        .withColumn(
            "pr", ((F.col("r") - 1 + F.col("offset")) % F.col("n")) + 1
        )
    )
    b = ranked.select(
        F.col("lang").alias("b_lang"),
        F.col("r").alias("b_r"),
        F.col("doc_id").alias("neg_id"),
        F.col("source").alias("b_source"),
    )
    return pairs.join(
        b,
        (F.col("lang") == F.col("b_lang")) & (F.col("pr") == F.col("b_r")),
    ).select(
        "anchor_id",
        "offset",
        "neg_id",
        (F.col("b_source") != F.col("anchor_source")).alias("cross_source"),
    )


# ------------------------------------------ C66 BPE encode (apply)

_ENC_STEPS = 3


def _bpe_encode_oracle(steps: int) -> str:
    """DuckDB mirror: re-derive the merge table (same CTE chain as
    C51's oracle, but carrying the word through each fold) and apply
    it to the corpus via a word→final-sequence join."""
    ctes = [
        "wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM ("
        "SELECT unnest(string_split(text, ' ')) AS word FROM documents"
        ") WHERE word <> '' GROUP BY word)",
        "v1 AS (SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g'))"
        " AS seq, freq FROM wf)",
    ]
    for k in range(1, steps + 1):
        ctes.append(
            f"p{k} AS (SELECT s[i] AS a, s[i + 1] AS b, freq FROM ("
            f"SELECT string_split(seq, ' ') AS s, freq FROM v{k}"
            f"), UNNEST(range(1, len(s))) u(i))"
        )
        ctes.append(
            f"b{k} AS (SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt"
            f" FROM p{k} GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        ctes.append(
            f"v{k + 1} AS (SELECT word, CASE WHEN b.a IS NULL THEN seq"
            f" ELSE list_reduce(string_split(seq, ' '),"
            f" (acc, x) -> CASE WHEN (acc = b.a OR"
            f" ends_with(acc, ' ' || b.a)) AND x = b.b"
            f" THEN substr(acc, 1, length(acc) - length(b.a))"
            f" || b.a || b.b"
            f" ELSE acc || ' ' || x END) END AS seq, freq"
            f" FROM v{k} LEFT JOIN b{k} b ON true)"
        )
    final = f"v{steps + 1}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    , tok AS (
        SELECT lang, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    enc AS (
        SELECT t.lang,
               length(t.word) AS n_chars,
               len(string_split(v.seq, ' ')) AS n_toks
        FROM tok t JOIN {final} v ON v.word = t.word
        WHERE t.word <> ''
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_chars) AS BIGINT) AS n_char_tokens,
           CAST(sum(n_toks) AS BIGINT) AS n_bpe_tokens,
           {sql_srnd("CAST(sum(n_toks) AS DOUBLE) / sum(n_chars)", 6)}
               AS compression
    FROM enc GROUP BY lang
    """
    )


@query("q_bpe_encode", oracle=_bpe_encode_oracle(_ENC_STEPS))
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer application (C66): train C51's three merge rules,
    then ENCODE the corpus with them — per language, the token count
    before (character symbols) and after (merged symbols) and the
    compression ratio. This is the round trip a tokenizer must
    survive: the merge table the trainer emits, applied left-greedily
    by the encoder, over the data it was trained on.

    Scale shape: training runs over the VOCAB frame exactly as C51
    (pair explode → alphabet²-keyed argmax → 1-row broadcast fold per
    step, vocab only shrinks). Encoding never folds per-corpus-token:
    the corpus explode equi-joins the final word→sequence vocab map
    (vocabulary-sized → broadcast; term-keyed shuffle at true scale),
    and token counts are row-local integer lengths feeding a lang-
    keyed partial agg. The expensive merge fold runs |vocab| times,
    not |corpus| times — the whole point of word-level BPE batching.
    """
    d = load_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    cur = wf.select(
        "word",
        F.expr("trim(regexp_replace(word, '(.)', '$1 '))").alias("seq"),
        "freq",
    )
    for _step in range(_ENC_STEPS):
        pairs = (
            cur.filter(F.size(F.split("seq", " ")) >= 2)
            .select(
                F.expr(
                    "explode(transform(sequence(1, size(split(seq, ' ')) - 1),"
                    " i -> struct(element_at(split(seq, ' '), i) AS a,"
                    " element_at(split(seq, ' '), i + 1) AS b)))"
                ).alias("p"),
                "freq",
            )
            .select("p.a", "p.b", "freq")
        )
        best = (
            pairs.groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .select(F.col("a").alias("__ba"), F.col("b").alias("__bb"))
        )
        # LEFT join: a converged vocab (no pairs anywhere) yields an
        # EMPTY best frame — a crossJoin would wipe the vocabulary and
        # silently encode nothing (both engines alike, so only the
        # python-reference property test catches it)
        cur = cur.join(F.broadcast(best), F.lit(True), "left").select(
            "word",
            F.expr(
                "CASE WHEN __ba IS NULL THEN seq ELSE"
                " aggregate(split(seq, ' '), CAST('' AS STRING), (acc, x) ->"
                " CASE WHEN (acc = __ba OR endswith(acc, concat(' ', __ba)))"
                " AND x = __bb"
                " THEN concat(substring(acc, 1, length(acc) - length(__ba)),"
                " concat(__ba, __bb))"
                " ELSE CASE WHEN acc = '' THEN x"
                " ELSE concat(acc, ' ', x) END END) END"
            ).alias("seq"),
            "freq",
        )
    vocab = cur.select(
        "word", F.size(F.split("seq", " ")).alias("n_toks")
    )
    tok = d.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    enc = tok.join(F.broadcast(vocab), "word").select(
        "lang", F.length("word").alias("n_chars"), "n_toks"
    )
    return enc.groupBy("lang").agg(
        F.count("*").alias("n_words"),
        F.sum("n_chars").cast("long").alias("n_char_tokens"),
        F.sum("n_toks").cast("long").alias("n_bpe_tokens"),
        srnd(
            F.sum("n_toks").cast("double") / F.sum("n_chars"), 6
        ).alias("compression"),
    )


# ----------------------------------------- C68 per-event EWMA velocity


@query(
    "q_ewma_value",
    oracle=f"""
    WITH lagged AS (
        SELECT event_id, user_id, value,
               lag(value, 1) OVER w AS l1,
               lag(value, 2) OVER w AS l2,
               lag(value, 3) OVER w AS l3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    )
    SELECT event_id, user_id,
           {sql_srnd(
               "(8.0 * value"
               " + 4.0 * coalesce(l1, 0.0)"
               " + 2.0 * coalesce(l2, 0.0)"
               " + 1.0 * coalesce(l3, 0.0))"
               " / (8.0"
               " + CASE WHEN l1 IS NULL THEN 0.0 ELSE 4.0 END"
               " + CASE WHEN l2 IS NULL THEN 0.0 ELSE 2.0 END"
               " + CASE WHEN l3 IS NULL THEN 0.0 ELSE 1.0 END)", 6)}
               AS ewma
    FROM lagged
    """,
)
def q_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event EWMA (C68): exponentially-weighted (α=1/2, depth 4)
    moving average of each user's event values — the smoothed
    velocity feature next to C58's raw trailing counts (bursts show
    before means move). The truncated-depth form is what a feature
    store actually serves: O(1) state per event, renormalized when
    history is short.

    Determinism: the window orders by event_id (unique arrival
    sequence — never a raw ns timestamp, whose µs-vs-ns truncation
    differs across engines); the weighted sum is one fixed-shape
    expression over ≤4 doubles evaluated in written order, then srnd.

    Scale shape: ONE user-keyed window shuffle, single sorted pass,
    lag state is 3 values — no self-join, no spine. Identical plan to
    the sessionization family; at 100 TB the user key is high-card
    and unskewed, the best possible shuffle key.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    lagged = ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value", 1).over(w).alias("l1"),
        F.lag("value", 2).over(w).alias("l2"),
        F.lag("value", 3).over(w).alias("l3"),
    )
    num = (
        F.lit(8.0) * F.col("value")
        + F.lit(4.0) * F.coalesce("l1", F.lit(0.0))
        + F.lit(2.0) * F.coalesce("l2", F.lit(0.0))
        + F.lit(1.0) * F.coalesce("l3", F.lit(0.0))
    )
    den = (
        F.lit(8.0)
        + F.when(F.col("l1").isNull(), 0.0).otherwise(4.0)
        + F.when(F.col("l2").isNull(), 0.0).otherwise(2.0)
        + F.when(F.col("l3").isNull(), 0.0).otherwise(1.0)
    )
    return lagged.select(
        "event_id", "user_id", srnd(num / den, 6).alias("ewma")
    )


# ------------------------------------ A14 corrupt-tolerant CSV ingest

_BAD_LINES = (
    "not-a-number,en",  # unparseable doc_id
    "also bad",         # too few columns, unparseable
    "1,2,3,4,5",        # too many columns (parser quarantines the row)
)


def build_corrupt_csv(sf_dir: str) -> str:
    """Materialize (doc_id, lang) as a CSV with three malformed lines
    planted mid-file (idempotent, cached beside the other corpus
    fixtures) — the dirty hand-off file every real ingest eventually
    receives."""
    import pyarrow.parquet as pq

    def build(out: str) -> None:
        t = pq.read_table(
            table_path(sf_dir, "documents"), columns=["doc_id", "lang"]
        )
        rows = list(
            zip(t.column("doc_id").to_pylist(), t.column("lang").to_pylist())
        )
        mid = len(rows) // 2
        with open(os.path.join(out, "docs.csv"), "w", encoding="utf-8") as f:
            for doc_id, lang in rows[:mid]:
                f.write(f"{doc_id},{lang}\n")
            for line in _BAD_LINES:
                f.write(line + "\n")
            for doc_id, lang in rows[mid:]:
                f.write(f"{doc_id},{lang}\n")

    return derived_fixture(sf_dir, "corrupt_csv", ("documents",), build)


@query(
    "q_csv_corrupt",
    oracle=f"""
    SELECT (SELECT count(*) FROM documents) AS n_good,
           CAST({len(_BAD_LINES)} AS BIGINT) AS n_corrupt,
           (SELECT count(DISTINCT lang) FROM documents) AS n_langs,
           (SELECT CAST(sum(doc_id) AS BIGINT) FROM documents)
               AS sum_ids
    """,
)
def q_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant CSV ingest (A14): read a CSV with malformed
    lines planted mid-file under PERMISSIVE mode with an explicit
    schema and a ``_corrupt_record`` column — the row set must
    partition exactly into the clean rows (all fields parsed) and the
    planted garbage (quarantined, not dropped, not crashing).
    Checksumming doc_id over the good rows proves no clean row was
    eaten by resync after a bad line. (An extra-column row parses its
    leading fields but is still quarantined — the corrupt column, not
    field nullness, is the authoritative flag.)

    Scale shape: CSV scan with per-file splits; the quarantine
    predicate is row-local; the single-row summary is a partial agg.
    The production pattern is exactly this plus a badRecords sink:
    quarantined rows land in a side table for replay, clean rows
    proceed — ingest never stalls on one bad byte.
    """
    src = build_corrupt_csv(sf_dir)
    df = (
        spark.read.schema("doc_id LONG, lang STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(src)
    )
    good = F.col("_corrupt_record").isNull() & F.col("doc_id").isNotNull()
    return df.agg(
        F.sum(good.cast("long")).alias("n_good"),
        F.sum((~good).cast("long")).alias("n_corrupt"),
        F.countDistinct(F.when(good, F.col("lang"))).alias("n_langs"),
        F.sum(F.when(good, F.col("doc_id"))).cast("long").alias("sum_ids"),
    )


# ------------------------------------ C77 source coverage curve


@query(
    "q_coverage_curve",
    oracle="""
    WITH sw AS (
        SELECT CAST(substr(source, 4) AS INT) AS src_rank, w
        FROM (
            SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents
        ) WHERE w <> ''
    ),
    first_seen AS (
        SELECT w, min(src_rank) AS first_rank FROM sw GROUP BY w
    ),
    per_rank AS (
        SELECT first_rank, CAST(count(*) AS BIGINT) AS n_new
        FROM first_seen GROUP BY first_rank
    )
    SELECT 'src' || CAST(first_rank AS VARCHAR) AS source,
           first_rank AS src_rank,
           n_new AS n_new_terms,
           CAST(sum(n_new) OVER (ORDER BY first_rank
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_terms
    FROM per_rank
    """,
)
def q_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source coverage curve (C77): with sources in a fixed order,
    how many NEW distinct terms each source contributes beyond all
    earlier ones — the marginal-information curve that prices a crawl
    source (complements C48's batch novelty: this ranks sources
    against each other, not a batch against the corpus).

    Scale shape: ONE term-keyed min-groupBy (map-side combinable —
    min(src_rank) folds early) collapses the corpus to |vocab| rows;
    the per-rank rollup and running sum act on ≤ #sources rows. No
    joins, no self-comparison — the curve falls out of a single
    aggregation because "first source" is just min(rank).
    """
    d = load_table(spark, sf_dir, "documents")
    sw = d.select(
        F.substring("source", 4, 10).cast("int").alias("src_rank"),
        F.explode(F.split("text", " ")).alias("w"),
    ).filter(F.col("w") != "")
    first_seen = sw.groupBy("w").agg(F.min("src_rank").alias("first_rank"))
    per_rank = first_seen.groupBy("first_rank").agg(
        F.count("*").cast("long").alias("n_new_terms")
    )
    w = Window.orderBy("first_rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_rank.select(
        F.concat(F.lit("src"), F.col("first_rank").cast("string")).alias(
            "source"
        ),
        F.col("first_rank").alias("src_rank"),
        "n_new_terms",
        F.sum("n_new_terms").over(w).cast("long").alias("cum_terms"),
    )


# ------------------------------------ C81 per-user cadence quantiles


@query(
    "q_user_cadence",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id,
               CAST(floor(date_part('epoch', lead(ts) OVER w))
                    - floor(date_part('epoch', ts)) AS BIGINT) AS gap_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ),
    g AS (SELECT user_id, gap_s FROM gaps WHERE gap_s IS NOT NULL)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_gaps,
           {sql_srnd("quantile_cont(gap_s, 0.5)", 4)} AS median_gap_s,
           {sql_srnd("quantile_cont(gap_s, 0.9)", 4)} AS p90_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s
    FROM g GROUP BY user_id
    """,
)
def q_user_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cadence quantiles (C81): median / p90 / max
    inter-event gap per user — the robust rhythm feature (bots have
    eerily tight medians; churning users have exploding p90s) that
    C38/C57's value-outlier screens don't see because it lives in the
    time axis.

    Determinism: gaps are integer seconds (epoch-floored on BOTH
    engines before differencing, so µs-vs-ns timestamp resolution
    can't skew a gap); exact linear-interpolation percentiles over
    integers interpolate on binary-exact fractions, then srnd.

    Scale shape: ONE user-keyed window (ordered by event_id) computes
    gaps, and the same user hash serves the percentile groupBy —
    Exchange reuse, single shuffle. Exact percentiles hold per-user
    state = that user's gap list; at whale-user scale swap in
    approx_percentile (mergeable sketch) — same plan, bounded state.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    gaps = ev.select(
        "user_id",
        (
            F.floor(F.unix_timestamp(F.lead("ts").over(w)))
            - F.floor(F.unix_timestamp("ts"))
        )
        .cast("long")
        .alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        srnd(F.expr("percentile(gap_s, 0.5)"), 4).alias("median_gap_s"),
        srnd(F.expr("percentile(gap_s, 0.9)"), 4).alias("p90_gap_s"),
        F.max("gap_s").cast("long").alias("max_gap_s"),
    )


# ------------------------------------ A15 schema-evolution lake read


def build_evolved_lake(spark: SparkSession, sf_dir: str) -> str:
    """Materialize two parquet 'generations' of the documents table
    with different column sets (idempotent, cached): generation 1
    wrote (doc_id, lang), generation 2 added n_chars — the schema
    drift every long-lived lake accumulates."""
    def build(out: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        d.select("doc_id", "lang").write.mode("overwrite").parquet(
            os.path.join(out, "gen=1")
        )
        d.select("doc_id", "lang", "n_chars").write.mode("overwrite").parquet(
            os.path.join(out, "gen=2")
        )

    return derived_fixture(sf_dir, "evolved_lake", ("documents",), build)


@query(
    "q_schema_merge",
    oracle="""
    SELECT lang,
           CAST(2 * count(*) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_with_chars,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang
    """,
)
def q_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution lake read (A15): read two parquet generations
    whose schemas differ (a column added later) through
    ``mergeSchema=true`` — old files surface the new column as NULL,
    new files carry it, and one query spans both. This is the Hive
    external-table reality the reference lived in: table DDL evolves,
    files on disk don't.

    Scale shape: schema merge is a footer-only planning step (reads
    each file's parquet schema, not its data); the scan stays
    columnar with pushdown intact, and the aggregate proves exactly
    which generation carried the evolved column (count vs non-null
    count). At 100 TB, pin the merged schema in a catalog instead of
    re-inferring per query — same read path, one less planning scan.
    """
    lake = build_evolved_lake(spark, sf_dir)
    df = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(lake)
    )
    return df.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count("n_chars").cast("long").alias("n_with_chars"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# ------------------------------------ C85 embedding-norm QA screen

# Fixture embeddings are unit-normalized, so the screen plants its own
# corruption (the q_ann_*_planted pattern): a hash-selected subset is
# scaled 3x (un-normalized batch) and another zeroed (failed write) —
# the gate is that EXACTLY the planted vectors flag.


@query(
    "q_embed_norm_qa",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
        UNION ALL
        SELECT vec_id + 10000000, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE) * 3.0)
        FROM embeddings WHERE vec_id % 97 = 3
        UNION ALL
        SELECT vec_id + 20000000, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE) * 0.0)
        FROM embeddings WHERE vec_id % 89 = 7
    ),
    n AS (
        SELECT vec_id, label,
               {sql_srnd(
                   "sqrt(list_sum(list_transform(v, x -> x * x)))", 6)}
                   AS nrm
        FROM corpus
    ),
    med AS (SELECT {sql_srnd("quantile_cont(nrm, 0.5)", 6)} AS m FROM n)
    SELECT n.vec_id, n.label, n.nrm AS norm,
           {sql_srnd("n.nrm / med.m", 4)} AS ratio_to_median
    FROM n, med
    WHERE n.nrm < 0.8 * med.m OR n.nrm > 1.25 * med.m
    """,
)
def q_embed_norm_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm QA screen (C85): vectors whose L2 norm deviates
    more than ±20-25% from the corpus MEDIAN norm — the cheap
    bad-embedding detector (truncated writes, all-zero failures,
    un-normalized mixed batches) that should run before any ANN index
    build (C3\'/C43/C55 all assume comparable norms). The fixture\'s
    vectors are unit-normalized, so the query plants both failure
    modes on a hash-selected subset (3x-scaled and zeroed copies) and
    the oracle requires exactly those to flag.

    Median, not mean/std: the corrupt vectors being hunted would
    drag a mean toward themselves; the median ignores them — and
    exact percentile interpolation over srnd-quantized norms is
    bit-deterministic where an unordered mean of doubles is not.

    Scale shape: the norm is a row-local fixed-order positional fold
    (scan throughput, zero shuffle); the median is one single-column
    aggregate whose 1-row result broadcasts back; the flag predicate
    is row-local. Swap exact median for approx_percentile at
    billion-vector scale — same plan, mergeable state.
    """
    e = load_table(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    scaled = e.filter(F.col("vec_id") % 97 == 3).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE) * 3.0)").alias(
            "v"
        ),
    )
    zeroed = e.filter(F.col("vec_id") % 89 == 7).select(
        (F.col("vec_id") + 20_000_000).alias("vec_id"),
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE) * 0.0)").alias(
            "v"
        ),
    )
    corpus = base.unionByName(scaled).unionByName(zeroed)
    n = persist(corpus.select(
        "vec_id",
        "label",
        srnd(
            F.sqrt(
                F.expr(
                    "aggregate(transform(v, x -> x * x),"
                    " CAST(0.0 AS DOUBLE), (acc, w) -> acc + w)"
                )
            ),
            6,
        ).alias("nrm"),
    ))  # r14: three scalars per vector; the median aggregate
    # AND the flag filter both consume it — unpersisted each re-ran
    # the 3-branch union + per-vector norm fold (narrow lineage,
    # nothing for AQE exchange reuse)
    med = n.agg(srnd(F.expr("percentile(nrm, 0.5)"), 6).alias("m"))
    return (
        n.crossJoin(F.broadcast(med))
        .filter(
            (F.col("nrm") < 0.8 * F.col("m"))
            | (F.col("nrm") > 1.25 * F.col("m"))
        )
        .select(
            "vec_id",
            "label",
            F.col("nrm").alias("norm"),
            srnd(F.col("nrm") / F.col("m"), 4).alias("ratio_to_median"),
        )
    )


# ---------------------------------- A16 corrupt-file-tolerant scan


def build_corrupt_lake(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the documents table as parquet plus one garbage
    file wearing a .parquet name (idempotent, cached) — the torn
    upload / half-written object every long-lived lake accumulates."""
    def build(out: str) -> None:
        d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
        d.write.mode("overwrite").parquet(out)
        with open(os.path.join(out, "part-torn-upload.parquet"), "wb") as f:
            f.write(b"PAR1this is not a real parquet footer")

    return derived_fixture(sf_dir, "corrupt_lake", ("documents",), build)


@query(
    "q_corrupt_files",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           count(DISTINCT lang) AS n_langs
    FROM documents
    """,
)
def q_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file-tolerant scan (A16): a parquet directory
    containing one torn file (valid magic, garbage footer) must still
    serve every intact row under ``ignoreCorruptFiles=true`` — the
    file-level sibling of A14's row-level quarantine. The id checksum
    proves no intact file was skipped along with the torn one.

    Scale shape: corruption is detected per-file at footer read; the
    skip costs one failed open, the surviving scan is unchanged
    (columnar, pushdown intact). The production pattern pairs this
    with a listing-reconciliation job that reports skipped files —
    tolerate at read time, alarm out of band.
    """
    lake = build_corrupt_lake(spark, sf_dir)
    df = (
        spark.read.option("ignoreCorruptFiles", "true")
        .parquet(lake)
    )
    return df.agg(
        F.count("*").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("sum_ids"),
        F.countDistinct("lang").alias("n_langs"),
    )


# ------------------------------------- C88 k-anonymity cell screen

_KANON_K = 5


@query(
    "q_kanon_screen",
    oracle=f"""
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n
    FROM documents
    GROUP BY lang, source
    HAVING count(*) < {_KANON_K}
    """,
)
def q_kanon_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity cell screen (C88): quasi-identifier cells
    (lang × source) holding fewer than k documents — the groups whose
    members a release would expose to re-identification, flagged
    BEFORE export (the privacy sibling of C10's content redaction:
    C10 scrubs what a row says, this catches what a row's mere
    membership reveals).

    Scale shape: one (lang, source)-keyed partial-agg groupBy — counts
    fold map-side, the HAVING cut is post-agg row-local, and output is
    bounded by cell cardinality, never corpus size. Generalization /
    suppression downstream consumes exactly this frame.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(F.count("*").cast("long").alias("n"))
        .filter(F.col("n") < _KANON_K)
    )


# ------------------------------------------- C92 corpus card


@query(
    "q_corpus_card",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents
    )
    SELECT
        (SELECT count(*) FROM documents) AS n_docs,
        (SELECT count(DISTINCT lang) FROM documents) AS n_langs,
        (SELECT count(DISTINCT source) FROM documents) AS n_sources,
        (SELECT count(*) FROM tok WHERE w <> '') AS n_tokens,
        (SELECT count(DISTINCT w) FROM tok WHERE w <> '') AS n_terms,
        (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT text FROM documents GROUP BY text HAVING count(*) > 1
        )) AS n_dup_texts,
        (SELECT {sql_srnd("quantile_cont(n_chars, 0.5)", 4)}
         FROM documents) AS median_chars
    """,
)
def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus card (C92): the one-row dataset summary a corpus ships
    with — doc/lang/source counts, token mass, vocabulary size,
    exact-duplicate groups, median length. The admission report that
    fronts every operator in the C-family; cheap enough to recompute
    per release and diff (C56 then explains any drift).

    Scale shape: one corpus scan feeds the token counts (explode +
    partial aggs), one text-keyed shuffle finds duplicate groups, the
    scalar stats are 1-row aggregates; the seven results join as
    broadcast singletons. At 100 TB the distincts swap to HLL and the
    median to approx_percentile — same card, mergeable sketches.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    scalars = d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        srnd(F.expr("percentile(n_chars, 0.5)"), 4).alias("median_chars"),
    )
    tok_stats = tok.agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("w").alias("n_terms"),
    )
    dups = (
        d.groupBy("text")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") > 1)
        .agg(F.count("*").cast("long").alias("n_dup_texts"))
    )
    return (
        scalars.crossJoin(F.broadcast(tok_stats))
        .crossJoin(F.broadcast(dups))
        .select(
            "n_docs",
            "n_langs",
            "n_sources",
            "n_tokens",
            "n_terms",
            "n_dup_texts",
            "median_chars",
        )
    )
