"""Round-9 wave 43 (SURVEY.md §2): Bloom-filter file skipping (A31)
and coarsened-exact-matching treatment effects (C175).

A31 is A30's sibling for POINT lookups on non-clustered columns:
zone maps need the predicate column clustered to be selective; Bloom
filters skip files for equality probes no matter how the rows are
laid out (Parquet column bloom filters, Iceberg bloom-filter file
metrics). C175 extends the causal battery (C160 DiD, C171 IPS) with
the matching estimator a pipeline reaches for when treatment isn't
randomized.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import derived_fixture, load_table

# ------------------------------------------ A31 Bloom-filter skipping

_BF_M = 65536  # bits per file filter (1 KiB of longs)
_BF_K = 4  # hash functions
_BF_TARGET = 137  # the point-lookup probe (doc_id 0-499 at every SF)


def _bf_dirs(root: str) -> tuple[str, str]:
    return os.path.join(root, "data"), os.path.join(root, "stats")


def _bf_positions_col(idcol: F.Column) -> list[F.Column]:
    """The k bit positions of an id, as Spark columns: u32 of
    md5("<id>#<i>") mod m — the established hex-prefix idiom."""
    out = []
    for i in range(_BF_K):
        h = F.conv(
            F.substring(
                F.md5(F.concat(idcol.cast("string"), F.lit(f"#{i}"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        out.append(h % _BF_M)
    return out


def _bf_positions_py(doc_id: int) -> list[int]:
    """The SAME k positions computed driver-side for the probe."""
    return [
        int(hashlib.md5(f"{doc_id}#{i}".encode()).hexdigest()[:8], 16)
        % _BF_M
        for i in range(_BF_K)
    ]


def ensure_bloom_lake(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once) a 16-file documents lake laid out by TEXT hash —
    deliberately uncorrelated with doc_id, the situation where zone
    maps are useless — plus one Bloom filter per file: the set bits of
    every resident doc_id, packed into (word, bits) longs via bit_or.
    """
    def build(root: str) -> None:
        data, stats = _bf_dirs(root)
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "source", "n_chars", "text"
        )
        # hash-clustered on text => doc_id scattered across files
        d.repartition(16, F.md5("text")).drop("text").write.mode(
            "overwrite"
        ).parquet(data)
        base = spark.read.parquet(data).select(
            F.col("_metadata.file_path").alias("file_path"), "doc_id"
        )
        pos = F.explode(F.array(*_bf_positions_col(F.col("doc_id")))).alias(
            "pos"
        )
        (
            base.select("file_path", pos)
            .select(
                "file_path",
                (F.col("pos") / 64).cast("int").alias("word"),
                (F.col("pos") % 64).cast("int").alias("bit"),
            )
            .groupBy("file_path", "word")
            # SQL shiftleft: the Python F.shiftleft only takes a
            # literal shift amount, not a per-row column
            .agg(F.bit_or(F.expr("shiftleft(1L, bit)")).alias("bits"))
            .groupBy("file_path")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("word", "bits"))
                ).alias("bloom")
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stats)
        )

    return _bf_dirs(derived_fixture(sf_dir, "bloom_lake", ("documents",), build))


def bloom_candidate_files(
    spark: SparkSession, sf_dir: str, doc_id: int
) -> list[str]:
    """Files whose Bloom filter has ALL k bits of ``doc_id`` set —
    guaranteed to include every file holding the id (no false
    negatives), and probabilistically few others."""
    _, stats = ensure_bloom_lake(spark, sf_dir)
    st = spark.read.parquet(stats)
    def _probe(w: int, b: int):
        # single-arg lambda (F.exists passes exactly the declared
        # arity); the mask shifts JVM-side because a Python-side
        # 1 << 63 overflows py4j's signed long
        mask = F.shiftleft(F.lit(1).cast("long"), b)
        return lambda x: (x.word == F.lit(w)) & (
            x.bits.bitwiseAND(mask) != 0
        )

    cond = F.lit(True)
    for p in _bf_positions_py(doc_id):
        cond = cond & F.exists(F.col("bloom"), _probe(p // 64, p % 64))
    return sorted(r.file_path for r in st.filter(cond).collect())


@query(
    "q_bloom_skip",
    oracle=f"""
    SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents WHERE doc_id = {_BF_TARGET}
    """,
)
def q_bloom_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter file skipping (A31): a point lookup on a column
    the files are NOT clustered by — the layout is hashed on text, so
    A30's min/max zone maps cover the whole id domain in every file
    and prune nothing — answered by probing one per-file Bloom filter
    (k md5-derived bit positions over an m-bit packed-long bitset)
    and scanning only the files whose filters claim the id. This is
    Parquet's column bloom filter / Iceberg's bloom file metric as
    visible DataFrame algebra, and the A30 counterpart every real
    format ships BOTH of: range stats for range predicates, Bloom
    for equality on unclustered columns.

    Bloom contract (gate-pinned): no false negatives ever — every
    file holding the id is a candidate, because its build inserted
    exactly the same k positions the probe checks; false positives
    are bounded by (1−e^(−kn/m))^k ≈ 8·10⁻⁴ at 312 rows/file. The
    re-filter after the skip keeps false positives harmless.

    Scale shape: the filter table is per-file METADATA (≤1 KiB of
    packed longs per file — manifest-sized); the probe is row-local
    array logic over that 16-row frame; the scan reads only claimed
    files. The build's wide shuffle is (file × word) partial-agg
    with bit_or map-side combine — one pass over the corpus at write
    time, exactly when real formats compute their filters.
    """
    data, _ = ensure_bloom_lake(spark, sf_dir)
    files = bloom_candidate_files(spark, sf_dir, _BF_TARGET)
    scan = (
        spark.read.parquet(*files)
        if files
        else spark.read.parquet(data).limit(0)
    )
    return scan.filter(F.col("doc_id") == _BF_TARGET).select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long")
    )


# ------------------------- C175 coarsened-exact-matching ATT estimate


@query(
    "q_cem_att",
    oracle=f"""
    WITH e AS (
        SELECT event_type,
               CAST(hour(ts) // 6 AS INT) AS day_q,
               CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                        1, 8) AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END AS t,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    cells AS (
        SELECT event_type, day_q,
               CAST(sum(t) AS BIGINT) AS n_t,
               CAST(count(*) - sum(t) AS BIGINT) AS n_c,
               CAST(sum(CASE WHEN t = 1 THEN cents ELSE 0 END)
                    AS BIGINT) AS s_t,
               CAST(sum(CASE WHEN t = 0 THEN cents ELSE 0 END)
                    AS BIGINT) AS s_c
        FROM e GROUP BY 1, 2
    ),
    matched AS (
        SELECT event_type, day_q, n_t, n_c, s_t, s_c
        FROM cells WHERE n_t > 0 AND n_c > 0
    ),
    tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS nt FROM matched),
    terms AS (
        SELECT event_type, day_q, n_t, n_c,
               {sql_srnd(
                   "(CAST(n_t AS DOUBLE) / CAST((SELECT nt FROM tot)"
                   " AS DOUBLE))"
                   " * (CAST(s_t AS DOUBLE) / (100.0 * CAST(n_t AS DOUBLE))"
                   "    - CAST(s_c AS DOUBLE) / (100.0 * CAST(n_c"
                   " AS DOUBLE)))",
                   8)} AS term
        FROM matched
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           CAST((SELECT nt FROM tot) AS BIGINT) AS n_treated,
           {sql_srnd(
               "list_sum(list(term ORDER BY event_type, day_q))",
               6)} AS att
    FROM terms
    """,
)
def q_cem_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsened exact matching ATT (C175): stratify events on
    coarsened covariates — (event_type, day-quarter of the hour) —
    keep only strata containing BOTH treated and control rows, and
    estimate the average treatment effect on the treated as the
    n_t-weighted mean of within-stratum outcome differences. The
    matching estimator of the causal battery: C160's DiD needs a
    time cutover, C171's IPS needs logged propensities — CEM needs
    only covariates coarse enough to match on, which is the
    observational-data workhorse. Treatment is the C94 user-hash
    bit (so on this fixture the true effect is ≈0 — a property the
    gates exploit: planted effects must be recovered, null effects
    must stay null).

    Determinism: per-stratum counts and cent sums are exact BIGINTs
    from ONE pass of conditional aggregates; each stratum's weighted
    difference is a fixed IEEE expression srnd8'd; the ATT sums ≤20
    quantized terms in (event_type, day_q) order — the C69 fold.
    hour(ts) is immune to the ns-vs-µs read divergence (truncation
    never moves an hour boundary).

    Scale shape: one map-side-combining groupBy to the ≤|types|×4
    cell frame; everything after is arithmetic on that broadcast-
    sized frame. The 100 TB posture of CEM is exactly this: the
    match is a GROUP BY, never a pairwise join.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    t = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
        == 1
    ).cast("int")
    e = ev.select(
        "event_type",
        (F.hour("ts") / 6).cast("int").alias("day_q"),
        t.alias("t"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    cells = e.groupBy("event_type", "day_q").agg(
        F.sum("t").cast("long").alias("n_t"),
        (F.count("*") - F.sum("t")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("t") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s_t"),
        F.sum(F.when(F.col("t") == 0, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s_c"),
    )
    matched = persist(cells.filter((F.col("n_t") > 0) & (F.col("n_c") > 0)))
    tot = matched.agg(F.sum("n_t").cast("long").alias("nt"))
    term = srnd(
        (F.col("n_t").cast("double") / F.col("nt").cast("double"))
        * (
            F.col("s_t").cast("double") / (100.0 * F.col("n_t").cast("double"))
            - F.col("s_c").cast("double") / (100.0 * F.col("n_c").cast("double"))
        ),
        8,
    )
    terms = matched.crossJoin(F.broadcast(tot)).select(
        "event_type", "day_q", "nt", term.alias("term")
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.max("nt").cast("long").alias("n_treated"),
        srnd(
            F.expr(
                "aggregate(array_sort(collect_list("
                "struct(event_type, day_q, term))),"
                " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)"
            ),
            6,
        ).alias("att"),
    )
