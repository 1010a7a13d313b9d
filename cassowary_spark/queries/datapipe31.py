"""Round-7 wave 33 (SURVEY.md §2): physical-layout scale capabilities
— merge-on-read equality deletes (the Iceberg v2 delete mechanism,
completing A23's copy-on-write half) plus their threshold-driven
compaction job, bucketed co-located joins (the pre-shuffle
amortization every repeated big-big join wants at 100 TB), and
cross-source shingle-overlap diagnostics for pretraining mixtures.

The layout demonstrations use real files: the equality-delete path
never rewrites a base byte, compaction rewrites ONLY hot files, and
the bucketed join's physical plan contains ZERO shuffle exchanges
(all plan/byte-identity-gated in tests/test_datapipe31.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.caches import persist
from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.queries.tpch import _cents, _sql_cents
from cassowary_spark.registry import query
from cassowary_spark.tables import derived_fixture, fixture_path, input_digest, load_table

# ------------------------------------- A26 merge-on-read equality deletes

_DEL_MOD_1 = 53  # delete sequence 1: doc_id ≡ 0 (mod 53)
_DEL_MOD_2 = 89  # delete sequence 2: doc_id ≡ 0 (mod 89)


def _eqdel_dirs(sf_dir: str) -> tuple[str, str, str]:
    root = fixture_path(sf_dir, "eq_deletes", ("documents",))
    return (
        os.path.join(root, "base"),
        os.path.join(root, "del_seq1"),
        os.path.join(root, "del_seq2"),
    )


def ensure_eqdelete_lake(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Build (once per source identity) the immutable 8-file documents
    base lake plus two SEQUENCED equality-delete files — tiny parquet
    sidecars holding nothing but deleted keys, exactly Iceberg v2's
    equality-delete shape. Deleting NEVER touches the base: each
    delete commit appends one key file.
    """
    base, d1, d2 = _eqdel_dirs(sf_dir)

    def build(_root: str) -> None:
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        ).repartition(8).write.mode("overwrite").parquet(base)
        spark.read.parquet(base).filter(
            F.col("doc_id") % _DEL_MOD_1 == 0
        ).select("doc_id").coalesce(1).write.mode("overwrite").parquet(d1)
        spark.read.parquet(base).filter(
            F.col("doc_id") % _DEL_MOD_2 == 0
        ).select("doc_id").coalesce(1).write.mode("overwrite").parquet(d2)

    derived_fixture(sf_dir, "eq_deletes", ("documents",), build)
    return base, d1, d2


def eqdelete_read(
    spark: SparkSession, sf_dir: str, *, through_seq: int = 2
) -> DataFrame:
    """Merge-on-read scan: base rows minus every key in the delete
    files visible at ``through_seq`` (1 = first delete commit only —
    the snapshot-sequencing half of time travel). The anti-join
    broadcasts the UNION of delete keys; delete files are
    key-granular metadata, orders of magnitude smaller than the base.
    """
    base, d1, d2 = ensure_eqdelete_lake(spark, sf_dir)
    dels = spark.read.parquet(d1)
    if through_seq >= 2:
        dels = dels.unionByName(spark.read.parquet(d2))
    return spark.read.parquet(base).join(
        F.broadcast(dels.distinct()), "doc_id", "left_anti"
    )


@query(
    "q_equality_deletes",
    oracle=f"""
    WITH flags AS (
        SELECT source, n_chars,
               (doc_id % {_DEL_MOD_1} = 0 OR doc_id % {_DEL_MOD_2} = 0)
                   AS deleted
        FROM documents
    )
    SELECT source,
           CAST(sum(CASE WHEN NOT deleted THEN 1 ELSE 0 END) AS BIGINT)
               AS n_live,
           CAST(sum(CASE WHEN NOT deleted THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_live,
           {sql_srnd(
               "CAST(sum(CASE WHEN deleted THEN 1 ELSE 0 END) AS DOUBLE)"
               " / CAST(count(*) AS DOUBLE)", 6)} AS deleted_frac
    FROM flags GROUP BY 1
    """,
)
def q_equality_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read equality deletes (A26): row-level DELETE as
    Iceberg v2 ships it — each delete commit appends a tiny parquet of
    deleted KEYS; the base files are never rewritten (A23's
    copy-on-write is the other half of the trade). Reads anti-join the
    base against the union of visible delete files; `deleted_frac` per
    source is the compaction trigger (rewrite a partition's files and
    drop its delete entries once the fraction crosses a threshold).
    The pytest gate proves the base files stay byte-identical across
    both delete commits and that reading "through sequence 1" shows
    exactly the first commit's deletions — the snapshot-sequencing
    contract.

    Scale shape: deleting is O(|deleted keys|) metadata append — no
    data rewrite, no shuffle; the read-side anti-join broadcasts the
    delete-key union (key-granular, ≪ base) and fuses into the scan;
    the per-source rollup is a partial agg. The trade vs CoW (A23):
    writes are free, every read pays the anti-join — which is why
    `deleted_frac` drives background compaction. ZERO driver-side
    collection.
    """
    live = eqdelete_read(spark, sf_dir, through_seq=2).withColumn(
        "__live", F.lit(1)
    )
    base, _, _ = _eqdel_dirs(sf_dir)
    # per-source totals come from the base (immutable), live counts
    # from the MoR read — the same two frames a table-format metrics
    # job would scan
    tot = spark.read.parquet(base).groupBy("source").agg(
        F.count("*").alias("__n_total")
    )
    agg = live.groupBy("source").agg(
        F.count("*").cast("long").alias("n_live"),
        F.sum("n_chars").cast("long").alias("chars_live"),
    )
    # LEFT join FROM the base totals: a source whose every row is
    # deleted has no live agg row but must still report n_live = 0
    # (the oracle groups the full base; an inner join would drop it)
    return tot.join(F.broadcast(agg), "source", "left").select(
        "source",
        F.coalesce(F.col("n_live"), F.lit(0).cast("long")).alias("n_live"),
        F.coalesce(F.col("chars_live"), F.lit(0).cast("long")).alias(
            "chars_live"
        ),
        srnd(
            (F.col("__n_total") - F.coalesce(F.col("n_live"), F.lit(0)))
            .cast("double")
            / F.col("__n_total").cast("double"),
            6,
        ).alias("deleted_frac"),
    )


# ----------------------------------------- B53 bucketed co-located join

_N_BUCKETS = 8


def _bucket_table_names(sf_dir: str) -> tuple[str, str]:
    """Catalog table names keyed by the SOURCE parquet identity (path +
    size + mtime), so one session serving several sf_dirs (tests at
    sf0.001, oracle parity at sf0.01) never joins mismatched tables.
    """
    d = input_digest(sf_dir, ("orders", "lineitem"))
    return f"orders_bkt_{d}", f"lineitem_bkt_{d}"


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Register orders and lineitem as bucketed+sorted external tables.

    The bucketed files are derived fixtures of their source table
    (written once per input identity by ``saveAsTable`` at the fixture
    path, never into the session warehouse); a fresh session, whose
    in-memory catalog has forgotten them, re-registers over the
    cached files without rewriting them.

    Bucketing is WRITE-TIME shuffle amortization: both tables
    pre-hash-partition on the join key into the same bucket count, so
    every subsequent equi-join or aggregation on that key is
    exchange-free — pay one shuffle at ingest, never again. At 100 TB
    this (with ~1024 buckets) is the difference between re-shuffling
    two multi-TB fact tables per query and a purely local merge.
    """
    names = _bucket_table_names(sf_dir)
    specs = (
        ("orders", "o_orderkey", "o_orderpriority"),
        ("lineitem", "l_orderkey", "l_extendedprice"),
    )
    for name, (table, key, col) in zip(names, specs):
        if spark.catalog.tableExists(name):
            continue
        df = load_table(spark, sf_dir, table).select(key, col)
        path = derived_fixture(
            sf_dir,
            f"{table}_bkt",
            (table,),
            lambda p: df.write.bucketBy(_N_BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .format("parquet")
            .option("path", p)
            .saveAsTable(name),
        )
        if not spark.catalog.tableExists(name):
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in df.schema
            )
            spark.sql(
                f"CREATE TABLE {name} ({cols}) USING parquet"
                f" CLUSTERED BY ({key}) SORTED BY ({key})"
                f" INTO {_N_BUCKETS} BUCKETS LOCATION '{path}'"
            )
    return names


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-located join itself (pre-aggregation), exposed so the
    plan gate can assert its physical shape: SortMergeJoin over two
    bucketed scans with ZERO Exchange and no re-Sort (buckets are
    written sorted). The merge hint pins SMJ so the demonstration
    cannot silently degrade to a broadcast join at small sf.
    """
    on, ln = ensure_bucketed_tables(spark, sf_dir)
    o = spark.table(on)
    li = spark.table(ln)
    return o.hint("merge").join(
        li, F.col("o_orderkey") == F.col("l_orderkey")
    )


@query(
    "q_bucket_join",
    oracle=f"""
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum({_sql_cents("l_extendedprice")}) AS BIGINT) AS cents_sum
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1
    """,
)
def q_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (B53): orders ⋈ lineitem on the order
    key with BOTH sides stored bucketed+sorted on that key — the
    physical plan is a SortMergeJoin whose inputs come straight from
    the bucketed scans: no Exchange, no Sort (plan-gated). This is the
    Spark-native equivalent of a clustered/distribution-keyed table in
    a warehouse: ingest pays one shuffle, every downstream join and
    rollup on the key is local forever.

    Scale shape: at 100 TB the fact tables bucket by the join key at
    load (≈1024 buckets so a bucket pair fits a task); the join then
    moves ZERO bytes across the network regardless of how many times
    it runs. The rollup after the join is the only exchange in the
    query (5 priority keys). Results are identical to the plain join —
    the oracle runs the unbucketed SQL.
    """
    j = bucketed_join(spark, sf_dir)
    return j.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum(_cents(F.col("l_extendedprice"))).alias("cents_sum"),
    )


# ------------------------------------ C153 cross-source shingle overlap

_SRC_SHINGLE_K = 3


def _duck_src_shingles(k: int) -> str:
    """DuckDB expression mirroring operators.dedup.shingles (same
    spelling as queries/llm._duck_shingles, repeated here so the
    oracle stays self-contained)."""
    return (
        "list_distinct(list_transform("
        f" range(1, greatest(len(string_split(text, ' ')) - {k - 1}, 1) + 1),"
        f" i -> array_to_string(list_slice(string_split(text, ' '), i, i + {k - 1}), ' ')))"
    )


@query(
    "q_source_jaccard",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT source, sh FROM (
            SELECT source, unnest({_duck_src_shingles(_SRC_SHINGLE_K)}) AS sh
            FROM documents
        )
    ),
    sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST(n_inter AS BIGINT) AS n_inter,
           {sql_srnd(
               "CAST(n_inter AS DOUBLE)"
               " / CAST(sa.n + sb.n - n_inter AS DOUBLE)", 6)} AS jaccard,
           {sql_srnd(
               "CAST(n_inter AS DOUBLE)"
               " / CAST(least(sa.n, sb.n) AS DOUBLE)", 6)} AS containment
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    """,
)
def q_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus overlap (C153): shingle-set Jaccard and
    containment for every overlapping SOURCE pair — the
    pretraining-mixture diagnostic ("how much of src3 is already in
    src7") that decides which sources to cross-dedup (C2) and how to
    weight a mixture (C28/C44). Sources with zero shared shingles
    produce no row.

    Determinism: shingle strings (never floats) drive all counting;
    the two ratios divide exact BIGINTs and are srnd-quantized.

    Scale shape: the corpus collapses to DISTINCT (source, shingle)
    — one hash shuffle of the exploded shingles, after which
    everything is vocabulary-sized, not corpus-sized. The shingle
    self-join's per-key multiplicity is bounded by #sources per side
    (each side holds ≤ one row per (source, shingle)), so fan-out is
    ≤ sources² per shingle — a CONSTANT, immune to how many documents
    share the shingle; the pair rollup is a sources²-key partial agg.
    At 100 TB the distinct is the only corpus-scale stage, and the
    same plan serves the sketched form (per-source minhash UNION
    merge) when vocabulary itself outgrows a shuffle.
    """
    from cassowary_spark.operators.dedup import shingles

    d = load_table(spark, sf_dir, "documents").select("source", "text")
    # persisted: the self-join's two sides AND the size table consume
    # this frame — un-persisted each would re-run the explode+distinct.
    # The repartition is the distinct's own exchange on its leading
    # key, placed before the explode, not an input spread.
    sh = persist(
        d.repartition(F.col("source"))
        .select(
            "source",
            F.explode(shingles("text", _SRC_SHINGLE_K)).alias("sh"),
        )
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        inter.join(F.broadcast(sa), F.col("source_a") == F.col("sa.source"))
        .join(F.broadcast(sb), F.col("source_b") == F.col("sb.source"))
        .select(
            "source_a",
            "source_b",
            "n_inter",
            srnd(
                F.col("n_inter").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("n_inter")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
            srnd(
                F.col("n_inter").cast("double")
                / F.least(F.col("sa.n"), F.col("sb.n")).cast("double"),
                6,
            ).alias("containment"),
        )
    )


# -------------------------------------- A27 delete-vector compaction

_COMPACT_THRESHOLD = 0.05  # rewrite files whose deleted_frac exceeds this


def compact_eqdeletes(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Compact the equality-delete table (once, idempotent): files
    whose deleted fraction exceeds the threshold are rewritten WITHOUT
    their deleted rows; cold files are never touched. Publishes a
    manifest of (surviving base files ∪ rewritten files) — after which
    readers of the compacted view no longer need the delete-key
    anti-join for the rewritten files. Returns (base_dir,
    compacted_dir, manifest_dir).

    This is the background maintenance job the `deleted_frac` metric
    of q_equality_deletes exists to trigger: MoR makes deletes free
    and reads pay; compaction moves the cost back off the read path
    file-by-file, hottest first.
    """
    base, d1, d2 = ensure_eqdelete_lake(spark, sf_dir)

    def build(root: str) -> None:
        dels = (
            spark.read.parquet(d1)
            .unionByName(spark.read.parquet(d2))
            .distinct()
            .withColumn("__del", F.lit(True))
        )
        wf = spark.read.parquet(base).withColumn(
            "file_name", F.col("_metadata.file_name")
        )
        flagged = wf.join(F.broadcast(dels), "doc_id", "left")
        per_file = flagged.groupBy("file_name").agg(
            (
                F.sum(F.when(F.col("__del"), 1).otherwise(0)).cast("double")
                / F.count("*").cast("double")
            ).alias("frac")
        )
        hot = per_file.filter(F.col("frac") > _COMPACT_THRESHOLD).select("file_name")
        (
            flagged.join(F.broadcast(hot), "file_name", "left_semi")
            .filter(~F.coalesce(F.col("__del"), F.lit(False)))
            .drop("file_name", "__del")
            .coalesce(2)
            .write.mode("overwrite")
            .parquet(os.path.join(root, "compacted"))
        )
        cold = per_file.filter(
            F.col("frac") <= _COMPACT_THRESHOLD
        ).select("file_name")
        new = (
            spark.read.parquet(os.path.join(root, "compacted"))
            .withColumn("file_name", F.col("_metadata.file_name"))
            .select("file_name")
            .distinct()
        )
        cold.unionByName(new).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(root, "manifest")
        )

    # nested in eq_deletes: the manifest lists base file names
    root = derived_fixture(sf_dir, "eq_deletes/compaction", ("documents",), build)
    return base, os.path.join(root, "compacted"), os.path.join(root, "manifest")


@query(
    "q_delete_compaction",
    oracle=f"""
    WITH flags AS (
        SELECT source, n_chars,
               (doc_id % {_DEL_MOD_1} = 0 OR doc_id % {_DEL_MOD_2} = 0)
                   AS deleted
        FROM documents
    )
    SELECT source,
           CAST(sum(CASE WHEN NOT deleted THEN 1 ELSE 0 END) AS BIGINT)
               AS n_live,
           CAST(sum(CASE WHEN NOT deleted THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_live
    FROM flags GROUP BY 1
    """,
)
def q_delete_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-delete compaction (A27): the background job that
    closes A26's merge-on-read loop. Files whose deleted fraction
    exceeds {thr} are rewritten minus their deleted rows; cold files
    survive untouched (byte-identity pytest-gated); a manifest of
    (cold ∪ rewritten) files becomes the compacted view. Reading the
    compacted view still applies the delete keys to the COLD files
    only — identical live rows to the pre-compaction MoR read, which
    is exactly what the oracle (and the equivalence pytest) check.

    Scale shape: the per-file deleted_frac is one file-granular agg
    over a broadcast-join-flagged scan (metadata-sized result); the
    rewrite touches ONLY hot files' rows; manifest publication is one
    tiny write. The read is (manifest-filtered scan) + anti-join
    whose key set SHRINKS with every compaction — the steady state a
    MoR table converges to. Zero driver-side collection.
    """
    base, comp, man = compact_eqdeletes(spark, sf_dir)
    _, d1, d2 = _eqdel_dirs(sf_dir)
    manifest = spark.read.parquet(man)
    union = (
        spark.read.parquet(base)
        .withColumn("file_name", F.col("_metadata.file_name"))
        .unionByName(
            spark.read.parquet(comp).withColumn(
                "file_name", F.col("_metadata.file_name")
            )
        )
    )
    live_files = union.join(F.broadcast(manifest), "file_name", "left_semi")
    # delete keys still apply to the surviving COLD base files (their
    # deleted rows were below the rewrite threshold and remain on disk)
    dels = (
        spark.read.parquet(d1)
        .unionByName(spark.read.parquet(d2))
        .distinct()
    )
    live = live_files.join(F.broadcast(dels), "doc_id", "left_anti")
    agg = live.groupBy("source").agg(
        F.count("*").cast("long").alias("n_live"),
        F.sum("n_chars").cast("long").alias("chars_live"),
    )
    # LEFT join FROM the base's source list: an all-deleted source
    # must still report n_live = 0 (the oracle groups the full base)
    sources = spark.read.parquet(base).select("source").distinct()
    return sources.join(F.broadcast(agg), "source", "left").select(
        "source",
        F.coalesce(F.col("n_live"), F.lit(0).cast("long")).alias("n_live"),
        F.coalesce(F.col("chars_live"), F.lit(0).cast("long")).alias(
            "chars_live"
        ),
    )


q_delete_compaction.__doc__ = q_delete_compaction.__doc__.format(
    thr=_COMPACT_THRESHOLD
)


# ------------------------------------------- C154 semantic dedup (SemDedup)

_SEM_OFFSET = 100_000
_SEM_TAU = 0.999
_SEM_PLANES = 6
_SEM_DIM = 64


@query(
    "q_semantic_dedup",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    corpus AS (
        SELECT vec_id, v FROM base
        UNION ALL
        SELECT vec_id + {_SEM_OFFSET}, list_transform(v, x -> x * 1.01)
        FROM base
    )
    SELECT a.vec_id AS survivor_id, b.vec_id AS dropped_id,
           floor((list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v)))) * 10000.0 + 0.5)
               / 10000.0 AS cos_sim
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
          (sqrt(list_dot_product(a.v, a.v))
           * sqrt(list_dot_product(b.v, b.v))) >= {_SEM_TAU}
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-style semantic deduplication (C154): drop all but one
    of every embedding-near-identical group on UNLABELED data — the
    Abbas et al. 2023 recipe for pretraining corpora, and the
    production counterpart of C2's label-blocked q_dedup_embed (whose
    docstring promises exactly this swap: "label → LSH bucket").
    Each planted scale-twin (×1.01, cosine exactly 1) must be
    reported as (survivor = original, dropped = twin).

    The blocking is deterministic random-hyperplane LSH
    (operators/similarity.hyperplane_bits): identical-DIRECTION
    vectors land in the same bucket with probability 1 — no plane
    can separate angle-0 pairs — so twin recall is structural, not
    probabilistic. The oracle is the GLOBAL brute-force pair set
    (no buckets), which makes this key a 100%-recall gate on the
    bucketed path, the q_dedup_near_verified discipline: one twin
    split across buckets fails the row count. The fixture margin is
    wide (max non-twin cosine 0.60 across all sfs vs τ=0.999), so
    the threshold compare is ulp-safe cross-engine.

    Scale shape: bucketing is a row-local projection (6 sign bits,
    ~64 buckets); the within-bucket pair scan is ONE BLAS gram
    matrix per bucket via applyInPandas (never a corpus cartesian);
    dropping is a pair-list anti-join. At 100 TB: more planes
    (bucket width ~n/2^p) plus the IVF-centroid variant for recall
    beyond exact-direction twins.
    """
    from cassowary_spark.operators.similarity import (
        as_double,
        cosine_pairs_blocked,
        hyperplane_bits,
    )

    e = load_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", as_double("embedding").alias("v"))
    twin = base.select(
        (F.col("vec_id") + _SEM_OFFSET).alias("vec_id"),
        F.transform("v", lambda x: x * 1.01).alias("v"),
    )
    corpus = base.unionByName(twin).withColumn(
        "bucket", hyperplane_bits(F.col("v"), _SEM_PLANES, _SEM_DIM)
    )
    pairs = cosine_pairs_blocked(
        corpus, "vec_id", "v", "bucket", threshold=_SEM_TAU
    )
    return pairs.select(
        F.col("id_a").alias("survivor_id"),
        F.col("id_b").alias("dropped_id"),
        srnd("cos_sim", 4).alias("cos_sim"),
    )
