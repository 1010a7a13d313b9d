"""Round-9 wave 41 (SURVEY.md §2): lake metadata lifecycle — partition
spec evolution (A28) and snapshot expiration with physical file GC
(A29).

Both are expressed in plain parquet + manifest tables (the A23-A25
discipline): every versioned read is a manifest-filtered scan of
immutable files, so the "table format" behavior is visible DataFrame
algebra instead of a library dependency.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.registry import query
from cassowary_spark.tables import derived_fixture, fixture_path, load_table

# ---------------------------------------- A28 partition spec evolution

_PE_LANG = "en"  # the partition-pruned read the query demonstrates


def _pe_dirs(sf_dir: str) -> tuple[str, str]:
    root = fixture_path(sf_dir, "pe_lake", ("documents",))
    return os.path.join(root, "gen1"), os.path.join(root, "gen2")


def ensure_evolved_lake(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per source identity) a two-generation documents
    lake whose PARTITION SPEC EVOLVED between ingests: generation 1
    (even doc_ids) is laid out ``lang=<v>/``, generation 2 (odd
    doc_ids) as ``lang=<v>/source=<v>/`` — the Iceberg
    spec-evolution situation where old files keep the old layout
    forever and only new files adopt the new one.
    """
    g1, g2 = _pe_dirs(sf_dir)

    def build(_root: str) -> None:
        d = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "source", "n_chars"
        )
        (
            d.filter(F.col("doc_id") % 2 == 0)
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(g1)
        )
        (
            d.filter(F.col("doc_id") % 2 == 1)
            .write.mode("overwrite")
            .partitionBy("lang", "source")
            .parquet(g2)
        )

    derived_fixture(sf_dir, "pe_lake", ("documents",), build)
    return g1, g2


def read_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the evolved lake as ONE logical table: each generation is
    scanned under its own layout and the union is by-name, so a
    filter on ``lang`` partition-prunes BOTH layouts (gen1 on its
    top-level dirs, gen2 on its first level) and a filter on
    ``source`` prunes only gen2 — exactly the asymmetry a
    spec-evolved table exhibits until old files are rewritten."""
    g1, g2 = ensure_evolved_lake(spark, sf_dir)
    cols = ["doc_id", "lang", "source", "n_chars"]
    return (
        spark.read.parquet(g1)
        .select(cols)
        .unionByName(spark.read.parquet(g2).select(cols))
    )


@query(
    "q_partition_evolution",
    oracle=f"""
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum
    FROM documents WHERE lang = '{_PE_LANG}' GROUP BY source
    """,
)
def q_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition spec evolution (A28): a documents lake whose layout
    changed between ingest generations — gen1 partitioned by lang,
    gen2 by (lang, source) — read back as one logical table with a
    lang predicate, per-source rollup. Completes the lake lifecycle
    family (A10 partitioned lake, A23-A25 CoW/manifests/OCC): real
    tables accrete layouts, and readers must prune under every
    historical spec at once (Iceberg keeps one partition spec per
    data file for exactly this reason).

    The lang filter reaches BOTH scans as a partition filter — gen1
    prunes its `lang=` dirs, gen2 its first directory level; a
    source filter would prune gen2 only (the evolution's payoff is
    asymmetric until old data is rewritten, and the planted test
    pins the pruned input_files on both sides).

    Scale shape: two pruned parquet scans + a by-name union + one
    map-side-combining groupBy. Spec evolution costs the READER
    nothing beyond per-generation scan configs; nothing is
    rewritten at evolution time — that's the point.
    """
    return (
        read_evolved(spark, sf_dir)
        .filter(F.col("lang") == _PE_LANG)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
        )
    )


# ------------------------------ A29 snapshot expiration + physical GC


def _se_dirs(root: str) -> dict[str, str]:
    return {
        "root": root,
        "data": os.path.join(root, "data"),
        "rewrites": os.path.join(root, "rewrites"),
        "compacted": os.path.join(root, "compacted"),
        "man1": os.path.join(root, "man_v1"),
        "man2": os.path.join(root, "man_v2"),
        "man3": os.path.join(root, "man_v3"),
        "expired": os.path.join(root, "expired_before_v2.txt"),
    }


def _file_names(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("_metadata.file_name").alias("file_name")
    ).distinct()


def _se_cutoff(spark: SparkSession, sf_dir: str) -> int:
    """Retention cutoff: orderkeys below max//4 are purged — the same
    integer floor-division in the oracle, exact on both engines."""
    o = load_table(spark, sf_dir, "orders")
    return int(o.agg(F.max("o_orderkey")).collect()[0][0]) // 4


def ensure_expired_lake(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Build (once) the three-version lake, then expire snapshot v1 and
    physically GC its exclusive files.

    v1: 12 range-partitioned files of orders (range layout means the
        retention purge dirties only the LOW-key files, not all 12).
    v2: copy-on-write retention purge — rows with orderkey < cutoff
        are dropped by rewriting only the dirty files; manifest v2 =
        (v1 − dirty) ∪ rewrites.
    v3: small-file compaction of v2's live set into 3 files; manifest
        v3 = the compacted files (content-identical to v2 by
        construction — the planted test pins it).
    expire(before v2): every physical file not referenced by v2 or v3
        is os.remove()d and manifest v1 is dropped — v1 becomes
        unreadable (by contract), v2/v3 reads are untouched because
        expiration only deletes UNREFERENCED files.
    """
    def build(root: str) -> None:
        d = _se_dirs(root)
        data, rew, comp = d["data"], d["rewrites"], d["compacted"]
        man1, man2, man3 = d["man1"], d["man2"], d["man3"]
        cutoff = _se_cutoff(spark, sf_dir)
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        o.repartitionByRange(12, "o_orderkey").write.mode(
            "overwrite"
        ).parquet(data)
        _file_names(spark.read.parquet(data)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(man1)
        base = spark.read.parquet(data).withColumn(
            "file_name", F.col("_metadata.file_name")
        )
        dirty = (
            base.filter(F.col("o_orderkey") < cutoff)
            .select("file_name")
            .distinct()
        )
        # CoW: rewrite ONLY dirty files, minus the purged rows
        (
            base.join(F.broadcast(dirty), "file_name", "left_semi")
            .filter(F.col("o_orderkey") >= cutoff)
            .drop("file_name")
            .coalesce(2)
            .write.mode("overwrite")
            .parquet(rew)
        )
        kept = spark.read.parquet(man1).join(
            F.broadcast(dirty), "file_name", "left_anti"
        )
        kept.unionByName(
            _file_names(spark.read.parquet(rew))
        ).coalesce(1).write.mode("overwrite").parquet(man2)
        _read_at(spark, d, "man2").coalesce(3).write.mode("overwrite").parquet(comp)
        _file_names(spark.read.parquet(comp)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(man3)
        # GC: drop every data file no LIVE manifest references. The
        # referenced set is manifest-sized metadata (file NAMES), so
        # the driver-side listing mirrors what real table formats'
        # expire_snapshots actions do.
        referenced = {
            r.file_name
            for r in spark.read.parquet(man2)
            .unionByName(spark.read.parquet(man3))
            .collect()
        }
        removed = 0
        for dd in (data, rew, comp):
            for fn in os.listdir(dd):
                if fn.endswith(".parquet") and fn not in referenced:
                    os.remove(os.path.join(dd, fn))
                    removed += 1
        shutil.rmtree(man1)  # v1 is expired
        with open(d["expired"], "w") as f:
            f.write(f"removed={removed}\n")

    return _se_dirs(derived_fixture(sf_dir, "se_lake", ("orders",), build))


def _read_at(spark: SparkSession, d: dict[str, str], man_key: str) -> DataFrame:
    """Manifest-filtered scan across every physical dir written so far
    (the A24 read shape)."""
    man = spark.read.parquet(d[man_key])
    parts = [
        spark.read.parquet(d[key]).withColumn(
            "file_name", F.col("_metadata.file_name")
        )
        for key in ("data", "rewrites", "compacted")
        if os.path.isdir(d[key])
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return union.join(F.broadcast(man), "file_name", "left_semi").drop(
        "file_name"
    )


_SE_ORACLE_ROLLUP = """
    SELECT CAST({v} AS INT) AS version, o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum
    FROM orders
    WHERE o_orderkey >= (SELECT max(o_orderkey) // 4 FROM orders)
    GROUP BY o_orderstatus
"""


@query(
    "q_snapshot_expire",
    oracle=(
        _SE_ORACLE_ROLLUP.format(v=2)
        + " UNION ALL "
        + _SE_ORACLE_ROLLUP.format(v=3)
    ),
)
def q_snapshot_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiration + physical GC (A29): after a copy-on-write
    retention purge (v2) and a small-file compaction (v3), expire
    snapshot v1 — physically deleting every file only v1 referenced —
    and prove both surviving versions still read exactly (identical
    per-status rollups, matching a plain recompute). This is the
    missing END of the lake lifecycle the A-family built: A23 writes
    versions, A24 travels between them, A25 serializes committers —
    and expiration is how a real table stops paying storage for
    history (Iceberg expire_snapshots / Delta VACUUM), with the
    invariant that GC may touch ONLY unreferenced files.

    The purge is a RANGE delete (orderkey < max//4) over a
    range-partitioned layout, so only the low-key files are dirty and
    the CoW rewrite is proportional to the purged range, not the
    table. The cutoff is an exact integer floor-division both engines
    compute identically.

    Scale shape: builds are one-time fixture work; the query's read
    path is two manifest-filtered scans sharing physical segments
    (manifest semi-joins broadcast) and 1-row-per-status aggregates.
    The GC's referenced-set is manifest-sized METADATA — file names,
    never data — which is exactly what production expire actions
    list on the driver/coordinator.
    """
    d = ensure_expired_lake(spark, sf_dir)

    def rollup(man_key: str, version: int) -> DataFrame:
        return (
            _read_at(spark, d, man_key)
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("cents").cast("long").alias("cents_sum"),
            )
            .select(
                F.lit(version).cast("int").alias("version"),
                "status",
                "n_rows",
                "cents_sum",
            )
        )

    return rollup("man2", 2).unionByName(rollup("man3", 3))
