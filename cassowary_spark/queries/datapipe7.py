"""Round-6 wave 7 (SURVEY.md §2): lakehouse copy-on-write erasure and
time-series linear interpolation.

``q_cow_erasure`` is the row-level DELETE mechanism table formats
(Delta/Iceberg/Hudi CoW) actually ship — rewrite only the files that
contain matching rows, then swap a MANIFEST instead of mutating or
deleting data files — expressed in plain parquet + a manifest table so
every step is a visible DataFrame op (no driver-side file collection,
no table-format dependency). ``q_interpolate`` completes the
time-series repair family: q_gap_fill carries the last observation
forward; this draws the straight line between the surrounding
observations.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassowary_spark.exprs import sql_srnd, srnd
from cassowary_spark.registry import query
from cassowary_spark.tables import derived_fixture, fixture_path, load_table

# ------------------------------------------- A23 copy-on-write erasure

_ERASE_MOD = 97  # custkeys ≡ 0 (mod 97) are the right-to-be-forgotten set


def _cow_dirs(sf_dir: str) -> tuple[str, str, str, str]:
    root = fixture_path(sf_dir, "cow_lake", ("orders",))
    return (
        os.path.join(root, "data"),
        os.path.join(root, "manifest_v1"),
        os.path.join(root, "erased", "rewrites"),
        os.path.join(root, "erased", "manifest_v2"),
    )


def _with_file(df: DataFrame) -> DataFrame:
    return df.withColumn("file_name", F.col("_metadata.file_name"))


def _ensure_cow_lake(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per source identity) the 16-file orders lake and its
    v1 manifest — the manifest IS the table: a file is live iff listed.
    """
    data, man1, _, _ = _cow_dirs(sf_dir)

    def build(_root: str) -> None:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        o.repartition(16).write.mode("overwrite").parquet(data)
        _with_file(spark.read.parquet(data)).select(
            "file_name"
        ).distinct().coalesce(1).write.mode("overwrite").parquet(man1)

    derived_fixture(sf_dir, "cow_lake", ("orders",), build)
    return data, man1


def cow_erase(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Run the copy-on-write erasure once: rewrite dirty files minus
    target rows into ``rewrites``, then publish ``manifest_v2`` =
    (v1 − dirty) ∪ rewrite files. Returns (data_dir, rewrites_dir,
    manifest_v2_dir)."""
    data, man1, rew, man2 = _cow_dirs(sf_dir)
    _ensure_cow_lake(spark, sf_dir)
    target = F.col("o_custkey") % _ERASE_MOD == 0

    def build(_root: str) -> None:
        base = _with_file(spark.read.parquet(data))
        dirty = base.filter(target).select("file_name").distinct()
        # rows of dirty files, minus the erased customers' rows
        (
            base.join(F.broadcast(dirty), "file_name", "left_semi")
            .filter(~target)
            .drop("file_name")
            .coalesce(4)
            .write.mode("overwrite")
            .parquet(rew)
        )
        v1 = spark.read.parquet(man1)
        kept = v1.join(F.broadcast(dirty), "file_name", "left_anti")
        new = (
            _with_file(spark.read.parquet(rew))
            .select("file_name")
            .distinct()
        )
        kept.unionByName(new).coalesce(1).write.mode("overwrite").parquet(
            man2
        )

    # nested in cow_lake: the manifest lists the lake's file names
    derived_fixture(sf_dir, "cow_lake/erased", ("orders",), build)
    return data, rew, man2


def cow_read_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the post-erasure table: (data ∪ rewrites) restricted to
    manifest_v2's live files — the manifest-filtered scan every
    table-format reader performs."""
    return _cow_read_at(spark, sf_dir, cow_erase(spark, sf_dir)[2])


@query(
    "q_cow_erasure",
    oracle=f"""
    SELECT o_orderstatus AS status,
           count(*) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum,
           CAST(0 AS BIGINT) AS n_target_rows_remaining
    FROM orders WHERE o_custkey % {_ERASE_MOD} <> 0 GROUP BY 1
    """,
)
def q_cow_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write row-level erasure (A23): delete every order of the
    right-to-be-forgotten customers (custkey ≡ 0 mod {mod}) from an
    unpartitioned 16-file lake the way Delta/Iceberg/Hudi CoW DELETE
    does — rewrite ONLY the files that contain matching rows (found
    via the `_metadata.file_name` join, no provenance column stored),
    publish a new MANIFEST listing (untouched ∪ rewritten) files, and
    serve reads through the manifest. Old files are never mutated or
    unlinked (time travel / concurrent readers keep working); the
    pytest gate proves untouched files' bytes survive and dirty files
    drop out of the manifest. The oracle derives the expected final
    state independently, and `n_target_rows_remaining` pins the erased
    set to exactly empty.

    Scale shape: the dirty-file manifest is file-granular metadata
    (≤#files rows) — it broadcasts; the rewrite touches only dirty
    files' rows (at 100 TB: \\|affected files\\| × file size, not the
    table); manifest publication is a tiny one-file write; the
    manifest-filtered read is a broadcast semi join on file_name fused
    into the scan. ZERO driver-side collection — the manifest swap IS
    the commit, exactly the transaction-log mechanism of the real
    formats.
    """
    live = cow_read_live(spark, sf_dir)
    target = F.col("o_custkey") % _ERASE_MOD == 0
    return live.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n_rows"),
        F.sum("cents").alias("cents_sum"),
        F.sum(F.when(target, 1).otherwise(0))
        .cast("long")
        .alias("n_target_rows_remaining"),
    )


q_cow_erasure.__doc__ = q_cow_erasure.__doc__.format(mod=_ERASE_MOD)

# --------------------------------------- C72 linear interpolation

_ITP_USERS = 8  # same per-user hourly series the gap-fill op densifies


@query(
    "q_interpolate",
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hr,
               count(*) AS n, {sql_srnd("avg(value)", 4)} AS avg_r
        FROM events WHERE user_id < {_ITP_USERS} GROUP BY user_id, hr
    ), bounds AS (
        SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM hourly GROUP BY user_id
    ), spine AS (
        SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
        FROM bounds
    ), j AS (
        SELECT s.user_id, s.hr, h.avg_r,
               CAST(epoch(s.hr) / 3600 AS BIGINT) AS pos,
               coalesce(h.n, 0) AS n_events
        FROM spine s LEFT JOIN hourly h
          ON s.user_id = h.user_id AND s.hr = h.hr
    ), ctx AS (
        SELECT user_id, hr, n_events, avg_r, pos,
               last_value(avg_r IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS pv,
               last_value(CASE WHEN avg_r IS NOT NULL THEN pos END
                          IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS pp,
               first_value(avg_r IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS nv,
               first_value(CASE WHEN avg_r IS NOT NULL THEN pos END
                           IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS np
        FROM j
    )
    SELECT user_id, hr, n_events,
           {sql_srnd(
               "CASE WHEN avg_r IS NOT NULL THEN avg_r "
               "WHEN pv IS NOT NULL AND nv IS NOT NULL THEN "
               "pv + (nv - pv) * (CAST(pos - pp AS DOUBLE)"
               " / CAST(np - pp AS DOUBLE)) "
               "WHEN pv IS NOT NULL THEN pv ELSE nv END", 4)}
               AS interp_avg
    FROM ctx
    """,
)
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over an hourly spine (C72): where
    q_gap_fill carries the LAST observation forward, this draws the
    straight line between the surrounding observations — v = prev +
    (next − prev)·Δt/T — falling back to carry-forward past the last
    observation and backfill before the first (pandas
    ``interpolate(limit_direction='both')`` semantics on a grid).

    Scale shape: spine generation and the left join are keyed by
    user_id exactly as in q_gap_fill; the four context columns
    (prev/next value and position) are TWO frames over ONE user-keyed
    window shuffle (backward and forward, same partition + order —
    one exchange, one sort). The blend is row-local: positions are
    integer epoch-hours, both endpoint values are srnd-quantized
    before the identically-written multiply/divide sequence, so the
    interpolated doubles match bit-for-bit across engines.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") < _ITP_USERS
    )
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("n"), srnd(F.avg("value"), 4).alias("avg_r"))
    bounds = hourly.groupBy("user_id").agg(
        F.min("hr").alias("lo"), F.max("hr").alias("hi")
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "hr"
        ),
    )
    j = (
        spine.join(hourly, ["user_id", "hr"], "left")
        .withColumn(
            "pos", (F.unix_timestamp("hr") / F.lit(3600)).cast("long")
        )
        .withColumn("n_events", F.coalesce(F.col("n"), F.lit(0)))
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_pos = F.when(F.col("avg_r").isNotNull(), F.col("pos"))
    ctx = (
        j.withColumn("pv", F.last("avg_r", ignorenulls=True).over(back))
        .withColumn("pp", F.last(known_pos, ignorenulls=True).over(back))
        .withColumn("nv", F.first("avg_r", ignorenulls=True).over(fwd))
        .withColumn("np", F.first(known_pos, ignorenulls=True).over(fwd))
    )
    blend = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("pos") - F.col("pp")).cast("double")
        / (F.col("np") - F.col("pp")).cast("double")
    )
    interp = (
        F.when(F.col("avg_r").isNotNull(), F.col("avg_r"))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), blend)
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    return ctx.select(
        "user_id", "hr", "n_events", srnd(interp, 4).alias("interp_avg")
    )


# ------------------------------------ A24 manifest time travel


def _cow_read_at(spark: SparkSession, sf_dir: str, man_dir: str) -> DataFrame:
    """(data ∪ rewrites) restricted to one manifest's files; needs the
    erasure to have run (``cow_erase``)."""
    data, _, rew, _ = _cow_dirs(sf_dir)
    man = spark.read.parquet(man_dir)
    union = _with_file(spark.read.parquet(data)).unionByName(
        _with_file(spark.read.parquet(rew))
    )
    return union.join(F.broadcast(man), "file_name", "left_semi").drop(
        "file_name"
    )


@query(
    "q_manifest_time_travel",
    oracle=f"""
    SELECT CAST(1 AS INT) AS version, count(*) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum
    FROM orders
    UNION ALL
    SELECT CAST(2 AS INT) AS version, count(*) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum
    FROM orders WHERE o_custkey % {_ERASE_MOD} <> 0
    """,
)
def q_manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest time travel (A24): after A23's copy-on-write erasure,
    serve BOTH table versions from the same immutable files — version
    1 through the pre-delete manifest (erased customers still
    visible), version 2 through the post-delete manifest — proving the
    manifest swap really is the only thing the delete changed. This is
    the read half of the Delta/Iceberg VERSION AS OF contract, and the
    generation-keyed batch twin of A9's SSTable time travel in lake
    form.

    Scale shape: both reads share the same file scans (manifest semi
    joins broadcast); snapshot selection costs one tiny manifest read,
    never a data copy — that's the entire point of logical deletion.
    The two version rollups are 1-row aggregates unioned row-locally.
    """
    cow_erase(spark, sf_dir)
    _, man1, _, man2 = _cow_dirs(sf_dir)

    def rollup(man_dir: str, version: int) -> DataFrame:
        return _cow_read_at(spark, sf_dir, man_dir).agg(
            F.lit(version).cast("int").alias("version"),
            F.count("*").alias("n_rows"),
            F.sum("cents").alias("cents_sum"),
        ).select("version", "n_rows", "cents_sum")

    return rollup(man1, 1).unionByName(rollup(man2, 2))


# ------------------------------------ B50 incremental view maintenance


@query(
    "q_ivm_refresh",
    oracle="""
    SELECT o_orderstatus AS status,
           count(*) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum
    FROM orders GROUP BY 1
    """,
)
def q_ivm_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (B50): refresh a per-status
    count/sum summary by combining the STORED materialized view with
    the delta batch's own aggregate — the base table is never
    rescanned (count/sum are self-maintainable: MV ⊕ agg(Δ) via
    full-outer coalesce-add). Here "yesterday's MV" is derived once
    from the keys ∉ the delta (orderkey ≡ 0 mod 10 plays the arriving
    batch) so the oracle — a full recompute over everything — only
    matches if the merge arithmetic is exact; in production the MV is
    a stored table and the refresh cost is \\|Δ\\| + \\|MV\\|,
    independent of base size.

    Scale shape: the delta aggregate is one partial-agg groupBy over
    the batch; the merge joins two summary-sized frames (≤ #status
    keys — broadcast, effectively free); integer cents end-to-end so
    MV ⊕ Δ is bit-exact under any partitioning. The base scan here
    exists only to fabricate the MV fixture; the refresh path proper
    touches Δ and the MV.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    is_delta = F.col("o_orderkey") % 10 == 0

    def summarize(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
            F.count("*").alias("n_rows"), F.sum("cents").alias("cents_sum")
        )

    mv = summarize(o.filter(~is_delta))  # the stored summary, stand-in
    delta = summarize(o.filter(is_delta))  # agg(Δ): the only real scan
    merged = mv.alias("m").join(
        delta.alias("d"), "status", "full_outer"
    )
    return merged.select(
        "status",
        (
            F.coalesce(F.col("m.n_rows"), F.lit(0))
            + F.coalesce(F.col("d.n_rows"), F.lit(0))
        ).alias("n_rows"),
        (
            F.coalesce(F.col("m.cents_sum"), F.lit(0))
            + F.coalesce(F.col("d.cents_sum"), F.lit(0))
        ).alias("cents_sum"),
    )


# ----------------------------- A25 optimistic-concurrency manifest commit


class ManifestConflict(Exception):
    """Another writer claimed the target version first — rebase on the
    new current manifest and retry (the optimistic-concurrency loop
    every log-structured table format runs)."""


def commit_manifest(
    spark: SparkSession, root: str, files_df: DataFrame, version: int
) -> str:
    """A25: commit `files_df` (a one-column ``file_name`` frame) as
    manifest version ``version`` under optimistic concurrency. The
    manifest lands in a writer-private staging dir first (Spark write,
    arbitrarily large); the COMMIT is claiming the version sentinel
    with an O_EXCL create — an atomic, size-independent filesystem
    primitive (object stores: if-none-match put). Exactly one writer
    wins a version; the loser raises :class:`ManifestConflict` and
    must recompute against the winner's manifest. Data files are
    immutable, so a lost race never corrupts — it only re-plans.
    """
    staging = os.path.join(
        root, f".staging-v{version}-{os.getpid()}-{id(files_df)}"
    )
    files_df.coalesce(1).write.mode("overwrite").parquet(staging)
    lock = os.path.join(root, f"_commit_v{version}.lock")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        # lost the race: leave the winner's manifest alone, clean up
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        raise ManifestConflict(
            f"version {version} already committed at {lock}"
        ) from None
    os.close(fd)
    final = os.path.join(root, f"manifest_occ_v{version}")
    os.rename(staging, final)
    return final


def current_occ_version(root: str) -> int:
    """Highest committed OCC manifest version (0 if none)."""
    best = 0
    for f in os.listdir(root):
        if f.startswith("_commit_v") and f.endswith(".lock"):
            best = max(best, int(f[len("_commit_v"):-len(".lock")]))
    return best
