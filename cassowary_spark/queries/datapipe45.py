"""Round-9 wave 47 (SURVEY.md §2): write-audit-publish (A32) — the
lakehouse ingestion pattern where every candidate snapshot passes a
data-contract audit BEFORE an atomic pointer swap makes it visible,
and a failing candidate is quarantined without ever touching readers.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassowary_spark.registry import query
from cassowary_spark.tables import derived_fixture, load_table

# ----------------------------------------------- A32 write-audit-publish

_WAP_RETIRE_MOD = 17  # v2 retires orderkeys ≡ 0 (mod 17)
_WAP_POISON_MOD = 23  # the bad candidate NULLs keys ≡ 0 (mod 23)


def _wap_dirs(root: str) -> dict[str, str]:
    return {
        "root": root,
        "v1": os.path.join(root, "snap_v1"),
        "bad": os.path.join(root, "snap_bad"),
        "v2": os.path.join(root, "snap_v2"),
        "ptr": os.path.join(root, "CURRENT"),
        "audit": os.path.join(root, "audit_log.json"),
    }


def audit_candidate(df: DataFrame) -> dict:
    """The data-contract gate a candidate must pass before publish:
    non-empty, no NULL keys, keys unique, no negative amounts — ONE
    aggregate pass (contract violations are counted, not sampled).
    """
    row = df.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_orderkey").isNull().cast("int")).alias("null_keys"),
        (
            F.count("o_orderkey") - F.countDistinct("o_orderkey")
        ).alias("dup_keys"),
        F.sum((F.col("cents") < 0).cast("int")).alias("neg_amounts"),
    ).collect()[0]
    checks = {
        "non_empty": row.n_rows > 0,
        "no_null_keys": (row.null_keys or 0) == 0,
        "unique_keys": (row.dup_keys or 0) == 0,
        "no_negative_amounts": (row.neg_amounts or 0) == 0,
    }
    return {"passed": all(checks.values()), "checks": checks,
            "n_rows": row.n_rows}


def publish(d: dict, snap_key: str, version: int, audit: dict) -> bool:
    """Atomic publish: the candidate directory becomes visible only by
    an os.replace of the pointer file — readers see the old or the
    new snapshot, never a half-state. Returns True iff published."""
    entry = {"version": version, "snapshot": snap_key, **audit}
    log = []
    if os.path.exists(d["audit"]):
        with open(d["audit"]) as f:
            log = json.load(f)
    log.append(entry)
    with open(d["audit"] + ".tmp", "w") as f:
        json.dump(log, f)
    os.replace(d["audit"] + ".tmp", d["audit"])
    if not audit["passed"]:
        return False
    with open(d["ptr"] + ".tmp", "w") as f:
        f.write(os.path.basename(d[snap_key]))
    os.replace(d["ptr"] + ".tmp", d["ptr"])
    return True


def ensure_wap_lake(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Run the WAP lifecycle once (idempotent): publish v1, REJECT a
    poisoned candidate (NULLed keys — the audit catches it and the
    pointer stays on v1), then publish the clean v2 retention update.
    """
    def build(root: str) -> None:
        d = _wap_dirs(root)
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_orderstatus",
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        o.coalesce(4).write.mode("overwrite").parquet(d["v1"])
        publish(d, "v1", 1, audit_candidate(spark.read.parquet(d["v1"])))
        # the poisoned candidate: a buggy upstream NULLs some keys
        o.select(
            F.when(F.col("o_orderkey") % _WAP_POISON_MOD == 0, None)
            .otherwise(F.col("o_orderkey"))
            .alias("o_orderkey"),
            "o_orderstatus",
            "cents",
        ).coalesce(4).write.mode("overwrite").parquet(d["bad"])
        o.filter(F.col("o_orderkey") % _WAP_RETIRE_MOD != 0).coalesce(
            4
        ).write.mode("overwrite").parquet(d["v2"])
        published_bad = publish(
            d, "bad", 2, audit_candidate(spark.read.parquet(d["bad"]))
        )
        assert not published_bad  # contract must reject the poison
        publish(d, "v2", 3, audit_candidate(spark.read.parquet(d["v2"])))

    return _wap_dirs(derived_fixture(sf_dir, "wap_lake", ("orders",), build))


def read_published(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read whatever snapshot the pointer currently publishes."""
    d = ensure_wap_lake(spark, sf_dir)
    with open(d["ptr"]) as f:
        snap = f.read().strip()
    return spark.read.parquet(os.path.join(d["root"], snap))


@query(
    "q_write_audit_publish",
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS cents_sum
    FROM orders WHERE o_orderkey % {_WAP_RETIRE_MOD} <> 0
    GROUP BY o_orderstatus
    """,
)
def q_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (A32): every candidate snapshot is staged
    invisibly, audited against the data contract (non-empty, no NULL
    or duplicate keys, no negative amounts — ONE aggregate pass), and
    only a PASSING candidate is made visible by an atomic pointer
    swap — the Iceberg WAP / staging-branch pattern that keeps a
    poisoned upstream batch from ever reaching readers. The lifecycle
    this query materializes: v1 publishes; a poisoned candidate
    (NULLed keys) is REJECTED with its violation counts recorded in
    the audit log while the pointer keeps serving v1; the clean v2
    retention update passes and publishes. The result is the
    per-status rollup of the PUBLISHED table — matching the oracle
    only if the poison never leaked and v2 really took over.

    Completes the lake lifecycle: A23-25 version/travel/commit, A28
    evolves layout, A29 expires history, A30/31 skip files — A32
    gates what gets in at all. C-series q_data_contract validates a
    table in place; WAP is that gate WIRED INTO the publish protocol
    so failure means invisibility, not an alert after the fact.

    Scale shape: the audit is one aggregate pass over the candidate
    (map-side partials; violation COUNTS, not row samples); publish
    and rejection are metadata ops (pointer swap, log append) of
    constant size. Readers pay one pointer read — never a lock.
    """
    ensure_wap_lake(spark, sf_dir)
    return (
        read_published(spark, sf_dir)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
    )
