"""Skew mitigation for shuffle joins (SURVEY.md §4; SCALE.md).

AQE's skew-join splitting handles most hot keys automatically, but it
only kicks in for sort-merge joins with statistics at runtime. The
explicit salted join here is the deterministic fallback a pipeline
pins when a known-hot key (a null-ish default id, a celebrity user, a
crawler's empty-document hash) would otherwise route one giant
partition to one task:

- the BIG side gets a uniform salt in [0, salts) per row — its hot
  key's rows now spread over ``salts`` partitions;
- the SMALL side (too big to broadcast, too small to matter) is
  replicated once per salt value — ``salts`` copies, the price paid
  for the spread;
- the join keys on (key, salt), so per-task input is bounded by
  |hot key| / salts.

Row-level salt assignment is arbitrary by construction (any row can
land in any replica); results are identical for every assignment.
"""

from __future__ import annotations

import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str | Column,
    small_key: str | Column,
    salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big ⋈ small`` with an explicit ``salts``-way spread.

    ``how`` supports inner/left (semantics preserved: each big row
    carries exactly one salt, so unmatched rows surface once). Right
    and full joins would multiply unmatched small rows per replica —
    rejected.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(f"salted_join supports inner/left joins, not {how!r}")
    b = big.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salts)).cast("int"),
    )
    s = small.withColumn(
        "__rep", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    # Frame-qualified key refs: unresolved F.col(name) is AMBIGUOUS
    # when both sides share the key's column name — the most common
    # equi-join shape.
    bk = b[big_key] if isinstance(big_key, str) else big_key
    sk = s[small_key] if isinstance(small_key, str) else small_key
    joined = b.join(s, (bk == sk) & (b["__salt"] == s["__rep"]), how)
    return joined.drop("__salt", "__rep")


def spread_narrow_input(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition ``df`` by ``key_col`` iff the parquet row groups it
    reads cover at most half the cluster's task slots — the guide-§2.5
    "input skew" mitigation (one unsplittable file, a single-row-group
    parquet: repartition immediately after the read).

    A parquet row group is read by exactly one task, so the row-group
    count bounds the scan's parallelism. Spark's split count does not:
    it cuts each file into byte ranges of ``max(openCostInBytes,
    bytes / slots)``, so a single-row-group file of a few MB plans
    several splits of which only the one holding the row group's
    midpoint reads any rows (sf0.1 ``lineitem``: 10.8 MB, one row
    group, 3 splits at local[4]).

    The decision reads no physical plan: ``inputFiles()`` comes from
    the optimized plan, and every file holds at least one row group,
    so more than ``target / 2`` files stops it before any footer is
    read. Footer reads per call are therefore at most ``target / 2``,
    and a corpus-sized input (thousands of files) reads none and
    never spreads. When the spread fires, the downstream per-row work
    (shingle explodes, token hashing) would otherwise run on a handful
    of tasks while the rest of the cluster idles, and the exchanged
    bytes are bounded by what those few row groups hold. Keyed
    (deterministic hash) partitioning, never round-robin, so task
    retries reproduce the same row placement.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if len(files) * 2 > target:
        return df
    groups = sum(
        pq.read_metadata(path, filesystem=fs).num_row_groups
        for fs, path in map(pafs.FileSystem.from_uri, files)
    )
    if groups * 2 > target:  # over half the slots have a row group; exactly half still spreads
        return df
    return df.repartition(target, key_col)
