"""The one input-spread rule, ``skew.spread_narrow_input``.

The decision tests take every threshold from the session's
``defaultParallelism``: the rule spreads a frame whose parquet row
groups cover at most half the task slots, and decides without
planning the frame physically.

The invariance test builds every key that reaches the spread three
ways — with the real rule, with a spread that never fires, and with
one that always fires at an odd width — and requires the same rows
from each, so no result depends on whether a spread fired.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cassowary_spark import caches, registry
from cassowary_spark.operators import skew
from cassowary_spark.operators.skew import spread_narrow_input
from cassowary_spark.tables import table_path

registry.load_all()

SPREAD_KEYS = [
    "q_bootstrap_ci",
    "q_confusion_matrix",
    "q_contamination",
    "q_corpus_bleu",
    "q_dedup_clusters",
    "q_dedup_near",
    "q_dedup_near_verified",
    "q_dedup_ngram",
    "q_dedup_simhash",
    "q_fingerprint",
    "q_lang_id",
    "q_ngram_novelty",
    "q_shingle_containment",
    "q_simhash_dup",
    "q_split_leakage",
    "q_table_fingerprint",
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _spreads(df, key: str, target: int) -> bool:
    return re.search(rf"hashpartitioning\({key}#\d+L?, {target}\)", _plan(df)) is not None


def _write_row_groups(path, groups: int) -> None:
    pq.write_table(pa.table({"k": list(range(groups))}), path, row_group_size=1)
    assert pq.read_metadata(path).num_row_groups == groups


def test_single_row_group_input_spreads(spark, sf_dir):
    target = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(table_path(sf_dir, "documents"))
    assert pq.read_metadata(table_path(sf_dir, "documents")).num_row_groups == 1
    assert not _spreads(df, "doc_id", target)
    assert _spreads(spread_narrow_input(df, "doc_id"), "doc_id", target)


def test_more_row_groups_than_half_the_slots_is_left_alone(spark, tmp_path):
    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "wide.parquet")
    _write_row_groups(path, target // 2 + 1)
    df = spark.read.parquet(path)
    assert spread_narrow_input(df, "k") is df


def test_exactly_half_the_slots_still_spreads(spark, tmp_path):
    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "half.parquet")
    _write_row_groups(path, target // 2)
    assert _spreads(spread_narrow_input(spark.read.parquet(path), "k"), "k", target)


def test_many_files_decide_without_reading_a_footer(spark, tmp_path, monkeypatch):
    target = spark.sparkContext.defaultParallelism
    for i in range(target // 2 + 1):
        _write_row_groups(str(tmp_path / f"part-{i}.parquet"), 1)
    df = spark.read.parquet(str(tmp_path))

    def no_footer(*args, **kwargs):
        raise AssertionError("the file count alone decides this input")

    monkeypatch.setattr(skew.pq, "read_metadata", no_footer)
    assert spread_narrow_input(df, "k") is df


def test_byte_range_splits_do_not_hide_a_single_row_group(spark, sf_dir):
    """A single-row-group file cut into many byte-range splits is still
    read by one task: only the split holding the row group's midpoint
    reads rows. The rule counts row groups, so it still spreads."""
    target = spark.sparkContext.defaultParallelism
    confs = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = {c: spark.conf.get(c) for c in confs}
    try:
        for c in confs:
            spark.conf.set(c, str(8 * 1024))
        df = spark.read.parquet(table_path(sf_dir, "documents"))
        assert df.rdd.getNumPartitions() * 2 > target  # many splits, one row group
        assert _spreads(spread_narrow_input(df, "doc_id"), "doc_id", target)
    finally:
        for c, v in saved.items():
            spark.conf.set(c, v)


def test_decision_converts_no_rdd(spark, sf_dir):
    """Deciding reads the optimized plan's input files, never
    ``DataFrame.rdd``, which plans the frame physically. ``rdd`` is a
    ``cached_property``, so a conversion leaves the RDD in the frame's
    ``__dict__``."""
    df = spark.read.parquet(table_path(sf_dir, "documents"))
    spread_narrow_input(df, "doc_id")
    assert "rdd" not in vars(df)


def _rows(df) -> list[str]:
    return sorted(repr(r) for r in df.collect())


@pytest.mark.parametrize("name", SPREAD_KEYS)
def test_results_do_not_depend_on_the_spread(name, spark, sf_dir, monkeypatch):
    real = skew.spread_narrow_input
    calls = []

    def recording(df, key_col):
        calls.append(key_col)
        return real(df, key_col)

    monkeypatch.setattr(skew, "spread_narrow_input", recording)
    want = _rows(registry.QUERIES[name](spark, sf_dir))
    assert calls, f"{name} no longer reaches spread_narrow_input; update SPREAD_KEYS"

    for forced in (lambda df, k: df, lambda df, k: df.repartition(3, k)):
        monkeypatch.setattr(skew, "spread_narrow_input", forced)
        assert _rows(registry.QUERIES[name](spark, sf_dir)) == want
    caches.release()
