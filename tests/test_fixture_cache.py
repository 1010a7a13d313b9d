"""The derived-fixture cache (tables.derived_fixture), without Spark:
entries are keyed by the identity of their input files, a fixture is
complete only once its marker is written, and a complete fixture is
never rebuilt."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cassowary_spark import tables


def _plant_supplier(sf_dir, first_key: int) -> list[tuple]:
    rows = [(first_key + i, f"S{first_key + i}", i % 25, 10.0 * i) for i in range(6)]
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array([r[0] for r in rows], pa.int64()),
                "s_name": pa.array([r[1] for r in rows], pa.string()),
                "s_nationkey": pa.array([r[2] for r in rows], pa.int32()),
                "s_acctbal": pa.array([r[3] for r in rows], pa.float64()),
            }
        ),
        os.path.join(sf_dir, "supplier.parquet"),
    )
    return rows


def _read_in_process(path: str) -> list[tuple]:
    from cassowary_spark.sources.sstable_datasource import SSTableDataSourceReader

    reader = SSTableDataSourceReader({"path": path}, None)
    assert reader.schema.field_names() == ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]
    rows = []
    for part in reader.partitions():
        for item in reader.read(part):
            if isinstance(item, pa.RecordBatch):
                rows.extend(zip(*(c.to_pylist() for c in item.columns)))
            else:
                rows.append(tuple(item))
    return sorted(rows)


def test_same_basename_sf_dirs_get_their_own_snapshot(tmp_fixture_cache, tmp_path):
    from cassowary_spark.queries.scan import build_sstable_snapshot

    a, b = str(tmp_path / "a" / "sfx"), str(tmp_path / "b" / "sfx")
    rows_a, rows_b = _plant_supplier(a, 0), _plant_supplier(b, 100)
    snap_a, snap_b = build_sstable_snapshot(a), build_sstable_snapshot(b)
    assert snap_a != snap_b
    assert snap_a.startswith(str(tmp_fixture_cache))
    assert _read_in_process(snap_a) == rows_a
    assert _read_in_process(snap_b) == rows_b


def test_failed_build_leaves_no_marker_and_next_call_starts_empty(tmp_fixture_cache, tmp_path):
    sf = str(tmp_path / "sf")
    _plant_supplier(sf, 0)

    def failing(path: str) -> None:
        open(os.path.join(path, "partial.bin"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        tables.derived_fixture(sf, "fx", ("supplier",), failing)
    path = tables.fixture_path(sf, "fx", ("supplier",))
    assert os.listdir(path) == ["partial.bin"]

    seen = []
    assert tables.derived_fixture(sf, "fx", ("supplier",), lambda p: seen.append(os.listdir(p))) == path
    assert seen == [[]]
    assert sorted(os.listdir(path)) == ["_COMPLETE"]


def test_complete_fixture_is_not_rebuilt_until_a_dep_changes(tmp_fixture_cache, tmp_path):
    sf = str(tmp_path / "sf")
    _plant_supplier(sf, 0)
    calls = []
    first = tables.derived_fixture(sf, "fx", ("supplier",), calls.append)
    assert tables.derived_fixture(sf, "fx", ("supplier",), calls.append) == first
    assert calls == [first]

    _plant_supplier(sf, 100)  # rewritten input file: a new key
    second = tables.derived_fixture(sf, "fx", ("supplier",), calls.append)
    assert second != first and calls == [first, second]

    with pytest.raises(ValueError):
        tables.fixture_path(sf, "fx", "supplier")


def test_rebuild_after_a_dep_rewrite_evicts_the_superseded_entry(tmp_fixture_cache, tmp_path):
    sf = str(tmp_path / "sf")
    _plant_supplier(sf, 0)
    first = tables.derived_fixture(sf, "fx", ("supplier",), lambda p: None)
    keep = tables.derived_fixture(sf, "other", ("supplier",), lambda p: None)
    with open(os.path.join(first, "_COMPLETE")) as f:
        assert f.read() == os.path.abspath(os.path.join(sf, "supplier.parquet")) + "\n"

    _plant_supplier(sf, 100)
    second = tables.derived_fixture(sf, "fx", ("supplier",), lambda p: None)
    assert second != first and os.path.exists(second)
    assert not os.path.exists(first)
    assert os.path.exists(keep)  # another fixture of the old key is not this build's to evict

    tables.derived_fixture(sf, "other", ("supplier",), lambda p: None)
    assert not os.path.exists(os.path.dirname(first))  # the emptied key goes too


def test_same_basename_entry_of_another_sf_dir_survives_a_rebuild(tmp_fixture_cache, tmp_path):
    a, b = str(tmp_path / "a" / "sfx"), str(tmp_path / "b" / "sfx")
    _plant_supplier(a, 0)
    _plant_supplier(b, 100)
    entry_b = tables.derived_fixture(b, "fx", ("supplier",), lambda p: None)
    tables.derived_fixture(a, "fx", ("supplier",), lambda p: None)
    _plant_supplier(a, 200)
    tables.derived_fixture(a, "fx", ("supplier",), lambda p: None)
    assert os.path.exists(os.path.join(entry_b, "_COMPLETE"))
