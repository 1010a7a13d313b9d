"""Planted-input tests for the wave-7 operators: copy-on-write erasure
must be file-surgical (untouched files byte-identical, dirty files
logically — not physically — deleted), interpolation must hit exact
straight-line values, and checkpointed ingest must deliver each row
exactly once across a stop/restart cycle.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq

from cassowary_spark import registry
from cassowary_spark.registry import QUERIES

registry.load_all()


def _write_orders(tmp_path, rows):
    """rows = (o_orderkey, custkey, status, totalprice)."""
    tbl = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
            "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
            "o_totalprice": pa.array([float(r[3]) for r in rows], pa.float64()),
            "o_orderdate": pa.array(
                [dt.datetime(2024, 1, 1)] * len(rows), pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(["1-URGENT"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def _write_events(tmp_path, rows):
    """rows = (event_id, user_id, hour_offset, value)."""
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [base + dt.timedelta(hours=r[2]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([float(r[3]) for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    return str(tmp_path)


class TestCowErasure:
    def _fixture(self, tmp_path):
        # custkeys 0 and 97 are targets (mod 97); 1, 2, 3 survive
        return _write_orders(
            tmp_path,
            [
                (1, 0, "O", 10.00),
                (2, 97, "F", 20.00),
                (3, 1, "O", 30.00),
                (4, 2, "F", 40.00),
                (5, 3, "O", 50.00),
                (6, 1, "O", 60.00),
            ],
        )

    def test_erases_rows_and_preserves_untouched_files(self, spark, tmp_path, tmp_fixture_cache):
        from cassowary_spark.queries.datapipe7 import (
            _cow_dirs,
            _ensure_cow_lake,
            cow_erase,
            cow_read_live,
        )

        sf = self._fixture(tmp_path)
        data, man1 = _ensure_cow_lake(spark, sf)
        pre = {
            f: os.stat(os.path.join(data, f))
            for f in os.listdir(data)
            if f.endswith(".parquet")
        }
        cow_erase(spark, sf)
        # every pre-existing data file still on disk, byte-identical
        for f, st in pre.items():
            st2 = os.stat(os.path.join(data, f))
            assert (st2.st_size, st2.st_mtime_ns) == (
                st.st_size,
                st.st_mtime_ns,
            ), f"data file {f} was mutated"
        live = cow_read_live(spark, sf).collect()
        got = sorted((r["o_orderkey"], r["o_custkey"]) for r in live)
        assert got == [(3, 1), (4, 2), (5, 3), (6, 1)]

    def test_manifest_swap_is_the_delete(self, spark, tmp_path, tmp_fixture_cache):
        from cassowary_spark.queries.datapipe7 import _cow_dirs, cow_erase

        # dense fixture: 40 rows over 16 files, 8 targets (custkey 0)
        # interleaved with survivors — dirty files carry BOTH, so the
        # rewrite is non-empty and must surface in the new manifest
        sf = _write_orders(
            tmp_path,
            [
                (i, 97 if i % 5 == 0 else i + 1, "O", 10.0 + i)
                for i in range(40)
            ],
        )
        data, rew, man2 = cow_erase(spark, sf)
        man1_dir = _cow_dirs(sf)[1]
        v1 = {r["file_name"] for r in spark.read.parquet(man1_dir).collect()}
        v2 = {r["file_name"] for r in spark.read.parquet(man2).collect()}
        rew_files = {
            f for f in os.listdir(rew) if f.endswith(".parquet")
        }
        dirty = v1 - v2  # files delisted by the erasure
        assert dirty, "some files must contain target rows"
        # dirty files are logically deleted but physically intact
        for f in dirty:
            assert os.path.exists(os.path.join(data, f))
        # v2 = (v1 - dirty) ∪ non-empty rewrite files (a zero-row
        # rewrite output file carries no rows, so the manifest read
        # never sees its name — leaving it unlisted is correct),
        # and every rewrite file is a new name
        assert v2 >= (v1 - dirty)
        assert (v2 - (v1 - dirty)) <= rew_files
        assert v2 & rew_files, "rewritten rows must be manifest-listed"
        assert rew_files.isdisjoint(v1)

    def test_query_is_idempotent(self, spark, tmp_path, tmp_fixture_cache):
        sf = self._fixture(tmp_path)
        a = sorted(map(tuple, QUERIES["q_cow_erasure"](spark, sf).collect()))
        b = sorted(map(tuple, QUERIES["q_cow_erasure"](spark, sf).collect()))
        assert a == b
        assert all(r[3] == 0 for r in a)  # n_target_rows_remaining


class TestInterpolate:
    def test_straight_line_values(self, spark, tmp_path):
        """Observations at hours 0, 3, 5 with values 1, 4, 10:
        hour 1 → 2.0, hour 2 → 3.0 (slope 1), hour 4 → 7.0 (slope 3);
        observed hours keep their own averages."""
        sf = _write_events(
            tmp_path,
            [(0, 0, 0, 1.0), (1, 0, 3, 4.0), (2, 0, 5, 10.0)],
        )
        out = {
            r["hr"].hour: (r["n_events"], r["interp_avg"])
            for r in QUERIES["q_interpolate"](spark, sf).collect()
        }
        assert out == {
            0: (1, 1.0),
            1: (0, 2.0),
            2: (0, 3.0),
            3: (1, 4.0),
            4: (0, 7.0),
            5: (1, 10.0),
        }

    def test_multi_event_hours_average_first(self, spark, tmp_path):
        """Two events in one hour average before interpolation."""
        sf = _write_events(
            tmp_path,
            [(0, 0, 0, 1.0), (1, 0, 0, 3.0), (2, 0, 2, 6.0)],
        )
        out = {
            r["hr"].hour: r["interp_avg"]
            for r in QUERIES["q_interpolate"](spark, sf).collect()
        }
        assert out == {0: 2.0, 1: 4.0, 2: 6.0}


class TestResumableIngest:
    def test_exactly_once_across_restart(self, spark, tmp_path):
        """Phase 1 ingests files A+B through a checkpoint; after a full
        stop, file C arrives and a restarted query (same checkpoint)
        must deliver ONLY C — every id lands in the sink exactly once."""
        from cassowary_spark.streaming.jobs import resumable_ingest

        src = tmp_path / "src"
        sink = str(tmp_path / "sink")
        chk = str(tmp_path / "chk")
        src.mkdir()
        schema = "id BIGINT, v STRING"

        def add_file(name, lo, hi):
            tbl = pa.table(
                {
                    "id": pa.array(list(range(lo, hi)), pa.int64()),
                    "v": pa.array([f"r{i}" for i in range(lo, hi)], pa.string()),
                }
            )
            pq.write_table(tbl, str(src / name))

        def run_once():
            q = (
                resumable_ingest(spark, str(src), schema)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            assert not q.isActive

        add_file("a.parquet", 0, 10)
        add_file("b.parquet", 10, 20)
        run_once()
        ids1 = sorted(r["id"] for r in spark.read.parquet(sink).collect())
        assert ids1 == list(range(20))

        add_file("c.parquet", 20, 30)
        run_once()
        ids2 = sorted(r["id"] for r in spark.read.parquet(sink).collect())
        assert ids2 == list(range(30)), "restart must add ONLY file C, once"


class TestManifestTimeTravel:
    def test_erased_rows_visible_at_v1_only(self, spark, tmp_path, tmp_fixture_cache):
        """The erased customer's orders appear reading via manifest v1
        and vanish via manifest v2 — same files, different manifest."""
        from cassowary_spark.queries.datapipe7 import (
            _cow_dirs,
            _cow_read_at,
            cow_erase,
        )

        sf = _write_orders(
            tmp_path,
            [
                (i, 97 if i % 5 == 0 else i + 1, "O", 10.0 + i)
                for i in range(40)
            ],
        )
        cow_erase(spark, sf)
        _, man1, _, man2 = _cow_dirs(sf)
        v1 = _cow_read_at(spark, sf, man1)
        v2 = _cow_read_at(spark, sf, man2)
        assert v1.filter("o_custkey = 97").count() == 8
        assert v2.filter("o_custkey = 97").count() == 0
        assert v1.count() == 40 and v2.count() == 32
        # version rollup agrees
        out = {
            r["version"]: r["n_rows"]
            for r in QUERIES["q_manifest_time_travel"](spark, sf).collect()
        }
        assert out == {1: 40, 2: 32}


class TestIvmRefresh:
    def test_merge_handles_insert_update_paths(self, spark, tmp_path):
        """A status present ONLY in the delta (insert path), only in
        the MV (keep path), and in both (update path) must all merge to
        the full-recompute answer."""
        rows = (
            [(i, 1, "A", 10.00) for i in range(1, 6)]       # MV-only: A
            + [(i, 1, "B", 20.00) for i in range(6, 9)]      # both: B (MV)
            + [(10, 1, "B", 30.00), (20, 1, "C", 40.00)]     # delta: B, C
        )
        sf = _write_orders(tmp_path, rows)
        out = {
            r["status"]: (r["n_rows"], r["cents_sum"])
            for r in QUERIES["q_ivm_refresh"](spark, sf).collect()
        }
        assert out == {
            "A": (5, 5 * 1000),
            "B": (4, 3 * 2000 + 3000),
            "C": (1, 4000),
        }
