"""Planted gates for wave 41: q_partition_evolution (A28) and
q_snapshot_expire (A29)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from cassowary_spark import registry
from cassowary_spark.registry import QUERIES

registry.load_all()


def _write_docs(tmp_path, rows):
    """rows = [(doc_id, lang, source, n_chars)]"""
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([f"t{r[0]}" for r in rows], pa.string()),
            "lang": pa.array([r[1] for r in rows], pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "n_chars": pa.array([r[3] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _write_orders(tmp_path, rows):
    """rows = [(o_orderkey, o_custkey, o_orderstatus, o_totalprice)]"""
    tbl = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
            "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
            "o_totalprice": pa.array([r[3] for r in rows], pa.float64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "orders.parquet"))
    return str(tmp_path)


# ------------------------------------------- A28 partition evolution


class TestPartitionEvolution:
    def test_hand_rollup_spans_generations(self, spark, tmp_path, tmp_fixture_cache):
        # even ids -> gen1 (by lang), odd -> gen2 (by lang, source):
        # the en rollup must combine docs from BOTH layouts
        rows = [
            (0, "en", "web", 10),
            (1, "en", "web", 20),
            (2, "en", "book", 30),
            (3, "en", "book", 40),
            (4, "fr", "web", 50),
            (5, "fr", "web", 60),
        ]
        sf = _write_docs(tmp_path, rows)
        out = {
            r.source: r
            for r in QUERIES["q_partition_evolution"](spark, sf).collect()
        }
        assert out["web"].n_docs == 2 and out["web"].chars_sum == 30
        assert out["book"].n_docs == 2 and out["book"].chars_sum == 70
        assert set(out) == {"web", "book"}

    def test_generations_have_evolved_layouts(self, spark, tmp_path, tmp_fixture_cache):
        from cassowary_spark.queries.datapipe39 import (
            _pe_dirs,
            ensure_evolved_lake,
        )

        rows = [(i, ["en", "fr"][i % 2], f"s{i % 3}", i) for i in range(12)]
        sf = _write_docs(tmp_path, rows)
        ensure_evolved_lake(spark, sf)
        g1, g2 = _pe_dirs(sf)
        g1_dirs = {d for d in os.listdir(g1) if d.startswith("lang=")}
        assert g1_dirs  # gen1: lang=<v> at the top level, nothing deeper
        for d in g1_dirs:
            assert not any(
                s.startswith("source=") is False and s.startswith("lang=")
                for s in os.listdir(os.path.join(g1, d))
            )
        g2_first = {d for d in os.listdir(g2) if d.startswith("lang=")}
        assert g2_first
        for d in g2_first:  # gen2: lang=<v>/source=<v>
            subs = os.listdir(os.path.join(g2, d))
            assert any(s.startswith("source=") for s in subs)

    def test_lang_filter_prunes_both_scans(self, spark, tmp_path, tmp_fixture_cache):
        from cassowary_spark.queries.datapipe39 import read_evolved

        rows = [(i, ["en", "fr"][i % 2], "s", i) for i in range(12)]
        sf = _write_docs(tmp_path, rows)
        from pyspark.sql import functions as F

        plan = (
            read_evolved(spark, sf)
            .filter(F.col("lang") == "en")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        pruned = [
            ln
            for ln in plan.splitlines()
            if "PartitionFilters" in ln and "lang" in ln
        ]
        assert len(pruned) >= 2, plan  # BOTH generation scans prune


# ------------------------------- A29 snapshot expiration + physical GC


class TestSnapshotExpire:
    def _build(self, spark, tmp_path):
        rows = [
            (i, i + 1, "O" if i % 3 else "F", 10.0 + i) for i in range(40)
        ]
        sf = _write_orders(tmp_path, rows)
        from cassowary_spark.queries.datapipe39 import ensure_expired_lake

        return sf, ensure_expired_lake(spark, sf), rows

    def test_content_matches_recompute_and_versions_agree(
        self, spark, tmp_path, tmp_fixture_cache
    ):
        sf, _, rows = self._build(spark, tmp_path)
        cutoff = max(r[0] for r in rows) // 4
        expect = {}
        for k, _, st, price in rows:
            if k >= cutoff:
                n, c = expect.get(st, (0, 0))
                expect[st] = (n + 1, c + round(price * 100))
        out = QUERIES["q_snapshot_expire"](spark, sf).collect()
        for version in (2, 3):
            got = {
                r.status: (r.n_rows, r.cents_sum)
                for r in out
                if r.version == version
            }
            assert got == expect, version

    def test_v1_exclusive_files_physically_removed(self, spark, tmp_path, tmp_fixture_cache):
        sf, d, _ = self._build(spark, tmp_path)
        # manifest v1 is gone, and the data dir lost its dirty files
        assert not os.path.exists(d["man1"])
        n_data = len(
            [f for f in os.listdir(d["data"]) if f.endswith(".parquet")]
        )
        assert n_data < 12  # at least the low-range files were GC'd
        marker = open(d["expired"]).read()
        assert "removed=" in marker
        assert int(marker.strip().split("=")[1]) > 0

    def test_gc_never_touches_referenced_files(self, spark, tmp_path, tmp_fixture_cache):
        sf, d, _ = self._build(spark, tmp_path)
        referenced = {
            r.file_name
            for r in spark.read.parquet(d["man2"])
            .unionByName(spark.read.parquet(d["man3"]))
            .collect()
        }
        on_disk = set()
        for key in ("data", "rewrites", "compacted"):
            on_disk |= {
                f
                for f in os.listdir(d[key])
                if f.endswith(".parquet")
            }
        assert referenced <= on_disk

    def test_idempotent_rerun(self, spark, tmp_path, tmp_fixture_cache):
        sf, _, _ = self._build(spark, tmp_path)
        a = sorted(
            map(tuple, QUERIES["q_snapshot_expire"](spark, sf).collect())
        )
        b = sorted(
            map(tuple, QUERIES["q_snapshot_expire"](spark, sf).collect())
        )
        assert a == b


# ----------------------------------------- S18 streaming CDC merge


class TestCdcMergeStream:
    @staticmethod
    def _add_cdc(src, name, rows):
        """rows = [(pk, seq, op, cents)]"""
        tbl = pa.table(
            {
                "pk": pa.array([r[0] for r in rows], pa.int64()),
                "seq": pa.array([r[1] for r in rows], pa.int64()),
                "op": pa.array([r[2] for r in rows], pa.string()),
                "cents": pa.array([r[3] for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, str(src / name))

    @staticmethod
    def _reference_apply(all_rows):
        """Latest-wins by (seq, op) per pk; winning D removes."""
        best = {}
        for pk, seq, op, cents in all_rows:
            cur = best.get(pk)
            if cur is None or (seq, op) > (cur[0], cur[1]):
                best[pk] = (seq, op, cents)
        return {
            pk: (seq, cents)
            for pk, (seq, op, cents) in best.items()
            if op != "D"
        }

    def _run_once(self, spark, src, sink, chk):
        from cassowary_spark.streaming.jobs import cdc_merge_stream

        q = cdc_merge_stream(spark, str(src), str(sink), str(chk))
        q.awaitTermination(120)
        assert not q.isActive

    def test_exactly_once_merge_across_restart(self, spark, tmp_path):
        """Batch 1 inserts + updates; the query stops; batch 2 (more
        updates + deletes) arrives; a restarted query (same checkpoint)
        must produce the same final state as a single batch replay of
        the whole log — per-key latest-wins, deletes drop rows, no
        double-application of batch 1."""
        from cassowary_spark.streaming.jobs import read_cdc_sink

        src = tmp_path / "cdc"
        src.mkdir()
        sink, chk = tmp_path / "sink", tmp_path / "chk"
        b1 = [(k, 1, "I", 100 * k) for k in range(1, 8)] + [
            (3, 2, "U", 999),
            (5, 2, "U", 555),
        ]
        self._add_cdc(src, "b1.parquet", b1)
        self._run_once(spark, src, sink, chk)
        state1 = {
            r.pk: (r.seq, r.cents)
            for r in read_cdc_sink(spark, str(sink)).collect()
        }
        assert state1 == self._reference_apply(b1)
        assert state1[3] == (2, 999) and state1[1] == (1, 100)

        b2 = [(3, 3, "D", 0), (1, 2, "U", 111), (9, 1, "I", 900)]
        self._add_cdc(src, "b2.parquet", b2)
        self._run_once(spark, src, sink, chk)
        state2 = {
            r.pk: (r.seq, r.cents)
            for r in read_cdc_sink(spark, str(sink)).collect()
        }
        assert state2 == self._reference_apply(b1 + b2)
        assert 3 not in state2  # the delete won
        assert state2[1] == (2, 111) and state2[9] == (1, 900)

    def test_replay_is_idempotent(self, spark, tmp_path):
        """Re-applying an already-absorbed batch must be a no-op:
        latest-wins over (seq, op) makes the merge idempotent, which is
        what turns at-least-once batch delivery into exactly-once
        sink state."""
        from cassowary_spark.streaming.jobs import read_cdc_sink

        src = tmp_path / "cdc"
        src.mkdir()
        sink = tmp_path / "sink"
        rows = [(1, 1, "I", 10), (2, 1, "I", 20), (2, 2, "D", 0)]
        self._add_cdc(src, "b.parquet", rows)
        # two separate checkpoints -> the second run REPLAYS the batch
        self._run_once(spark, src, sink, tmp_path / "chk1")
        s1 = sorted(
            map(tuple, read_cdc_sink(spark, str(sink)).collect())
        )
        self._run_once(spark, src, sink, tmp_path / "chk2")
        s2 = sorted(
            map(tuple, read_cdc_sink(spark, str(sink)).collect())
        )
        assert s1 == s2 == [(1, 1, 10)]
