"""Planted gates for wave 47: q_write_audit_publish (A32)."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from cassowary_spark import registry
from cassowary_spark.registry import QUERIES

registry.load_all()


def _write_orders(tmp_path, rows):
    """rows = [(o_orderkey, o_orderstatus, o_totalprice)]"""
    tbl = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([1] * len(rows), pa.int64()),
            "o_orderstatus": pa.array([r[1] for r in rows], pa.string()),
            "o_totalprice": pa.array([r[2] for r in rows], pa.float64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "orders.parquet"))
    return str(tmp_path)


class TestWriteAuditPublish:
    def _build(self, spark, tmp_path):
        rows = [(i, "O" if i % 3 else "F", 10.0 + i) for i in range(1, 60)]
        sf = _write_orders(tmp_path, rows)
        from cassowary_spark.queries.datapipe45 import ensure_wap_lake

        return sf, ensure_wap_lake(spark, sf), rows

    def test_poison_rejected_and_logged(self, spark, tmp_path, tmp_fixture_cache):
        sf, d, _ = self._build(spark, tmp_path)
        log = json.load(open(d["audit"]))
        by_snap = {e["snapshot"]: e for e in log}
        assert by_snap["bad"]["passed"] is False
        assert by_snap["bad"]["checks"]["no_null_keys"] is False
        assert by_snap["v1"]["passed"] and by_snap["v2"]["passed"]

    def test_pointer_serves_v2_content(self, spark, tmp_path, tmp_fixture_cache):
        sf, d, rows = self._build(spark, tmp_path)
        with open(d["ptr"]) as f:
            assert f.read().strip() == "snap_v2"
        got = {
            r.status: (r.n_rows, r.cents_sum)
            for r in QUERIES["q_write_audit_publish"](spark, sf).collect()
        }
        expect = {}
        for k, st, price in rows:
            if k % 17 != 0:
                n, c = expect.get(st, (0, 0))
                expect[st] = (n + 1, c + round(price * 100))
        assert got == expect

    def test_poison_rows_never_visible(self, spark, tmp_path, tmp_fixture_cache):
        """At no published version do NULL keys appear — the defining
        WAP property (failure = invisibility)."""
        sf, d, _ = self._build(spark, tmp_path)
        from cassowary_spark.queries.datapipe45 import read_published

        pub = read_published(spark, sf)
        assert pub.filter(pub.o_orderkey.isNull()).count() == 0

    def test_audit_catches_each_violation_class(self, spark):
        from cassowary_spark.queries.datapipe45 import audit_candidate

        base = spark.createDataFrame(
            [(1, "O", 100), (2, "O", 200)],
            "o_orderkey long, o_orderstatus string, cents long",
        )
        assert audit_candidate(base)["passed"]
        dup = base.union(base.limit(1))
        a = audit_candidate(dup)
        assert not a["passed"] and not a["checks"]["unique_keys"]
        neg = spark.createDataFrame(
            [(1, "O", -5)],
            "o_orderkey long, o_orderstatus string, cents long",
        )
        a = audit_candidate(neg)
        assert not a["passed"] and not a["checks"]["no_negative_amounts"]
        empty = base.filter("o_orderkey < 0")
        a = audit_candidate(empty)
        assert not a["passed"] and not a["checks"]["non_empty"]

    def test_idempotent_rerun(self, spark, tmp_path, tmp_fixture_cache):
        sf, d, _ = self._build(spark, tmp_path)
        a = sorted(map(tuple, QUERIES["q_write_audit_publish"](spark, sf).collect()))
        b = sorted(map(tuple, QUERIES["q_write_audit_publish"](spark, sf).collect()))
        assert a == b
        # the audit log did not grow on replay
        log = json.load(open(d["audit"]))
        assert len(log) == 3
