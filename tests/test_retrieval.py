"""Planted-input tests for the retrieval layer (C61-C64, A13, B47) —
semantics fixture-wide oracle parity can't pin down: BM25 must reward
term frequency and multi-term matches but penalize document length,
RRF must equal its closed form on known ranks, source overlap must
report exactly the planted intersections, the trailing-7-day window
must drop a user active 7+ days earlier, and binary ingest must count
BYTES (not characters) for multibyte text.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from cassowary_spark import registry
from cassowary_spark.registry import QUERIES

registry.load_all()


def _write_docs(tmp_path, rows):
    """rows = (doc_id, text, source)."""
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _write_events(tmp_path, rows):
    """rows = (event_id, day, user_id)."""
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [base + dt.timedelta(days=r[1] - 1) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    return str(tmp_path)


class TestBM25Semantics:
    def test_tf_length_and_coverage_ordering(self, spark, tmp_path):
        """Same length: more hits rank higher; two matched terms beat
        one; same tf: the longer document is penalized."""
        sf = _write_docs(
            tmp_path,
            [
                (1, "hash hash hash pad", "s"),          # tf=3, dl=4
                (2, "hash pad pad pad", "s"),            # tf=1, dl=4
                (3, "hash join pad pad", "s"),           # 2 terms, dl=4
                (4, "hash pad pad pad pad pad pad pad", "s"),  # tf=1, dl=8
                (5, "pad pad pad pad", "s"),             # no query terms
            ],
        )
        rows = {
            r["doc_id"]: r
            for r in QUERIES["q_bm25"](spark, sf).collect()
        }
        assert 5 not in rows, "unmatched doc must not score"
        assert rows[1]["bm25"] > rows[2]["bm25"], "tf must increase score"
        assert rows[3]["bm25"] > rows[2]["bm25"], "coverage must increase score"
        assert rows[2]["bm25"] > rows[4]["bm25"], "length must penalize"
        assert rows[3]["n_terms"] == 2 and rows[2]["n_terms"] == 1


class TestRankFusion:
    def test_rrf_closed_form(self, spark, sf_dir):
        """The fused score must equal 1/(60+r_len)+1/(60+r_tf) for the
        ranks the query itself reports, and ranks must be complete
        permutations."""
        out = QUERIES["q_rank_fusion"](spark, sf_dir).collect()
        assert out, "fusion returned nothing"
        for r in out:
            expect = 1.0 / (60 + r["r_len"]) + 1.0 / (60 + r["r_tf"])
            q = int(expect * 1e8 + 0.5) / 1e8
            assert abs(r["rrf"] - q) < 1e-12, (r, q)
        scores = [r["rrf"] for r in out]
        assert scores == sorted(scores, reverse=True)


class TestSourceOverlap:
    def test_planted_intersections(self, spark, tmp_path):
        """srcA={a,b,c}, srcB={b,c,d} share 2 of 4; srcC={x,y} shares
        nothing and must not appear in any pair."""
        sf = _write_docs(
            tmp_path,
            [
                (1, "a b c", "srcA"),
                (2, "b c d", "srcB"),
                (3, "x y", "srcC"),
            ],
        )
        out = QUERIES["q_source_overlap"](spark, sf).collect()
        assert len(out) == 1
        row = out[0]
        assert (row["src_a"], row["src_b"]) == ("srcA", "srcB")
        assert row["n_common"] == 2
        assert abs(row["jaccard"] - 0.5) < 1e-9


class TestRollingDistinct:
    def test_window_boundary(self, spark, tmp_path):
        """User 1 active on day 1 counts toward day 7's WAU (7-6=1)
        but NOT day 8's; DAU counts only the exact day."""
        sf = _write_events(
            tmp_path,
            [
                (1, 1, 1),
                (2, 7, 2),
                (3, 8, 3),
            ],
        )
        out = {
            r["day"]: r
            for r in QUERIES["q_rolling_distinct"](spark, sf).collect()
        }
        assert out["2024-01-07"]["wau_7d"] == 2  # users 1 and 2
        assert out["2024-01-07"]["dau"] == 1     # user 2 only
        assert out["2024-01-08"]["wau_7d"] == 2  # users 2 and 3 — NOT 1
        assert out["2024-01-08"]["dau"] == 1


class TestBinaryIngest:
    def test_multibyte_bytes_not_chars(self, spark, tmp_path, tmp_fixture_cache):
        """A doc with multibyte UTF-8 must report its byte length."""
        text = "héllo pad"  # 9 chars, 10 bytes
        sf = _write_docs(tmp_path, [(7, text, "s")])
        out = QUERIES["q_binary_ingest"](spark, sf).collect()
        assert len(out) == 1
        assert out[0]["doc_id"] == 7
        assert out[0]["n_bytes"] == len(text.encode("utf-8")) == 10


class TestTpchInvariants:
    def test_q1_partitions_the_filtered_scan(self, spark, sf_dir, duck):
        """Q1's group counts must partition the date-filtered fact
        table exactly, and discounting can only reduce revenue."""
        out = QUERIES["q_tpch_q1"](spark, sf_dir).collect()
        total = duck.execute(
            "SELECT count(*) FROM lineitem"
            " WHERE l_shipdate <= TIMESTAMP '1998-09-02'"
        ).fetchone()[0]
        assert sum(r["count_order"] for r in out) == total
        for r in out:
            assert r["sum_disc_price"] <= r["sum_base_price"]
            assert r["sum_charge"] >= r["sum_disc_price"]

    def test_q18_threshold_edge(self, spark, tmp_path):
        """An order summing to exactly the threshold must be excluded;
        threshold+1 included."""
        orders = pa.table(
            {
                "o_orderkey": pa.array([10, 11], pa.int64()),
                "o_custkey": pa.array([1, 1], pa.int64()),
                "o_orderstatus": pa.array(["O", "O"], pa.string()),
                "o_totalprice": pa.array([100.0, 200.0], pa.float64()),
                "o_orderdate": pa.array(
                    [dt.datetime(1996, 1, 1)] * 2, pa.timestamp("us")
                ),
                "o_orderpriority": pa.array(["1-URGENT"] * 2, pa.string()),
            }
        )
        li = pa.table(
            {
                "l_orderkey": pa.array([10, 10, 11, 11], pa.int64()),
                "l_partkey": pa.array([1] * 4, pa.int64()),
                "l_suppkey": pa.array([1] * 4, pa.int64()),
                "l_linenumber": pa.array([1, 2, 1, 2], pa.int32()),
                "l_quantity": pa.array([100.0, 80.0, 100.0, 81.0], pa.float64()),
                "l_extendedprice": pa.array([1.0] * 4, pa.float64()),
                "l_discount": pa.array([0.0] * 4, pa.float64()),
                "l_tax": pa.array([0.0] * 4, pa.float64()),
                "l_returnflag": pa.array(["N"] * 4, pa.string()),
                "l_linestatus": pa.array(["O"] * 4, pa.string()),
                "l_shipdate": pa.array(
                    [dt.datetime(1996, 2, 1)] * 4, pa.timestamp("ms")
                ),
            }
        )
        cust = pa.table(
            {
                "c_custkey": pa.array([1], pa.int64()),
                "c_name": pa.array(["planted"], pa.string()),
                "c_nationkey": pa.array([0], pa.int32()),
                "c_acctbal": pa.array([0.0], pa.float64()),
                "c_mktsegment": pa.array(["BUILDING"], pa.string()),
            }
        )
        pq.write_table(orders, str(tmp_path / "orders.parquet"))
        pq.write_table(li, str(tmp_path / "lineitem.parquet"))
        pq.write_table(cust, str(tmp_path / "customer.parquet"))
        out = QUERIES["q_tpch_q18"](spark, str(tmp_path)).collect()
        assert [r["o_orderkey"] for r in out] == [11]
        assert out[0]["total_qty"] == 181
