"""Planted-input tests for the second-wave operators (C65, C66, C68,
A14) — semantics oracle parity can't pin down: negative sampling must
be balanced and self-pair-free with small languages excluded, the BPE
round trip must learn the hand-derivable merges and hit the exact
compression, EWMA must renormalize short history, and the corrupt CSV
reader must quarantine without eating neighbors.
"""

from __future__ import annotations

import collections
import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from cassowary_spark import registry
from cassowary_spark.registry import QUERIES

registry.load_all()


def _write_docs(tmp_path, rows):
    """rows = (doc_id, text, lang, source)."""
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _write_events(tmp_path, rows):
    """rows = (event_id, user_id, value)."""
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [base + dt.timedelta(minutes=r[0]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([float(r[2]) for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    return str(tmp_path)


class TestNegativePairs:
    def test_balanced_no_self_small_lang_excluded(self, spark, tmp_path):
        """5-doc language: every anchor gets k=3 distinct negatives,
        never itself, and ring-shifting uses every doc as a negative
        exactly 3 times. A 2-doc language (n ≤ k) is excluded."""
        sf = _write_docs(
            tmp_path,
            [(i, f"text {i}", "en", f"s{i % 2}") for i in range(5)]
            + [(10, "tiny a", "zz", "s0"), (11, "tiny b", "zz", "s1")],
        )
        out = QUERIES["q_negative_pairs"](spark, sf).collect()
        assert all(r["anchor_id"] < 10 for r in out), "small lang must drop"
        per_anchor = collections.defaultdict(set)
        neg_usage = collections.Counter()
        for r in out:
            assert r["neg_id"] != r["anchor_id"], "self-pair"
            per_anchor[r["anchor_id"]].add(r["neg_id"])
            neg_usage[r["neg_id"]] += 1
        assert set(per_anchor) == set(range(5))
        assert all(len(v) == 3 for v in per_anchor.values())
        assert all(neg_usage[i] == 3 for i in range(5)), "ring must balance"


class TestBpeEncode:
    def test_hand_derivable_merges(self, spark, tmp_path):
        """Corpus of one word 'abcd': merges must cascade
        (a,b)→(ab,c)→(abc,d) by the lex tie-break, so every word
        encodes to ONE token — compression exactly 1/4."""
        sf = _write_docs(
            tmp_path,
            [(i, "abcd abcd abcd", "en", "s0") for i in range(4)],
        )
        out = QUERIES["q_bpe_encode"](spark, sf).collect()
        assert len(out) == 1
        r = out[0]
        assert r["n_words"] == 12
        assert r["n_char_tokens"] == 48
        assert r["n_bpe_tokens"] == 12, "each word must merge to 1 token"
        assert abs(r["compression"] - 0.25) < 1e-9


class TestEwma:
    def test_short_history_renormalizes(self, spark, tmp_path):
        """First event: ewma = value exactly (weights renormalize);
        second: (8·v2+4·v1)/12; depth caps at 4 events."""
        sf = _write_events(
            tmp_path, [(1, 7, 1.0), (2, 7, 2.0), (3, 7, 3.0),
                       (4, 7, 4.0), (5, 7, 5.0)]
        )
        out = {
            r["event_id"]: r["ewma"]
            for r in QUERIES["q_ewma_value"](spark, sf).collect()
        }
        assert abs(out[1] - 1.0) < 1e-9
        assert abs(out[2] - (8 * 2 + 4 * 1) / 12.0) < 1e-6
        assert abs(out[3] - (8 * 3 + 4 * 2 + 2 * 1) / 14.0) < 1e-6
        assert abs(out[4] - (8 * 4 + 4 * 3 + 2 * 2 + 1) / 15.0) < 1e-6
        # event 5 drops v1 entirely — window depth is 4, not "all"
        assert abs(out[5] - (8 * 5 + 4 * 4 + 2 * 3 + 2) / 15.0) < 1e-6


class TestCsvCorrupt:
    def test_quarantine_does_not_eat_neighbors(self, spark, tmp_path, tmp_fixture_cache):
        """With bad lines planted mid-file, every clean row must
        survive (count + id checksum) and exactly the planted lines
        quarantine."""
        rows = [(i, f"w{i}", "en", "s0") for i in range(10)]
        sf = _write_docs(tmp_path, rows)
        out = QUERIES["q_csv_corrupt"](spark, sf).collect()[0]
        assert out["n_good"] == 10
        assert out["n_corrupt"] == 3
        assert out["sum_ids"] == sum(range(10))


class TestCoverageCurve:
    def test_planted_marginal_gains(self, spark, tmp_path):
        """src0={a,b}, src1={b,c}, src2={a} → gains 2,1,0; the
        zero-gain source still appears with its cumulative."""
        sf = _write_docs(
            tmp_path,
            [
                (1, "a b", "en", "src0"),
                (2, "b c", "en", "src1"),
                (3, "a", "en", "src2"),
            ],
        )
        out = {
            r["src_rank"]: r
            for r in QUERIES["q_coverage_curve"](spark, sf).collect()
        }
        assert out[0]["n_new_terms"] == 2 and out[0]["cum_terms"] == 2
        assert out[1]["n_new_terms"] == 1 and out[1]["cum_terms"] == 3
        # src2 contributes nothing new -> no first_seen row for it
        assert 2 not in out

    def test_curve_totals_match_vocab(self, spark, sf_dir):
        """The last cumulative must equal the corpus's distinct-term
        count — the curve partitions the vocabulary exactly."""
        rows = QUERIES["q_coverage_curve"](spark, sf_dir).collect()
        total = sum(r["n_new_terms"] for r in rows)
        assert rows and max(r["cum_terms"] for r in rows) == total


class TestUserCadence:
    def test_planted_gaps(self, spark, tmp_path):
        """Gaps 60s,120s,600s: median 120, p90 = linear interp
        between 120 and 600 at 0.8 of the way: 120+0.8*480=504."""
        sf = _write_events(
            tmp_path, [(0, 5, 1.0), (1, 5, 1.0), (3, 5, 1.0), (13, 5, 1.0)]
        )
        out = QUERIES["q_user_cadence"](spark, sf).collect()
        assert len(out) == 1
        r = out[0]
        assert r["n_gaps"] == 3
        assert abs(r["median_gap_s"] - 120.0) < 1e-9
        assert abs(r["p90_gap_s"] - 504.0) < 1e-9
        assert r["max_gap_s"] == 600


class TestSchemaMerge:
    def test_old_files_null_new_column(self, spark, sf_dir):
        """Every language must show n_rows == 2 × n_with_chars: the
        old generation lacks the evolved column entirely."""
        out = QUERIES["q_schema_merge"](spark, sf_dir).collect()
        assert out
        for r in out:
            assert r["n_rows"] == 2 * r["n_with_chars"]


def _write_lineitem(tmp_path, rows):
    """rows = (orderkey, quantity, extendedprice, discount, tax)."""
    tbl = pa.table(
        {
            "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_partkey": pa.array([1] * len(rows), pa.int64()),
            "l_suppkey": pa.array([1] * len(rows), pa.int64()),
            "l_linenumber": pa.array(list(range(len(rows))), pa.int32()),
            "l_quantity": pa.array([float(r[1]) for r in rows], pa.float64()),
            "l_extendedprice": pa.array(
                [float(r[2]) for r in rows], pa.float64()
            ),
            "l_discount": pa.array([float(r[3]) for r in rows], pa.float64()),
            "l_tax": pa.array([float(r[4]) for r in rows], pa.float64()),
            "l_returnflag": pa.array(["N"] * len(rows), pa.string()),
            "l_linestatus": pa.array(["O"] * len(rows), pa.string()),
            "l_shipdate": pa.array(
                [dt.datetime(1996, 1, 1)] * len(rows), pa.timestamp("ms")
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


class TestSkewStats:
    def test_planted_hot_key(self, spark, tmp_path):
        """A user holding 6 of 10 rows must top the report with a 60%
        share; equal-count keys order by user_id."""
        rows = [(i, 99, 1.0) for i in range(6)]  # hot user 99
        rows += [(6, 1, 1.0), (7, 2, 1.0), (8, 3, 1.0), (9, 4, 1.0)]
        sf = _write_events(tmp_path, rows)
        out = QUERIES["q_skew_stats"](spark, sf).collect()
        assert out[0]["user_id"] == 99
        assert out[0]["cnt"] == 6
        assert abs(out[0]["share_pct"] - 60.0) < 1e-9
        # singleton keys tie → user_id ascending
        assert [r["user_id"] for r in out[1:]] == [1, 2, 3, 4]


class TestProfileStats:
    def test_planted_exact_profile(self, spark, tmp_path):
        """Hand-computable column battery: counts, distincts, min/max,
        mean over four planted rows."""
        sf = _write_lineitem(
            tmp_path,
            [
                (1, 10.0, 100.0, 0.0, 0.01),
                (2, 20.0, 200.0, 0.1, 0.01),
                (3, 20.0, 300.0, 0.2, 0.01),
                (4, 30.0, 400.0, 0.3, 0.01),
            ],
        )
        out = {
            r["col_name"]: r
            for r in QUERIES["q_profile_stats"](spark, sf).collect()
        }
        q = out["l_quantity"]
        assert (q["n_rows"], q["n_nonnull"], q["n_distinct"]) == (4, 4, 3)
        assert (q["min_val"], q["max_val"], q["mean_val"]) == (10.0, 30.0, 20.0)
        d = out["l_discount"]
        assert d["n_distinct"] == 4 and abs(d["mean_val"] - 0.15) < 1e-9
        t = out["l_tax"]
        assert t["n_distinct"] == 1 and t["min_val"] == t["max_val"] == 0.01


class TestCentroidAffinity:
    def test_planted_orthogonal_and_identical(self, spark, tmp_path):
        """Two labels on orthogonal axes → cosine 0; a label whose
        centroid duplicates another's → cosine 1; the 45° label lands
        at 1/√2. Upper triangle only (label_a < label_b)."""
        import math

        def vec(axis, n=8):
            v = [0.0] * n
            for a in axis:
                v[a] = 1.0
            return v

        rows = [
            (1, vec([0]), 0), (2, vec([0]), 0),      # centroid = e0
            (3, vec([1]), 1), (4, vec([1]), 1),      # centroid = e1
            (5, vec([0]), 2), (6, vec([0]), 2),      # centroid = e0 again
            (7, vec([0, 1]), 3),                     # 45° between e0,e1
        ]
        tbl = pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float32())
                ),
                "label": pa.array([r[2] for r in rows], pa.int32()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
        out = {
            (r["label_a"], r["label_b"]): r["cos_ab"]
            for r in QUERIES["q_centroid_affinity"](spark, str(tmp_path)).collect()
        }
        assert len(out) == 6  # C(4,2) upper triangle
        assert all(a < b for a, b in out)
        assert abs(out[(0, 1)] - 0.0) < 1e-6
        assert abs(out[(0, 2)] - 1.0) < 1e-6
        assert abs(out[(1, 2)] - 0.0) < 1e-6
        assert abs(out[(0, 3)] - 1 / math.sqrt(2)) < 1e-4
