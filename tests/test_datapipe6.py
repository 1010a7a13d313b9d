"""Planted-input tests for the wave-6 operators (C67 URL parse, C70
attribution, A22 CDC apply, C69 token entropy, C71 decayed score, B49
skyline, A21 XML ingest) — the semantics oracle parity can't pin
down: attribution must credit the RIGHT touch (not just some touch),
CDC replay must respect sequence order and delete-wins, the skyline's
local prune must be lossless vs the naive O(n²) definition, entropy
must hit closed forms, and XML must survive markup-hostile text.
"""

from __future__ import annotations

import datetime as dt
import math

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
    """rows = (event_id, user_id, minutes, event_type, value)."""
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [base + dt.timedelta(minutes=r[2]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([float(r[4]) for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def _write_orders(tmp_path, rows):
    """rows = (o_orderkey, status, totalprice, date)."""
    tbl = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([0] * len(rows), pa.int64()),
            "o_orderstatus": pa.array([r[1] for r in rows], pa.string()),
            "o_totalprice": pa.array([float(r[2]) for r in rows], pa.float64()),
            "o_orderdate": pa.array(
                [dt.datetime(*r[3]) for r in rows], pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(["1-URGENT"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "orders.parquet"))
    return str(tmp_path)


class TestAttribution:
    def test_credits_most_recent_touch_only(self, spark, tmp_path):
        """view@0 < click@5 < purchase@10 → click gets the credit;
        a later view@20 must NOT claim the earlier purchase, and a
        touchless user's purchase lands in __none__."""
        sf = _write_events(
            tmp_path,
            [
                (0, 1, 0, "view", 0.0),
                (1, 1, 5, "click", 0.0),
                (2, 1, 10, "purchase", 10.0),
                (3, 1, 20, "view", 0.0),
                (4, 2, 0, "purchase", 7.0),  # organic: no prior touch
                (5, 3, 0, "purchase", 1.0),  # another user's view@5 is later
                (6, 3, 5, "view", 0.0),
            ],
        )
        out = {
            r["touch_type"]: (r["n_purchases"], r["value_cents"])
            for r in QUERIES["q_attribution"](spark, sf).collect()
        }
        assert out == {"click": (1, 1000), "__none__": (2, 800)}

    def test_touch_never_crosses_users(self, spark, tmp_path):
        """User 1's click must not attribute user 2's purchase."""
        sf = _write_events(
            tmp_path,
            [(0, 1, 0, "click", 0.0), (1, 2, 5, "purchase", 3.0)],
        )
        out = {
            r["touch_type"]: r["n_purchases"]
            for r in QUERIES["q_attribution"](spark, sf).collect()
        }
        assert out == {"__none__": 1}


class TestCdcApply:
    def test_sequence_order_and_delete_wins(self, spark, tmp_path):
        """Key 7: update applies (price + 123.45). Key 13: delete wins
        over its insert. Key 91 (7·13): BOTH update and delete target
        it — the seq-3 delete must beat the seq-2 update. Key 1:
        untouched insert survives verbatim."""
        sf = _write_orders(
            tmp_path,
            [
                (1, "O", 100.00, (2024, 1, 1)),
                (7, "O", 200.00, (2024, 1, 2)),
                (13, "F", 300.00, (2024, 1, 3)),
                (91, "F", 400.00, (2024, 1, 4)),
            ],
        )
        out = {
            r["status"]: (r["n_rows"], r["price_cents_sum"])
            for r in QUERIES["q_cdc_apply"](spark, sf).collect()
        }
        # O: key 1 (10000) + key 7 (20000 + 12345); F: both deleted
        assert out == {"O": (2, 42345)}


class TestSkyline:
    def test_matches_naive_quadratic_definition(self, spark, tmp_path):
        """Hand frontier: (300, late) and (500, early) survive;
        (200, mid) is dominated by (300, late); equal-price points
        never dominate each other; the max-price point always
        survives. Cross-checked against the naive O(n²) filter."""
        pts = [
            (1, "O", 5.00, (2024, 1, 10)),  # 500c, day d3  (max price)
            (2, "O", 3.00, (2024, 1, 20)),  # 300c, day d2  (later date)
            (3, "O", 2.00, (2024, 1, 15)),  # 200c, dominated by key 2
            (4, "O", 3.00, (2024, 1, 12)),  # ties key 2 on price, later
            # than key 1's date: kept (equal price never dominates)
            (5, "O", 0.50, (2024, 1, 25)),  # cheapest but latest: kept
        ]
        sf = _write_orders(tmp_path, pts)
        rows = QUERIES["q_skyline"](spark, sf).collect()
        got = sorted(r["o_orderkey"] for r in rows)
        days = {
            r[0]: (round(r[2] * 100), dt.date(*r[3]).toordinal())
            for r in pts
        }
        naive = sorted(
            k
            for k, (p, d) in days.items()
            if not any(
                p2 > p and d2 > d for k2, (p2, d2) in days.items() if k2 != k
            )
        )
        assert got == naive == [1, 2, 4, 5]

    def test_local_prune_is_lossless_vs_naive(self, spark, tmp_path):
        """120 deterministic pseudo-random points spanning many price
        buckets: the two-phase (bucket-pruned) skyline must equal the
        naive quadratic answer exactly."""
        import hashlib

        pts = []
        for i in range(120):
            h = int(hashlib.md5(f"sky{i}".encode()).hexdigest()[:8], 16)
            price = (h % 5000000) / 100.0 + 1.0  # up to $50k: ~5 prune buckets
            day = (h // 5000000) % 360 + 1
            d = dt.date(2024, 1, 1) + dt.timedelta(days=day - 1)
            pts.append((i, "O", price, (d.year, d.month, d.day)))
        sf = _write_orders(tmp_path, pts)
        rows = QUERIES["q_skyline"](spark, sf).collect()
        got = sorted(r["o_orderkey"] for r in rows)
        days = {
            r[0]: (round(r[2] * 100), dt.date(*r[3]).toordinal())
            for r in pts
        }
        naive = sorted(
            k
            for k, (p, d) in days.items()
            if not any(
                p2 > p and d2 > d for k2, (p2, d2) in days.items() if k2 != k
            )
        )
        assert got == naive and len(got) >= 2


class TestTokenEntropy:
    def test_closed_forms(self, spark, tmp_path):
        """Uniform 2-type doc → ln 2; single-type doc → 0; the
        alternating doc that defeats bigram-repetition scoring still
        scores minimal entropy for its length."""
        sf = _write_docs(
            tmp_path,
            [
                (0, "a a b b", "en", "s0"),
                (1, "x x x x x", "en", "s0"),
                (2, "a b a b a b", "en", "s0"),
            ],
        )
        out = {
            r["doc_id"]: (r["n_toks"], r["n_types"], r["entropy"])
            for r in QUERIES["q_token_entropy"](spark, sf).collect()
        }
        assert out[0][0] == 4 and out[0][1] == 2
        assert abs(out[0][2] - math.log(2)) < 1e-3
        assert out[1] == (5, 1, 0.0)
        assert abs(out[2][2] - math.log(2)) < 1e-3


class TestUrlParse:
    def test_parse_recovers_synthesized_fields(self, spark, tmp_path):
        """Two sources, known ids: host grouping, path distincts, and
        the page>=5 bucket must match hand counts (ids 3 and 7 →
        pages 3 and 7 → exactly one hi-page per host)."""
        sf = _write_docs(
            tmp_path,
            [
                (3, "t", "en", "alpha"),
                (13, "t", "de", "alpha"),
                (7, "t", "en", "beta"),
                (27, "t", "en", "beta"),
            ],
        )
        out = {
            r["host"]: (r["n_docs"], r["n_paths"], r["n_hi_pages"])
            for r in QUERIES["q_url_parse"](spark, sf).collect()
        }
        assert out == {
            "alpha.example.org": (2, 2, 0),  # pages 3 and 3
            "beta.example.org": (2, 2, 2),   # pages 7 and 7
        }


class TestDecayedScore:
    def test_halflife_weights_exact(self, spark, tmp_path):
        """An event exactly one half-life (7 days) before the anchor
        weighs 500000/1e6; at the anchor date, 1e6; weighted value
        = weight × cents, all integer-exact."""
        base = dt.datetime(2024, 1, 1, 12, 0, 0)
        anchor = dt.datetime(2024, 3, 1)
        off7 = int((anchor - dt.timedelta(days=7) - base).total_seconds() // 60)
        off0 = int((anchor - base).total_seconds() // 60)
        sf = _write_events(
            tmp_path,
            [(0, 1, off7, "view", 2.0), (1, 1, off0, "view", 3.0)],
        )
        out = {
            r["event_type"]: (r["n_events"], r["score_e6"], r["wvalue"])
            for r in QUERIES["q_decayed_score"](spark, sf).collect()
        }
        # day-resolution ages: 7 and 0 days → weights 500000 and 1000000
        assert out == {"view": (2, 1500000, 500000 * 200 + 1000000 * 300)}


class TestXmlIngest:
    def test_round_trip_survives_markup_hostile_text(self, spark, tmp_path, tmp_fixture_cache):
        """Text containing <, >, &, quotes, and a ]]> must come back
        byte-identical through the XML writer/reader pair."""
        hostile = 'a <b> & "quoted" </b> ]]> done'
        sf = _write_docs(
            tmp_path,
            [(0, hostile, "en", "s0"), (1, "plain words here", "de", "s1")],
        )
        out = {
            r["lang"]: (r["n_docs"], r["text_len_sum"], r["n_distinct_texts"])
            for r in QUERIES["q_xml_ingest"](spark, sf).collect()
        }
        assert out == {
            "en": (1, len(hostile), 1),
            "de": (1, len("plain words here"), 1),
        }
