"""Planted-input tests for wave 26 (C140-C141): an exact linear
series recovered perfectly by Theil-Sen, outlier robustness (one wild
day moves least-squares but not the median slope), and a Python
replication of the pairwise pipeline; Mann-Kendall on a strictly
increasing series (S = all pairs), an all-tied series (S = 0, var 0),
and a Python replication with tie correction.
"""

from __future__ import annotations

import datetime as dt
import math

import pyarrow as pa
import pyarrow.parquet as pq

from cassowary_spark import registry
from cassowary_spark.registry import QUERIES

registry.load_all()


def _srnd(x: float, n: int) -> float:
    s = float(10**n)
    return math.floor(x * s + 0.5) / s


def _write_orders(tmp_path, day_revs):
    rows = [
        (i + 1, 1, "O", float(r), d) for i, (d, r) in enumerate(day_revs)
    ]
    tbl = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
            "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
            "o_totalprice": pa.array([r[3] for r in rows], pa.float64()),
            "o_orderdate": pa.array(
                [r[4] for r in rows], pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(
                ["1-URGENT"] * len(rows), pa.string()
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def _mk_days(revs, start=dt.datetime(2024, 2, 1)):
    return [(start + dt.timedelta(days=i), r) for i, r in enumerate(revs)]


def _py_theil_sen(pts):
    """pts = [(d, rev)]; replicate lower-median pairwise pipeline."""
    slopes = sorted(
        (y2 - y1) / (x2 - x1)
        for i, (x1, y1) in enumerate(pts)
        for (x2, y2) in pts[i + 1:]
    )
    m = slopes[(len(slopes) + 1) // 2 - 1]
    resid = sorted(y - m * x for x, y in pts)
    b = resid[(len(resid) + 1) // 2 - 1]
    return len(slopes), _srnd(m, 6), _srnd(b, 6)


def _py_mann_kendall(revs):
    n = len(revs)
    s = sum(
        (1 if b > a else -1 if b < a else 0)
        for i, a in enumerate(revs)
        for b in revs[i + 1:]
    )
    from collections import Counter

    tie18 = sum(
        t * (t - 1) * (2 * t + 5)
        for t in Counter(revs).values()
        if t > 1
    )
    var18 = n * (n - 1) * (2 * n + 5) - tie18
    var = var18 / 18.0
    if s > 0:
        z = (s - 1.0) / math.sqrt(var)
    elif s < 0:
        z = (s + 1.0) / math.sqrt(var)
    else:
        z = 0.0
    return s, _srnd(var, 6), _srnd(z, 6)


class TestTheilSen:
    def test_exact_line_outlier_robustness_and_python(
        self, spark, tmp_path
    ):
        """y = 5d + 20 exactly -> slope 5, intercept 20. One wild
        outlier day leaves the median slope at exactly 5 (the
        breakdown property least-squares lacks). A rough series
        matches the Python replication."""
        # exact line over day indices; day index is from 1992-01-01,
        # so intercept reflects that large offset — use the python
        # reference (which uses the same absolute indices) throughout
        base = dt.datetime(2024, 2, 1)
        d0 = (base - dt.datetime(1992, 1, 1)).days
        revs = [5 * (d0 + i) + 20 for i in range(9)]
        sf = _write_orders(tmp_path, _mk_days(revs, base))
        out = QUERIES["q_theil_sen"](spark, sf).collect()[0]
        assert out["n_pairs"] == 36
        assert out["ts_slope"] == 5.0
        assert out["ts_intercept"] == 20.0

        d2 = tmp_path / "outlier"
        d2.mkdir()
        revs2 = list(revs)
        revs2[4] = 10_000_000  # one wild day
        sf2 = _write_orders(d2, _mk_days(revs2, base))
        out2 = QUERIES["q_theil_sen"](spark, sf2).collect()[0]
        assert out2["ts_slope"] == 5.0  # median slope unmoved

        d3 = tmp_path / "rough"
        d3.mkdir()
        revs3 = [103, 95, 130, 122, 118, 140, 160, 133]
        sf3 = _write_orders(d3, _mk_days(revs3, base))
        out3 = QUERIES["q_theil_sen"](spark, sf3).collect()[0]
        pts = [(d0 + i, r) for i, r in enumerate(revs3)]
        n_pairs, m, b = _py_theil_sen(pts)
        assert out3["n_pairs"] == n_pairs
        assert out3["ts_slope"] == m
        assert out3["ts_intercept"] == b

    def test_oracle_parity_holds_without_a_shared_persist(
        self, spark, sf_dir, duck, monkeypatch
    ):
        """A pair's rank bucket is a function of its slope, so the
        local-rank and bucket-offset consumers agree even when each
        recomputes the pairs (persist disabled) — at 3 shuffle
        partitions, with AQE off and on."""
        from cassowary_spark.oracle import compare
        from cassowary_spark.queries import datapipe24

        monkeypatch.setattr(datapipe24, "persist", lambda df: df)
        keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
        before = {k: spark.conf.get(k) for k in keys}
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            for aqe in ("false", "true"):
                spark.conf.set("spark.sql.adaptive.enabled", aqe)
                compare(
                    QUERIES["q_theil_sen"](spark, sf_dir),
                    registry.ORACLES["q_theil_sen"],
                    duck,
                    "q_theil_sen",
                )
        finally:
            for k, v in before.items():
                spark.conf.set(k, v)


class TestMannKendall:
    def test_monotone_tied_and_python(self, spark, tmp_path):
        """Strictly increasing -> S = n_pairs; all-tied -> S = 0 with
        zero variance; a rough series with ties matches the Python
        replication including tie correction."""
        revs = [10, 20, 30, 40, 50, 60]
        sf = _write_orders(tmp_path, _mk_days(revs))
        out = QUERIES["q_mann_kendall"](spark, sf).collect()[0]
        assert out["mk_s"] == out["n_pairs"] == 15
        s, var, z = _py_mann_kendall(revs)
        assert (out["var_s"], out["z"]) == (var, z)

        d2 = tmp_path / "tied"
        d2.mkdir()
        sf2 = _write_orders(d2, _mk_days([7, 7, 7, 7, 7]))
        out2 = QUERIES["q_mann_kendall"](spark, sf2).collect()[0]
        assert out2["mk_s"] == 0
        assert out2["var_s"] == 0.0 and out2["z"] == 0.0

        d3 = tmp_path / "rough"
        d3.mkdir()
        revs3 = [5, 9, 9, 3, 12, 12, 12, 8, 15]
        sf3 = _write_orders(d3, _mk_days(revs3))
        out3 = QUERIES["q_mann_kendall"](spark, sf3).collect()[0]
        s3, var3, z3 = _py_mann_kendall(revs3)
        assert out3["mk_s"] == s3
        assert (out3["var_s"], out3["z"]) == (var3, z3)
