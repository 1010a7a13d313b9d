"""The cache ledger (``cassowary_spark.caches``): every persist in the
package goes through it, a ``scope()`` releases only its own frames,
and each registry call releases what the previous call left.

Spark-free: the ledger only calls ``persist``/``unpersist`` on a frame
and reads its session's context handle, so a stand-in frame records
what happened to it.
"""

from __future__ import annotations

import os
import re
from types import SimpleNamespace

import pytest

from cassowary_spark import caches, registry

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "cassowary_spark"
)


class _Frame:
    def __init__(self, stopped: bool = False):
        self.cached = False
        self.sparkSession = SimpleNamespace(
            sparkContext=SimpleNamespace(_jsc=None if stopped else object())
        )

    def persist(self):
        self.cached = True
        return self

    def unpersist(self):
        if self.sparkSession.sparkContext._jsc is None:
            raise RuntimeError("unpersist on a stopped SparkContext")
        self.cached = False
        return self


@pytest.fixture(autouse=True)
def _empty_ledger():
    caches.release()
    yield
    caches.release()


def test_only_caches_module_persists():
    """Static guard for branches no test runs: a persist or cache call
    anywhere else in the package bypasses the ledger."""
    call = re.compile(r"\.persist\(|\.cache\(\)")
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(PKG, "caches.py"):
                continue
            with open(path) as f:
                for n, line in enumerate(f, 1):
                    if call.search(line):
                        offenders.append(f"{os.path.relpath(path, PKG)}:{n}")
    assert not offenders, offenders


def test_scope_releases_only_its_own_frames():
    outer = caches.persist(_Frame())
    with caches.scope():
        inner = caches.persist(_Frame())
        with caches.scope():
            innermost = caches.persist(_Frame())
        assert not innermost.cached
        assert inner.cached and outer.cached
    assert not inner.cached
    assert outer.cached
    caches.release()
    assert not outer.cached


def test_release_of_one_frame_keeps_the_rest():
    a, b = caches.persist(_Frame()), caches.persist(_Frame())
    caches.release(a)
    assert not a.cached and b.cached
    a.persist()
    caches.release()  # a is no longer registered: it stays cached
    assert a.cached and not b.cached


def test_release_skips_a_stopped_session():
    live, stopped = caches.persist(_Frame()), caches.persist(_Frame(stopped=True))
    caches.release()
    assert not live.cached and stopped.cached
    with caches.scope():
        caches.persist(_Frame(stopped=True))


def test_registry_call_releases_the_previous_calls_frames(monkeypatch):
    monkeypatch.setattr(registry, "QUERIES", {})
    monkeypatch.setattr(registry, "ORACLES", {})
    shipped = []
    monkeypatch.setattr(registry, "ship_package", shipped.append)
    a, b = _Frame(), _Frame()

    @registry.query("q_a")
    def q_a(spark, sf_dir):
        return caches.persist(a)

    @registry.query("q_b")
    def q_b(spark, sf_dir, approx=False):
        """doc"""
        return caches.persist(b) if approx else None

    assert registry.QUERIES["q_a"](None, "sf") is a and a.cached
    assert registry.QUERIES["q_b"](None, "sf", approx=True) is b
    assert not a.cached and b.cached
    assert registry.QUERIES["q_b"].__name__ == "q_b"
    assert registry.QUERIES["q_b"].__doc__ == "doc"
    registry.QUERIES["q_a"](None, "sf")
    assert not b.cached
    assert shipped == [None, None, None]  # every call ships to its session first
