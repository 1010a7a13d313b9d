from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cassowary_spark import tables
from cassowary_spark.oracle import duck_connection
from cassowary_spark.session import get_spark

# Small fixture for fast iteration; the driver's gate runs sf0.01.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cassowary_spark_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.fixture
def tmp_fixture_cache(tmp_path, monkeypatch):
    """Build derived fixtures under this test's tmp_path: a test that
    plants its own sf_dir would otherwise leave a cache entry in the
    repo that nothing reads again."""
    root = tmp_path / "fixture_cache"
    monkeypatch.setattr(tables, "CACHE_ROOT", str(root))
    return root
