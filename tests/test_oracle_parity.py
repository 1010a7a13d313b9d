"""Oracle-differential test: every registered query with an oracle must
match DuckDB on the same parquet — the local twin of the driver's gate.
"""

from __future__ import annotations

import pytest

from cassowary_spark import caches, registry
from cassowary_spark.oracle import compare

registry.load_all()

ORACLE_KEYS = sorted(registry.ORACLES)
ROWS_ONLY_KEYS = sorted(set(registry.QUERIES) - set(registry.ORACLES))


def _assert_no_cache_left(spark, name):
    """Every cache a query made is in the ledger: releasing it leaves
    the session's cache manager empty."""
    caches.release()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name}: a cache outside cassowary_spark.caches outlived the query"
    )


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_parity(name, spark, sf_dir, duck):
    df = registry.QUERIES[name](spark, sf_dir)
    compare(df, registry.ORACLES[name], duck, name)
    _assert_no_cache_left(spark, name)


@pytest.mark.parametrize("name", ROWS_ONLY_KEYS)
def test_rows_only_runs(name, spark, sf_dir):
    """Rows-only queries must at least execute and return a stable schema."""
    df = registry.QUERIES[name](spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert df.columns
    _assert_no_cache_left(spark, name)


def test_entry_contract_is_the_registry():
    """The driver contract hands back the registry as registered: same
    keys in the same order, and every oracle names a query."""
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert list(q) == list(registry.QUERIES)
    assert list(o) == list(registry.ORACLES)
    assert set(o) <= set(q)
    assert q is not e.queries() and o is not e.oracle_sql()
