"""Oracle-differential test: every registered query with an oracle must
match DuckDB on the same parquet — the local twin of the driver's gate.
"""

from __future__ import annotations

import pytest

from cassowary_spark import registry
from cassowary_spark.oracle import compare

registry.load_all()

ORACLE_KEYS = sorted(registry.ORACLES)
ROWS_ONLY_KEYS = sorted(set(registry.QUERIES) - set(registry.ORACLES))


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_oracle_parity(name, spark, sf_dir, duck):
    df = registry.QUERIES[name](spark, sf_dir)
    compare(df, registry.ORACLES[name], duck, name)


@pytest.mark.parametrize("name", ROWS_ONLY_KEYS)
def test_rows_only_runs(name, spark, sf_dir):
    """Rows-only queries must at least execute and return a stable schema."""
    df = registry.QUERIES[name](spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert df.columns


def test_entry_contract_is_the_registry():
    """The driver contract hands back the registry as registered: same
    keys in the same order, and every oracle names a query."""
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert list(q) == list(registry.QUERIES)
    assert list(o) == list(registry.ORACLES)
    assert set(o) <= set(q)
    assert q is not e.queries() and o is not e.oracle_sql()
