"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

Implementation lives in ``cassowary_spark``; this module only adapts
the registry to the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cassowary_spark import registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    registry.load_all()
    return registry.QUERIES["q_flagship"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One ``(spark, sf_dir) -> DataFrame`` callable per implemented
    operator from SURVEY.md §2, keyed by query name in registration
    order. Each call returns a fresh dict."""
    registry.load_all()
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query key, in registration order;
    a key of ``queries()`` with no entry here is checked rows-only.
    Each call returns a fresh dict."""
    registry.load_all()
    return dict(registry.ORACLES)
