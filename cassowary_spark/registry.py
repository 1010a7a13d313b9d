"""Query registry powering ``__spark_entry__.queries()`` / ``oracle_sql()``.

Every operator from SURVEY.md §2 lands as a registered query: a
callable ``(spark, sf_dir) -> DataFrame`` plus (when ANSI-SQL
expressible) a DuckDB oracle string. The driver — and our own pytest
harness — runs both and compares row count + schema + order-insensitive
value hash, so computed columns must carry identical aliases on both
sides.

The driver imports the package from an arbitrary cwd into a vanilla
SparkSession whose workers do not have this repo on their Python path.
Each registered call therefore ships the package to the session's
workers first (``session.ship_package``: one zip per SparkContext), so
the UDFs, pandas folds and DataSources a query builds pickle this
package's code by reference and import it from that zip.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cassowary_spark import caches
from cassowary_spark.session import ship_package

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is DuckDB-runnable ANSI SQL or None
    for genuinely non-SQL-expressible ops (rows-only check).

    ``QUERIES`` holds a wrapper that, before it builds this query,
    ships the package to the session's workers and releases every
    frame the previous query call left in ``caches``, so each call
    owns its persists and sees no earlier call's caches."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")

        @functools.wraps(fn)
        def build(spark, *args, **kwargs):
            ship_package(spark)
            caches.release()
            return fn(spark, *args, **kwargs)

        QUERIES[name] = build
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registration side effects run."""
    from cassowary_spark import queries  # noqa: F401

    queries.load()
