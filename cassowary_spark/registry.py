"""Query registry powering ``__spark_entry__.queries()`` / ``oracle_sql()``.

Every operator from SURVEY.md §2 lands as a registered query: a
callable ``(spark, sf_dir) -> DataFrame`` plus (when ANSI-SQL
expressible) a DuckDB oracle string. The driver — and our own pytest
harness — runs both and compares row count + schema + order-insensitive
value hash, so computed columns must carry identical aliases on both
sides.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cassowary_spark import caches

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is DuckDB-runnable ANSI SQL or None
    for genuinely non-SQL-expressible ops (rows-only check).

    ``QUERIES`` holds a wrapper that releases every frame the previous
    query call left in ``caches`` before it builds this one, so each
    call owns its persists and sees no earlier call's caches."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")

        @functools.wraps(fn)
        def build(*args, **kwargs):
            caches.release()
            return fn(*args, **kwargs)

        QUERIES[name] = build
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registration side effects run."""
    from cassowary_spark import queries  # noqa: F401

    queries.load()
    _register_modules_by_value()


def _register_modules_by_value() -> None:
    """Ship this package's code inside every pickled closure (by value).

    The driver's verify imports us from an arbitrary cwd into a vanilla
    SparkSession whose executors do NOT have this repo on PYTHONPATH.
    Worker-side functions (pandas UDFs, applyInPandas folds, the
    sstable DataSource) that reference module-level helpers would
    otherwise pickle those helpers *by reference* and die with
    ModuleNotFoundError on the executors. Registering the package's
    modules with cloudpickle's by-value mode makes every closure
    self-contained — the local-mode equivalent of shipping a zip via
    addPyFile, with no session handle needed.
    """
    import sys

    try:
        from pyspark import cloudpickle
    except ImportError:  # pragma: no cover - pyspark always present
        return
    for name, mod in list(sys.modules.items()):
        if name.startswith("cassowary_spark") and mod is not None:
            try:
                cloudpickle.register_pickle_by_value(mod)
            except Exception:
                pass
