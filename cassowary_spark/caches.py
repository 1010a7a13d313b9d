"""The one way this package persists a DataFrame and releases it.

A cache belongs to the query call that made it. Every persist goes
through ``persist``, which registers the frame in one ledger:

- ``registry.query`` releases the whole ledger before it builds the
  next query, so a key's plan and result never depend on which keys
  ran before it in the session;
- ``tables.derived_fixture`` runs each build inside ``scope()``, which
  releases only what that build registered;
- an operator that must drop a frame early (a loop round superseded
  by the next) passes that frame to ``release``.

A query's result is lazy, so its caches stay live until the next
query call: counting its plan (``plancheck``) or running it sees
them. Never register a locally-checkpointed frame: its cached blocks
are its data, and unpersisting them makes it unrecomputable.
"""

from __future__ import annotations

import contextlib
from collections.abc import Iterator

from pyspark.sql import DataFrame

#: registered frames, one list per open ``scope()`` (the first is
#: the query-level ledger); ``persist`` appends to the innermost
_held: list[list[DataFrame]] = [[]]


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` at the default storage level, registered in the
    innermost open scope."""
    df = df.persist()
    _held[-1].append(df)
    return df


def release(*frames: DataFrame) -> None:
    """Unpersist the registered ``frames``, or every registered frame
    when none is given, and drop them from the ledger. A frame that
    is not registered is left alone."""
    for held in _held:
        gone = [f for f in held if not frames or any(f is g for g in frames)]
        held[:] = [f for f in held if all(f is not g for g in gone)]
        for f in gone:
            _unpersist(f)


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Release, on exit, exactly the frames registered inside the
    block; frames registered before it survive."""
    _held.append([])
    try:
        yield
    finally:
        for f in _held.pop():
            _unpersist(f)


def _unpersist(df: DataFrame) -> None:
    # a stopped SparkContext drops its handle, and with it every cache
    # it held; calling into it would raise
    if df.sparkSession.sparkContext._jsc is not None:
        df.unpersist()
