"""Query-scoped cache lifetime for lazily-returned operator results.

Several operators persist an intermediate frame that several branches of
the RETURNED (still lazy) plan consume, e.g. the per-document MinHash
sketch in ``minhash_lsh_pairs`` feeds both sides of the band join and both
sides of the verification join-back. The operator cannot unpersist before
returning (the cache would never be read), so the cache must outlive the
operator.

The lifetime rule, stated once for the package: a cache lives as long as
the query that made it. Whoever runs a query (the CLI, ``bench.py``, a
pipeline step, a test) builds it and runs every action on it inside
``with caching.scope():``. Operators never unpersist for their caller;
they call :func:`persist` (or :func:`checkpoint` for a lazy
``localCheckpoint``), which registers the frame with the innermost open
scope on the current thread. When that scope exits, it frees every frame
registered with it, blocking, and nothing else: an enclosing scope keeps
its own frames. Projections after an operator need no bookkeeping, because
ownership rides on the scope, not on the returned DataFrame.

Outside any scope, :func:`persist` is plain ``df.persist()`` and the caller
owns the cache (e.g. ``spark.catalog.clearCache()`` between queries).
"""
from __future__ import annotations

import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


class _Scopes(threading.local):
    def __init__(self) -> None:
        # per thread: one list of free callbacks per open scope, innermost last
        self.open: list[list[Callable[[], None]]] = []


_scopes = _Scopes()


def _register(free: Callable[[], None]) -> None:
    if _scopes.open:
        _scopes.open[-1].append(free)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, freed when the innermost open scope exits. A frame
    this call already persisted is returned as it is: its owner frees it."""
    if df.is_cached:
        return df
    df = df.persist()
    _register(lambda: df.unpersist(blocking=True))
    return df


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)``: truncates the lineage at the
    first action, and its blocks are freed when the innermost open scope
    exits."""
    df = df.localCheckpoint(eager=False)
    # Dataset.unpersist only consults the CacheManager, which never holds a
    # checkpoint: its blocks belong to the RDD under the frame's LogicalRDD
    _register(lambda: df._jdf.queryExecution().analyzed().rdd().unpersist(True))
    return df


@contextmanager
def scope() -> Iterator[None]:
    """Own every frame persisted or checkpointed on this thread until exit."""
    frees: list[Callable[[], None]] = []
    _scopes.open.append(frees)
    try:
        yield
    finally:
        _scopes.open.pop()
        for free in frees:
            free()
