"""Cache and checkpoint ownership: the one place the engine stores blocks.

Rule: every persist, localCheckpoint and release in the engine goes through
an ``owned`` block opened for one operator call. The block releases what the
call stored when it returns — except storage marked ``keep``, which the
returned (lazy) plan reads — and releases everything, kept storage included,
when the call raises, so a failed call leaks nothing into a long-lived
session. A cache the caller made is never taken over.

Lifetime of kept storage: it belongs to the innermost open ``scope()``,
which a caller opens around building and running a query and which releases
it on exit; with no scope open, it lives until Spark's ContextCleaner
collects the dropped result. It goes straight to the scope, never to an
enclosing ``owned`` block, so a composed query's result may read what an
inner call kept. Nothing outside this module persists, checkpoints,
unpersists or reads the persistent-RDD registry (tests/test_caching.py scans
the sources for it).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

# the releases of the storage kept inside the innermost open scope()
_innermost: ContextVar[list[Callable[[], None]] | None] = ContextVar("_innermost", default=None)


class Owner:
    """The storage one operator call created: persisted DataFrames and
    localCheckpoint RDDs, each with its release and a keep flag."""

    def __init__(self) -> None:
        self._held: list[list] = []  # [df, release, kept]

    def persist(self, df: DataFrame) -> DataFrame:
        """persist df unless the CALLER already persisted it — releasing a
        caller's cache would silently drop their working set."""
        if not (df.storageLevel.useMemory or df.storageLevel.useDisk):
            self._held.append([df.persist(), df.unpersist, False])
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Eager localCheckpoint of df, owned by this call.

        The DataFrame API cannot release localCheckpoint blocks (ADVICE r3);
        the RDD they live in is the one the returned plan's LogicalRDD
        holds. Diffing the persistent-RDD registry around the checkpoint
        finds it too, but also catches a DataFrame cache that the same job
        materialized first — releasing that would drop a cache its owner
        still reads."""
        out = df.localCheckpoint(eager=True)
        rdd = out._jdf.queryExecution().logical().rdd()
        self._held.append([out, lambda: rdd.unpersist(False), False])
        return out

    def release(self, df: DataFrame) -> None:
        """Free df's storage now (e.g. the previous round's); a no-op for
        storage this call does not own."""
        for i, (held, release, _) in enumerate(self._held):
            if held is df:
                del self._held[i]
                release()
                return

    def keep(self, df: DataFrame) -> DataFrame:
        """Mark df's storage as read by the returned plan: it outlives a
        call that returns, until the innermost open scope() exits."""
        for entry in self._held:
            if entry[0] is df:
                entry[2] = True
        return df


@contextmanager
def owned() -> Iterator[Owner]:
    """One operator call's storage lifetime: on return release everything
    not kept and hand what is kept to the open scope(), on failure release
    everything."""
    o = Owner()
    failed = True
    try:
        yield o
        failed = False
    finally:
        outer = _innermost.get()
        for df, release, kept in o._held:
            if failed or not kept:
                release()
            elif outer is not None:
                outer.append(release)


@contextmanager
def scope() -> Iterator[None]:
    """A caller's storage lifetime for the queries it builds and runs inside:
    on exit, normal or not, release what the engine calls made in it kept.
    Only that: a cache the caller made survives."""
    releases: list[Callable[[], None]] = []
    token = _innermost.set(releases)
    try:
        yield
    finally:
        _innermost.reset(token)
        for release in releases:
            release()
