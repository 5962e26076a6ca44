"""Cache and checkpoint ownership shared by the operators.

An operator that persists or checkpoints an input must release exactly what
it created — never a caller's cache — and a failed call must not leak blocks
into a long-lived session. These two helpers are the one definition of that
ownership rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cached(df: DataFrame) -> tuple[DataFrame, bool]:
    """persist df unless the CALLER already persisted it — unpersisting a
    caller's cache on exit would silently drop their working set. Returns
    (df, owned): owned=True means this call should unpersist it."""
    if df.storageLevel.useMemory or df.storageLevel.useDisk:
        return df, False
    return df.persist(), True


def checkpoint_tracked(df: DataFrame, sc) -> tuple[DataFrame, list]:
    """localCheckpoint(eager) + the java RDD handles its blocks live in.

    The DataFrame API cannot release localCheckpoint blocks (ADVICE r3), but
    the sparkContext-level persistent-RDD registry can: diffing the registry
    around the checkpoint captures exactly the RDDs it created, so an
    iterative caller can unpersist round r-1 once round r is materialized
    instead of leaking O(rounds x |V|) blocks into a long-lived session.
    Assumes a single-threaded driver (concurrent checkpoints would land in
    the diff).
    """
    reg = sc._jsc.getPersistentRDDs()
    before = set(reg.keys())
    out = df.localCheckpoint(eager=True)
    reg = sc._jsc.getPersistentRDDs()
    created = [reg[i] for i in reg.keys() if i not in before]
    return out, created
