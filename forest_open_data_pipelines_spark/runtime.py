"""Block lifecycle: the one owner of every persisted or checkpointed
frame the package creates.

Operators return lazy frames, so they cannot free the blocks those
frames read. Instead every ``persist`` and ``checkpoint`` made here is
tracked (strong refs: the JVM blocks outlive the Python wrapper), and
a caller that runs many queries in one session (bench.py, perfbench,
tests) calls ``release_persisted()`` once results are materialized.

A local checkpoint's blocks belong to the RDD behind the checkpointed
frame, not to the frame: ``DataFrame.unpersist()`` on it is a no-op.
``checkpoint`` therefore tracks that RDD (the ``LogicalRDD`` the
analyzed plan wraps, for eager and lazy checkpoints alike) and frees
it directly. Reading a freed checkpoint raises
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, so a premature free fails
loudly instead of returning wrong rows.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# (frame, free): a persist is freed through the frame, a checkpoint
# through its RDD.
_TRACKED: list[tuple[DataFrame, Callable[[], object]]] = []
_LOCK = threading.Lock()


def _track(df: DataFrame, free: Callable[[], object]) -> DataFrame:
    with _LOCK:
        _TRACKED.append((df, free))
    return df


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` at MEMORY_AND_DISK and track it for release."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return _track(df, df.unpersist)


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``localCheckpoint`` ``df`` (truncating its lineage) and track
    the checkpoint's blocks for release."""
    out = df.localCheckpoint(eager=eager)
    rdd = out._jdf.queryExecution().analyzed().rdd()
    return _track(out, lambda: rdd.unpersist(False))


def unpersist(df: DataFrame) -> None:
    """Free one tracked frame early: only once every frame that reads
    it has been materialized."""
    with _LOCK:
        hits = [free for d, free in _TRACKED if d is df]
        _TRACKED[:] = [e for e in _TRACKED if e[0] is not df]
    for free in hits:
        free()


def release_persisted() -> int:
    """Free every tracked frame; returns how many were released. Safe
    to call once results are collected or written."""
    with _LOCK:
        entries = _TRACKED[:]
        _TRACKED.clear()
    for _, free in reversed(entries):
        free()
    return len(entries)
