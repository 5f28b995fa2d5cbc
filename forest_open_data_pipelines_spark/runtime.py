"""Query runtime: the one owner of every persisted or checkpointed
frame the package creates, of each query's job group, and of the
process memos.

``query_scope(spark, name)`` wraps one query. On entry it sets the
thread's job group and description to ``name``, so Spark's event log
ties every job to the query. On exit, also when the body raises, it
restores both and frees the frames persisted or checkpointed inside
it: operators return lazy frames, so they cannot free the blocks those
frames read. Hence the rule: an action must run inside the scope that
built the frame. Reading a freed local checkpoint raises
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, so a breach fails loudly.

Tags: each tracked frame carries the job group active on the thread
that made it, and a scope frees only the frames tagged with its name.
The ``similarity._eval_arms`` threads inherit the caller's group, so
their frames are the caller's; two live scopes with different names
never free each other's frames. ``release_persisted()`` frees every
tracked frame, tagged or not, for harnesses that open no scope
(perfbench). ``__spark_entry__.entry`` stays unscoped: its caller
materializes the lazy frame after ``entry`` returns.

A local checkpoint's blocks belong to the RDD behind the frame
(``DataFrame.unpersist()`` on it is a no-op), so ``checkpoint`` tracks
that ``LogicalRDD`` and frees it directly.

A ``Memo`` is a dict that ``clear_memos()`` empties: the trained-index
memos, ``spread()``'s probe memo and each session's ``load_table``
memo. ``memo`` fills an entry under one reentrant lock, so concurrent
arm threads train a missing entry once. Memos outlive scopes: they
hold index metadata and plans, never blocks.
"""

from __future__ import annotations

import threading
import weakref
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

_GROUP = "spark.jobGroup.id"
_DESCRIPTION = "spark.job.description"

# (frame, job group it was made under, free): a persist is freed
# through the frame, a checkpoint through its RDD.
_TRACKED: list[tuple[DataFrame, str | None, Callable[[], object]]] = []
_LOCK = threading.Lock()


def _track(df: DataFrame, free: Callable[[], object]) -> DataFrame:
    group = df.sparkSession.sparkContext.getLocalProperty(_GROUP)
    with _LOCK:
        _TRACKED.append((df, group, free))
    return df


def _free(match: Callable[[DataFrame, str | None], bool]) -> int:
    with _LOCK:
        hits = [e for e in _TRACKED if match(e[0], e[1])]
        _TRACKED[:] = [e for e in _TRACKED if not match(e[0], e[1])]
    for _, _, free in reversed(hits):
        free()
    return len(hits)


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
    _free(lambda d, _: d is df)


def release_persisted() -> int:
    """Free every tracked frame, in every scope; returns how many were
    released. Safe to call once results are collected or written."""
    return _free(lambda d, g: True)


@contextmanager
def query_scope(spark: SparkSession, name: str) -> Iterator[None]:
    """Run the body as query ``name``: its jobs carry ``name`` as job
    group and description, and the frames it persists or checkpoints
    are freed on exit (see the module docstring)."""
    sc = spark.sparkContext
    prior = {k: sc.getLocalProperty(k) for k in (_GROUP, _DESCRIPTION)}
    for k in prior:
        sc.setLocalProperty(k, name)
    try:
        yield
    finally:
        _free(lambda d, g: g == name)
        for k, v in prior.items():
            sc.setLocalProperty(k, v)


_MEMO_LOCK = threading.RLock()
# id → live Memo.
_MEMOS: weakref.WeakValueDictionary[int, Memo] = weakref.WeakValueDictionary()


class Memo(dict):
    """A dict that ``clear_memos()`` empties. Registered weakly, so a
    memo stored on a session dies with the session."""

    def __init__(self) -> None:
        super().__init__()
        with _MEMO_LOCK:
            _MEMOS[id(self)] = self


def memo(table: dict, key: object, fill: Callable[[], object]):
    """``table[key]``, computed by ``fill`` once: the check and the
    fill are one locked step."""
    with _MEMO_LOCK:
        if key not in table:
            table[key] = fill()
        return table[key]


def clear_memos(*tables: dict) -> int:
    """Empty ``tables``, or every live ``Memo`` when none is given;
    returns how many entries were dropped."""
    with _MEMO_LOCK:
        tables = tables or tuple(_MEMOS.values())
        n = sum(len(t) for t in tables)
        for t in tables:
            t.clear()
    return n
