"""Pins: the one place the package checkpoints a frame that several plan
branches read, and the scope that releases those checkpoints.

A caller that builds a query and runs its action opens :func:`pins` around
both; every :func:`pin` made on that thread inside the block is unpersisted
when the block ends. With no scope open a pin behaves as a bare
``localCheckpoint`` and lives until Spark's ContextCleaner collects its RDD.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


class _Scopes(threading.local):
    """This thread's open scopes, innermost last; each scope is the list of
    the checkpoint RDDs (JVM handles) pinned while it was innermost."""

    def __init__(self) -> None:
        self.stack: list[list] = []


_scopes = _Scopes()


def pin(frame: DataFrame, eager: bool = False) -> DataFrame:
    """``frame.localCheckpoint(eager=eager)``, recorded by the innermost
    :func:`pins` scope of this thread when one is open.

    A frame that N plan branches read is otherwise computed N times, each
    branch re-running its whole upstream subtree; the pin truncates the
    lineage to one materialization that every branch reads. A lazy pin
    (the default) materializes with the first action that reads it, but
    under AQE building its RDD already runs the frame's shuffle stages, so
    a query whose pin sits above a shuffle runs Spark jobs while its plan
    is built.

    Checkpoint blocks live only on the executor that computed them and are
    not replicated: losing an executor, or a dynamic-allocation downscale,
    fails the job instead of recomputing, since the truncated lineage cannot
    be replayed. That is free on ``local[*]`` and on static clusters. On a
    cluster with preemptible executors or dynamic allocation, use
    ``persist(StorageLevel.DISK_ONLY_2)`` (replicated, lineage kept) or a
    reliable ``checkpoint()`` to shared storage instead (docs/SCALE.md
    "Pinned shared frames").

    The recorded RDD is the one under the checkpoint's ``LogicalRDD``; with
    no scope open nothing is looked up, so the pin adds no JVM call."""
    pinned = frame.localCheckpoint(eager=eager)
    if _scopes.stack:
        _scopes.stack[-1].append(pinned._jdf.queryExecution().analyzed().rdd())
    return pinned


@contextmanager
def pins() -> Iterator[None]:
    """A scope whose pins (made on this thread while it is the innermost
    one) are unpersisted, without blocking, when the block ends, whether or
    not it raised. Open it around a frame's build and the actions that read
    it: a frame read after its scope ended fails on the released blocks.
    Nested scopes release only their own pins."""
    mine: list = []
    _scopes.stack.append(mine)
    try:
        yield
    finally:
        _scopes.stack.pop()
        for rdd in mine:
            rdd.unpersist(False)
