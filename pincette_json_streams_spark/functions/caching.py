"""Session-scoped registry for the library's internal ``persist()``
calls: each materialisation serves only the run that made it, and is
released when that run is over.

Several corpus-scale operators persist a small intermediate frame that
multiple branches of one plan re-read (LSH group tables in
:mod:`.dedup`, the lane table in the frame/window rollup of
:mod:`.multimodal`), and ``Application`` persists every batch stream
that two or more consumers read.  Two things go wrong with a plain
``persist()``:

- Spark's ``CacheManager`` serves a cached plan to any later plan with
  the same analysed shape.  A later call over the same parquet path
  would read the earlier call's blocks, even after the file was
  rewritten.  :func:`tracked_persist` therefore projects a per-call
  literal into the plan it persists (and out again, so the optimizer
  removes it): only plans built on the returned frame match the cached
  entry.
- The ``CacheManager`` holds its entries until an explicit
  ``unpersist``; they are NOT garbage-collected with the Python
  ``DataFrame``.  Frames persisted inside a :func:`run_scope` (an
  ``Application`` opens one while it compiles) are unpersisted when the
  scope's :class:`RunCaches` object is garbage.  Direct function calls
  are released by :func:`release_caches`::

    from pincette_json_streams_spark.functions import release_caches
    pairs = video_near_pairs(videos).collect()
    release_caches()          # drop the lane-table cache blocks

``unpersist`` is always correctness-safe: a released frame that is
re-used simply recomputes.  ``spark.catalog.clearCache()`` remains the
blunt alternative (it also drops caches the *caller* created).
"""

from __future__ import annotations

import contextlib
import threading
import uuid
import weakref

from pyspark.sql import functions as F

# reentrant: a RunCaches finalizer may run, through garbage collection,
# on a thread that already holds the lock
_LOCK = threading.RLock()
# STRONG references, deliberately: the CacheManager entry outlives the
# Python DataFrame (that is the leak), so a weakref would lose the
# unpersist handle exactly when it is needed.  The held objects are the
# JVM Dataset handles, not the Python frames: a frame returned by a run
# refers to its RunCaches, which must not be kept alive from here.
_PERSISTED: list = []
_SCOPE = threading.local()


class RunCaches:
    """The frames one run persisted.  They are unpersisted when this
    object is garbage; a run hands it to every frame it returns, so
    the caches live as long as the run or any of its outputs."""

    def __init__(self):
        self.datasets: list = []
        weakref.finalize(self, _unpersist, self.datasets).atexit = False


@contextlib.contextmanager
def run_scope():
    """Collect the frames :func:`tracked_persist` persists in this
    thread, while the block runs, into the yielded :class:`RunCaches`."""
    caches, outer = RunCaches(), getattr(_SCOPE, "caches", None)
    _SCOPE.caches = caches
    try:
        yield caches
    finally:
        _SCOPE.caches = outer


def tracked_persist(df):
    """``df.persist()`` under a fresh per-call marker, registered for
    :func:`release_caches` and for the enclosing :func:`run_scope`."""
    marker = "__run_cache"
    df = df.withColumn(marker, F.lit(uuid.uuid4().hex)).drop(marker) \
        .persist()
    scope = getattr(_SCOPE, "caches", None)
    with _LOCK:
        _PERSISTED.append(df._jdf)
        if scope is not None:
            scope.datasets.append(df._jdf)
    return df


def _unpersist(datasets: list) -> int:
    with _LOCK:
        ids = {id(ds) for ds in datasets}
        _PERSISTED[:] = [ds for ds in _PERSISTED if id(ds) not in ids]
    released = 0
    for ds in datasets:
        try:
            ds.unpersist(False)
            released += 1
        except Exception:
            pass  # session already stopped — nothing to release
    datasets.clear()
    return released


def release_caches() -> int:
    """Unpersist every internally-persisted frame registered so far.

    Returns the number of frames unpersisted.  Safe to call at any
    time: plans that still reference a released frame recompute it.
    """
    with _LOCK:
        datasets = _PERSISTED[:]
    return _unpersist(datasets)
