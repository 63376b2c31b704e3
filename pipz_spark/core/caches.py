"""The one owner of cache lifetime. A frame a Step or operator
persists that must outlive the call that made it (a self-join's
signature frame, a switch's routed input, a ``handle`` boundary) is
registered with :func:`track` and freed by :func:`release_caches`.

The owner is per caller context (a ``ContextVar``), so two threads —
two streams' foreachBatch callbacks, a batch job beside a stream —
never release each other's frames; pipz's worker threads (``timeout``,
``worker_pool``, ``race_actions``, ``scaffold``) start under
:func:`worker_context` and inherit their caller's. It is drained by
``release_caches()``, by ``Step.close()`` and once per micro-batch by
``run_step_stream``. A released cache is rebuilt on next use.
"""

from __future__ import annotations

import contextvars

from pyspark.sql import DataFrame

# STRONG references, deliberately: the JVM CacheManager pins the data
# whatever the Python wrapper's lifetime, so a weakref would clear at
# operator return and make every release a no-op. The list is drained
# in place, never rebound: worker contexts copied from the caller share it.
_OWNER: contextvars.ContextVar[list[DataFrame]] = contextvars.ContextVar("pipz_caches")


def _frames() -> list[DataFrame]:
    try:
        return _OWNER.get()
    except LookupError:
        frames: list[DataFrame] = []
        _OWNER.set(frames)
        return frames


def worker_context() -> contextvars.Context:
    """A copy of the caller's context to run one worker thread in. The
    caller's owner is created BEFORE the copy, so the worker tracks
    into the caller's list rather than one of its own."""
    _frames()
    return contextvars.copy_context()


def track(df: DataFrame) -> DataFrame:
    """Register a persisted frame with the calling context's owner."""
    _frames().append(df)
    return df


def release_caches() -> int:
    """Unpersist every frame the calling context's owner holds;
    returns the count. Safe to call at any time."""
    frames = _frames()
    n = 0
    while frames:  # drained in place: worker contexts share the list
        try:
            frames.pop().unpersist()
            n += 1
        except Exception:  # a racing pop (IndexError) or a JVM error
            pass
    return n
