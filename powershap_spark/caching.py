"""Tracked persists: the diamond plans (salted feature build, bucketed
as-of join, minhash signatures) must materialize a shared subtree once, but
a library operator cannot know when its caller's last action over the result
has run — so it registers the persisted DataFrame here and the pipeline-level
entry points release everything when their work completes.

Tracking is SCOPED: ``tracking_scope()`` pushes a fresh per-thread registry,
so two pipelines running concurrently on one driver release only their own
persists (a global registry would let pipeline A unpersist pipeline B's
mid-flight diamond, silently reintroducing the double-execution the persist
exists to prevent). Outside any scope, registrations fall back to a global
list that ``release_tracked()`` drains — the REPL / single-pipeline case.

Unpersisting is always safe: a released DataFrame that is re-executed later
just recomputes its lineage.
"""

from __future__ import annotations

import os
import threading

from pyspark import StorageLevel

_LOCAL = threading.local()
_GLOBAL: list = []

# Memory-budget escape hatch (VERDICT r3 #5): the salted build's diamond
# persist holds the full exploded window table — at sf2 that OOMs a fixed
# 12 GB executor under MEMORY_AND_DISK. POWERSHAP_PERSIST_LEVEL=DISK_ONLY
# trades recompute-speed for a bounded memory footprint (blocks go straight
# to local disk; tasks stream them back). The env var is read driver-side at
# each tracked_persist call, so a bench harness can flip it per cell.
_LEVELS = {
    "MEMORY_AND_DISK": StorageLevel.MEMORY_AND_DISK,
    "MEMORY_AND_DISK_DESER": StorageLevel.MEMORY_AND_DISK_DESER,
    "DISK_ONLY": StorageLevel.DISK_ONLY,
    "MEMORY_ONLY": StorageLevel.MEMORY_ONLY,
}


def default_persist_level() -> StorageLevel:
    name = os.environ.get("POWERSHAP_PERSIST_LEVEL", "MEMORY_AND_DISK").upper()
    try:
        return _LEVELS[name]
    except KeyError:
        raise ValueError(
            f"POWERSHAP_PERSIST_LEVEL={name!r}; expected one of {sorted(_LEVELS)}"
        ) from None


def _stack() -> list:
    st = getattr(_LOCAL, "stack", None)
    if st is None:
        st = _LOCAL.stack = []
    return st


def tracked_persist(df, level: StorageLevel | None = None):
    """persist + register in the innermost active ``tracking_scope`` of this
    thread (or the global registry when no scope is active). ``level``
    defaults to MEMORY_AND_DISK, overridable process-wide via the
    POWERSHAP_PERSIST_LEVEL env var (see ``default_persist_level``)."""
    df.persist(level if level is not None else default_persist_level())
    st = _stack()
    (st[-1] if st else _GLOBAL).append(df)
    return df


def _release(dfs: list) -> int:
    n = 0
    while dfs:
        df = dfs.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def _release_frame(df) -> None:
    """Drop every block ``df`` holds: its cache entry and, when ``df`` is a
    ``localCheckpoint``, the checkpoint's blocks — ``unpersist()`` alone
    leaves those to the ContextCleaner, because they belong to the RDD
    under the checkpoint's ``LogicalRDD`` plan, not to the cache manager.
    Only for frames the caller made itself and never reads again: a
    released local checkpoint cannot be recomputed."""
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


class tracking_scope:
    """Context manager: persists registered inside are released on exit —
    and ONLY those, so concurrent pipelines don't release each other's."""

    def __enter__(self):
        _stack().append([])
        return self

    def __exit__(self, *exc):
        _release(_stack().pop())
        return False


def release_tracked() -> int:
    """Unpersist every DataFrame in the innermost active scope of this
    thread, or in the global registry when no scope is active; returns the
    count released."""
    st = _stack()
    return _release(st[-1] if st else _GLOBAL)
