"""Tracked persist: cache reused subframes without leaking them.

Spark has no cross-branch common-subplan reuse, so a frame feeding
several consumers (a shingle index, a hot-key diagnostic) must be
`.persist()`-ed — but a catalog entry returns a *lazy* DataFrame, so
the entry itself has no "after the action" point to unpersist at. In a
long-lived session those caches accumulate.

`tracked_persist` registers every cache it creates; the driver of the
session (bench.py between queries, run.py at pipeline end, a notebook
user at will) calls `release_caches()` once the consuming actions are
done. The registry holds STRONG references on purpose: the persisting
call site is usually a catalog builder whose local Python wrapper dies
on return, while the JVM CacheManager entry survives — a weakref would
be dead before release time and the cache would leak for the session
lifetime. The registry is the lifecycle owner; `release_caches()` pops
(and thereby drops) every reference it releases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_RELEASE_HOOKS: list = []


def register_release_hook(fn) -> None:
    """Register a zero-arg callable run by every `release_caches()`
    sweep — for operators whose builders materialize state OUTSIDE the
    Spark cache manager (e.g. the a1s streaming replay's per-session
    memo) and must drop it at the same query boundary so repeated
    measurements stay independent. Idempotent per function object."""
    if fn not in _RELEASE_HOOKS:
        _RELEASE_HOOKS.append(fn)


def tracked_persist(df: DataFrame) -> DataFrame:
    """`df.persist()` + registration for the next `release_caches()`."""
    df = df.persist()
    _TRACKED.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked frame, then sweep any remaining
    persistent RDD blocks (e.g. eager-localCheckpoint storage, which
    DataFrame.unpersist cannot reach); returns how many tracked frames
    were released. The sweep keeps a long-lived session leak-free even
    when an operator's checkpoint lineage outlives its query.

    CONTRACT: call at a query boundary, after every result you intend
    to reuse has been fully consumed. The sweep frees localCheckpoint
    blocks of frames the caller may still hold — such a frame has
    truncated lineage and CANNOT be recomputed, so its next action
    fails with a missing-block error (a plain `.persist()`-ed frame
    merely re-materializes). bench.py between queries and run.py at
    pipeline end satisfy this; do not call it mid-query."""
    released = 0
    spark = None
    for hook in _RELEASE_HOOKS:
        try:
            hook()
        except Exception:  # a hook must never block the sweep
            pass
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            spark = df.sparkSession
            df.unpersist()
            released += 1
        except Exception:  # session already stopped — nothing to free
            pass
    try:
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        if spark is not None:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for rid in list(jmap.keySet().toArray()):
                rdd = jmap.get(rid)
                if rdd is not None:
                    rdd.unpersist(False)
    except Exception:  # session stopped mid-sweep — nothing to free
        pass
    return released


def persistent_rdd_ids(sc) -> set[int]:
    """Ids of all RDDs currently holding storage blocks (includes the
    RDDs backing localCheckpoints, which DataFrame.unpersist cannot
    reach). Single owner of the private-JVM getPersistentRDDs walk —
    release_caches' final sweep and connected_components' per-round
    checkpoint hygiene both route through here."""
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_rdd_ids(sc, ids: set[int]) -> None:
    """Free the storage blocks of the given RDD ids (non-blocking)."""
    jmap = sc._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(False)
