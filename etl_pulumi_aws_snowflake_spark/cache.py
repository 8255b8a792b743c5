"""Deferred release for operator-internal persists.

Some operators persist a subtree that several downstream consumers
read (the minhash/ngram shingle sets, the IVF assignment in
``semantic_near_pairs``).  The persist must OUTLIVE the operator call —
the sharing pays off when the caller materializes the returned plan —
so the operator cannot ``finally: unpersist()`` like a query that
materializes internally can.  But a persist nobody ever releases leaks
executor storage in a long-lived session.

The contract here: operators register such persists in a module pool
(:func:`deferred_persist`; lineage-truncating materializations go
through :func:`tracked_local_checkpoint`), and the query registry
releases the pool when the NEXT query starts (``queries/registry.py``).
In any sequential run — the correctness driver, bench, pytest — a
query's caches are therefore gone by the time the following query
executes, and at most one query's caches are live at any moment.
Long-lived interactive sessions call :func:`release_deferred` (or
``spark.catalog.clearCache()``) at their own boundaries.

The release is SCOPED to what this package registered: a host
application's own ``df.persist()`` / ``cacheTable`` / ``checkpoint``
survives a registry query untouched (only RDD ids recorded by
:func:`tracked_local_checkpoint` are swept from persistent-RDD
storage — never the whole ``getPersistentRDDs`` map).

Thread safety: the pool and the boundary state are guarded by a module
lock, so concurrent registrations/releases never corrupt the
bookkeeping.  The BOUNDARY SEMANTIC itself remains sequential — two
registry queries driven concurrently from one process would release
each other's still-needed caches at their interleaved boundaries
(correctness is unaffected: a released persist recomputes; a released
localCheckpoint is only swept at a boundary, by which point the prior
query's result has been materialized in any driver/bench/pytest flow).
Concurrent SAME-session query execution wants per-query scoping, which
the plan-cache-sharing contract (see :func:`query_boundary`)
deliberately trades away.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCK = threading.RLock()
#: (df, registering thread ident) — the thread tag is what lets
#: scoped_release sweep only its OWN thread's registrations.
_PENDING: list[tuple[DataFrame, int]] = []
#: Persistent-RDD ids created by tracked_local_checkpoint — the ONLY
#: raw-RDD storage release_deferred will sweep.
_TRACKED_RDD_IDS: set[int] = set()
_LAST_QUERY: str | None = None
#: Count of every registration into the pool or the tracked ids ever
#: made; the query registry's plan cache refuses a build that moved it.
_REGISTRATIONS = 0


def registrations() -> int:
    """How many persists and localCheckpoints this module has
    registered so far in the process."""
    return _REGISTRATIONS


def query_boundary(spark, name: str) -> int:
    """Called by the query registry when query ``name`` starts, on
    every call, whether or not its plan is served from the registry's
    plan cache.  If a DIFFERENT query ran before, release its deferred
    persists and tracked localCheckpoint storage; repeat invocations
    of the SAME query keep their caches, so back-to-back reps (bench's
    min-of-5) share the materialized subtree through CacheManager,
    which matches the identical analyzed plan.  A build that registers
    anything here is never served from the plan cache, so each of its
    calls re-registers what the next boundary releases."""
    global _LAST_QUERY
    with _LOCK:
        if name == _LAST_QUERY:
            return 0
        _LAST_QUERY = name
    return release_deferred(spark)


def deferred_persist(df: DataFrame, level=None) -> DataFrame:
    """Persist ``df`` and register it for release at the next query
    boundary.  Returns ``df`` for chaining."""
    if level is not None:
        df.persist(level)
    else:
        df.persist()
    global _REGISTRATIONS
    with _LOCK:
        _PENDING.append((df, threading.get_ident()))
        _REGISTRATIONS += 1
    return df


class scoped_release:
    """Context manager releasing ONLY the deferred persists registered
    inside its block BY ITS OWN THREAD — the per-microbatch form of
    the query-boundary sweep (ADVICE r10: a continuous stream never
    crosses a registry boundary, so its per-batch persists would
    otherwise accumulate without bound).  Tracked localCheckpoint ids
    are left alone: a checkpoint cannot recompute, and a batch body
    that needs one can still rely on the eventual boundary sweep.

    Scoping is (identity snapshot ∩ registering-thread tag): each
    pool entry records the thread that registered it, and exit sweeps
    only entries that are new since ``__enter__`` AND were registered
    by this same thread (ADVICE r11: the id-snapshot alone protected
    pre-existing entries but swept anything ANY thread registered
    during the block — a concurrent host query or second stream lost
    its persists; now they stay pooled for the boundary sweep).  A
    foreachBatch body enters and exits on the batch's own thread, so
    the microbatch use is exactly covered."""

    def __enter__(self):
        with _LOCK:
            self._before = {id(df) for df, _ in _PENDING}
        self._tid = threading.get_ident()
        return self

    def __exit__(self, *exc):
        def _mine(entry) -> bool:
            df, tid = entry
            return id(df) not in self._before and tid == self._tid

        with _LOCK:
            mine = [df for df, tid in _PENDING if _mine((df, tid))]
            # Drop exactly the entries swept — another thread's
            # registration of the SAME DataFrame object stays pooled
            # for the boundary sweep (its cache entry is object-level
            # and does get released below, but a released persist
            # recomputes — the module's documented guarantee — whereas
            # a dropped pool entry would leak the re-persist forever).
            _PENDING[:] = [e for e in _PENDING if not _mine(e)]
        for df in mine:
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass
        return False


def _persistent_rdd_ids(spark) -> set[int]:
    ids: set[int] = set()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    while it.hasNext():
        ids.add(it.next())
    return ids


def tracked_local_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()`` whose storage is registered for release
    at the next query boundary.

    ``localCheckpoint`` blocks live on raw RDDs outside the
    CacheManager and are unreachable from ``DataFrame.unpersist`` /
    ``clearCache`` — the ids are captured here (diff of the
    persistent-RDD map around the eager checkpoint) so the boundary
    sweep frees exactly these blocks and nothing the host application
    cached itself."""
    spark = df.sparkSession
    # The eager checkpoint job runs OUTSIDE the lock — holding it for a
    # multi-second materialization would stall every concurrent
    # bookkeeping call.  If another thread checkpoints between the two
    # snapshots its ids land in this diff too; for MODULE-INTERNAL
    # threads that over-attribution is harmless (both feed the same
    # pool, unpersist is idempotent).  HOST-application threads are a
    # different story: a host persist()/localCheckpoint() materializing
    # inside this window gets attributed here and swept at the next
    # query boundary — and a swept localCheckpoint cannot recompute, so
    # the host's later access FAILS rather than silently re-running.
    # The module's documented contract already forbids that overlap
    # (release_deferred's sweeping form is a QUERY-BOUNDARY call, i.e.
    # no concurrent host Spark work); this note exists because the
    # failure mode when violated is an opaque block-not-found error on
    # the host's handle, not an error here.  A port that must coexist
    # with concurrent host checkpoints should capture ids via a
    # SparkListener scoped to a named job group instead of this global
    # persistent-RDD diff.
    before = _persistent_rdd_ids(spark)
    out = df.localCheckpoint()
    after = _persistent_rdd_ids(spark)
    global _REGISTRATIONS
    with _LOCK:
        _TRACKED_RDD_IDS.update(after - before)
        _REGISTRATIONS += 1
    return out


def release_deferred(spark=None) -> int:
    """Unpersist every deferred cache; returns how many were released.

    With ``spark`` given, additionally frees the persistent-RDD storage
    recorded by :func:`tracked_local_checkpoint` — ONLY those ids; a
    host application's own persists/checkpoints are never touched.
    Only call the sweeping form at a QUERY BOUNDARY, where every prior
    result has been materialized: a swept localCheckpoint cannot
    recompute (its lineage is truncated by design), so a stale handle
    collected after the sweep fails instead of silently recomputing.
    Without ``spark`` the tracked localCheckpoint ids stay REGISTERED
    (nothing can free them sparklessly — raw-RDD storage is outside
    the CacheManager), so a later sweeping call still reclaims them
    instead of the ids being dropped with the blocks left behind."""
    with _LOCK:
        pending = [df for df, _ in _PENDING]
        _PENDING.clear()
        if spark is not None:
            tracked = set(_TRACKED_RDD_IDS)
            _TRACKED_RDD_IDS.clear()
        else:
            tracked = set()
    n = 0
    for df in pending:
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:
            # a stopped session's handles are already gone
            pass
    if spark is not None and tracked:
        try:
            it = spark.sparkContext._jsc.sc().getPersistentRDDs().valuesIterator()
            while it.hasNext():
                rdd = it.next()
                if rdd.id() in tracked:
                    rdd.unpersist(False)
                    n += 1
        except Exception:
            pass
    return n
