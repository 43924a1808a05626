"""Bounded persist registry shared by operators that cache intermediates.

Contract: callers persist a DataFrame they will materialize promptly
(within the same query execution); the registry unpersists the oldest
entries beyond the per-scope bound so back-to-back operator calls don't
accumulate pinned storage for the session lifetime.  An entry evicted
before its first action simply recomputes — correctness is never affected,
only the cache/optimizer-fence benefit of that one call.

Eviction is scoped per calling operator (module:function of the caller):
a long-lived session interleaving unrelated operators can't thrash another
operator's fence — e.g. a burst of skyline tree-merge persists never
evicts the minhash shingle cache mid-build.  A global cap still bounds
total pinned storage across scopes, evicting oldest-first globally only
when the session-wide total exceeds it.

The registry is plain module state, updated in several steps with no
lock: it assumes one driver thread builds plans, and no operator or
query builds from several threads.
"""

from __future__ import annotations

import inspect

from pyspark.sql import DataFrame

_PERSISTED: dict[str, list[DataFrame]] = {}
_ORDER: list[tuple[str, DataFrame]] = []  # global FIFO across scopes
_KEEP_PER_SCOPE = 4
_KEEP_GLOBAL = 16


def _caller_scope() -> str:
    frame = inspect.currentframe()
    try:
        caller = frame.f_back.f_back  # persist_bounded's caller
        return f"{caller.f_globals.get('__name__', '?')}:{caller.f_code.co_name}"
    except AttributeError:  # pragma: no cover - exotic frame layouts
        return "default"
    finally:
        del frame


def _unpersist(scope: str, df: DataFrame) -> None:
    # a plan-twin registered under ANOTHER scope shares this entry's
    # CacheManager slot — dropping the blocks would yank the cache out
    # from under the live twin, so release only the registry slot then
    entry = (scope, df)
    twin_alive = any(
        e != entry and _same_semantics(d, df) for e in _ORDER if (d := e[1]) is not None
    )
    if not twin_alive:
        try:
            df.unpersist(blocking=False)
        except Exception:  # pragma: no cover - session already stopped
            pass
    q = _PERSISTED.get(scope)
    if q is not None and df in q:
        q.remove(df)
        if not q:
            del _PERSISTED[scope]
    if entry in _ORDER:
        _ORDER.remove(entry)


def _same_semantics(a: DataFrame, b: DataFrame) -> bool:
    try:
        return a.sameSemantics(b)
    except Exception:  # pragma: no cover - Connect / stopped session
        return False


def persist_bounded(df: DataFrame, scope: str | None = None) -> DataFrame:
    scope = scope or _caller_scope()
    # Spark's CacheManager dedupes persist() by logical plan: two
    # semantically identical frames share ONE cache entry.  Registering
    # a plan-twin as a new FIFO entry would make the later eviction
    # unpersist that shared entry out from under the NEWEST caller —
    # measured round 14: bench.py's repeated skyline reps lost the
    # phase-1 cache after _KEEP_PER_SCOPE reps and re-ran the Arrow
    # kernel 3x per query (the "bimodality" of skyline_anti_3d_1m,
    # 1.9 s -> 8-27 s).  Refresh the existing entry to MRU instead.
    q = _PERSISTED.setdefault(scope, [])
    for old in q:
        try:
            same = df.sameSemantics(old)
        except Exception:  # pragma: no cover - Connect / stopped session
            same = False
        if same:
            q.remove(old)
            q.append(old)
            entry = (scope, old)
            if entry in _ORDER:
                _ORDER.remove(entry)
            _ORDER.append(entry)
            lvl = old.storageLevel
            if not (lvl.useMemory or lvl.useDisk):
                old.persist()  # re-pin: an outside unpersist raced us
            return old
    df = df.persist()
    q.append(df)
    _ORDER.append((scope, df))
    while len(_PERSISTED.get(scope, ())) > _KEEP_PER_SCOPE:
        _unpersist(scope, _PERSISTED[scope][0])
    while len(_ORDER) > _KEEP_GLOBAL:
        s, d = _ORDER[0]
        _unpersist(s, d)
    return df


def persist_balanced(
    df: DataFrame, scope: str | None = None
) -> tuple[DataFrame, int]:
    """Persist and materialize ``df``, then re-persist it round-robin
    across ``defaultParallelism`` when the cache is PROVABLY skewed —
    the cached-input variant of :func:`..operators.fanout.
    fanout_narrow_scan` for operators that scan a persisted projection
    repeatedly with per-row-expensive kernels (prob_skyline's counting
    scans, the skycube's subspace passes).  Returns ``(frame, rows)``.

    A single-row-group source file caches as ONE populated partition
    (measured round 16: ``[0, 35645, 0]`` for s30's input at sf0.1), so
    every downstream ``mapInPandas`` runs on one core.  The probe is
    scale-safe by construction: it short-circuits when the cache already
    has ``>= 4x cores`` partitions (a real cluster scan — per-partition
    stats would cost a collect proportional to partition count, and the
    pathology can't exist), and otherwise measures the true per-partition
    row counts with one codegen aggregation over the materialized cache
    (~ms).  Rebalance fires only when the fullest partition holds more
    than 4x its fair share, i.e. when the critical path provably wastes
    >= 75% of the cores; both the skewed and balanced entries stay
    registered so repeat calls MRU-hit the balanced cache."""
    from pyspark.sql import functions as F

    scope = scope or _caller_scope()
    cached = persist_bounded(df, scope)
    n = cached.count()
    sc = cached.sparkSession.sparkContext
    target = sc.defaultParallelism
    if target <= 1 or n < 2 * target:
        return cached, n
    try:
        nparts = cached.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - Connect session
        return cached, n
    if nparts >= 4 * target:
        return cached, n
    per_part = cached.groupBy(F.spark_partition_id().alias("__pid")).count().collect()
    if max(r["count"] for r in per_part) * target <= 4 * n:
        return cached, n
    bal = persist_bounded(cached.repartition(target), scope)
    bal.count()
    return bal, n


def checkpoint_rotate(df: DataFrame, prev: DataFrame | None) -> DataFrame:
    """One round of the iterative-fixpoint checkpoint lifecycle: eagerly
    ``localCheckpoint`` the new round's plan, then free the superseded
    previous checkpoint, and return the new one (pass it back as ``prev``
    next round).

    The ordering IS the invariant: an unpersisted checkpoint does not
    fall back to lineage, so ``prev`` may only be released once its last
    reader has run — here that reader is the new checkpoint's eager
    materialization, which happens first.  Callers whose round has a
    LATER reader of the previous checkpoint (e.g. connected_components'
    convergence diff joins old vs new labels AFTER both exist) must not
    use this helper for that release — run the extra reader first, then
    call :func:`release_local_checkpoint` directly."""
    new = df.localCheckpoint(eager=True)
    release_local_checkpoint(prev)
    return new


def release_local_checkpoint(df: DataFrame | None) -> None:
    """Free the storage blocks behind a ``localCheckpoint``-ed DataFrame
    that will never be read again.

    ``DataFrame.localCheckpoint`` pins its materialized partitions in
    executor storage (memory + disk) with no public release API, so an
    iterative fixpoint that checkpoints every round grows storage linearly
    with rounds.  The blocks ARE reachable: a checkpointed DataFrame's
    analyzed plan is exactly one ``LogicalRDD`` node whose ``rdd`` field is
    the cached RDD — unpersisting that RDD drops the blocks immediately
    instead of waiting for the ContextCleaner to notice the JVM reference
    died (which, driven by Python GC via py4j finalizers, can lag a whole
    job).

    MUST only be called on a superseded checkpoint: the data is NOT
    recomputable (unpersisting a checkpoint's blocks makes the DataFrame
    unreadable, it does not fall back to lineage).  Internal-API access is
    guarded — on Spark Connect or a future plan shape this degrades to the
    GC-based cleanup, never to an error.
    """
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            _warn_release_unavailable(
                f"analyzed plan is {plan.getClass().getSimpleName()}, not LogicalRDD"
            )
            return
        plan.rdd().unpersist(False)
    except Exception as exc:  # pragma: no cover - Connect / stopped session
        _warn_release_unavailable(repr(exc))


_RELEASE_WARNED = False


def _warn_release_unavailable(why: str) -> None:
    """One-time observability for the guarded internal-API path: when the
    LogicalRDD fast-release is unavailable (Spark Connect, a future plan
    shape), every iterative operator silently reverts to O(rounds)
    executor-storage growth — surface that regression once instead of
    letting it hide behind the graceful degrade."""
    global _RELEASE_WARNED
    if _RELEASE_WARNED:
        return
    _RELEASE_WARNED = True
    import warnings

    warnings.warn(
        "release_local_checkpoint could not free checkpoint storage "
        f"({why}); iterative operators will grow executor storage by one "
        "checkpoint per round until the ContextCleaner catches up",
        RuntimeWarning,
        stacklevel=3,
    )
