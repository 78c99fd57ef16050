"""Materialized-frame lifetimes and scan spreading.

ONE registry holds every frame the engine persists on a caller's
behalf, under ONE lock, with one release hook:

- ``shared(spark, sf_dir, key, build)`` memoizes an intermediate per
  (session, sf_dir, key): the dedup family's shingle sets, signatures
  and CC labels, the shared prefix of six back-to-back queries.
- ``persist(df, ref=None)`` persists a query-internal multi-consumer
  frame. With ``ref`` it fires only when ``ref``'s Catalyst size
  estimate is at least ``PERSIST_MIN_INPUT_BYTES``.
- ``clear()`` (``api.clear_shared_cache``) forgets and unpersists every
  entry; bench.py and the perf harness call it between timed runs.

The lock guards the registry dict only: every py4j call runs outside
it, so a slow JVM gateway never stalls other callers. ``build()`` runs
outside it too; the first registration for a key wins, and only the
registered frame is ever persisted, so a concurrent duplicate build is
garbage, never a leaked cache.

A session that never calls ``clear()`` (the driver's ``__spark_entry__``
loop) keeps at most ``LOOSE_CAP`` ``persist()`` frames: each one past
the cap drops the oldest and unpersists it unless a live entry shares
its plan (Spark's CacheManager is plan-keyed, so the unpersist would
evict the twin's blocks too). A ``shared()`` miss sweeps entries of
stopped sessions; a hit re-persists a frame an outside ``clearCache()``
dropped. Nothing here is correctness-bearing: a dropped frame
recomputes.
"""

from __future__ import annotations

import contextlib
import itertools
import threading

from pyspark.sql import DataFrame, SparkSession

#: Input-size floor for a ``ref``-conditional persist (bytes), from the
#: r14 crossover on rolled copies of sf0.1: at the 1× events table
#: (2 MB) the persist barrier costs more than the re-scans it saves
#: (funnel 0.51 → 0.79 s), at the 10× proxy (20 MB) it already wins
#: (OPTIMIZATION_r14.md). At 100 TB it always fires, and the fact table
#: is scanned once per query instead of 3–8×.
PERSIST_MIN_INPUT_BYTES = 8 * 1024 * 1024

LOOSE_CAP = 32

_LOCK = threading.Lock()
#: key -> (owning session, frame, persisted?). Keys are
#: (applicationId, sf_dir, name) for ``shared()`` frames and int tickets
#: for ``persist()`` frames; dict order is registration order.
_REGISTRY: dict[object, tuple[SparkSession, DataFrame, bool]] = {}
_TICKETS = itertools.count()


def session_stopped(spark: SparkSession) -> bool:
    try:
        return spark.sparkContext._jsc is None \
            or spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return True


def shared(spark: SparkSession, sf_dir: str, key: str, build,
           persist: bool = True) -> DataFrame:
    """Memoize ``build()`` per (session, sf_dir, key).

    ``persist=False`` is for builds that return an already-materialized
    frame (the CC label fixpoint eagerly localCheckpoints its result) —
    persisting again would store the same rows twice on the executors.
    """
    k = (spark.sparkContext.applicationId, sf_dir, key)
    with _LOCK:
        entry = _REGISTRY.get(k)
    if entry is None:
        # one isStopped probe per owning session, outside the lock;
        # deletion re-confirms the entry under it
        with _LOCK:
            items = list(_REGISTRY.items())
        stopped = [s for s in {e[0] for _k, e in items}
                   if session_stopped(s)]
        df = build()
        with _LOCK:
            for sk, e in items:
                if e[0] in stopped and _REGISTRY.get(sk) is e:
                    del _REGISTRY[sk]
            entry = _REGISTRY.setdefault(k, (spark, df, persist))
    _sess, df, persisted = entry
    if persisted:
        lvl = df.storageLevel
        if not (lvl.useMemory or lvl.useDisk):
            df.persist()
    return df


def persist(df: DataFrame, ref: DataFrame | None = None) -> DataFrame:
    """Tracked persist of a multi-consumer frame; released by ``clear()``
    or the ``LOOSE_CAP`` backstop.

    With ``ref`` the persist is CONDITIONAL on ``ref``'s size estimate
    (the statistic broadcast planning rides: static, no job) — pass the
    input scan whose redundant re-reads the persist saves. A plan with
    no statistics (local relations, RDD-backed frames) reports the
    ``spark.sql.defaultSizeInBytes`` sentinel: that is unknown, not big,
    so it never persists."""
    if ref is not None:
        size = int(str(
            ref._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        unknown = ref.sparkSession._jsparkSession.sessionState().conf() \
            .defaultSizeInBytes()
        if not PERSIST_MIN_INPUT_BYTES <= size < unknown:
            return df
    with _LOCK:
        _REGISTRY[next(_TICKETS)] = (df.sparkSession, df, True)
        loose = [k for k in _REGISTRY if isinstance(k, int)]
        evicted = [_REGISTRY.pop(k)[1] for k in loose[:-LOOSE_CAP]]
        live = [e[1] for e in _REGISTRY.values()]
    df.persist()
    for old in evicted:
        if not any(_same_plan(old, d) for d in live):
            with contextlib.suppress(Exception):
                old.unpersist()
    return df


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    """True when the two frames share a semantic plan (the CacheManager
    key). Indeterminate counts as a match: the caller then skips an
    unpersist, and a bounded reference leak beats evicting a live
    twin's blocks."""
    try:
        return a.sameSemantics(b)
    except Exception:
        return True


def clear() -> int:
    """Forget every registered frame and unpersist it; returns the number
    of entries dropped. A PHASE-BOUNDARY reset: a registration racing
    the clear may lose its cache and recompute. Blocks behind a
    localCheckpoint (cc_labels) are freed by the ContextCleaner once the
    dropped reference is collected."""
    with _LOCK:
        entries = list(_REGISTRY.values())
        _REGISTRY.clear()
    for _sess, df, _p in entries:
        with contextlib.suppress(Exception):
            df.unpersist()
    return len(entries)


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a small-file scan across the cluster before per-row
    heavy work (shingling, hashing, per-file codecs, ANN probes).
    UNCONDITIONAL because its inputs are always small: a single parquet
    file scans as ONE input partition, serializing everything downstream
    onto one core (measured 3× on the minhash pipeline); at 100 TB the
    shuffle is no-op-sized."""
    return df.repartition(spark.sparkContext.defaultParallelism)


def spread_scan(df: DataFrame) -> DataFrame:
    """Repartition an UNDER-PARALLELIZED fact scan before CPU-heavy
    per-row work (wide decimal arithmetic, grouping-set expansion,
    spatial probe fan-out). Fires only when the scan has fewer
    partitions than cores (r13), so at 100 TB it adds no shuffle.

    STATIC probe only (r14): an AQE-wrapped plan (one with an exchange
    or subquery) comes back UNCHANGED — a ``df.rdd`` probe there forces
    ``getFinalPhysicalPlan()``, running every upstream shuffle stage at
    plan-build time, and its exchanges already re-establish parallelism.
    For scan-rooted plans the probe only builds the RDD DAG — no job."""
    sc = df.sparkSession.sparkContext
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return df
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df
