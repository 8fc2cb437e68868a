"""Lane-scoped cache and temp-dir tracking.

Registry lanes cache materialization boundaries (the VARIANT parse
boundary, LSH probe bases, winnow posting frames) because the lane's
plan reuses them; but a sequential sweep over the full ~130-lane
registry in ONE JVM (the driver's correctness pass, bench.py, the
oracle-parity suite) would otherwise stack every lane's cached
partitions until executor-memory eviction pressure decides for us.

The contract: operators call :func:`lane_cache` instead of bare
``.cache()`` for any cache whose useful life ends with the lane, and
the ``@query`` wrapper drains ALL tracked caches before building the
next lane. Safe because every runner collects lane N's result before
invoking lane N+1 — a tracked cache is never unpersisted while a
not-yet-collected plan still needs it. Long-lived caches (streaming
foreachBatch scratch that unpersists itself in-loop) stay untracked.
Stateful lanes write their scratch tables under :func:`lane_tmpdir`,
which the same release deletes.

Long-lived sessions that call lane_cache'd operators OUTSIDE the
registry (the incremental run-book scripts, ad-hoc batch loops) must
call :func:`release_lane_caches` themselves between batches — Spark's
CacheManager pins SQL caches until an explicit unpersist regardless
of Python reachability, and _TRACKED keeps a strong reference per
cache until drained. demo_incremental / the scale scripts do.
"""
from __future__ import annotations

import shutil
import tempfile
import threading

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_TMP_DIRS: list[str] = []
# The drain-before-next-lane convention assumes sequential lane
# execution; the lock doesn't make concurrent lanes CORRECT (lane A's
# drain would still unpersist lane B's in-flight cache — a silent
# recompute, never wrong results), but it keeps the list itself
# consistent so a threaded runner fails soft, not with a torn pop
# (r07 ADVICE).
_LOCK = threading.Lock()


def lane_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + register the frame for end-of-lane release."""
    df = df.cache()
    with _LOCK:
        _TRACKED.append(df)
    return df


def lane_tmpdir(prefix: str) -> str:
    """``tempfile.mkdtemp(prefix=prefix)``, deleted by the next
    :func:`release_lane_caches` (so it must outlive only its own lane)."""
    path = tempfile.mkdtemp(prefix=prefix)
    with _LOCK:
        _TMP_DIRS.append(path)
    return path


def release_stray_persistent_rdds(spark) -> int:
    """Force-unpersist EVERY persistent RDD still registered with the
    context — including ``localCheckpoint`` blocks, which neither
    ``spark.catalog.clearCache()`` (catalog-level caches only) nor
    :func:`release_lane_caches` (tracked frames only) can reach, so a
    multi-pass sweep (bench.py runs 4 passes over ~80 lanes) slowly
    accumulates checkpoint partitions from the iterative lanes
    (bigstar components, streaming dedup scratch).

    ONLY safe when the caller knows no live plan still depends on a
    checkpoint: a localCheckpoint TRUNCATES lineage, so an unpersisted
    one cannot be recomputed. bench.py qualifies — it fully executes
    each lane (noop write) before sweeping. The @query wrapper does
    NOT call this: a test may hold its own checkpointed fixture across
    lane invocations.
    """
    # py4j wraps the java.util.Map as a dict-like JavaMap; snapshot the
    # values before unpersisting mutates the underlying map
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = list(jmap.values())
    for jrdd in rdds:
        jrdd.unpersist(False)
    return len(rdds)


def release_lane_caches() -> int:
    """Unpersist every tracked cache (blocking=False: executors free
    the blocks asynchronously; the JVM-side bookkeeping is immediate),
    then delete every :func:`lane_tmpdir`. Returns the number of caches
    released — bench.py reports it so cached-RDD growth across a full
    sweep is observable, not assumed."""
    n = 0
    while True:
        with _LOCK:
            if not _TRACKED:
                break
            df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            # a stopped SparkContext at interpreter teardown is not an
            # error — anything else is: swallowing it would let the
            # bench's cached_rdds_end audit read clean while blocks
            # actually leaked (review r07 finding). Decide from the
            # frame's OWN session, not getActiveSession(): that one is
            # thread-local and returns None from any non-Spark thread
            # (atexit hooks, listeners), which used to swallow genuine
            # failures (r07 ADVICE).
            if not _owning_context_stopped(df):
                raise
    with _LOCK:
        dirs = _TMP_DIRS[:]
        _TMP_DIRS.clear()
    for path in dirs:
        shutil.rmtree(path, ignore_errors=True)
    return n


def _owning_context_stopped(df: DataFrame) -> bool:
    """True when df's own SparkContext is stopped or already torn down
    so far that the question can't be answered (py4j gateway gone) —
    the only condition under which an unpersist failure is benign."""
    try:
        return bool(df.sparkSession.sparkContext._jsc.sc().isStopped())
    except Exception:
        return True
