"""Cluster-safe materialization policy for multiply-referenced intermediates.

Several operators build a SMALL intermediate table (a counts table, an edge
list, a centroid set) that downstream plan branches reference many times.
Without materialization, Catalyst inlines the subtree per reference and the
fact-table scan feeding it re-executes once per branch — exchange reuse
alone does not collapse them all (measured round 6: 288 live source scans
in the near-dup triangle census; 15 in the composed exact-quantile plan).

Round 6 pinned these with ``localCheckpoint(eager=False)``, which bounds
the scans but stores the blocks on executor local disk with lineage
TRUNCATED: on a real cluster, losing one executor mid-query fails the job
instead of recomputing the lost partitions. That is the wrong default for
the 100 TB design point, so this module centralizes the policy:

- :func:`materialize_small` — for small, **deterministic** intermediates.
  ``persist`` keeps full lineage (``MEMORY_AND_DISK``): an executor loss
  recomputes only the lost partitions; the consumer plan shows the
  subtree under ``InMemoryRelation`` (cached lineage — it executes once,
  see tools/scan_audit.py).

- :func:`truncate_lineage` — for intermediates where lineage truncation is
  itself the point: iterative algorithms whose plans grow per round
  (connected components, PageRank), **nondeterministic** pins (sampled
  centroids — a persist-recompute after executor loss would resurrect
  DIFFERENT values, corrupting the query), and read-before-overwrite
  safety. Uses the RELIABLE ``checkpoint()`` (HDFS/object-store blocks,
  survives executor loss) whenever ``sparkContext.setCheckpointDir`` has
  been called — the correct cluster deployment — and falls back to
  ``localCheckpoint`` in local mode where no checkpoint dir exists.

Deployment note (100 TB): call ``sc.setCheckpointDir("s3a://.../ckpt")``
(or an HDFS path) in cluster jobs so every lineage truncation in this
package is executor-loss-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

#: Pins created by :func:`materialize_small`, per application id — the
#: release ledger behind :func:`release_small_pins` (round 15, VERDICT
#: r14 #2: pins used to live until JVM exit, so a 272-query oracle
#: session accumulated hundreds of MEMORY_AND_DISK relations and their
#: CacheManager noise).
_SMALL_PINS: dict[str, list[DataFrame]] = {}


def release_small_pins(spark: SparkSession) -> int:
    """Unpersist every :func:`materialize_small` pin created in this
    application since the last release; returns the count released.

    Call AFTER the consuming action of a query (the bench and oracle
    harnesses do, per query): a pin exists so one query's plan branches
    share one computation — once that query's action finished, the cached
    relation is dead weight competing with the next query's execution
    memory. ``unpersist`` is lazy/non-blocking and safe on an
    already-released DataFrame, so double-release is a no-op.

    Lifecycle note (ADVICE r15): the ledger is keyed by applicationId and
    drained ONLY here — a long-lived library process that pins but never
    releases (or stops its session first) accumulates ledger entries and
    their DataFrame references until process exit. Library callers owning
    their own sessions should call this before ``spark.stop()``; stopping
    the session without releasing leaks only the Python-side ledger
    entries (the JVM cache dies with the session)."""
    pins = _SMALL_PINS.pop(spark.sparkContext.applicationId, [])
    for df in pins:
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — a stopped session has no cache
            pass
    return len(pins)


def materialize_small(df: DataFrame) -> DataFrame:
    """Pin a small, deterministic, multiply-referenced intermediate so its
    upstream executes once instead of once per downstream reference.

    ``persist(StorageLevel.MEMORY_AND_DISK)`` (cluster-safe): lineage
    retained, so a lost executor recomputes only its partitions. Lazy: the
    first action populates the cache.

    Only DETERMINISTIC plans may use this helper: persist recomputes lost
    partitions from lineage, so nondeterministic lineage (``rand()``,
    sampling) must go through :func:`truncate_lineage` instead.

    Idempotent: composed operators routinely pass an intermediate that an
    inner operator already pinned (e.g. exact_quantiles' counts table fed
    into a second materializing consumer). Re-persisting an already-cached
    DataFrame is a no-op JVM-side but logs a
    ``CacheManager: Asked to cache already cached data`` warning per call
    — noise that can mask a real cache-eviction signal in bench tails —
    so an already-persisted input is returned as-is.
    """
    if df.storageLevel != StorageLevel.NONE:
        return df
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    key = df.sparkSession.sparkContext.applicationId
    _SMALL_PINS.setdefault(key, []).append(out)
    return out


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut a DataFrame's lineage, materializing its current contents.

    Needed where persist() is NOT a substitute: iterative driver loops
    whose plans otherwise grow exponentially, nondeterministic
    intermediates that must never be recomputed (sampled centroids, PQ
    codebooks), and reads that must complete before their source path is
    overwritten.

    Uses the reliable ``checkpoint()`` when a checkpoint directory is
    configured (``sc.setCheckpointDir`` — the cluster deployment, blocks
    survive executor loss) and ``localCheckpoint`` otherwise (local mode).
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def cache_once(df: DataFrame) -> DataFrame:
    """``cache()`` that is a no-op when an EQUIVALENT plan is already
    cached. ``df.storageLevel`` consults the session CacheManager by
    canonicalized plan, so this recognizes a cache created through a
    DIFFERENT DataFrame object with the same plan — exactly what happens
    when a bench or driver re-builds the same query in one session, where
    a raw ``cache()`` re-registers and logs ``CacheManager: Asked to
    cache already cached data`` per rebuild (round-12: the last source of
    bench-tail warning noise after materialize_small went idempotent)."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    return df.cache()
