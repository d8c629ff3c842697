"""Lineage cutting that also resets Catalyst statistics.

Spark 4's `Dataset.localCheckpoint` truncates the *plan* but keeps the
original plan's statistics on the resulting LogicalRDD (originStats).
Statistics compose MULTIPLICATIVELY through joins (sizeInBytes of a
join is the product of its children's), so in a pipeline of chained
passes — connected-components rounds x refinement passes x label-
propagation rounds, each self-joining its checkpointed input — the
propagated sizeInBytes compounds as ~2^k for k compounding layers.
Past k≈20 the driver spends MINUTES of CPU in BigInteger
multiplication inside `JoinSelectionHelper.canBroadcastBySize`
(measured: a 3.2M-turn resolve hung >20 min in planning with
million-digit sizeInBytes values; Thread dump showed Karatsuba /
Toom-Cook recursion under SizeInBytesOnlyStatsPlanVisitor).

`counted_cut` (and `eager_cut`, the same cut without the count)
checkpoints via localCheckpoint, rebuilds the Dataset from the SAME
checkpointed InternalRow RDD through
`internalCreateDataFrame`, which produces a fresh LogicalRDD with NO
originStats — sizeInBytes falls back to the (finite) session default
and the compounding chain resets at every cut. No data moves; the
rebuild is a driver-side plan-node swap, and one count of the rebuilt
RDD fills the checkpoint.

The rebuild rides private/classic-only APIs (`DataFrame._jdf`,
`SparkSession.internalCreateDataFrame`,
`pyspark.sql.classic.dataframe`). Under Spark Connect — where `_jdf`
does not exist — or if a future Spark minor renames any of them, we
DEGRADE to a plain `localCheckpoint` with a one-time loud
warning instead of crashing every pipeline run at once. The degraded
mode is correct but re-exposes the stats-compounding pathology on
deep iterative plans (tests/test_lineage.py pins both behaviors).

This also restores the documented planning contract used throughout
the repo ("checkpointed frames carry no stats, broadcast decisions are
made from measured counts" — pipeline.py, refine.py): broadcasts stay
explicit and size-gated, never driven by compounded stat estimates.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

# tri-state: None = not probed yet; True/False after the first cut.
_REBUILD_AVAILABLE: bool | None = None


def _try_rebuild(ck: DataFrame) -> DataFrame | None:
    """Rebuild `ck` (already checkpointed) as a stats-free LogicalRDD,
    or return None if the private APIs this needs are absent/changed."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _ClassicDF
    except ImportError:
        return None
    if not (hasattr(ck, "_jdf") and hasattr(ck.sparkSession, "_jsparkSession")):
        return None  # Spark Connect: no JVM handles on the driver
    try:
        spark = ck.sparkSession
        qe = ck._jdf.queryExecution()
        jdf = spark._jsparkSession.internalCreateDataFrame(
            qe.toRdd(), qe.analyzed().schema(), False
        )
        return _ClassicDF(jdf, spark)
    except Exception:  # any JVM-side signature drift
        return None


def eager_cut(df: DataFrame) -> DataFrame:
    """localCheckpoint + drop propagated origin statistics, materialized
    now (counted_cut without the count)."""
    return counted_cut(df)[0]


def counted_cut(df: DataFrame) -> tuple[DataFrame, int]:
    """(materialized stats-free cut of `df`, its row count) from ONE
    Spark job.

    The checkpoint is lazy and the stats-free rebuild's RDD is counted
    directly: that count computes (and pins) every checkpoint partition
    and counts it in the same job — the same one job an eager
    localCheckpoint runs internally. At flagship sizes the per-job fixed
    cost, not data volume, sets the resolve's speed, so a "how many
    rows?" answered here instead of by a later count()/isEmpty() is one
    job fewer.

    Falls back to the plain checkpoint (stats retained), filled and
    counted by its count(), when the private rebuild APIs are
    unavailable — warns once per process."""
    global _REBUILD_AVAILABLE
    ck = df.localCheckpoint(eager=False)
    if _REBUILD_AVAILABLE is not False:
        rebuilt = _try_rebuild(ck)
        if rebuilt is not None:
            _REBUILD_AVAILABLE = True
            return rebuilt, int(rebuilt._jdf.queryExecution().toRdd().count())
        _REBUILD_AVAILABLE = False
        warnings.warn(
            "lineage.counted_cut: private Spark APIs for the stats-free "
            "rebuild are unavailable (Spark Connect, or internals moved); "
            "falling back to plain localCheckpoint. Catalyst statistics "
            "will COMPOUND through iterative self-joins — deep pipelines "
            "(>~20 checkpointed layers) may hit very slow driver-side "
            "planning (see lineage.py module docstring).",
            RuntimeWarning,
            stacklevel=2,
        )
    return ck, ck.count()


def release_checkpoint(df: DataFrame) -> None:
    """Best-effort unpersist of a frame's localCheckpoint blocks.

    localCheckpoint pins its partitions at MEMORY_AND_DISK and the
    ContextCleaner only reclaims them when the JVM-side RDD becomes
    unreachable — which, with py4j holding references through superseded
    DataFrames, is effectively never inside one long resolve. A chain of
    k record-sized passes therefore holds k generations of storage, and
    once that exceeds the storage pool every later stage pays
    eviction/GC (measured: the LAST pipeline stage ran 5.9x slower at
    2x corpus on a 16g heap). Callers may release ONLY generations no
    live plan can read again — localCheckpoint truncates lineage, so a
    wrongly released generation is unrecoverable, not merely slow.

    No-op under Spark Connect / API drift (same guard philosophy as
    counted_cut's rebuild).

    `queryExecution().toRdd()` returns a fresh wrapper RDD over the
    LogicalRDD scan — NOT the persisted checkpoint RDD — so unpersisting
    it directly frees nothing (the regression test caught exactly that).
    The persisted RDD sits a few narrow dependencies below the wrapper;
    walk down and unpersist every RDD that actually holds storage.
    """
    try:
        _walk_unpersist(df._jdf.queryExecution().toRdd(), 0)
    except Exception:
        pass


def _walk_unpersist(jrdd, depth: int) -> None:
    if depth > 8:
        return
    try:
        if jrdd.getStorageLevel().isValid():
            jrdd.unpersist(False)
            return
        it = jrdd.dependencies().iterator()
        while it.hasNext():
            _walk_unpersist(it.next().rdd(), depth + 1)
    except Exception:
        return
