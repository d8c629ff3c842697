"""Regression tests pinning `lineage.eager_cut`'s contract.

The pathology (BENCH.md §7, lineage.py module docstring): Spark 4.1's
`localCheckpoint` keeps the origin plan's Catalyst statistics on the
resulting LogicalRDD, and sizeInBytes COMPOUNDS multiplicatively
through chained self-joins — ~2^k after k checkpointed join layers,
until the driver hangs in BigInteger math inside join selection.
These tests assert (a) the pathology is real on plain localCheckpoint
(so a silent Spark behavior change that fixes it upstream is
detected, and so is a silent eager_cut regression TO it), (b)
eager_cut keeps stats bounded across the same chain, and (c) the
capability fallback degrades gracefully instead of crashing.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

import entity_resolver_spark.lineage as lineage
from entity_resolver_spark.lineage import eager_cut

LAYERS = 25
# the plain-checkpoint chain must stay SHORT: propagated sizeInBytes
# roughly squares per self-join layer (digit count DOUBLES), so 25
# plain layers would themselves hang the test in the BigInteger math
# the fix exists for — 12 layers (~10^4 digits) demonstrate the
# compounding cheaply
PLAIN_LAYERS = 12
# plenty for the session default (spark.sql.defaultSizeInBytes ~ 8 EiB
# ≈ 19 digits; a few join layers over stats-free scans stay near that),
# tiny vs the compounding path (thousands of digits after 12 layers)
BOUNDED_DIGITS = 64


def _size_digits(df) -> int:
    """Digit count of the optimized plan's sizeInBytes estimate.

    The compounded estimate can exceed CPython 3.11's 4300-digit
    int<->str conversion guard INSIDE py4j's return-value decode —
    itself direct evidence of the pathology — so the guard is raised
    around the probe."""
    import sys

    old = sys.get_int_max_str_digits()
    sys.set_int_max_str_digits(100_000_000)
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return len(str(stats.sizeInBytes()))
    finally:
        sys.set_int_max_str_digits(old)


def _chain(df, cut, layers=LAYERS):
    """Rounds of self-join + checkpoint — the shape every iterative
    pass in the repo (components, LPA, refinement) has."""
    for _ in range(layers):
        right = df.select(F.col("id"), F.col("v").alias("v2"))
        df = cut(df.join(right, "id").select("id", (F.col("v") + F.col("v2")).alias("v")))
    return df


def test_plain_localcheckpoint_stats_compound(spark):
    """The bug eager_cut exists for: under plain localCheckpoint the
    propagated sizeInBytes grows without bound through self-joins. If
    this ever goes green on plain checkpoints, Spark fixed it upstream
    and eager_cut can be retired."""
    df = spark.range(10).select(F.col("id"), F.lit(1).alias("v"))
    out = _chain(df, lambda d: d.localCheckpoint(eager=True), layers=PLAIN_LAYERS)
    digits = _size_digits(out.join(out.select("id"), "id"))
    assert digits > BOUNDED_DIGITS, (
        f"plain localCheckpoint no longer compounds stats ({digits} digits) — "
        "Spark behavior changed; re-evaluate whether eager_cut is still needed"
    )


def test_eager_cut_stats_stay_bounded(spark):
    df = spark.range(10).select(F.col("id"), F.lit(1).alias("v"))
    out = _chain(df, eager_cut, layers=LAYERS)
    digits = _size_digits(out.join(out.select("id"), "id"))
    assert digits <= BOUNDED_DIGITS, (
        f"eager_cut stopped dropping origin stats ({digits}-digit sizeInBytes "
        "after a checkpointed self-join chain) — the BigInteger planning hang "
        "is back"
    )
    # and the data is untouched: v doubles per layer
    rows = out.orderBy("id").collect()
    assert [r["v"] for r in rows] == [1 << LAYERS] * 10


def test_eager_cut_fallback_when_internals_unavailable(spark, monkeypatch):
    """If the private rebuild APIs vanish (Spark Connect / version
    drift), eager_cut must degrade to plain localCheckpoint with one
    loud warning — never crash the pipeline."""
    monkeypatch.setattr(lineage, "_try_rebuild", lambda ck: None)
    monkeypatch.setattr(lineage, "_REBUILD_AVAILABLE", None)
    df = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = eager_cut(df)
        assert out.count() == 5
        assert {r["v"] for r in out.collect()} == {0, 2, 4, 6, 8}
        # second cut: cached capability, no re-probe, still works
        assert eager_cut(out).count() == 5
    msgs = [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert len(msgs) == 1, "fallback must warn exactly once per process"
    assert "localCheckpoint" in str(msgs[0].message)


def test_eager_cut_probe_recovers(spark, monkeypatch):
    """After the fallback test monkeypatching, the real path still
    works (tri-state resets per test via monkeypatch teardown)."""
    monkeypatch.setattr(lineage, "_REBUILD_AVAILABLE", None)
    df = spark.range(3).select(F.col("id"), F.lit(7).alias("v"))
    out = eager_cut(df)
    assert out.count() == 3
    assert lineage._REBUILD_AVAILABLE is True


def _persisted_rdd_ids(spark) -> set[int]:
    return {
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def test_release_checkpoint_frees_blocks_and_successor_survives(spark):
    """release_checkpoint must actually free the superseded generation's
    storage (the pipeline relies on this to keep live storage O(1)
    generations, not O(passes)) AND must never affect a successor that
    was materialized from it — localCheckpoint blocks are unrecoverable,
    so a successor failure here would mean the release pattern is unsafe,
    not merely slow."""
    import time as _t

    from entity_resolver_spark.lineage import release_checkpoint

    before = _persisted_rdd_ids(spark)
    gen1 = eager_cut(spark.range(200_000).select(F.col("id"), (F.col("id") % 97).alias("v")))
    gen1_ids = _persisted_rdd_ids(spark) - before
    assert gen1_ids, "eager_cut did not persist any blocks"
    # successor materializes BEFORE the predecessor is released — the
    # exact contract CheckpointManager.cut_pass follows
    gen2 = eager_cut(gen1.groupBy("v").count())
    release_checkpoint(gen1)
    deadline = _t.time() + 20
    while _t.time() < deadline and (gen1_ids & _persisted_rdd_ids(spark)):
        _t.sleep(0.2)  # unpersist(blocking=False) is async
    assert not (gen1_ids & _persisted_rdd_ids(spark)), (
        "superseded generation's blocks were not freed"
    )
    assert gen2.count() == 97
    assert gen2.agg(F.sum("count")).collect()[0][0] == 200_000


# ---------------------------------------------------------------------------
# counted_cut: the cut that also counts, from one Spark job
# ---------------------------------------------------------------------------

def test_counted_cut_count_matches_df_count(spark):
    from entity_resolver_spark.lineage import counted_cut

    df = spark.range(1000).groupBy((F.col("id") % 37).alias("k")).count()
    out, n = counted_cut(df)
    assert n == df.count() == 37
    assert out.count() == 37
    assert sorted(r["k"] for r in out.collect()) == list(range(37))


def test_counted_cut_runs_the_plan_once(spark):
    """The count comes from the job that fills the checkpoint, and every
    later read hits the checkpoint: a row-tagging UDF sees each row
    exactly once across the cut and three further reads."""
    from entity_resolver_spark.lineage import counted_cut

    seen = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tag(x):
        seen.add(1)
        return x

    out, n = counted_cut(spark.range(0, 200, 1, 4).select(tag("id").alias("id")))
    assert n == 200
    assert out.count() == 200
    assert len(out.collect()) == 200
    assert out.agg(F.sum("id")).first()[0] == sum(range(200))
    assert seen.value == 200


def test_counted_cut_degraded_path(spark, monkeypatch):
    """Without the rebuild APIs the helper still returns (frame, count),
    through the plain-checkpoint fallback (one warning), and the count
    still fills the checkpoint: later reads do not rerun the plan."""
    from entity_resolver_spark.lineage import counted_cut

    monkeypatch.setattr(lineage, "_try_rebuild", lambda ck: None)
    monkeypatch.setattr(lineage, "_REBUILD_AVAILABLE", None)
    seen = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tag(x):
        seen.add(1)
        return x

    df = spark.range(6).select(tag("id").alias("id"), (F.col("id") * 3).alias("v"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out, n = counted_cut(df)
        out2, n2 = counted_cut(out.where(F.col("v") > 3))
    assert n == 6 and out.count() == 6
    assert n2 == 4 and {r["v"] for r in out2.collect()} == {6, 9, 12, 15}
    assert seen.value == 6
    assert lineage._REBUILD_AVAILABLE is False
    assert len([w for w in caught if issubclass(w.category, RuntimeWarning)]) == 1
