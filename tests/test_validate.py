"""Invariant gates Q1/Q2 and identical-entity consolidation."""

import pyspark.sql.functions as F

from entity_resolver_spark.operators.validate import (
    consolidate_identical,
    q1_violations,
    q2_violations,
)


def test_q1_detects_cross_cluster_duplicates(spark):
    df = spark.createDataFrame(
        [("same text", "c1"), ("same text", "c2"), ("other", "c3")],
        "norm_text string, cluster string",
    )
    bad = q1_violations(df).collect()
    assert len(bad) == 1 and bad[0]["norm_text"] == "same text"


def test_consolidate_identical_merges_and_clears_q1(spark):
    df = spark.createDataFrame(
        [("k1", "c1"), ("k1", "c2"), ("k2", "c2"), ("k3", "c9")],
        "norm_text string, cluster string",
    )
    out = consolidate_identical(df)
    assert q1_violations(out).count() == 0
    got = {r["norm_text"]: r["cluster"] for r in out.collect()}
    assert got["k1"] == got["k2"] == "c1"  # min cluster id wins (deterministic)
    assert got["k3"] == "c9"

    # a chain: c1-c2 share key a, c2-c3 share key b -> all end on c1
    chain = spark.createDataFrame(
        [("a", "c1"), ("a", "c2"), ("b", "c2"), ("b", "c3"), ("z", "c4")],
        "norm_text string, cluster string",
    )
    got = sorted((r["norm_text"], r["cluster"]) for r in consolidate_identical(chain).collect())
    assert got == [("a", "c1"), ("a", "c1"), ("b", "c1"), ("b", "c1"), ("z", "c4")]

    # no shared key: the input frame itself comes back (no components
    # call, no relabel join)
    solo = chain.where(F.col("cluster") != "c2")
    assert consolidate_identical(solo) is solo


def test_q2_functional_dependency(spark):
    df = spark.createDataFrame(
        [("canon a", "c1"), ("canon a", "c2"), ("canon b", "c3")],
        "canonical_text string, cluster string",
    )
    bad = q2_violations(df).collect()
    assert len(bad) == 1 and bad[0]["canonical_text"] == "canon a"


def test_enforce_canonical_fd_repairs_and_is_deterministic(spark):
    from entity_resolver_spark.operators.validate import enforce_canonical_fd

    df = spark.createDataFrame(
        [
            ("a1", "canon a", "c1"),
            ("a2", "canon a", "c1"),
            ("b1", "canon a", "c2"),  # second cluster converged to same text
            ("c1x", "canon b", "c3"),
        ],
        "conv_id string, canonical_text string, cluster string",
    )
    out = enforce_canonical_fd(df)
    assert q2_violations(out).count() == 0
    got = {r["conv_id"]: r["canonical_text"] for r in out.collect()}
    # c1 has the min conv_id ('a1') -> keeps the unmodified text;
    # c2 gets the deterministic reserved-separator '#2' suffix
    assert got["a1"] == got["a2"] == "canon a"
    assert got["b1"] == "canon a\x1e#2"
    assert got["c1x"] == "canon b"
    # idempotent / deterministic across calls
    out2 = enforce_canonical_fd(df)
    assert out.exceptAll(out2).count() == 0


def test_enforce_canonical_fd_repair_is_collision_free(spark):
    """Adversarial: a pre-existing canonical that already looks like a
    plain-text repair suffix (' #2') must NOT collide with a repaired
    name — the reserved \\x1e separator (which normalization strips
    from any real text) keeps the repaired namespace disjoint."""
    from entity_resolver_spark.operators.validate import enforce_canonical_fd

    df = spark.createDataFrame(
        [
            ("a1", "canon a", "c1"),
            ("b1", "canon a", "c2"),       # will be repaired with rank 2
            ("z1", "canon a #2", "c3"),    # adversarial pre-existing ' #2'
        ],
        "conv_id string, canonical_text string, cluster string",
    )
    out = enforce_canonical_fd(df)
    assert q2_violations(out).count() == 0
    got = {r["conv_id"]: r["canonical_text"] for r in out.collect()}
    assert got["b1"] == "canon a\x1e#2"
    assert got["z1"] == "canon a #2"
    assert got["b1"] != got["z1"]


def test_split_on_tool_disjointness(spark):
    """Q3 analog: members whose tool sets are DISJOINT from the modal
    tool set split; subset/overlapping members (truncated duplicates)
    do not."""
    from entity_resolver_spark.operators.validate import split_on_metadata

    df = spark.createDataFrame(
        [
            ("a1", "c1", ["search", "db"]),
            ("a2", "c1", ["search", "db"]),
            ("a3", "c1", ["search"]),        # subset of modal -> stays
            ("a4", "c1", ["mailer"]),        # disjoint -> splits
            ("a5", "c1", []),                # empty -> stays (no evidence)
        ],
        "conv_id string, cluster string, tools array<string>",
    )
    out = {r["conv_id"]: r["cluster"] for r in split_on_metadata(df, tool_conflict=True).collect()}
    assert out["a1"] == out["a2"] == out["a3"] == out["a5"] == "c1"
    assert out["a4"] == "c1#t"


def test_split_on_ts_gap(spark):
    """Q4 analog: members starting more than max_ts_gap_days after the
    cluster's earliest member get a gap bucket."""
    import datetime as dt

    from entity_resolver_spark.operators.validate import split_on_metadata

    d0 = dt.date(2026, 1, 1)
    df = spark.createDataFrame(
        [
            ("a1", "c1", d0),
            ("a2", "c1", d0 + dt.timedelta(days=200)),   # within 365 -> stays
            ("a3", "c1", d0 + dt.timedelta(days=400)),   # beyond -> bucket 1
        ],
        "conv_id string, cluster string, ts_min date",
    )
    out = {
        r["conv_id"]: r["cluster"]
        for r in split_on_metadata(df, max_ts_gap_days=365).collect()
    }
    assert out["a1"] == out["a2"] == "c1"
    assert out["a3"] == "c1#1"
