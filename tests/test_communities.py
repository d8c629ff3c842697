"""Tests for label_propagation (G4 analog) and ensemble_clusters (G8)."""

import random
import time

import pyspark.sql.functions as F
import pytest

from entity_resolver_spark.operators.communities import (
    ensemble_clusters,
    label_propagation,
)


def _bridged_triangles(spark, bridge_w=0.1):
    # two dense triangles joined by one weak bridge edge
    edges = [
        ("a1", "a2", 1.0), ("a2", "a3", 1.0), ("a1", "a3", 1.0),
        ("b1", "b2", 1.0), ("b2", "b3", 1.0), ("b1", "b3", 1.0),
        ("a3", "b1", bridge_w),
    ]
    return spark.createDataFrame(edges, ["src", "dst", "weight"])


def test_lpa_splits_bridged_communities(spark):
    got = {
        r["id"]: r["community"]
        for r in label_propagation(_bridged_triangles(spark), max_iter=8).collect()
    }
    a = {got["a1"], got["a2"], got["a3"]}
    b = {got["b1"], got["b2"], got["b3"]}
    assert len(a) == 1 and len(b) == 1
    # the weak bridge does NOT fuse them (components would)
    assert a != b


def test_lpa_deterministic(spark):
    e = _bridged_triangles(spark, bridge_w=0.5)
    r1 = sorted(map(tuple, label_propagation(e, max_iter=8).collect()))
    r2 = sorted(map(tuple, label_propagation(e, max_iter=8).collect()))
    assert r1 == r2


def test_lpa_strong_bridge_merges(spark):
    # bridge as heavy as internal edges on a tiny graph: one community
    # wins (LPA merges when density contrast vanishes) — exercises
    # convergence, not split
    e = spark.createDataFrame(
        [("x", "y", 1.0), ("y", "z", 1.0), ("x", "z", 1.0)],
        ["src", "dst", "weight"],
    )
    got = {r["id"]: r["community"] for r in label_propagation(e, max_iter=8).collect()}
    assert len(set(got.values())) == 1


# ---------------------------------------------------------------------------
# driver rounds vs distributed rounds: the gate must not change a label
# (two-path parity in the manner of spark-rapids'
# assert_gpu_and_cpu_are_equal_collect)
# ---------------------------------------------------------------------------

def _assert_paths_equal(edges, **kw):
    driver = sorted(map(tuple, label_propagation(edges, **kw).collect()))
    dist = sorted(
        map(tuple, label_propagation(edges, driver_solve_max_edges=0, **kw).collect())
    )
    assert driver == dist and driver
    return dict(driver)


def _random_tied_graph(seed, n_nodes=40, n_edges=90):
    """Weights drawn from a few values, so many neighbor sums tie; the
    values are not dyadic, so a double sum of a tie can come out unequal
    in the last ulp depending on the order of its terms. Some pairs
    arrive in both directions with different weights (max-weight
    dedup)."""
    rng = random.Random(seed)
    return [
        (rng.randrange(n_nodes), rng.randrange(n_nodes), rng.choice([0.1, 0.2, 0.3, 0.3, 0.7]))
        for _ in range(n_edges)
    ]



def test_lpa_ties_are_exact_on_both_paths(spark):
    """Label scores are exact sums of the decimal weights: 0.1 + 0.2
    ties 0.3 (in doubles it is 0.30000000000000004 and wins), so the
    tie rule (community asc) picks "k" on both paths. Parity 1 for x and
    the two hubs: round 0 moves a, a2 to "p" and b to "k"; round 1 moves
    x."""
    edges = [
        ("x", "a", 0.1), ("x", "a2", 0.2), ("x", "b", 0.3),
        ("a", "p", 1.0), ("a2", "p", 1.0), ("b", "k", 1.0),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, weight double")
    parity = lambda c: F.when(c.isin("x", "p", "k"), 1).otherwise(0)  # noqa: E731
    got = _assert_paths_equal(df, max_iter=2, parity_expr=parity)
    assert got["x"] == "k"


@pytest.mark.parametrize("bridge_w", [0.1, 0.5, 1.0])
def test_lpa_driver_matches_distributed_bridged_triangles(spark, bridge_w):
    _assert_paths_equal(_bridged_triangles(spark, bridge_w), max_iter=8)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_lpa_driver_matches_distributed_string_ids_with_ties(spark, seed):
    edges = [(f"n{a:02d}", f"n{b:02d}", w) for a, b, w in _random_tied_graph(seed)]
    df = spark.createDataFrame(edges, "src string, dst string, weight double")
    got = _assert_paths_equal(df, max_iter=8)
    assert len(set(got.values())) < len(got)  # propagation actually happened


@pytest.mark.parametrize("seed", [4, 5, 6])
def test_lpa_driver_matches_distributed_long_ids_pmod_parity(spark, seed):
    df = spark.createDataFrame(_random_tied_graph(seed), "src long, dst long, weight double")
    _assert_paths_equal(df, max_iter=8, parity_expr=lambda c: F.pmod(c, F.lit(2)))


def test_lpa_driver_matches_distributed_unweighted(spark):
    df = spark.createDataFrame(
        [(a, b) for a, b, _ in _random_tied_graph(7)], "src long, dst long"
    )
    _assert_paths_equal(df, max_iter=6, weight_col=None)


def _held_rdd_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_lpa_distributed_releases_superseded_rounds(spark):
    """The distributed rounds free each superseded labels checkpoint and
    the adjacency: what a call leaves held is its output, whatever the
    round count. A 40-node unit-weight chain is still changing at round
    8 (the minimum label moves about one hop per round)."""
    ids = [f"n{i:03d}" for i in range(40)]
    chain = spark.createDataFrame(
        [(a, b, 1.0) for a, b in zip(ids, ids[1:])], "src string, dst string, weight double"
    )
    held = {}
    for rounds in (2, 8):
        before = _held_rdd_ids(spark)
        out = label_propagation(chain, max_iter=rounds, driver_solve_max_edges=0)
        deadline = time.time() + 20
        while len(_held_rdd_ids(spark) - before) > 1 and time.time() < deadline:
            time.sleep(0.2)  # unpersist(blocking=False) is async
        held[rounds] = len(_held_rdd_ids(spark) - before)
        assert out.count() == 40  # the live generation survives the releases
    assert held[8] <= held[2] <= 1, held


def test_ensemble_rescue_mint_keep(spark):
    # primary noise = -1. secondary group 10 maps onto primary 1
    # (purity 1.0, overlap 2) -> n1 rescued. secondary 30 is unmapped
    # with 4 noise members -> minted 'new#30'. n9's secondary 20 is
    # unmapped and too small -> keeps primary (-1).
    rows = [
        ("r1", 1, 10), ("r2", 1, 10), ("n1", -1, 10),
        ("r3", 2, 20), ("n9", -1, 20),
        ("n2", -1, 30), ("n3", -1, 30), ("n4", -1, 30), ("n5", -1, 30),
    ]
    df = spark.createDataFrame(rows, ["id", "primary", "secondary"])
    got = {
        r["id"]: r["cluster"]
        for r in ensemble_clusters(df, noise=-1, min_new_cluster=4).collect()
    }
    assert got["r1"] == "1" and got["r2"] == "1"  # keep
    assert got["n1"] == "1"  # rescued via purity map
    assert got["r3"] == "2"
    assert got["n9"] == "-1"  # unmapped, too small to mint
    assert {got["n2"], got["n3"], got["n4"], got["n5"]} == {"new#30"}


# ---------------------------------------------------------------------------
# break_bridges: the G4/G8 pass the flagship pipeline runs (round 3)
# ---------------------------------------------------------------------------

def _bridged_component(spark):
    """Two dense 6-cliques fused into ONE cluster by a single weak
    bridge edge — the exact failure mode components cannot fix."""
    a = [f"a{i}" for i in range(6)]
    b = [f"b{i}" for i in range(6)]
    edges = []
    for fam in (a, b):
        for i in range(len(fam)):
            for j in range(i + 1, len(fam)):
                edges.append((fam[i], fam[j], 0.9))
    edges.append(("a0", "b0", 0.6))  # the spurious bridge
    edf = spark.createDataFrame(edges, ["src", "dst", "score"])
    recs = spark.createDataFrame([(x, "a0") for x in a + b], ["conv_id", "cluster"])
    return recs, edf, set(a), set(b)


def test_break_bridges_splits_bridged_component(spark):
    from entity_resolver_spark.operators.communities import break_bridges

    recs, edf, a, b = _bridged_component(spark)
    out = {r["conv_id"]: r["cluster"] for r in break_bridges(recs, edf).collect()}
    a_labels = {out[x] for x in a - {"a0"}}
    b_labels = {out[x] for x in b - {"b0"}}
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels
    # bridge endpoints stay with their own dense family
    assert out["a0"] in a_labels and out["b0"] in b_labels


def test_break_bridges_noop_below_min_component(spark):
    from entity_resolver_spark.operators.communities import break_bridges

    recs, edf, _, _ = _bridged_component(spark)
    out = break_bridges(recs, edf, min_component=100)
    assert {r["cluster"] for r in out.collect()} == {"a0"}


def test_break_bridges_keeps_dense_cluster_whole(spark):
    """A single 10-clique must NOT be fragmented by the pass."""
    from entity_resolver_spark.operators.communities import break_bridges

    ids = [f"n{i}" for i in range(10)]
    edges = [
        (ids[i], ids[j], 0.9)
        for i in range(10) for j in range(i + 1, 10)
    ]
    edf = spark.createDataFrame(edges, ["src", "dst", "score"])
    recs = spark.createDataFrame([(x, "n0") for x in ids], ["conv_id", "cluster"])
    out = break_bridges(recs, edf)
    assert out.select("cluster").distinct().count() == 1


def test_break_bridges_deterministic(spark):
    from entity_resolver_spark.operators.communities import break_bridges

    recs, edf, _, _ = _bridged_component(spark)
    r1 = sorted(map(tuple, break_bridges(recs, edf).collect()))
    r2 = sorted(map(tuple, break_bridges(recs, edf).collect()))
    assert r1 == r2
