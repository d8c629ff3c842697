"""Confidence penalty stack + review flags vs reference scorer semantics
(/root/reference/entity_resolver/scorer.py:115-168)."""

import pytest

from entity_resolver_spark.config import ConfidenceConfig
from entity_resolver_spark.operators.confidence import score_confidence


def _records(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, cluster string, norm_text string, canonical_text string"
    )


def _stats(spark, rows=None):
    return spark.createDataFrame(
        rows or [],
        "cluster string, n_edges bigint, avg_edge_score double, std_edge_score double",
    )


def test_name_change_penalty_stack(spark):
    """x0.9 above name_change_floor; additional x0.85 for small clusters
    above small_cluster_change_floor (scorer.py:121-129)."""
    cfg = ConfidenceConfig()
    # three singletons: no change / moderate change / drastic change
    recs = _records(
        spark,
        [
            ("a", "ca", "hello world text", "hello world text"),
            ("b", "cb", "hello world text", "hello different words"),
            ("c", "cc", "alpha bravo charlie", "zz yy xx qq completely other"),
        ],
    )
    out = {r["conv_id"]: r for r in score_confidence(recs, _stats(spark), cfg).collect()}
    base = out["a"]["confidence_score"]
    # singleton base: 0.45*1 + 0.30*1 + 0.25*log(2)/log(11)
    assert base == pytest.approx(0.75 + 0.25 * 0.28906, abs=1e-3)
    # moderate change (0.5 < cm <= 0.7): only the x0.9 penalty
    assert out["b"]["confidence_score"] == pytest.approx(base * 0.9, abs=1e-6)
    # drastic change on a small cluster: x0.9 * x0.85
    assert out["c"]["confidence_score"] == pytest.approx(base * 0.9 * 0.85, abs=1e-6)


def test_review_flags_drastic_and_singleton(spark):
    cfg = ConfidenceConfig()
    recs = _records(
        spark,
        [
            ("a", "ca", "same text here", "same text here"),
            ("b", "cb", "tiny change here", "tiny change herX"),     # cm ~ 0.06
            ("c", "cc", "alpha bravo charlie", "zz yy xx completely other"),
        ],
    )
    out = {r["conv_id"]: r for r in score_confidence(recs, _stats(spark), cfg).collect()}
    assert not out["a"]["needs_review"]
    assert out["a"]["review_reason"] is None
    # singleton with a >1% change -> singleton_name_change (scorer.py:164)
    assert "singleton_name_change" in (out["b"]["review_reason"] or "")
    # change > 0.7 -> drastic_name_change (scorer.py:163)
    assert "drastic_name_change" in (out["c"]["review_reason"] or "")
    assert out["c"]["needs_review"]


def test_multi_member_cluster_unpenalized_when_canonical_close(spark):
    cfg = ConfidenceConfig()
    recs = _records(
        spark,
        [
            ("a", "c1", "acme corp support chat", "acme corp support chat"),
            ("b", "c1", "acme corp support chat x", "acme corp support chat"),
        ],
    )
    stats = _stats(spark, [("c1", 1, 0.9, 0.0)])
    out = {r["conv_id"]: r for r in score_confidence(recs, stats, cfg).collect()}
    for r in out.values():
        assert r["confidence_score"] > 0.8
        assert not r["needs_review"]


def test_cluster_edge_stats_values_and_partition_invariance(spark):
    """Edge moments match the population mean/stddev, a one-edge
    cluster and clusters of several equal non-dyadic scores have stddev
    exactly 0, and the doubles are bit-equal however the edges are
    partitioned."""
    import random
    import statistics

    from entity_resolver_spark.operators.confidence import cluster_edge_stats

    rng = random.Random(11)
    edges = [(f"s{i}", f"d{i}", rng.uniform(0.5, 1.0)) for i in range(300)]
    edges.append(("lone", "x", 0.8125))
    labels = [(f"s{i}", f"c{i % 7}") for i in range(300)] + [("lone", "solo")]
    flat = {"flat95": 0.95, "flat1": 0.1, "flat3": 1 / 3, "flat7": 0.7}
    for c, w in flat.items():
        for k in range(5):
            edges.append((f"{c}_{k}", "y", w))
            labels.append((f"{c}_{k}", c))
    edf = spark.createDataFrame(edges, "src string, dst string, score double")
    ldf = spark.createDataFrame(labels, "node string, component string")

    def stats(n_parts):
        out = cluster_edge_stats(edf.repartition(n_parts), ldf.repartition(n_parts))
        return {r["cluster"]: (r["n_edges"], r["avg_edge_score"], r["std_edge_score"])
                for r in out.collect()}

    got = stats(1)
    for c in range(7):
        xs = [w for i, (_, _, w) in enumerate(edges[:300]) if i % 7 == c]
        n, mean, std = got[f"c{c}"]
        assert n == len(xs)
        assert mean == pytest.approx(statistics.fmean(xs), abs=1e-15)
        assert std == pytest.approx(statistics.pstdev(xs), abs=1e-12)
    assert got["solo"] == (1, 0.8125, 0.0)
    for c, w in flat.items():
        n, mean, std = got[c]
        assert n == 5 and std == 0.0
        assert mean == pytest.approx(w, abs=1e-15)
    assert stats(7) == got and stats(3) == got
