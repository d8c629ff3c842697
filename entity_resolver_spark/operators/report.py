"""Reporting (SURVEY §3.3, A13/A15/W3).

Reference: /root/reference/entity_resolver/reporter.py —
`generate_report` (87-148: unique-before/after, reduction rate,
cluster-size distribution, review breakdown) and
`get_review_dataframe` (36-85: deduped original->canonical mapping,
globally sorted for human review). All plain aggregations here; on a
real deployment the summary dict is appended to an Iceberg `metrics`
table per run (the north rule's match-count metrics)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def content_hash(df: DataFrame, float_dp: int = 3) -> str:
    """Orderless content fingerprint of a DataFrame: bit_xor of
    xxhash64 over every row (same construction as the pipeline's run
    fingerprint, pipeline.py) — partitioning- and row-order-independent,
    so two byte-identical results hash equal on any cluster layout.
    Float columns are rounded to `float_dp` decimals first. The
    resolver's confidence_score is bit-equal across runs and shuffle
    partition counts (its edge moments are exact decimal sums; the
    determinism test pins it), but a caller's frame may carry doubles
    from shuffle-order-sensitive sums (F.avg, F.sum on doubles), and a
    pinned GOLDEN hash should not hinge on their last bits.
    Returns 'n_rows:xor_hash'."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if f.dataType.typeName() in ("double", "float"):
            c = F.round(c, float_dp)
        cols.append(c)
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("x")
    ).first()
    return f"{row['n']}:{row['x']}"


def summary_report(resolved: DataFrame) -> dict:
    """One pass of aggregations -> the reference's report dict
    (reporter.py:87-148, including the describe()-style distributional
    stats of reporter.py:106-108)."""
    qs = [0.25, 0.5, 0.75]
    totals = resolved.agg(
        F.count("*").alias("total_records"),
        F.countDistinct("norm_text").alias("unique_before"),
        F.countDistinct("cluster").alias("unique_after"),
        F.sum(F.col("needs_review").cast("int")).alias("needs_review"),
        F.avg("confidence_score").alias("avg_confidence"),
        F.coalesce(F.stddev("confidence_score"), F.lit(0.0)).alias("std_confidence"),
        F.min("confidence_score").alias("min_confidence"),
        F.max("confidence_score").alias("max_confidence"),
        # record-scale column -> approximate percentiles (one pass,
        # mergeable sketch; exact would sort the full record table)
        F.percentile_approx("confidence_score", qs).alias("q_confidence"),
    ).first()
    sizes = (
        resolved.groupBy("cluster")
        .agg(F.count("*").alias("n"))
        .select(
            F.sum((F.col("n") == 1).cast("int")).alias("singletons"),
            F.sum(((F.col("n") >= 2) & (F.col("n") <= 5)).cast("int")).alias("small_2_5"),
            F.sum(((F.col("n") >= 6) & (F.col("n") <= 20)).cast("int")).alias("medium_6_20"),
            F.sum((F.col("n") > 20).cast("int")).alias("large_over_20"),
            F.max("n").alias("max_cluster_size"),
            F.min("n").alias("min_cluster_size"),
            F.avg("n").alias("mean_cluster_size"),
            F.coalesce(F.stddev("n"), F.lit(0.0)).alias("std_cluster_size"),
            # cluster-size domain is small integers -> exact percentile
            # aggregates by value, no global sort
            F.percentile("n", F.array(*[F.lit(q) for q in qs])).alias("q_size"),
        )
        .first()
    )
    # A15: review-reason histogram (reference get_dummies(sep=',').sum())
    reasons = {
        r["reason"]: r["n"]
        for r in (
            resolved.where(F.col("review_reason").isNotNull())
            .select(F.explode(F.split("review_reason", ",")).alias("reason"))
            .groupBy("reason")
            .agg(F.count("*").alias("n"))
            .collect()
        )
    }
    ub, ua = totals["unique_before"], totals["unique_after"]
    return {
        "total_records": totals["total_records"],
        "unique_before": ub,
        "unique_after": ua,
        "reduction_rate": round(1.0 - ua / ub, 6) if ub else 0.0,
        "avg_confidence": round(float(totals["avg_confidence"] or 0.0), 6),
        "needs_review": int(totals["needs_review"] or 0),
        "cluster_sizes": {
            "singletons": int(sizes["singletons"] or 0),
            "2-5": int(sizes["small_2_5"] or 0),
            "6-20": int(sizes["medium_6_20"] or 0),
            ">20": int(sizes["large_over_20"] or 0),
            "max": int(sizes["max_cluster_size"] or 0),
        },
        # describe()-style distributional stats (reporter.py:106-108)
        "cluster_size_stats": {
            "count": ua,
            "mean": round(float(sizes["mean_cluster_size"] or 0.0), 6),
            "std": round(float(sizes["std_cluster_size"] or 0.0), 6),
            "min": int(sizes["min_cluster_size"] or 0),
            "25%": float(sizes["q_size"][0]) if sizes["q_size"] else 0.0,
            "50%": float(sizes["q_size"][1]) if sizes["q_size"] else 0.0,
            "75%": float(sizes["q_size"][2]) if sizes["q_size"] else 0.0,
            "max": int(sizes["max_cluster_size"] or 0),
        },
        "confidence_stats": {
            "count": totals["total_records"],
            "mean": round(float(totals["avg_confidence"] or 0.0), 6),
            "std": round(float(totals["std_confidence"] or 0.0), 6),
            "min": float(totals["min_confidence"] or 0.0),
            "25%": float(totals["q_confidence"][0]) if totals["q_confidence"] else 0.0,
            "50%": float(totals["q_confidence"][1]) if totals["q_confidence"] else 0.0,
            "75%": float(totals["q_confidence"][2]) if totals["q_confidence"] else 0.0,
            "max": float(totals["max_confidence"] or 0.0),
        },
        "review_reasons": reasons,
    }


def review_dataframe(resolved: DataFrame) -> DataFrame:
    """W3: the deduped original->canonical mapping, total-ordered for
    review (reference reporter.py:36-85; dedup via ordered window, not
    dropDuplicates — determinism O14)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("norm_text", "canonical_text").orderBy(F.col("conv_id").asc())
    return (
        resolved.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "norm_text", "canonical_text", "cluster", "cluster_size",
            "confidence_score", "confidence_category", "needs_review",
            "review_reason",
        )
        .orderBy(
            F.col("needs_review").desc(),
            F.col("confidence_score").asc(),
            F.col("canonical_text").asc(),
            F.col("norm_text").asc(),
        )
    )


def purity_contingency(
    labels: DataFrame,
    label_a: str = "label_a",
    label_b: str = "label_b",
    noise: object = None,
    purity_min: float = 0.0,
    min_overlap: int = 0,
) -> DataFrame:
    """A6: contingency purity between two labelings of the same rows
    (reference clusterer.py:676-724, its SNN-vs-HDBSCAN mapping).

    For every a-cluster: total = its full member count (noise-b members
    INCLUDED — the reference's "true total size" denominator), overlap =
    members shared with each b-cluster (noise excluded on both sides),
    purity = overlap / total; returns the best b per a (overlap desc,
    deterministic b-asc tie-break) filtered by purity_min/min_overlap.

    Pure SQL: two groupBy aggregations + one window, all keyed by the
    cluster labels — no all-pairs term at any scale.
    """
    a_valid = labels.where(F.col(label_a) != F.lit(noise)) if noise is not None else labels
    totals = a_valid.groupBy(label_a).agg(F.count("*").alias("total"))
    both = (
        a_valid.where(F.col(label_b) != F.lit(noise)) if noise is not None else a_valid
    )
    overlap = both.groupBy(label_a, label_b).agg(F.count("*").alias("overlap"))
    w = W.partitionBy(label_a).orderBy(F.col("overlap").desc(), F.col(label_b).asc())
    return (
        overlap.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .join(totals, label_a)
        .withColumn("purity", F.col("overlap") / F.col("total"))
        .where((F.col("purity") >= purity_min) & (F.col("overlap") >= min_overlap))
        .select(label_a, F.col(label_b).alias("best_match"), "overlap", "total", "purity")
    )
