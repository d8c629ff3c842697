"""Confidence scoring + review flags (SURVEY K10/K11, A12).

Reference: /root/reference/entity_resolver/scorer.py:80-179 — cluster
metrics (count, mean probability, cohesion = 1 - std of similarity),
weighted confidence with clip to [0,1], bucketized categories
[0,.5,.7,.85,1] -> Low/Medium/High/Very High, and review flags with a
csv reason column (concat of reasons, scorer.py:168-179).

Here the pair `score` column plays the role of the reference's cluster
probability: avg edge score within a cluster ~ mean membership
probability, stddev -> cohesion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolver_spark.config import ConfidenceConfig


# exact accumulator for the edge-score moments: decimal sums are exact,
# so their value cannot depend on the order shuffle blocks arrive in
# (a double sum — F.avg/F.stddev_pop — can differ in the last ulp from
# run to run). Holds |score| < 1e10 with 18 decimals.
_EXACT = "decimal(38,18)"


def cluster_edge_stats(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-cluster edge statistics: n_edges, avg/stddev (population) of
    edge score. `edges` = scored match edges (src, dst, score); `labels`
    = (node, component).

    Bit-deterministic under any partitioning: each score and its square
    are rounded to 18 decimals per row, summed exactly, and converted
    to double once. The one-pass variance E[x²] - E[x]² cancels to about
    ±1e-16 when the scores are all equal, so that case (min == max, a
    one-edge cluster included) is exactly 0, as stddev_pop gives, and
    the rest is clamped at 0."""
    lab = labels.withColumnRenamed("node", "src").withColumnRenamed("component", "cluster")
    e = edges.join(lab, "src")
    s = F.col("score")
    n = F.col("__n")
    mean = F.col("__s1").cast("double") / n
    var = F.col("__s2").cast("double") / n - mean * mean
    return (
        e.groupBy("cluster")
        .agg(
            F.count("*").alias("n_edges"),
            F.count(s).alias("__n"),
            F.sum(s.cast(_EXACT)).alias("__s1"),
            F.sum((s * s).cast(_EXACT)).alias("__s2"),
            (F.min(s) == F.max(s)).alias("__flat"),
        )
        .select(
            "cluster",
            "n_edges",
            mean.alias("avg_edge_score"),
            F.when(F.col("__flat"), F.lit(0.0))
            .otherwise(F.coalesce(F.sqrt(F.greatest(var, F.lit(0.0))), F.lit(0.0)))
            .alias("std_edge_score"),
        )
    )


def score_confidence(
    records: DataFrame, edge_stats: DataFrame, cfg: ConfidenceConfig,
    cluster_col: str = "cluster",
) -> DataFrame:
    """Attach confidence_score, confidence_category, needs_review,
    review_reason (reference K10/K11 weights re-expressed over edge
    statistics, including the name-change penalty stack of
    scorer.py:115-129 and the drastic/singleton review flags of
    scorer.py:160-168)."""
    sizes = records.groupBy(cluster_col).agg(F.count("*").alias("cluster_size"))
    df = (
        records.join(sizes, cluster_col)
        .join(edge_stats.withColumnRenamed("cluster", cluster_col), cluster_col, "left")
        .fillna({"n_edges": 0, "avg_edge_score": 0.0, "std_edge_score": 0.0})
    )

    # change_magnitude = 1 - sim(original normalized text, canonical
    # text) (reference scorer.py:116-119, TF-IDF sim there; normalized
    # prefix-capped Levenshtein here, from the native C kernel).
    has_change = "norm_text" in records.columns and "canonical_text" in records.columns
    if has_change:
        from entity_resolver_spark.functions.similarity import lev_expr

        a = F.substring(F.col("norm_text"), 1, cfg.change_prefix_chars)
        b = F.substring(F.col("canonical_text"), 1, cfg.change_prefix_chars)
        # r6: C-kernel distance (value-identical to F.levenshtein; the
        # JVM DP paid ~30-80us per 128-char pair)
        change = (
            lev_expr(a, b)
            / F.greatest(F.length(a), F.length(b), F.lit(1))
        ).cast("double")
    else:
        change = F.lit(0.0)
    df = df.withColumn("_change_magnitude", change)
    # singletons: fully confident in themselves (no merge risk)
    avg_s = F.when(F.col("cluster_size") == 1, F.lit(1.0)).otherwise(F.col("avg_edge_score"))
    cohesion = F.when(F.col("cluster_size") == 1, F.lit(1.0)).otherwise(
        1.0 - F.least(F.col("std_edge_score") * 2.0, F.lit(1.0))
    )
    size_factor = F.least(
        F.log(F.col("cluster_size") + 1.0) / F.log(F.lit(11.0)), F.lit(1.0)
    )
    raw = (
        cfg.w_avg_edge_score * avg_s
        + cfg.w_cohesion * cohesion
        + cfg.w_size_factor * size_factor
    )
    # penalty stack (reference scorer.py:115-129, applied in order):
    # x0.9 for a significant name change; x0.95 for enriched metadata;
    # x0.85 for small clusters with drastic changes.
    cm = F.col("_change_magnitude")
    raw = raw * F.when(
        cm > cfg.name_change_floor, F.lit(cfg.name_change_penalty)
    ).otherwise(F.lit(1.0))
    if "metadata_was_enriched" in records.columns:
        raw = raw * F.when(F.col("metadata_was_enriched"), F.lit(0.95)).otherwise(
            F.lit(1.0)
        )
    raw = raw * F.when(
        (F.col("cluster_size") <= 2) & (cm > cfg.small_cluster_change_floor),
        F.lit(cfg.small_cluster_penalty),
    ).otherwise(F.lit(1.0))
    conf = F.least(F.greatest(raw, F.lit(0.0)), F.lit(1.0))
    df = df.withColumn("confidence_score", conf)

    # bucketize (reference cudf.cut, scorer.py:141)
    cat = F.when(F.col("confidence_score") < cfg.buckets[1], cfg.categories[0])
    for i in range(1, len(cfg.categories) - 1):
        cat = cat.when(F.col("confidence_score") < cfg.buckets[i + 1], cfg.categories[i])
    cat = cat.otherwise(cfg.categories[-1])
    df = df.withColumn("confidence_category", cat)

    # review flags (scorer.py:158-179): low_confidence,
    # drastic_name_change, singleton_name_change, enriched_low_confidence,
    # plus the repo's own low_cohesion_large_cluster heuristic.
    low_conf = F.col("confidence_score") < cfg.review_threshold
    big_cluster_low_cohesion = (F.col("cluster_size") >= 5) & (cohesion < 0.6)
    drastic_change = cm > cfg.drastic_change_floor
    singleton_change = (F.col("cluster_size") == 1) & (
        cm > cfg.singleton_change_floor
    )
    enriched_low = (
        (F.col("metadata_was_enriched") & (F.col("confidence_score") < 0.8))
        if "metadata_was_enriched" in records.columns
        else F.lit(False)
    )  # reference K11: enriched & conf<0.8 (scorer.py:158-179)
    reasons = F.concat_ws(
        ",",
        F.when(low_conf, F.lit("low_confidence")),
        F.when(drastic_change, F.lit("drastic_name_change")),
        F.when(singleton_change, F.lit("singleton_name_change")),
        F.when(big_cluster_low_cohesion, F.lit("low_cohesion_large_cluster")),
        F.when(enriched_low, F.lit("enriched_low_confidence")),
    )
    return (
        df.withColumn(
            "needs_review",
            low_conf
            | drastic_change
            | singleton_change
            | big_cluster_low_cohesion
            | enriched_low,
        )
        .withColumn("review_reason", F.when(F.length(reasons) > 0, reasons))
        .drop("_change_magnitude")
    )
