"""Cluster validation: invariant gates + consolidation (SURVEY Q1/Q2,
G11, G14 analog).

Reference gates: no identical composite entity in two clusters
(/root/reference/entity_resolver/utils/validation.py:18-90, invoked
resolver.py:452,462) and canonical-name -> canonical-metadata
functional dependency (utils/validation.py:124-161, resolver.py:475).
Identical-entity consolidation is merger.py:435-1008 (G11) — winner by
(size, min id), transitive flattening; here components subsume the
reference's pointer-jumping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from entity_resolver_spark.lineage import counted_cut
from entity_resolver_spark.operators.collapse import TURN_SEP
from entity_resolver_spark.operators.components import merge_through_components


def q1_violations(records: DataFrame, key_col: str = "norm_text", cluster_col: str = "cluster") -> DataFrame:
    """Entities whose identical composite key lands in >1 cluster
    (must be empty after consolidation — Q1 gate)."""
    return (
        records.groupBy(key_col)
        .agg(F.countDistinct(cluster_col).alias("n_clusters"))
        .where(F.col("n_clusters") > 1)
    )


def consolidate_identical(records: DataFrame, key_col: str = "norm_text", cluster_col: str = "cluster") -> DataFrame:
    """G11: clusters sharing an identical key are merged — build
    cluster-cluster edges through shared keys and merge them with
    components.merge_through_components (min cluster id wins).

    The cluster graph is orders of magnitude smaller than the record
    table, so the iterative step runs on a tiny DataFrame regardless of
    input scale."""
    key_clusters = records.select(key_col, cluster_col).distinct()
    a = key_clusters.select(F.col(key_col).alias("k"), F.col(cluster_col).alias("src"))
    b = key_clusters.select(F.col(key_col).alias("k"), F.col(cluster_col).alias("dst"))
    return merge_through_components(
        records, a.join(b, "k").where(F.col("src") < F.col("dst")), cluster_col
    )


def q2_violations(records: DataFrame, name_col: str = "canonical_text", meta_col: str = "cluster") -> DataFrame:
    """Q2: canonical text must map to exactly one cluster id
    (functional dependency, utils/validation.py:124-161)."""
    return (
        records.groupBy(name_col)
        .agg(F.countDistinct(F.coalesce(F.col(meta_col), F.lit("∅"))).alias("n_meta"))
        .where(F.col("n_meta") > 1)
    )


def enforce_canonical_fd(
    records: DataFrame, name_col: str = "canonical_text", cluster_col: str = "cluster"
) -> DataFrame:
    """Q2 repair: make canonical_text -> cluster a functional dependency.

    canonical_by_frequency/centrality picks per cluster, so two distinct
    clusters CAN converge to the same canonical text (reference gate:
    utils/validation.py:124-161, invoked resolver.py:475). Deterministic
    tiebreak: rank the offending clusters by min member conv_id and
    suffix every cluster after the first with '<TURN_SEP>#<rank>' (A14
    chain numbering) — the first keeps the unmodified canonical text.
    TURN_SEP (\\x1e) is the reserved separator: normalization folds all
    C0 controls to space (normalize.py), so no pre-existing canonical
    text can contain it and the repaired name can never collide with a
    real one (a plain ' #2' suffix could). Cost is one agg over
    (name, cluster) pairs, tiny vs the record table; the repair rows
    are materialized once, by the job that counts them."""
    pairs = records.groupBy(name_col, cluster_col).agg(
        F.min("conv_id").alias("__min_id")
    )
    ranked = pairs.withColumn(
        "__rank",
        F.row_number().over(
            W.partitionBy(name_col).orderBy(F.col("__min_id").asc(), F.col(cluster_col).asc())
        ),
    )
    fix, n_fix = counted_cut(
        ranked.where(F.col("__rank") > 1).select(
            name_col,
            cluster_col,
            F.concat(
                F.col(name_col), F.lit(TURN_SEP + "#"), F.col("__rank").cast("string")
            ).alias("__fixed_name"),
        )
    )
    if n_fix == 0:
        return records
    return (
        records.join(fix, [name_col, cluster_col], "left")
        .withColumn(name_col, F.coalesce(F.col("__fixed_name"), F.col(name_col)))
        .drop("__fixed_name")
    )


def split_on_metadata(
    records: DataFrame,
    cluster_col: str = "cluster",
    tool_conflict: bool = False,
    max_ts_gap_days: int | None = None,
) -> DataFrame:
    """G14 analog: split clusters whose members have irreconcilable
    transcript metadata (the reference splits on multi-state clusters
    and wide street-number ranges, refiner.py:423-589; transcripts use
    tool-set disjointness and wide time ranges instead).

    New cluster ids are minted deterministically as
    '<cluster>#<subkey>' (reference A14 ngroup analog)."""
    out = records
    if max_ts_gap_days is not None:
        bounds = out.groupBy(cluster_col).agg(F.min("ts_min").alias("__c_min"))
        out = (
            out.join(bounds, cluster_col)
            .withColumn(
                "__gap_bucket",
                (F.datediff(F.col("ts_min"), F.col("__c_min")) / F.lit(max_ts_gap_days))
                .cast("int"),
            )
            .withColumn(
                cluster_col,
                F.when(F.col("__gap_bucket") > 0,
                       F.concat_ws("#", F.col(cluster_col), F.col("__gap_bucket").cast("string")))
                .otherwise(F.col(cluster_col)),
            )
            .drop("__c_min", "__gap_bucket")
        )
    if tool_conflict:
        # members whose tool sets are DISJOINT from the cluster's modal
        # tool SET get a split bucket. Disjointness (not mere absence of
        # the single modal tool) is the safe transcript analog of the
        # reference's multi-state split: a truncated duplicate whose
        # tools are a subset of the family's still overlaps the modal
        # set, while a genuinely different entity's tools don't.
        # election groups by the SORTED array — tools is set-semantics,
        # so the same multiset stored in different orders must vote
        # together (the downstream arrays_overlap test is already
        # order-insensitive; the election must be too)
        modal = (
            out.where(F.size("tools") > 0)
            .groupBy(cluster_col, F.array_sort("tools").alias("__tools_s"))
            .count()
            .groupBy(cluster_col)
            .agg(
                F.max_by("__tools_s", F.struct("count", "__tools_s")).alias(
                    "__modal_tools"
                )
            )
        )
        out = (
            out.join(modal, cluster_col, "left")
            .withColumn(
                cluster_col,
                F.when(
                    F.col("__modal_tools").isNotNull()
                    & (F.size("tools") > 0)
                    & ~F.arrays_overlap("tools", F.col("__modal_tools")),
                    F.concat_ws("#", F.col(cluster_col), F.lit("t")),
                ).otherwise(F.col(cluster_col)),
            )
            .drop("__modal_tools")
        )
    return out
