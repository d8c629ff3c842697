"""Community detection on weighted edge DataFrames (SURVEY G4/G8
analogs) — the density-aware complement to connected components.

G2 components merge everything reachable through ANY above-threshold
edge; a single spurious bridge fuses two dense duplicate families.
The reference breaks such bridges with Louvain modularity
(/root/reference/entity_resolver/clusterer.py:400-413, cugraph) and
reconciles two clusterings with a purity ensemble
(clusterer.py:599-937). Spark has no Louvain, and modularity
optimization is inherently sequential — the distributed stand-in with
the same role (splitting bridged dense groups) is weighted
semi-synchronous label propagation:

  * every node starts as its own label (its id — deterministic);
  * each round, a node adopts the label with the largest incident
    edge-weight sum (ties: weight desc, label asc — total order); the
    sums are exact over weights rounded to 18 decimals, so a tie is a
    tie whatever the partitioning;
  * nodes update in alternating hash-parity phases (semi-synchronous
    LPA, Cordasco & Gargano 2011), which breaks the oscillation that
    makes fully-synchronous LPA non-convergent on bipartite shapes
    and keeps the result deterministic — no random node ordering;
  * fixed round budget; above the driver gate each round is one
    groupBy shuffle keyed by node + one broadcast-free join + a cut and
    an action. O(E) per round, O(log-ish) rounds in practice — the
    same scale shape as components;
  * under the gate (adjacency of at most `driver_solve_max_edges`
    rows, the same 500k default as components) the rounds run on the
    driver over one collect — same tie and stop rules, same labels —
    so a small graph costs a few Spark jobs instead of two per round.

`ensemble_clusters` then reconciles a primary clustering with a
secondary one exactly like the reference's ensemble (clusterer.py:
726-937): purity-map secondary groups onto primary clusters (A6,
operators/report.py), RESCUE primary-noise rows through the mapping,
and MINT new clusters from unmapped secondary groups of sufficient
size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from entity_resolver_spark.operators.report import purity_contingency
from entity_resolver_spark.lineage import counted_cut, eager_cut, release_checkpoint


# exact edge weights: each weight is rounded once to 18 decimals and
# every label score is an exact decimal sum, so a score cannot depend on
# the order its terms are added in (a double sum can differ in the last
# ulp, which turns an exact tie into a partition-dependent winner), and
# the driver rounds below reproduce the distributed scores bit for bit.
_EXACT = "decimal(38,18)"
_SCALE = 10**18


def _driver_label_propagation(adj: DataFrame, max_iter: int, parity_expr) -> DataFrame:
    """The distributed rounds of label_propagation, run in Python over
    ONE collect of the symmetric max-weight adjacency — same labels,
    for adjacency small enough that each round's fixed Spark cost
    (a shuffle, a cut and an action) is all the round costs.

    Each node's update parity is computed in Spark by the caller's
    parity_expr, so the driver never reimplements xxhash64. Ties rank
    exactly like the window: score desc (an all-null score last), then
    community asc (python str order == Spark's UTF-8 binary order, see
    components._driver_components). Scores are the same exact sums of
    the same decimal weights, held as integers in units of 1e-18."""
    from pyspark.sql import types as T

    import pandas as pd

    id_t = adj.schema["u"].dataType
    nbrs: dict = {}
    parity: dict = {}
    for u, v, w, p in adj.select("u", "v", "w", parity_expr(F.col("u"))).collect():
        if w is not None:
            num, den = w.as_integer_ratio()
            w = num * (_SCALE // den)
        nbrs.setdefault(u, []).append((v, w))
        parity[u] = p

    def rank(ws, c):
        ws = [w for w in ws if w is not None]
        return (not ws, -sum(ws), c)

    label = {u: u for u in nbrs}
    quiet = 0
    for it in range(max_iter):
        new = {}
        for u, nb in nbrs.items():
            if parity[u] != it % 2:
                continue
            scores: dict = {}
            for v, w in nb:
                scores.setdefault(label[v], []).append(w)
            best = min(scores, key=lambda c: rank(scores[c], c))
            if best != label[u]:
                new[u] = best
        label.update(new)  # semi-synchronous: applied after the sweep
        quiet = quiet + 1 if not new else 0
        if quiet >= 2:
            break
    schema = T.StructType(
        [T.StructField("id", id_t), T.StructField("community", id_t)]
    )
    # through pandas/Arrow: a LocalRelation, scanned in the JVM and
    # sized for broadcast. A plain list becomes an RDD whose every scan
    # runs Python workers (measured 391 vs 125 ms per aggregation of
    # 700 rows on 3 local cores).
    out = pd.DataFrame(list(label.items()), columns=["id", "community"])
    return adj.sparkSession.createDataFrame(out, schema)


def label_propagation(
    edges: DataFrame,
    max_iter: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = "weight",
    parity_expr=None,
    driver_solve_max_edges: int = 500_000,
) -> DataFrame:
    """edges(src, dst[, weight]) -> (id, community). Deterministic
    semi-synchronous weighted LPA; unweighted if weight_col is None.
    Label scores are exact decimal sums (see _EXACT), so the labels do
    not depend on partitioning and both paths below agree.

    parity_expr(id_col) -> 0/1 column picks each node's update phase;
    default pmod(xxhash64(id), 2). Integer-id graphs can pass
    ``lambda c: F.pmod(c, F.lit(2))`` to make the whole computation
    SQL-portable (the value-level DuckDB oracle uses exactly that).

    Early stop after two consecutive quiet rounds is semantics-free:
    a full quiet parity cycle means every node's best label is its
    current one, so further rounds are no-ops — running exactly
    max_iter rounds yields the identical labeling.

    Adjacency of at most `driver_solve_max_edges` rows (each undirected
    edge counts twice; known exactly — the job that materializes the
    adjacency counts it) runs the rounds on the driver
    (_driver_label_propagation), like connected_components' union-find
    gate; 0 forces the distributed rounds."""
    if parity_expr is None:
        parity_expr = lambda c: F.pmod(F.xxhash64(c), F.lit(2))  # noqa: E731
    wexpr = F.col(weight_col) if weight_col else F.lit(1.0)
    # symmetric adjacency, one row per directed neighbor
    adj, n_adj = counted_cut(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"), wexpr.alias("w"))
        .union(
            edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"), wexpr.alias("w"))
        )
        .groupBy("u", "v")
        .agg(F.max("w").cast(_EXACT).alias("w"))
    )
    if driver_solve_max_edges and n_adj <= driver_solve_max_edges:
        labels = _driver_label_propagation(adj, max_iter, parity_expr)
        release_checkpoint(adj)
        return labels
    labels = adj.select(F.col("u").alias("id")).distinct().withColumn(
        "community", F.col("id")
    ).transform(eager_cut)

    quiet = 0
    for it in range(max_iter):
        # neighbor label-weight sums
        nbr = (
            adj.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy("u", "community")
            .agg(F.sum("w").alias("score"))
        )
        best = (
            nbr.withColumn(
                "__rn",
                F.row_number().over(
                    W.partitionBy("u").orderBy(
                        F.col("score").desc(), F.col("community").asc()
                    )
                ),
            )
            .where(F.col("__rn") == 1)
            .select(F.col("u").alias("id"), F.col("community").alias("new_community"))
        )
        # semi-synchronous: only the active hash-parity side updates.
        # The changed-flag is computed IN the update projection so the
        # convergence check is a trivial agg over the checkpointed rows
        # — not (as before) a second full join+count job per round.
        parity = it % 2
        upd = F.when(
            (parity_expr(F.col("id")) == parity)
            & F.col("new_community").isNotNull(),
            F.col("new_community"),
        ).otherwise(F.col("community"))
        updated = (
            labels.join(best, "id", "left")
            .select(
                "id",
                upd.alias("community"),
                (upd != F.col("community")).cast("int").alias("__chg"),
            )
            .transform(eager_cut)
        )
        changed = updated.agg(F.sum("__chg").alias("c")).first()["c"] or 0
        # the superseded round is read by no live plan once `updated`
        # is materialized — free it, or a run holds one labels
        # checkpoint per round
        release_checkpoint(labels)
        labels = updated.drop("__chg")
        quiet = quiet + 1 if changed == 0 else 0
        if quiet >= 2:  # both parities quiesced back-to-back
            break
    release_checkpoint(adj)
    return labels


def ensemble_clusters(
    assignments: DataFrame,
    id_col: str = "id",
    primary_col: str = "primary",
    secondary_col: str = "secondary",
    noise: object = None,
    purity_min: float = 0.6,
    min_overlap: int = 2,
    min_new_cluster: int = 4,
) -> DataFrame:
    """assignments(id, primary, secondary) -> (id, cluster).

    Reference G8 semantics (clusterer.py:726-937): (1) purity-map
    secondary groups onto primary clusters; (2) rows whose primary is
    noise but whose secondary group maps validly are RESCUED into the
    mapped primary cluster; (3) unmapped secondary groups with >=
    min_new_cluster noise members MINT new clusters (label
    'new#<secondary>'); (4) everyone else keeps their primary label
    (cast to string for the unioned label space)."""
    mapping = purity_contingency(
        assignments.select(
            F.col(secondary_col).alias("label_a"), F.col(primary_col).alias("label_b")
        ),
        noise=noise,
        purity_min=purity_min,
        min_overlap=min_overlap,
    ).select(
        F.col("label_a").alias(secondary_col),
        F.col("best_match").alias("__mapped_primary"),
    )
    # mapping/mint tables are secondary-group-count-sized (unbounded at
    # scale) — same broadcast gate as the refinement passes
    from entity_resolver_spark.operators.refine import (
        MAP_BROADCAST_CAP,
        _maybe_broadcast,
    )

    mapping, n_map = counted_cut(mapping)
    df = assignments.join(
        _maybe_broadcast(mapping, n_map, MAP_BROADCAST_CAP), secondary_col, "left"
    )
    is_noise = (
        F.col(primary_col) == F.lit(noise) if noise is not None else F.lit(False)
    )
    # noise members per unmapped secondary group (mint candidates)
    mint_sizes = (
        df.where(
            is_noise
            & F.col("__mapped_primary").isNull()
            & (F.col(secondary_col) != F.lit(noise) if noise is not None else F.lit(True))
        )
        .groupBy(secondary_col)
        .agg(F.count("*").alias("__n_noise"))
        .where(F.col("__n_noise") >= min_new_cluster)
        .select(secondary_col, F.lit(True).alias("__mint"))
    )
    mint_sizes, n_mint = counted_cut(mint_sizes)
    df = df.join(
        _maybe_broadcast(mint_sizes, n_mint, MAP_BROADCAST_CAP), secondary_col, "left"
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.when(~is_noise, F.col(primary_col).cast("string"))
        .when(F.col("__mapped_primary").isNotNull(), F.col("__mapped_primary").cast("string"))
        .when(
            F.col("__mint"),
            F.concat(F.lit("new#"), F.col(secondary_col).cast("string")),
        )
        .otherwise(F.col(primary_col).cast("string"))
        .alias("cluster"),
    )


# sentinel for "tiny LPA fragment" in the ensemble's primary labeling;
# \x1e cannot survive normalization (normalize.py folds C0 controls to
# space), so it can never collide with a real cluster id
_BRIDGE_NOISE = "\x1e__fragment__"


def break_bridges(
    records: DataFrame,
    edges: DataFrame,
    cluster_col: str = "cluster",
    min_component: int = 8,
    max_iter: int = 8,
    min_community: int = 2,
    purity_min: float = 0.5,
    density_floor: float = 0.9,
) -> DataFrame:
    """Split bridge-fused clusters (the reference's Louvain+ensemble
    role, clusterer.py:400-413,599-937, invoked from resolver.py:
    432-436): G2 components fuse two dense duplicate families through a
    single spurious above-threshold edge; density-aware communities
    separate them.

    Shape: only clusters that could actually hide a bridge are touched:
    (a) >= min_component members (a genuine duplicate family below that
    can't hide two families worth splitting), AND (b) internal edge
    density 2E/(n(n-1)) < density_floor — an edge-COMPLETE component is
    one mutually-connected family by construction, so LPA on it is pure
    cost (and on corpora where most duplicate families are large tight
    cliques, skipping them is the difference between O(E_suspicious)
    and O(E_total) per LPA round). Within each suspicious cluster, run
    weighted semi-synchronous LPA over its INTERNAL scored match
    edges — labels can only propagate along intra-cluster edges, so LPA
    communities never span clusters and the relabel is a per-cluster
    partition. Then reconcile with the ensemble exactly as the
    reference does: communities of >= min_community members become
    clusters; smaller fragments are marked noise and RESCUED into their
    original cluster's dominant community via the purity mapping
    (minting is disabled — an unrescued fragment becomes its own
    singleton, eligible for the reassignment pass downstream).

    Cost: two aggs + two label joins + O(E_suspicious) per LPA round;
    below label_propagation's driver gate the rounds cost no Spark jobs,
    and the two emptiness checks come from the jobs that materialize.

    Interplay with salted blocking (blocking.py ring-linked sub-blocks):
    a legitimate oversized family arrives as ring-linked sub-cliques —
    low density, so LPA may label each sub-clique separately. That is
    safe BY PIPELINE ORDER: merge_clusters_vector (G9) runs IMMEDIATELY
    after this pass (before evict/reassign, so those see whole-family
    centroids, not LPA fragments) and re-merges them because true
    sub-family centroids are near-parallel (cosine ~1), while genuinely
    distinct bridged families stay split because their centroids are
    not. LPA proposes, the vector merge disposes. The density floor
    itself cannot be lowered much below the default: a bridged pair of
    equal-size cliques has internal density ≈ 0.5, so a floor under
    ~0.5 would skip exactly the clusters this pass exists to split.
    """
    sizes = records.groupBy(cluster_col).agg(F.count("*").alias("__n"))
    big = sizes.where(F.col("__n") >= min_component)
    members_all = records.join(big.select(cluster_col), cluster_col).select(
        "conv_id", cluster_col
    )
    lab_a = members_all.select(F.col("conv_id").alias("src"), F.col(cluster_col).alias("__ca"))
    lab_b = members_all.select(F.col("conv_id").alias("dst"), F.col(cluster_col).alias("__cb"))
    internal_all, n_internal = counted_cut(
        edges.join(lab_a, "src")
        .join(lab_b, "dst")
        .where(F.col("__ca") == F.col("__cb"))
        .select("src", "dst", F.col("score").alias("weight"), F.col("__ca"))
    )
    if n_internal == 0:
        return records
    suspicious = (
        internal_all.groupBy("__ca")
        .agg(F.count("*").alias("__e"))
        .join(big.withColumnRenamed(cluster_col, "__ca"), "__ca")
        .where(
            2.0 * F.col("__e") / (F.col("__n") * (F.col("__n") - 1)) < density_floor
        )
        .select("__ca")
    )
    internal = internal_all.join(suspicious, "__ca").select("src", "dst", "weight")
    members, n_members = counted_cut(
        members_all.join(suspicious.withColumnRenamed("__ca", cluster_col), cluster_col)
    )
    if n_members == 0:
        return records
    comm = label_propagation(internal, max_iter=max_iter)  # (id, community)
    csizes = comm.groupBy("community").agg(F.count("*").alias("__cn"))
    assignments = (
        members.withColumnRenamed("conv_id", "id")
        .join(comm, "id", "left")
        .join(csizes, "community", "left")
        .select(
            "id",
            F.when(
                F.col("community").isNotNull() & (F.col("__cn") >= min_community),
                F.col("community").cast("string"),
            )
            .otherwise(F.lit(_BRIDGE_NOISE))
            .alias("primary"),
            F.col(cluster_col).cast("string").alias("secondary"),
        )
    )
    new_labels = ensemble_clusters(
        assignments,
        noise=_BRIDGE_NOISE,
        purity_min=purity_min,
        min_overlap=min_community,
        min_new_cluster=1 << 31,  # minting off: fragments fall through
    ).select(
        F.col("id").alias("conv_id"),
        # unrescued fragments become their own singleton (deterministic:
        # own conv_id), same convention as eviction
        F.when(F.col("cluster") == _BRIDGE_NOISE, F.col("id"))
        .otherwise(F.col("cluster"))
        .alias("__bb"),
    )
    return (
        records.join(new_labels, "conv_id", "left")
        .withColumn(
            cluster_col,
            F.coalesce(F.col("__bb"), F.col(cluster_col).cast("string")),
        )
        .drop("__bb")
    )
