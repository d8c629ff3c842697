"""Connected components via alternating large-star / small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SOCC 2014) on an edge DataFrame (SURVEY G2; BASELINE-mandated).

Replaces the reference's cugraph.connected_components
(/root/reference/entity_resolver/utils/graph.py:137-230) and subsumes
its union-find (utils/clustering.py:435-458) and pointer-jumping
(merger.py:958-977) — all three reference mechanisms are the same
fixpoint this computes distributively in O(log n) rounds.

Implementation notes for scale:
  * node ids are any orderable type (we use conv_id strings; the
    component label is the MINIMUM member id — deterministic, stable
    across runs and partitionings, reference O14 analog);
  * each round is two shuffles (groupBy u, then distinct); AQE sizes
    the reducers;
  * `localCheckpoint` every iteration cuts the exploding lineage
    (reference O12 note) — on a real cluster with an Iceberg catalog
    this would be a checkpoint table per iteration (see
    checkpoint.py);
  * convergence = (count, xxhash64-checksum) pair of the edge set
    unchanged — one lightweight action per round;
  * edge sets of at most `driver_solve_max_edges` (500k) skip the
    rounds: the cut that dedups the edges also counts them, and below
    the gate one collect feeds an exact driver union-find — two Spark
    jobs per call, whatever the graph's diameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from entity_resolver_spark.lineage import counted_cut, eager_cut


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: m = min(N(u) ∪ {u}); connect every strictly
    larger neighbor to m."""
    nbrs = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = nbrs.groupBy("src").agg(F.min("dst").alias("m")).withColumn(
        "m", F.least(F.col("m"), F.col("src"))
    )
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward the smaller endpoint; for each node u:
    m = min(N(u) ∪ {u}); connect u and all its (smaller) neighbors to m."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    nbr_edges = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edges = mins.select(F.col("src"), F.col("m").alias("dst"))
    return (
        nbr_edges.union(self_edges)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    # bit_xor is order-insensitive and cannot overflow under ANSI mode;
    # the edge set is distinct so cancellation cannot occur
    row = edges.select(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _driver_components(e: DataFrame) -> DataFrame:
    """Exact union-find over a COLLECTED edge list — same contract as
    the distributed fixpoint (labels(node, component), component = min
    member id), for edge sets small enough that the star rounds are
    pure fixed overhead (each round is 4 shuffles + an action; measured
    ~1.5-2s per components() call at local scale regardless of size).
    Callers gate on the measured edge count, so at 100 TB shapes the
    collect stays bounded and big components run distributed."""
    from pyspark.sql import types as T

    import pandas as pd

    node_t = e.schema["src"].dataType
    schema_empty = T.StructType(
        [T.StructField("node", node_t), T.StructField("component", node_t)]
    )
    pdf = e.select("src", "dst").toPandas()  # Arrow path; bounded by the gate
    if pdf.empty:
        return e.sparkSession.createDataFrame([], schema_empty)
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id keeps every root the component minimum
            # (python string order == Spark's UTF8 binary order: UTF-8
            # byte order preserves code-point order)
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    out = pd.DataFrame(
        {"node": list(parent.keys()), "component": [find(n) for n in parent]}
    )
    schema = T.StructType(
        [T.StructField("node", node_t), T.StructField("component", node_t)]
    )
    return e.sparkSession.createDataFrame(out, schema)


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    checkpoint_every: int = 1,
    driver_solve_max_edges: int = 500_000,
) -> DataFrame:
    """edges(src, dst) -> labels(node, component) for every node that
    appears in an edge; `component` is the min node id of the component.
    Callers attach singletons with a left join + coalesce(component, id).

    Edge sets at or below `driver_solve_max_edges` (known exactly: the
    job that checkpoints the deduplicated edge set also counts it,
    lineage.counted_cut) are solved with an exact driver union-find
    instead of the star rounds: identical labels, and the
    ~4-shuffles-plus-action fixed cost per round disappears. The small
    path therefore costs two Spark jobs — cut-and-count, then the
    collect. The refinement passes call this once per merge pass on
    candidate sets that are usually tiny. The convergence fingerprint
    is computed only on the distributed path.
    """
    e, n_edges = counted_cut(
        edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    )
    if driver_solve_max_edges and n_edges <= driver_solve_max_edges:
        return _driver_components(e)

    prev = _fingerprint(e)
    for it in range(max_iterations):
        e = _small_star(_large_star(e))
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            e = e.transform(eager_cut)
        cur = _fingerprint(e)
        if cur == prev:
            break
        prev = cur

    # converged edge set is a star: (node > root) -> root
    roots = e.select(F.col("dst").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    return members.union(roots).groupBy("node").agg(F.min("component").alias("component"))


def attach_labels(
    records: DataFrame, labels: DataFrame, id_col: str = "conv_id", out_col: str = "cluster"
) -> DataFrame:
    """Left-join component labels; records with no edges become their own
    singleton cluster (label = own id — deterministic)."""
    lab = labels.withColumnRenamed("node", id_col).withColumnRenamed("component", out_col)
    return records.join(lab, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.col(id_col))
    )
