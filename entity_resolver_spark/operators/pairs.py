"""Block-local pairwise scoring (SURVEY §2.8, stage 4 of the plan).

Reference: similarity kernels in /root/reference/entity_resolver/utils/
similarity.py and the weighted combination in validator.py:396-401 (K8).

Execution shape: the candidate-pair table is joined twice against a
pruned attribute view (reference J3 pattern, address_processor.py:
686-707) — Catalyst prunes columns so only what the kernels need moves
through the shuffle. One Arrow round trip (`sparse_cosine_blob_udf`)
computes both the token-overlap cosine and the TF-IDF cosine; the
overlap cosine then gates the string kernels, so only plausible pairs
reach Jaro-Winkler and Levenshtein (reference analog: centroid
prefilter O5, utils/clustering.py:331-403).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from entity_resolver_spark.config import ScoringConfig
from entity_resolver_spark.functions.similarity import (
    jw_expr,
    lev_sim_expr,
    sparse_cosine_blob_udf,
)

# pairs below this cheap-cosine floor never reach the Python kernels
PREFILTER_FLOOR = 0.15


def score_pairs(
    records: DataFrame,
    pairs: DataFrame,
    cfg: ScoringConfig,
    broadcast_records: bool = False,
) -> DataFrame:
    """pairs(conv_a, conv_b) -> scored pairs with individual kernel
    columns and the weighted `score` (all in [0,1]).

    Join shape: ONE join per pair side attaching every attribute the
    kernels need (capped text + sparse vector). An earlier four-join
    two-phase variant shuffled the accumulating pair payload once per
    hop (~11GB at 380k candidate pairs) and the sort-merge sorts
    dominated the stage; with attributes attached once per side the
    payload crosses the wire once. `broadcast_records=True` (caller
    decides from the KNOWN record count — checkpointed inputs carry no
    stats for Catalyst to decide with) removes even that shuffle: the
    pair table never moves at all.

    The prefilter (binary overlap cosine, computed from the packed
    vectors by `sparse_cosine_blob_udf` in the same Arrow round trip as
    the TF-IDF cosine) gates the string kernels: only pairs at or above
    PREFILTER_FLOOR reach Jaro-Winkler and Levenshtein.

    String kernels run on a HEAD and a TAIL window and take the MIN:
    transcript corpora routinely share templated openings, and a
    head-prefix-only jw/lev scores two different conversations with
    the same boilerplate opening as near-identical (jw is
    prefix-dominated by construction). A true duplicate is similar
    everywhere, so min(head, tail) is the honest prefix-capped
    estimate of full-string similarity; for docs shorter than the
    windows they overlap and the min degenerates toward the old
    value. (Same argument as merge_clusters_string's tail-window
    verification, refine.py.)

    The configured char budget is SPLIT between the windows (each
    gets prefix_chars/2): two half-size windows cost the same
    O(w^2) DP cells per pair as one full-size prefix — measured at
    12.8M turns, full-size double windows inflated the dominant
    pair_scores stage 1.75x — while sampling two regions of the doc
    discriminates at least as well (perturbations spread through the
    whole doc; the r2 measurement that halving the prefix 256->128
    loses nothing applies per-window)."""
    lev_win = max(16, cfg.lev_prefix_chars // 2)
    jw_win = max(16, cfg.jw_prefix_chars // 2)
    cap = max(lev_win, jw_win)
    attrs = records.select(
        "conv_id",
        F.substring("norm_text", 1, cap).alias("txt"),
        F.expr(
            f"substring(norm_text, greatest(length(norm_text) - {cap - 1}, 1), {cap})"
        ).alias("txt_tail"),
        "vec_blob",
    )

    # Each kernel's tail must be the LAST win chars of the doc — the
    # kernels internally read the FIRST win chars of their input, so
    # handing both the shared cap-length tail would make the smaller
    # window score chars [L-cap, L-cap+win) instead of [L-win, L):
    # templated endings just inside the true tail could then fake
    # similarity. Re-slice per kernel post-join (pure codegen on
    # already-joined rows; no extra join payload).
    def _tail_of(col: "F.Column", win: int) -> "F.Column":
        return F.substring(
            col, F.greatest(F.length(col) - F.lit(win - 1), F.lit(1)), F.lit(win)
        )
    if broadcast_records:
        attrs = F.broadcast(attrs)
    aa = attrs.select(
        F.col("conv_id").alias("conv_a"), F.col("txt").alias("txt_a"),
        F.col("txt_tail").alias("tail_a"), F.col("vec_blob").alias("blob_a"),
    )
    ab = attrs.select(
        F.col("conv_id").alias("conv_b"), F.col("txt").alias("txt_b"),
        F.col("txt_tail").alias("tail_b"), F.col("vec_blob").alias("blob_b"),
    )

    # candidate pairs are few bytes each, so AQE coalesces them into a
    # handful of partitions — which would serialize the Arrow UDF work.
    # Spread them across the full parallelism before the kernels run.
    n_parts = int(
        records.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    scored = (
        pairs.repartition(n_parts, "conv_a", "conv_b")
        .join(aa, "conv_a")
        .join(ab, "conv_b")
        # one Arrow round trip computes BOTH cosines from the packed
        # blobs; the string kernels then run only on pairs passing the
        # overlap floor (when() short-circuits per row)
        .withColumn("cs", sparse_cosine_blob_udf(F.col("blob_a"), F.col("blob_b")))
        .withColumn("cos_tokens", F.col("cs.cos_bin"))
        .withColumn("cos_tfidf", F.col("cs.cos"))
        .where(F.col("cos_tokens") >= PREFILTER_FLOOR)
        .withColumn(
            "lev_sim",
            F.least(
                lev_sim_expr(F.col("txt_a"), F.col("txt_b"), lev_win),
                lev_sim_expr(
                    _tail_of(F.col("tail_a"), lev_win),
                    _tail_of(F.col("tail_b"), lev_win),
                    lev_win,
                ),
            ),
        )
        .withColumn(
            "jw_sim",
            F.least(
                jw_expr(F.col("txt_a"), F.col("txt_b"), jw_win),
                jw_expr(
                    _tail_of(F.col("tail_a"), jw_win),
                    _tail_of(F.col("tail_b"), jw_win),
                    jw_win,
                ),
            ),
        )
        .withColumn(
            "score",
            cfg.w_jaro_winkler * F.col("jw_sim")
            + cfg.w_levenshtein * F.col("lev_sim")
            + cfg.w_cosine * F.col("cos_tfidf"),
        )
    )
    return scored.select(
        "conv_a", "conv_b", "cos_tokens", "lev_sim", "jw_sim", "cos_tfidf", "score"
    )


def edges_from_scores(scored: DataFrame, threshold: float) -> DataFrame:
    """Thresholded match edges feeding connected components."""
    return scored.where(F.col("score") >= threshold).select(
        F.col("conv_a").alias("src"), F.col("conv_b").alias("dst"), "score"
    )


def mutual_rank_edges(
    scored: DataFrame,
    k: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    sim_col: str = "sim",
    rank_weight_factor: float = 1.0,
    similarity_weight_factor: float = 1.0,
    min_edge_weight: float | None = None,
) -> DataFrame:
    """G3 + K12: directed scored edges -> mutual-kNN graph with hybrid
    mutual-rank weights (reference utils/graph.py:390-449 weight formula,
    452-571 mutual filter).

    Each node keeps its top-k neighbors by similarity (0-based rank,
    deterministic dst tie-break); an undirected edge survives only if
    BOTH endpoints kept each other (mutual), and its weight is
    rank_weight_factor / (rank_ab + rank_ba + 2)
    * similarity_weight_factor * (sim_ab + sim_ba) / 2
    — high only when both nodes rank each other highly AND the
    similarity itself is high.

    Scale shape: one window per direction partitioned by the node (no
    global sort), then an equi-join on the (node, neighbor) pair — both
    shuffles are keyed by node ids, never all-pairs.
    """
    w = W.partitionBy(src_col).orderBy(F.col(sim_col).desc(), F.col(dst_col).asc())
    ranked = (
        scored.withColumn("__rk", F.row_number().over(w) - 1)
        .where(F.col("__rk") < k)
        .select(
            F.col(src_col).alias("u"),
            F.col(dst_col).alias("v"),
            F.col(sim_col).alias("sim_uv"),
            F.col("__rk").alias("rank_uv"),
        )
    )
    rev = ranked.select(
        F.col("v").alias("u"),
        F.col("u").alias("v"),
        F.col("sim_uv").alias("sim_vu"),
        F.col("rank_uv").alias("rank_vu"),
    )
    mutual = (
        ranked.join(rev, ["u", "v"])
        .where(F.col("u") < F.col("v"))
        .withColumn(
            "weight",
            (F.lit(rank_weight_factor) / (F.col("rank_uv") + F.col("rank_vu") + F.lit(2.0)))
            * F.lit(similarity_weight_factor)
            * (F.col("sim_uv") + F.col("sim_vu"))
            / F.lit(2.0),
        )
        .select(F.col("u").alias("src"), F.col("v").alias("dst"), "weight")
    )
    if min_edge_weight is not None:
        mutual = mutual.where(F.col("weight") >= min_edge_weight)
    return mutual
