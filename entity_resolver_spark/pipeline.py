"""End-to-end entity-resolution pipeline (SURVEY §3.1 / §7.1).

The reference's fixed 7-step DAG (/root/reference/entity_resolver/
resolver.py:396-484) re-expressed as DataFrame->DataFrame stages:

    collapse -> normalize -> vectorize -> block -> pair-score ->
    components -> consolidate (Q1) -> canonical -> confidence

Every stage goes through the CheckpointManager (resume + per-stage
lineage/metrics); iterative components checkpoint internally per
round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_resolver_spark.checkpoint import CheckpointManager
from entity_resolver_spark.config import ResolverConfig
from entity_resolver_spark.operators.blocking import candidate_pairs
from entity_resolver_spark.operators.canonical import (
    apply_canonical_map,
    canonical_by_centrality,
)
from entity_resolver_spark.operators.collapse import collapse_turns
from entity_resolver_spark.operators.components import attach_labels, connected_components
from entity_resolver_spark.operators.confidence import cluster_edge_stats, score_confidence
from entity_resolver_spark.operators.normalize import normalize_docs
from entity_resolver_spark.operators.pairs import edges_from_scores, score_pairs
from entity_resolver_spark.operators.refine import (
    enrich_metadata,
    evict_outliers,
    merge_clusters_string,
    merge_clusters_vector,
    reassign_singletons,
)
from entity_resolver_spark.operators.validate import (
    consolidate_identical,
    enforce_canonical_fd,
    q1_violations,
    q2_violations,
    split_on_metadata,
)
from entity_resolver_spark.operators.vectorize import add_tfidf_vectors, token_df


class EntityResolverPipeline:
    """fit/transform-shaped API like the reference resolver
    (resolver.py:200-326), minus the fitted-model state: every stage is
    recomputable from checkpoints, which is what resumability means
    here."""

    def __init__(self, config: ResolverConfig | None = None) -> None:
        self.config = config or ResolverConfig()
        self.metrics: list[dict] = []

    # ------------------------------------------------------------------
    def resolve(self, spark: SparkSession, turns: DataFrame) -> DataFrame:
        """turns(conv_id, turn_idx, role, text, tool, ts) -> resolved
        entity records with cluster, canonical_text, confidence."""
        cfg = self.config
        fp_parts = [cfg.model_dump_json(), str(turns.schema)]
        if cfg.output.checkpoint_dir:
            # fold a cheap data identity into the run fingerprint so the
            # SAME checkpoint_dir with DIFFERENT data (same schema) does
            # not silently resume stale stages: row count + order-free
            # bit_xor checksum (one agg pass; sum() would overflow ANSI)
            ident = turns.agg(
                F.count("*").alias("n"),
                F.bit_xor(F.xxhash64("conv_id", "turn_idx", "text")).alias("x"),
            ).first()
            fp_parts.append(f"{ident['n']}:{ident['x']}")
        fp = CheckpointManager.fingerprint(*fp_parts)
        ckpt = CheckpointManager(
            spark, cfg.output.checkpoint_dir, run_fingerprint=fp, resume=cfg.output.resume
        )

        # column discipline matters more than usual here: checkpointed
        # frames are LogicalRDD scans, which do NOT support column
        # pruning — every consumer pays full-row deserialization. So
        # each stage drops what downstream stages never read (doc after
        # normalize, match_tokens after vectorize).
        collapsed = ckpt.stage("collapse", lambda: collapse_turns(turns))

        normalized = ckpt.stage(
            "normalize",
            lambda: normalize_docs(
                collapsed.drop("turns"),  # integrity carrier not needed downstream
                text_col="doc",
                min_length=cfg.normalization.min_length,
                empty_fallback=cfg.normalization.empty_fallback,
                nfkc=cfg.normalization.nfkc,
            ).drop("doc"),
        )
        # blocking's stop-key threshold and the IDF weights both need
        # the record count: the stage's own row count, not a new job
        n_records = ckpt.metrics[-1]["rows"]

        # (token, df) over match_tokens feeds BOTH the rare-token
        # blocking channel and the IDF weights — one explode+agg pass,
        # checkpointed, instead of one per consumer. Checkpointed frames
        # carry no size stats, so Catalyst would sort-merge-join them;
        # broadcast explicitly while the vocabulary is small (at corpus
        # scales where it isn't, the shuffle join is the right plan).
        token_stats = ckpt.stage(
            "token_stats", lambda: token_df(normalized, "match_tokens")
        )
        # ~30 bytes/row of (token, df) -> 2M rows ≈ 60MB, just under the
        # session's 64MB autoBroadcast ceiling; beyond that the shuffle
        # join is the right plan
        if ckpt.metrics[-1]["rows"] < 2_000_000:
            token_stats = F.broadcast(token_stats)

        blocks: dict[str, int] = {}

        def _pairs() -> DataFrame:
            pairs, block_metrics = candidate_pairs(
                normalized, cfg.blocking, tokens_col="match_tokens",
                df_table=token_stats, n_records=n_records,
            )
            blocks.update(
                block_metrics.groupBy("status").agg(F.count("*")).collect()
            )
            return pairs

        # skew handling on the pairs row: blocks kept whole, split into
        # salted sub-blocks, and dropped as stop keys
        pairs = ckpt.stage(
            "pairs",
            _pairs,
            extra_metrics=lambda df, rows: {
                f"blocks_{s}": blocks.get(s, 0) for s in ("ok", "salted", "stop")
            },
        )

        # min-df floor on the vectorizer's weight table only (blocking's
        # rare channel has its own df>=2 floor)
        vec_df_table = (
            token_stats.where(F.col("df") >= cfg.scoring.tfidf_min_df)
            if cfg.scoring.tfidf_min_df > 1
            else token_stats
        )
        vectorized = ckpt.stage(
            "vectorize",
            lambda: add_tfidf_vectors(
                normalized,
                tokens_col="match_tokens",  # order-sensitive unigram+bigram set
                num_features=cfg.scoring.tfidf_num_features,
                df_table=vec_df_table,
                top_k=cfg.scoring.vector_top_k,
                n_records=n_records,
            ).drop("match_tokens", "tokens"),
            # blocking's C4 unigram channel is tokens' LAST consumer —
            # from here on every stage reads match-relevant columns
            # only. Carrying the 100+-element string array through the
            # vectorize/clustered materializations costs more than the
            # whole TF-IDF compute (measured 21s vs 0.5s at 48k
            # records; vectorize stage 31->18s with the drop).
        )

        # checkpointed inputs have no stats, so Catalyst can't choose
        # broadcast on its own — decide from the known record count
        # (each record carries ~10KB of text+vector payload)
        bc_records = ckpt.metrics[-1]["rows"] < 200_000
        scored = ckpt.stage(
            "pair_scores",
            lambda: score_pairs(
                vectorized, pairs, cfg.scoring, broadcast_records=bc_records
            ),
        )

        edges = ckpt.stage(
            "edges",
            lambda: edges_from_scores(scored, cfg.scoring.edge_threshold),
            extra_metrics=lambda df, rows: {"match_edges": rows},
        )

        labels = ckpt.stage(
            "components",
            lambda: connected_components(
                edges,
                max_iterations=cfg.clustering.max_iterations,
                checkpoint_every=cfg.clustering.checkpoint_every,
            ),
        )

        def _clustered() -> DataFrame:
            # every pass ends in ckpt.cut_pass: a clustered.<pass> metrics
            # row with its rows and wall, so scale regressions point at
            # the pass, not just the stage (the 80k-family linear-ladder
            # run showed the stage superlinear with no way to see which
            # pass), and the superseded generation is released.
            # refinement passes need the vectors; reference order
            # (resolver.py:438-466): evict/reassign, then merge passes,
            # then splits and identical-key consolidation. Every pass
            # reads its input several times (profiles, stats, relabel
            # join), so materialize between passes — without the cuts
            # the upstream plan recomputes once per reference and the
            # stage goes combinatorial (measured 243s vs ~20s at 48k
            # records).
            out = ckpt.cut_pass(
                "attach_labels", attach_labels(vectorized.drop("vec_blob"), labels)
            )
            # G4/G8: break single-edge bridges inside large components
            # BEFORE the refinement passes (reference order — Louvain/
            # ensemble run as part of clustering, resolver.py:432-436,
            # eviction/merge after). Only components >= the size floor
            # are touched, so the common all-small-families case costs
            # one size aggregation.
            if cfg.clustering.break_bridges:
                from entity_resolver_spark.operators.communities import break_bridges

                out = ckpt.cut_pass("break_bridges", break_bridges(
                    out,
                    edges,
                    min_component=cfg.clustering.bridge_min_component,
                    max_iter=cfg.clustering.bridge_max_iter,
                    min_community=cfg.clustering.bridge_min_community,
                    density_floor=cfg.clustering.bridge_density_floor,
                ))
            ref = cfg.refinement
            # G9 vector merge runs FIRST among the refinement passes,
            # immediately after bridge-breaking: LPA (deliberately) may
            # label a sparse-but-legitimate family's sub-cliques
            # separately (salted ring-linked blocks arrive sparse), and
            # the density gate cannot sit below ~0.5 — a bridged pair
            # of equal cliques has density ≈ 0.5, so a "lower floor"
            # fix would miss exactly the bridge case. Reconciling via
            # centroid merge BEFORE evict/reassign means eviction
            # z-scores and reassignment targets are computed against
            # whole-family centroids, not LPA fragments. Eviction only
            # mints singletons and reassignment only attaches them, so
            # neither creates new near-parallel cluster pairs — one
            # merge pass up front is sufficient.
            if ref.merge_vector:
                out = ckpt.cut_pass("merge_vector", merge_clusters_vector(
                    out, centroid_cosine_floor=ref.merge_centroid_cosine_floor
                ))
            if ref.evict_outliers:
                out = ckpt.cut_pass("evict_outliers", evict_outliers(
                    out,
                    min_cluster_size=ref.evict_min_cluster_size,
                    z_floor=ref.evict_z_floor,
                    cosine_floor=ref.evict_cosine_floor,
                    margin_floor=ref.evict_margin_floor,
                    very_poor_floor=ref.evict_very_poor_floor,
                    string_veto=ref.evict_string_veto,
                    veto_jw_floor=ref.evict_veto_jw_floor,
                    veto_lev_floor=ref.evict_veto_lev_floor,
                    veto_len_ratio_floor=ref.merge_len_ratio_floor,
                ).drop("evicted"))
            if ref.reassign_singletons:
                out = ckpt.cut_pass("reassign_singletons", reassign_singletons(
                    out,
                    assign_floor=ref.assign_floor,
                    ratio_floor=ref.assign_ratio_floor,
                    w_cosine=ref.assign_w_cosine,
                    w_size=ref.assign_w_size,
                    w_avg_score=ref.assign_w_avg_score,
                    soft_penalty=ref.assign_soft_penalty,
                    min_viable=ref.assign_min_viable,
                    score_margin=ref.assign_score_margin,
                ))
            if ref.merge_string:
                out = merge_clusters_string(
                    out,
                    jw_floor=ref.merge_jw_floor,
                    lev_floor=ref.merge_lev_floor,
                    len_ratio_floor=ref.merge_len_ratio_floor,
                    cosine_co_floor=ref.merge_cosine_co_floor,
                )
            # vectors are not read past this point — keep them out of
            # the clustered/resolved checkpoints. Materialize before the
            # split/consolidate passes: each of their aggregate+join
            # steps references `out` several times, and without the cut
            # every reference re-executes the merge-pass plan (measured
            # ~25s of pure recompute in the clustered stage at 129k
            # turns with the metadata splits on)
            out = ckpt.cut_pass("merge_string", out.drop("vec_idx", "vec_val"))
            out = split_on_metadata(
                out,
                tool_conflict=cfg.validation.split_on_tool_conflict,
                max_ts_gap_days=cfg.validation.max_ts_gap_days,
            )
            if cfg.validation.enforce_unique_entity:
                out = consolidate_identical(out)
            return ckpt.cut_pass("splits_consolidate", out)

        clustered = ckpt.stage("clustered", _clustered)

        canon = ckpt.stage(
            "canonical",
            # pruned projection: the kernel only reads these two columns
            lambda: canonical_by_centrality(clustered.select("cluster", "norm_text")),
        )

        def _final() -> DataFrame:
            with_canon = apply_canonical_map(clustered, canon)
            if cfg.validation.enforce_unique_entity:
                # Q2 repair + gate (reference resolver.py:475): two
                # clusters may converge to one canonical text
                with_canon = enforce_canonical_fd(with_canon)
            # three consumers read with_canon (enrichment donor pick,
            # confidence join, final projection) and the rows carry the
            # full text payload — cut once here or each consumer re-runs
            # the canonical-map + FD-repair joins over the fat rows
            # (measured 85s of re-compute at 96k conversations)
            with_canon = ckpt.cut_pass("canonical_map_fd", with_canon)
            if cfg.refinement.enrich_metadata:
                with_canon = enrich_metadata(with_canon)
            else:
                with_canon = with_canon.withColumn(
                    "metadata_was_enriched", F.lit(False)
                )
            # edge stats must aggregate by the FINAL labels, not the raw
            # component ids — refinement merges/splits/reassigns change
            # membership, and stats keyed on stale ids either attach to
            # nothing (split '<id>#t' clusters) or only to the surviving
            # half of a merge
            final_labels = clustered.select(
                F.col("conv_id").alias("node"), F.col("cluster").alias("component")
            )
            stats = cluster_edge_stats(edges, final_labels)
            out = score_confidence(with_canon, stats, cfg.confidence)
            # (no further pass cut: enrichment+confidence execute when
            # the stage materializes — their wall is the resolved total
            # minus resolved.canonical_map_fd)
            return out.select(
                "conv_id", "cluster", "norm_text", "canonical_text", "n_turns",
                "roles", "tools", "ts_min", "ts_max", "cluster_size",
                "metadata_was_enriched", "confidence_score",
                "confidence_category", "needs_review", "review_reason",
            )

        resolved = ckpt.stage("resolved", _final)

        # Q1 + Q2 gates (hard asserts, reference resolver.py:452,475)
        if cfg.validation.enforce_unique_entity:
            n_bad = q1_violations(resolved).count()
            if n_bad:
                raise AssertionError(f"Q1 violated: {n_bad} keys in multiple clusters")
            n_q2 = q2_violations(resolved).count()
            if n_q2:
                raise AssertionError(
                    f"Q2 violated: {n_q2} canonical texts map to multiple clusters"
                )

        self.metrics = ckpt.metrics
        return resolved
