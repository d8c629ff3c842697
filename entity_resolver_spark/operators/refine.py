"""Cluster refinement passes (SURVEY G7/G9/G10/G12/G13, M4).

Reference machinery being re-expressed:
  * cluster merge in vector space — centroid prefilter + pairwise check
    + union-find (utils/clustering.py:263-676, G9);
  * cluster merge in string space — canonical-profile similarity AND
    (merger.py:93-316, G10);
  * statistical outlier eviction (validator.py:521-639, G12);
  * noise attachment / reassignment with ratio + strength tests
    (utils/clustering.py:31-260 G7; validator.py:1388-1472 K9/G13).

Spark shape: all passes operate on the CLUSTER-PROFILE table, which is
orders of magnitude smaller than the record table (one row per
cluster), so the pairwise steps are cheap regardless of input scale;
the only record-scale operations are the final relabel joins and the
member-centroid cosine (one broadcast-join + one Arrow batch per
partition). Components subsume the reference's union-find.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from entity_resolver_spark.functions.similarity import (
    jw_expr,
    lev_sim_expr,
    sparse_cosine_udf,
)
from entity_resolver_spark.operators.components import connected_components
from entity_resolver_spark.lineage import counted_cut, eager_cut

# ---------------------------------------------------------------------------
# broadcast size gates (scale discipline)
#
# Every table these passes broadcast scales with CLUSTER count, which is
# unbounded at the 100TB target (~10^7-10^8 clusters for 10^9 records).
# An unconditional F.broadcast hint OOMs the driver there, and Catalyst
# cannot gate it itself: localCheckpoint'ed inputs are LogicalRDD scans
# with no size stats. So every broadcast below goes through
# _maybe_broadcast with a measured row count — profiles are materialized
# (localCheckpoint) before counting, which the passes want anyway
# because each profile table feeds 2+ consumers. Above the cap the hint
# is dropped and Catalyst/AQE plans a shuffle join.
#
# Two caps because the row weights differ by ~2 orders of magnitude:
# profile rows carry centroid slot/value arrays (~1-4KB each), slim
# id->id remap rows are tens of bytes. Module-level so tests can
# monkeypatch them to force (and assert) the shuffle-join path.
# ---------------------------------------------------------------------------

PROFILE_BROADCAST_CAP = 200_000   # rows with centroid arrays (~0.5GB worst case)
MAP_BROADCAST_CAP = 2_000_000     # slim id->id / id->label maps

# Stop-key cap for profile-side join keys (top-TFIDF-slot keys and
# canonical-text prefix keys). A key covering more profiles than this
# carries no discrimination — it is a degenerate corpus-wide slot or a
# generic shared opening — and only creates a quadratic hot key in the
# candidate join (the same argument as blocking.py's stop_key_fraction).
#
# The slot cap must be a SMALL constant, because it bounds the merge
# pass's admitted work: candidates <= sum over kept keys of C(k,2)
# <= (cap/2) * top_slots * n_clusters — linear in clusters only if cap
# is O(1). The old value (2,000) admitted ~2M pairs per near-cap key,
# and on a linear-ladder corpus (families grow, vocabulary fixed) the
# number of near-cap keys grows with the corpus: measured merge_vector
# x10.2 for x2 clusters at 20k->40k families. At 256 the pass returned
# to ~linear with identical merges — truly near-parallel centroids
# share family-sized rare slots, not corpus-generic ones, and pairs
# whose only shared slots are generic fail the exact-cosine
# verification anyway. 64 retains every family-sized key (the split
# fragments a merge must reunite share their family anchor slots,
# df ~ 2-5 clusters) while holding worst-case candidates to
# 32 * top_slots * n_clusters.
SLOT_KEY_CAP = 64
STRING_KEY_CAP = 500
# rare-canonical-token keys must be RARE (block-family-sized, like
# blocking.py's rare_max_df): a df cap at STRING_KEY_CAP would admit
# mid-frequency words covering hundreds of clusters and make the
# string-merge candidate set quadratic in them
STRING_RARE_MAX_DF = 20
# jw/lev on merge candidates run on canonical-text WINDOWS: transcript
# canonicals are multi-KB and the lev DP is O(len^2) per pair — the
# same rationale (and a similar cap) as ScoringConfig.lev_prefix_chars
STRING_SIM_PREFIX = 256
# length-ratio admission gate for string-merge candidates. Dedicated
# constant, NOT lev_floor: the old gate reused lev_floor (0.85) as a
# necessary condition for FULL-string Levenshtein, but acceptance is
# window-based — so a truncated-canonical fragment (the `truncate`
# perturbation keeps ~80% of turns -> canonical length ratio ~0.8) was
# silently refused even when every aligned window matched. 0.70 admits
# the truncate floor with typo-noise slack; anything shorter than 70%
# of its partner is a different document, not a fragment.
STRING_MERGE_LEN_RATIO = 0.70
# canonical text carried through the candidate join is capped: the
# aligned windows below need the text at pair-dependent offsets (up to
# min(len_a, len_b)), and shipping whole multi-KB canonicals through
# the key join would dominate the pass at 10^7 clusters. Offsets are
# clamped to the cap, so two docs identical up to the cap compare as
# prefix-identical — the same semantics every capped kernel here has.
MERGE_TEXT_CAP = 6 * STRING_SIM_PREFIX


def _maybe_broadcast(df: DataFrame, n_rows: int, cap: int) -> DataFrame:
    return F.broadcast(df) if n_rows <= cap else df


def _drop_hot_keys(keyed: DataFrame, key_col: str, cap: int) -> DataFrame:
    """Remove join keys covering more than `cap` rows (stop-key filter,
    reference analog: TF-IDF max_df schema.py:583-585). The count table
    is key-cardinality-sized; AQE picks its join strategy from runtime
    stats."""
    good = (
        keyed.groupBy(key_col)
        .agg(F.count("*").alias("__kc"))
        .where(F.col("__kc") <= cap)
        .select(key_col)
    )
    return keyed.join(good, key_col)


# ---------------------------------------------------------------------------
# cluster profiles
# ---------------------------------------------------------------------------

def cluster_profiles(
    records: DataFrame, cluster_col: str = "cluster", with_canonical: bool = False
) -> DataFrame:
    """One row per cluster: L2-normalized centroid of member TF-IDF
    vectors (sparse, as aligned arrays) and member count; optionally the
    frequency-canonical text. Pure SQL: explode -> sum per slot ->
    re-collect. The canonical is opt-in because none of the vector-space
    consumers (evict/reassign/merge_vector) read it and its
    window-over-records costs as much as the centroid itself."""
    slots = (
        records.select(cluster_col, F.arrays_zip("vec_idx", "vec_val").alias("z"))
        .select(cluster_col, F.explode("z").alias("e"))
        .groupBy(cluster_col, F.col("e.vec_idx").alias("slot"))
        .agg(F.sum("e.vec_val").alias("w"))
    )
    centroid = (
        slots.groupBy(cluster_col)
        .agg(F.array_sort(F.collect_list(F.struct("slot", "w"))).alias("sv"))
        .withColumn(
            "norm",
            F.sqrt(F.aggregate(F.col("sv"), F.lit(0.0), lambda a, e: a + e["w"] * e["w"])),
        )
        .select(
            cluster_col,
            F.transform("sv", lambda e: e["slot"]).alias("c_idx"),
            F.transform(F.col("sv"), lambda e: e["w"] / F.col("norm")).alias("c_val"),
        )
    )
    sizes = records.groupBy(cluster_col).agg(F.count("*").alias("size"))
    out = centroid.join(sizes, cluster_col)
    if with_canonical:
        from entity_resolver_spark.operators.canonical import canonical_by_frequency

        out = out.join(canonical_by_frequency(records, cluster_col), cluster_col)
    return out


def _top_slot_keys(c_idx, c_val, m: int = 4):
    """The m highest-weight centroid slots as blocking keys (sorted by
    weight desc, slot asc for determinism)."""
    z = F.arrays_zip(c_val.alias("w"), c_idx.alias("s"))
    # sort by (-w, s): negate weight inside a sortable struct
    ordered = F.array_sort(F.transform(z, lambda e: F.struct((-e["w"]).alias("nw"), e["s"].alias("s"))))
    return F.transform(F.slice(ordered, 1, m), lambda e: e["s"])


# ---------------------------------------------------------------------------
# G9: vector-space cluster merge
# ---------------------------------------------------------------------------

def merge_clusters_vector(
    records: DataFrame,
    cluster_col: str = "cluster",
    centroid_cosine_floor: float = 0.80,
    top_slots: int = 4,
) -> DataFrame:
    """Merge clusters whose centroids are near-parallel. Candidates
    share a top-weight hashed-TFIDF slot (deterministic prefilter,
    reference analog: centroid cos>0.75 batched prefilter); verified
    with exact sparse cosine; merged via connected components; relabel
    = min cluster id (largest-wins determinism is subsumed because ids
    are min member ids)."""
    prof = eager_cut(cluster_profiles(records, cluster_col))
    keyed = _drop_hot_keys(
        prof.select(
            F.col(cluster_col).alias("c"), "c_idx", "c_val",
            F.explode(_top_slot_keys(F.col("c_idx"), F.col("c_val"), top_slots)).alias("k"),
        ),
        "k",
        SLOT_KEY_CAP,
    )
    a = keyed.select(F.col("k"), F.col("c").alias("ca"), F.col("c_idx").alias("ia"), F.col("c_val").alias("va"))
    b = keyed.select(F.col("k"), F.col("c").alias("cb"), F.col("c_idx").alias("ib"), F.col("c_val").alias("vb"))
    cand = (
        a.join(b, "k")
        .where(F.col("ca") < F.col("cb"))
        .dropDuplicates(["ca", "cb"])
        .withColumn("cos", sparse_cosine_udf(F.col("ia"), F.col("va"), F.col("ib"), F.col("vb")))
        .where(F.col("cos") >= centroid_cosine_floor)
        .select(F.col("ca").alias("src"), F.col("cb").alias("dst"))
    )
    return _apply_merge(records, cand, cluster_col)


# ---------------------------------------------------------------------------
# G10: string-space cluster merge
# ---------------------------------------------------------------------------

def merge_clusters_string(
    records: DataFrame,
    cluster_col: str = "cluster",
    jw_floor: float = 0.93,
    lev_floor: float = 0.85,
    len_ratio_floor: float = STRING_MERGE_LEN_RATIO,
    cosine_co_floor: float | None = 0.50,
) -> DataFrame:
    """Merge clusters whose canonical texts are near-identical under
    BOTH Jaro-Winkler and normalized Levenshtein (the reference ANDs
    its name-edge and address-edge lists, merger.py:257-265).

    Candidate keys — two channels, both stop-key capped (transcript
    canonicals routinely share generic openings, so a raw prefix key
    alone is a quadratic hot key on 'hello i need help with...'-style
    corpora):
      * 16-char canonical prefix, keys covering > STRING_KEY_CAP
        clusters dropped;
      * the 3 rarest canonical tokens by cluster-level df (2 <= df <=
        STRING_RARE_MAX_DF) — near-identical strings share their rare
        tokens even when a hot prefix key was dropped, so capping the
        prefix channel loses no family-sized recall (same discipline
        as blocking.py's C3).

    Verification (a candidate pair merges iff):
      * FAST PATH — xxhash64 of the two FULL canonical texts is equal:
        identical documents merge with zero kernel work (and identical
        docs longer than any window can never be refused by window
        noise); otherwise ALL of
      * length ratio min(len)/max(len) >= len_ratio_floor — dedicated
        admission constant (see STRING_MERGE_LEN_RATIO: lev_floor here
        silently refused truncated-canonical fragments);
      * THREE windows of STRING_SIM_PREFIX chars — head, middle, tail —
        each pass both jw/lev floors. Window offsets are ALIGNED TO THE
        SHORTER doc (head at 0, middle at min_len/2, tail ending at
        min_len), evaluated at the same offsets on both docs: a pure
        truncation fragment matches all three (its partner's text at
        those offsets is identical), while same-head-same-tail docs
        that diverge in the middle — shared intro AND shared signature
        boilerplate — fail the middle window. Head/tail-only windows
        provably merged that shape (the round-4 hole);
      * cosine co-gate (when the records carry vec_idx/vec_val and
        cosine_co_floor is not None): exact sparse centroid cosine of
        the two clusters >= cosine_co_floor. The floor is deliberately
        LOW (0.5 default vs merge_vector's 0.8) — it is a sanity gate
        against long docs whose divergence falls outside all three
        windows, not a second vector-merge pass; centroids are built
        only for clusters that actually reached this stage (semi-join),
        and the verified pairs are cluster-count-sized.
    Windows (not full strings) keep the DP bounded: canonicals are
    multi-KB and lev is O(len^2) per pair — the cost argument of
    ScoringConfig.lev_prefix_chars."""
    from entity_resolver_spark.operators.canonical import canonical_by_frequency

    canon = eager_cut(canonical_by_frequency(records, cluster_col))
    prefix_keys = canon.select(
        cluster_col,
        F.concat(F.lit("p:"), F.substring(F.col("canonical_text"), 1, 16)).alias("k"),
    )
    tok = canon.select(
        cluster_col,
        F.explode(
            F.array_distinct(
                F.filter(F.split("canonical_text", " "), lambda t: F.length(t) >= 2)
            )
        ).alias("token"),
    )
    tok_df = tok.groupBy("token").agg(F.count("*").alias("__df"))
    rare_rank = W.partitionBy(cluster_col).orderBy(F.col("__df").asc(), F.col("token").asc())
    rare_keys = (
        tok.join(
            tok_df.where((F.col("__df") >= 2) & (F.col("__df") <= STRING_RARE_MAX_DF)),
            "token",
        )
        .withColumn("__rk", F.row_number().over(rare_rank))
        .where(F.col("__rk") <= 3)
        .select(cluster_col, F.concat(F.lit("t:"), F.col("token")).alias("k"))
    )
    win = STRING_SIM_PREFIX
    keyed = _drop_hot_keys(
        prefix_keys.unionByName(rare_keys), "k", STRING_KEY_CAP
    ).join(
        canon.select(
            cluster_col,
            F.substring("canonical_text", 1, MERGE_TEXT_CAP).alias("__txt"),
            F.length("canonical_text").alias("__len"),
            F.xxhash64("canonical_text").alias("__fh"),
        ),
        cluster_col,
    )
    a = keyed.select(
        F.col("k"), F.col(cluster_col).alias("ca"),
        F.col("__txt").alias("ta"), F.col("__len").alias("la"), F.col("__fh").alias("fa"),
    )
    b = keyed.select(
        F.col("k"), F.col(cluster_col).alias("cb"),
        F.col("__txt").alias("tb"), F.col("__len").alias("lb"), F.col("__fh").alias("fb"),
    )
    # two consumers read pairs0 (the fast path and the window chain) —
    # materialize once or the key join + dedup executes per branch
    pairs0 = eager_cut(
        a.join(b, "k")
        .where(F.col("ca") < F.col("cb"))
        .dropDuplicates(["ca", "cb"])  # a pair can arrive via several keys
    )
    # fast path: identical full canonical text (hash equality; xxhash64
    # collisions at cluster counts are ~n^2/2^64 — negligible)
    fast = pairs0.where(F.col("fa") == F.col("fb")).select("ca", "cb")

    # aligned window offsets (1-based), clamped to the carried text cap
    lm = F.least(F.col("la"), F.col("lb"), F.lit(MERGE_TEXT_CAP))
    mid_pos = F.greatest((lm / 2 - win // 2).cast("int"), F.lit(1))
    tail_pos = F.greatest((lm - (win - 1)).cast("int"), F.lit(1))

    def _passes(pos) -> "F.Column":
        wa = F.substring(F.col("ta"), pos, F.lit(win))
        wb = F.substring(F.col("tb"), pos, F.lit(win))
        return (jw_expr(wa, wb) >= jw_floor) & (lev_sim_expr(wa, wb) >= lev_floor)

    rest = (
        pairs0.where(F.col("fa") != F.col("fb"))
        # admission gates first — pure codegen, prune before any kernel
        .where(
            F.least(F.col("la"), F.col("lb"))
            >= len_ratio_floor * F.greatest(F.col("la"), F.col("lb"))
        )
        .where(_passes(F.lit(1)))
        .where(_passes(mid_pos))
        .where(_passes(tail_pos))
        .select("ca", "cb")
    )

    if cosine_co_floor is not None and "vec_idx" in records.columns:
        # centroid cosine co-gate: built ONLY for clusters that survived
        # the string gates (semi-join keeps the profile pass bounded by
        # the candidate set, not the cluster count)
        rest, n_rest = counted_cut(rest)
        if n_rest > 0:
            cc = (
                rest.select(F.col("ca").alias(cluster_col))
                .unionByName(rest.select(F.col("cb").alias(cluster_col)))
                .distinct()
            )
            prof, n_prof = counted_cut(
                cluster_profiles(
                    records.join(cc, cluster_col, "left_semi"), cluster_col
                ).select(cluster_col, "c_idx", "c_val")
            )
            pa = _maybe_broadcast(
                prof.select(
                    F.col(cluster_col).alias("ca"),
                    F.col("c_idx").alias("ia"), F.col("c_val").alias("va"),
                ),
                n_prof, PROFILE_BROADCAST_CAP,
            )
            pb = _maybe_broadcast(
                prof.select(
                    F.col(cluster_col).alias("cb"),
                    F.col("c_idx").alias("ib"), F.col("c_val").alias("vb"),
                ),
                n_prof, PROFILE_BROADCAST_CAP,
            )
            rest = (
                rest.join(pa, "ca")
                .join(pb, "cb")
                .withColumn(
                    "__cos",
                    sparse_cosine_udf(F.col("ia"), F.col("va"), F.col("ib"), F.col("vb")),
                )
                .where(F.col("__cos") >= cosine_co_floor)
                .select("ca", "cb")
            )

    cand = fast.unionByName(rest).select(
        F.col("ca").alias("src"), F.col("cb").alias("dst")
    )
    return _apply_merge(records, cand, cluster_col)


def _apply_merge(records: DataFrame, merge_edges: DataFrame, cluster_col: str) -> DataFrame:
    # materialize the candidate edges ONCE: isEmpty() would execute the
    # (expensive) candidate-scoring plan and throw the result away, then
    # connected_components' own input checkpoint would execute it AGAIN
    # (measured 103s of pure double-compute at 3k clusters)
    merge_edges, n_edges = counted_cut(merge_edges.select("src", "dst"))
    if n_edges == 0:
        return records
    labels = connected_components(merge_edges)
    remap, n_remap = counted_cut(
        labels.withColumnRenamed("node", cluster_col).withColumnRenamed("component", "__m")
    )
    return (
        records.join(_maybe_broadcast(remap, n_remap, MAP_BROADCAST_CAP), cluster_col, "left")
        .withColumn(cluster_col, F.coalesce(F.col("__m"), F.col(cluster_col)))
        .drop("__m")
    )


# ---------------------------------------------------------------------------
# G12: outlier eviction
# ---------------------------------------------------------------------------

def _string_evidence_veto(
    flagged: DataFrame,
    records: DataFrame,
    cluster_col: str,
    jw_floor: float,
    lev_floor: float,
    len_ratio_floor: float,
) -> DataFrame:
    """Cancel the eviction of flagged members whose norm_text is
    near-identical to their cluster's frequency-canonical text (see
    evict_outliers docstring for why vector votes are blind here).
    Verification: full-text hash fast path, else length-ratio admission
    + normalized-lev floor on head/mid/tail aligned windows + jw floor
    on the HEAD window only. The jw asymmetry is measured, not stylistic:
    member texts differ from the canonical by scattered typo INSERTIONS,
    which shift the char alignment mid-string — across a 2,000-member
    viral family the aligned mid/tail windows score lev >= 0.943 but jw
    as low as 0.8125 (jw penalizes the shift, normalized lev absorbs it
    as a few edits), while the alignment-anchored head window keeps
    jw >= 0.923. The mid/tail LEV windows are what keep the round-4
    shared-boilerplate hard negatives evicted (divergent middles score
    low lev); demanding jw there would only refuse true family members."""
    from entity_resolver_spark.operators.canonical import canonical_by_frequency

    win = STRING_SIM_PREFIX
    suspects, n_susp = counted_cut(
        flagged.where(F.col("__evict")).select(
            "conv_id",
            F.col(cluster_col).alias("__vc"),
            F.substring("norm_text", 1, MERGE_TEXT_CAP).alias("__stxt"),
            F.length("norm_text").alias("__slen"),
            F.xxhash64("norm_text").alias("__sh"),
        )
    )
    if n_susp == 0:
        return flagged
    cids = suspects.select(F.col("__vc").alias(cluster_col)).distinct()
    canon, n_canon = counted_cut(
        canonical_by_frequency(
            records.join(cids, cluster_col, "left_semi"), cluster_col
        ).select(
            F.col(cluster_col).alias("__vc"),
            F.substring("canonical_text", 1, MERGE_TEXT_CAP).alias("__ctxt"),
            F.length("canonical_text").alias("__clen"),
            F.xxhash64("canonical_text").alias("__ch"),
        )
    )
    j = suspects.join(
        _maybe_broadcast(canon, n_canon, PROFILE_BROADCAST_CAP), "__vc"
    )
    lm = F.least(F.col("__slen"), F.col("__clen"), F.lit(MERGE_TEXT_CAP))
    mid_pos = F.greatest((lm / 2 - win // 2).cast("int"), F.lit(1))
    tail_pos = F.greatest((lm - (win - 1)).cast("int"), F.lit(1))

    def _lev_ok(pos) -> "F.Column":
        wa = F.substring(F.col("__stxt"), pos, F.lit(win))
        wb = F.substring(F.col("__ctxt"), pos, F.lit(win))
        return lev_sim_expr(wa, wb) >= lev_floor

    head_jw = jw_expr(
        F.substring(F.col("__stxt"), 1, win), F.substring(F.col("__ctxt"), 1, win)
    )
    veto, n_veto = counted_cut(
        j.where(
            (F.col("__sh") == F.col("__ch"))
            | (
                (
                    F.least("__slen", "__clen")
                    >= len_ratio_floor * F.greatest("__slen", "__clen")
                )
                & (head_jw >= jw_floor)
                & _lev_ok(F.lit(1))
                & _lev_ok(mid_pos)
                & _lev_ok(tail_pos)
            )
        ).select("conv_id", F.lit(True).alias("__veto"))
    )
    if n_veto == 0:
        return flagged
    return (
        flagged.join(_maybe_broadcast(veto, n_veto, MAP_BROADCAST_CAP), "conv_id", "left")
        .withColumn("__evict", F.col("__evict") & ~F.coalesce("__veto", F.lit(False)))
        .drop("__veto")
    )


def evict_outliers(
    records: DataFrame,
    cluster_col: str = "cluster",
    min_cluster_size: int = 4,
    z_floor: float = 2.5,
    cosine_floor: float = 0.80,
    margin_floor: float = 0.05,
    very_poor_floor: float = 0.30,
    string_veto: bool = True,
    veto_jw_floor: float = 0.90,
    veto_lev_floor: float = 0.85,
    veto_len_ratio_floor: float = 0.70,
) -> DataFrame:
    """Evict poor-fitting members by the reference's 2-of-3 vote
    (validator.py:404-469):

      vote 1 — statistical outlier within the cluster (z < -z_floor on
               member->centroid cosine; Mahalanobis reduced to the 1-D
               fused-vector direction — the 2-D logit ellipse adds
               nothing once pair space is one fused vector);
      vote 2 — absolutely low fit (cosine < cosine_floor);
      vote 3 — low-margin assignment (validator.py:815-831): some OTHER
               cluster's centroid fits nearly as well or better
               (alt_cos >= own_cos - margin_floor). Computed only for
               members that already hold a vote (the reference's
               low-score subset), against profiles sharing a top-slot
               key — bounded, never the full cross join.

    2+ votes evict; an extremely poor fit (own_cos < very_poor_floor)
    always evicts (reference override 1, validator.py:450-453).
    Evicted records become their own singleton cluster (own conv_id —
    deterministic), eligible for reassignment.

    STRING-EVIDENCE VETO (`string_veto`): all three votes read the SAME
    signal — member->centroid cosine in fused-vector space — and that
    signal degenerates on exactly the viral-template shape a 100 TB
    transcript corpus contains. Inside a 10^5-member near-duplicate
    family every shared template token's df is the family size, so its
    IDF (and the member's vector mass on it) collapses toward zero; a
    member whose only difference is a handful of typo'd words ends up
    with a vector dominated by those rare typo tokens and a centroid
    cosine of ~0.3 — all three votes then fire on a record whose TEXT
    is near-identical to the family's. Measured: a 2,000-member viral
    family sheds 2 such members (worst centroid cosine 0.311), and
    vector-scored reassignment can never take them back. The reference
    faces the same failure mode and leans on its STRING channels there —
    reassignment scores are name(0.40)+address(0.40) string similarity
    (config/schema.py:1436-1477), not embedding cosine. Here the veto
    re-checks every evict-flagged member against its cluster's
    frequency-canonical text with the SAME head/mid/tail aligned-window
    + length-ratio discipline as merge_clusters_string (so the round-4
    shared-boilerplate hard negatives still evict: they fail the middle
    window); near-identical text cancels the eviction. Bounded: only
    flagged suspects are checked, canonicals are built only for their
    clusters (semi-join), windows cap the DP at STRING_SIM_PREFIX
    chars."""
    prof, n_prof = counted_cut(
        cluster_profiles(records, cluster_col).select(cluster_col, "c_idx", "c_val", "size")
    )
    scored = (
        records.join(_maybe_broadcast(prof, n_prof, PROFILE_BROADCAST_CAP), cluster_col)
        .withColumn(
            "__cos",
            sparse_cosine_udf(F.col("vec_idx"), F.col("vec_val"), F.col("c_idx"), F.col("c_val")),
        )
    )
    stats = scored.groupBy(cluster_col).agg(
        F.avg("__cos").alias("__mu"),
        F.coalesce(F.stddev_pop("__cos"), F.lit(0.0)).alias("__sd"),
    )
    eligible = F.col("size") >= min_cluster_size
    v1 = (
        eligible
        & (F.col("__sd") > 0)
        & (F.col("__cos") < F.col("__mu") - z_floor * F.col("__sd"))
    )
    v2 = eligible & (F.col("__cos") < cosine_floor)
    # voted feeds THREE consumers (suspects, the v3 lineage, the final
    # relabel join) — materialize once or the profile-join + Arrow
    # cosine re-executes per consumer (measured 26s -> 7s for the whole
    # pass at 129k turns / 1.5k clusters)
    voted = (
        scored.join(stats, cluster_col)
        .withColumn("__v1", v1)
        .withColumn("__v2", v2)
        .transform(eager_cut)
    )

    # vote 3 (margin) only for members already holding a vote
    suspects = voted.where(F.col("__v1") | F.col("__v2")).select(
        "conv_id", cluster_col, "vec_idx", "vec_val", "__cos"
    )
    pkeys = _drop_hot_keys(
        prof.select(
            F.col(cluster_col).alias("__alt_cluster"), F.col("c_idx").alias("a_idx"),
            F.col("c_val").alias("a_val"),
            F.explode(_top_slot_keys(F.col("c_idx"), F.col("c_val"), 4)).alias("k"),
        ),
        "k",
        SLOT_KEY_CAP,
    )
    skeys = suspects.select(
        "conv_id", cluster_col, "vec_idx", "vec_val",
        F.explode(_top_slot_keys(F.col("vec_idx"), F.col("vec_val"), 4)).alias("k"),
    )
    alt_best = (
        skeys.join(pkeys, "k")
        .where(F.col(cluster_col) != F.col("__alt_cluster"))
        .dropDuplicates(["conv_id", "__alt_cluster"])
        .withColumn(
            "__alt_cos",
            sparse_cosine_udf(F.col("vec_idx"), F.col("vec_val"), F.col("a_idx"), F.col("a_val")),
        )
        .groupBy("conv_id")
        .agg(F.max("__alt_cos").alias("__alt_cos"))
    )
    v3 = suspects.join(alt_best, "conv_id", "left").select(
        "conv_id",
        (
            F.col("__alt_cos").isNotNull()
            & (F.col("__alt_cos") >= F.col("__cos") - margin_floor)
        ).alias("__v3"),
    )
    # v3 has one row per suspect — unbounded by construction on skewed
    # data, so NO broadcast hint (AQE decides from its runtime size;
    # the reference bounds the analogous subset by sampling,
    # validator.py:805-815). Materialized because the veto branch adds
    # a second consumer of the flagged frame below.
    v3 = eager_cut(v3)
    flagged = (
        voted.join(v3, "conv_id", "left")
        .fillna({"__v3": False})
        .withColumn(
            "__evict",
            (
                F.col("__v1").cast("int") + F.col("__v2").cast("int")
                + F.col("__v3").cast("int")
                >= 2
            )
            | (eligible & (F.col("__cos") < very_poor_floor)),
        )
    )
    if string_veto and "norm_text" in records.columns:
        flagged = _string_evidence_veto(
            flagged,
            records,
            cluster_col,
            jw_floor=veto_jw_floor,
            lev_floor=veto_lev_floor,
            len_ratio_floor=veto_len_ratio_floor,
        )
    out = (
        flagged
        .withColumn(
            cluster_col,
            F.when(F.col("__evict"), F.col("conv_id")).otherwise(F.col(cluster_col)),
        )
        .withColumn("evicted", F.col("__evict"))
        .drop(
            "c_idx", "c_val", "size", "__cos", "__mu", "__sd",
            "__v1", "__v2", "__v3", "__evict",
        )
    )
    return out


# ---------------------------------------------------------------------------
# G7/G13: reassignment of singletons against cluster profiles
# ---------------------------------------------------------------------------

def reassign_singletons(
    records: DataFrame,
    cluster_col: str = "cluster",
    assign_floor: float = 0.80,
    ratio_floor: float = 1.25,
    w_cosine: float = 0.80,
    w_size: float = 0.10,
    w_avg_score: float = 0.10,
    soft_penalty: float = 0.15,
    min_viable: float = 0.2,
    score_margin: float = 0.05,
) -> DataFrame:
    """Second-pass attachment of singletons against multi-member cluster
    centroids sharing a top-slot blocking key.

    Reference K9 scoring (validator.py:1388-1472, weights
    config/schema.py:1436-1477): candidates are ranked by a weighted
    match score — soft-penalized similarity (below-floor candidates are
    penalized, not eliminated) + log-scaled cluster size + average
    cluster membership quality — filtered by a minimum-viable floor.
    The reference's name(0.40)+address(0.40) similarity terms collapse
    into one fused-vector cosine (0.80) for transcripts; cluster
    'probability' maps to the avg member->centroid cosine.

    Acceptance keeps the repo's stricter precision guards on top of the
    reference's viability floor: best cosine >= assign_floor AND
    best/second match-score ratio >= ratio_floor (G7 strength+ratio
    test, utils/clustering.py:31-260) — the weighted score decides
    WHICH cluster wins (size/cohesion break near-ties), the cosine
    floor decides WHETHER anything is close enough."""
    # sizes is cluster-count-sized: materialize it ONCE and take both
    # existence checks from its rows — the previous
    # singles.isEmpty()/multi.isEmpty() pair executed the un-cut
    # records⋈sizes plan twice before any work happened
    sizes, n_sizes = counted_cut(
        records.groupBy(cluster_col).agg(F.count("*").alias("__n"))
    )
    counts = sizes.agg(
        F.count(F.when(F.col("__n") == 1, 1)).alias("n_single"),
        F.count(F.when(F.col("__n") > 1, 1)).alias("n_multi"),
    ).first()
    if counts["n_single"] == 0 or counts["n_multi"] == 0:
        return records
    rec = records.join(_maybe_broadcast(sizes, n_sizes, MAP_BROADCAST_CAP), cluster_col)
    singles = rec.where(F.col("__n") == 1).select("conv_id", "vec_idx", "vec_val", cluster_col)
    multi = rec.where(F.col("__n") > 1)

    prof, n_prof = counted_cut(cluster_profiles(multi, cluster_col))
    # avg member->centroid cosine per cluster (reference avg_probability
    # analog, validator.py:1435) — one bounded pass over multi members
    member_q = (
        multi.join(
            _maybe_broadcast(
                prof.select(cluster_col, "c_idx", "c_val"), n_prof, PROFILE_BROADCAST_CAP
            ),
            cluster_col,
        )
        .withColumn(
            "__mc",
            sparse_cosine_udf(F.col("vec_idx"), F.col("vec_val"), F.col("c_idx"), F.col("c_val")),
        )
        .groupBy(cluster_col)
        .agg(F.avg("__mc").alias("avg_member_cos"))
    )
    prof = prof.join(member_q, cluster_col)
    pkeys = _drop_hot_keys(
        prof.select(
            F.col(cluster_col).alias("cand_cluster"), "c_idx", "c_val", "size",
            "avg_member_cos",
            F.explode(_top_slot_keys(F.col("c_idx"), F.col("c_val"), 4)).alias("k"),
        ),
        "k",
        SLOT_KEY_CAP,
    )
    skeys = singles.select(
        "conv_id", "vec_idx", "vec_val",
        F.explode(_top_slot_keys(F.col("vec_idx"), F.col("vec_val"), 4)).alias("k"),
    )
    scored = (
        skeys.join(pkeys, "k")
        .dropDuplicates(["conv_id", "cand_cluster"])
        .withColumn(
            "cos",
            sparse_cosine_udf(F.col("vec_idx"), F.col("vec_val"), F.col("c_idx"), F.col("c_val")),
        )
    )
    # soft threshold penalty (validator.py:1390-1410): below-floor
    # similarity is reduced, not zeroed
    adj_cos = F.when(
        F.col("cos") < assign_floor, F.greatest(F.col("cos") - soft_penalty, F.lit(0.0))
    ).otherwise(F.col("cos"))
    size_factor = F.least(
        F.log1p(F.col("size")) / F.log1p(F.lit(10.0)), F.lit(1.0)
    )
    scored = scored.withColumn(
        "match_score",
        w_cosine * adj_cos + w_size * size_factor + w_avg_score * F.col("avg_member_cos"),
    ).where(F.col("match_score") >= min_viable)  # viability floor (validator.py:1443)
    w = W.partitionBy("conv_id").orderBy(
        F.col("match_score").desc(), F.col("cand_cluster").asc()
    )
    ranked = scored.withColumn("rk", F.row_number().over(w))
    best = ranked.where(F.col("rk") == 1).select(
        "conv_id", "cand_cluster", F.col("cos").alias("best_cos"),
        F.col("match_score").alias("best_score"),
    )
    second = ranked.where(F.col("rk") == 2).select(
        "conv_id", F.col("cos").alias("second_cos"),
        F.col("match_score").alias("second_score"),
    )
    assign = (
        best.join(second, "conv_id", "left")
        .where(
            (F.col("best_cos") >= assign_floor)
            & (
                F.col("second_cos").isNull()
                | (F.col("best_cos") >= ratio_floor * F.col("second_cos"))
                # a cos near-tie is still decidable when size/cohesion
                # clearly separate the weighted scores (reference ranks
                # by match_score alone; the margin keeps the repo's
                # ambiguity protection for genuinely tied candidates)
                | (F.col("best_score") >= F.col("second_score") + score_margin)
            )
        )
        .select("conv_id", F.col("cand_cluster").alias("__new"))
    )
    assign, n_assign = counted_cut(assign)
    return (
        records.join(_maybe_broadcast(assign, n_assign, MAP_BROADCAST_CAP), "conv_id", "left")
        .withColumn(cluster_col, F.coalesce(F.col("__new"), F.col(cluster_col)))
        .drop("__new")
    )


# ---------------------------------------------------------------------------
# G15 analog: metadata enrichment from the cluster-majority record
# ---------------------------------------------------------------------------

def enrich_metadata(
    records: DataFrame, cluster_col: str = "cluster"
) -> DataFrame:
    """Fill an EMPTY tools set from the cluster's most frequent
    non-empty tools set, and flag the rows that were enriched.

    Reference analog: address enrichment fills missing street fields
    from the cluster-best address when city/state/zip agree, then sets
    address_was_enriched (refiner.py:328-421); here the 'best' donor is
    the modal non-empty tools array with deterministic tie-breaks
    (freq desc, then array lexicographic — reference O14)."""
    # election groups by the SORTED array: tools is set-semantics, and
    # the same multiset stored in different orders must vote together
    # (raw-array grouping splits its votes and can elect a less-common
    # set); the donor written back is the sorted representative
    nonempty = records.where(F.size("tools") > 0).select(
        cluster_col, F.array_sort("tools").alias("__tools_s")
    )
    freq = nonempty.groupBy(cluster_col, "__tools_s").agg(F.count("*").alias("__f"))
    w = W.partitionBy(cluster_col).orderBy(
        F.col("__f").desc(), F.col("__tools_s").asc()
    )
    donor, n_donor = counted_cut(
        freq.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(cluster_col, F.col("__tools_s").alias("__donor_tools"))
    )
    out = records.join(
        _maybe_broadcast(donor, n_donor, MAP_BROADCAST_CAP), cluster_col, "left"
    )
    enriched = (F.size("tools") == 0) & F.col("__donor_tools").isNotNull()
    return (
        out.withColumn("metadata_was_enriched", enriched)
        .withColumn(
            "tools",
            F.when(enriched, F.col("__donor_tools")).otherwise(F.col("tools")),
        )
        .drop("__donor_tools")
    )
