"""Pipeline configuration.

Mirrors the *structure* of the reference's pydantic config
(/root/reference/entity_resolver/config/schema.py — normalization /
blocking / scoring / clustering / validation / output sections, strict
validation, one global random seed propagated everywhere) without
porting its GPU-specific knobs.
"""

from __future__ import annotations

from pydantic import BaseModel, ConfigDict, Field


class NormalizationConfig(BaseModel):
    """Text normalization (reference: normalizer.py:212-415). The chain
    (lowercase, punctuation strip, whitespace collapse) is one fused
    pass; only NFKC folding is switchable. Iterative suffix removal
    (P5) lives in functions/entity_names.py with its pass count there
    (SUFFIX_PASSES)."""

    model_config = ConfigDict(extra="forbid")

    nfkc: bool = True
    min_length: int = 2  # below this, fall back to minimal normalization
    empty_fallback: str = "unknown_entity"


class BlockingConfig(BaseModel):
    """Candidate generation (reference kNN O5 -> deterministic keys + LSH)."""

    model_config = ConfigDict(extra="forbid")

    # deterministic channel: bottom-k of hashed distinct tokens
    det_key_size: int = 3
    # MinHash/LSH channel: 6 bands x 4 rows over unigram+bigram
    # match_tokens — bigrams keep cross-conversation Jaccard low in
    # homogeneous corpora, so r=4 stays selective without losing
    # near-duplicate recall
    minhash_hashes: int = 24
    lsh_bands: int = 6           # rows per band = minhash_hashes // lsh_bands
    # rare-token channels (C3/C4): keys per record and the df ceiling —
    # a rare key should cover at most a duplicate family, not a
    # mid-frequency token's whole cohort (df<=20 keeps blocks
    # family-sized; max_block_size alone lets them reach 200 and the
    # pair count explode quadratically)
    rare_tokens_per_record: int = 5
    rare_max_df: int = 20
    # skew control (reference analog: max_pairs_per_chunk schema.py:1534-1540).
    # max_block_size bounds pairs-per-sub-block at max^2/2 by construction
    # (oversized blocks are salt-split), so no separate pair cap exists
    max_block_size: int = 200    # records per block before salted splitting
    # stop-key filter: drop blocking keys shared by more than this fraction
    # of records (reference analog: tfidf max_df=0.99, schema.py:583-585)
    stop_key_fraction: float = 0.2
    min_tokens: int = 1
    # C5 phonetic channel (reference runs a phonetic stream in every
    # fit, context_vectorizer.py:387-443): ordered metaphone codes of
    # the first phonetic_max_words words as one signature key — typo
    # families whose tokens/bigrams all shift still collide when the
    # misspellings are phonetic
    phonetic: bool = True
    phonetic_max_words: int = 10
    # C5 emits keys only for records with at most this many tokens: a
    # 10-word prefix signature is discriminative for short name-like
    # docs (the reference's phonetic stream runs on entity NAMES) but
    # groups long transcripts by their shared openings — measured 3.4x
    # candidate-pair inflation at 3.2M turns with no recall gain
    phonetic_max_tokens: int = 32
    # C4 rare-unigram channel source column; None disables the channel.
    # If set and absent from the records frame, blocking RAISES (never
    # silently loses a recall channel to an upstream column drop)
    unigrams_col: str | None = "tokens"


class ScoringConfig(BaseModel):
    """Pairwise scoring weights (reference: K8 validator.py:396-401)."""

    model_config = ConfigDict(extra="forbid")

    w_jaro_winkler: float = 0.20
    w_levenshtein: float = 0.30
    w_cosine: float = 0.50
    edge_threshold: float = 0.55          # pairs scoring >= this become edges
    # cap Levenshtein cost: the DP is O(cap^2) per pair and (with the
    # JVM builtin) dominated the scoring stage at 256 (measured ~31s vs
    # ~8s at 128 on 380k pairs); normalized transcript prefixes discriminate as well
    # at 128 because perturbations spread through the whole doc
    lev_prefix_chars: int = 128
    jw_prefix_chars: int = 64             # JW is a prefix-heavy measure anyway
    tfidf_num_features: int = 1 << 31     # hashed slot space (join key, not a dense dim)
    # keep only the top-k highest-IDF slots per record (reference
    # analog: vector pruning, utils/similarity.py:213-400) — bounds the
    # pair-scoring payload per record; None disables
    vector_top_k: int | None = 128
    # tokens must appear in >= this many docs to get TF-IDF weight
    # (reference min_df, schema.py:583-585); 1 = keep all
    tfidf_min_df: int = 1


class ClusteringConfig(BaseModel):
    """Connected components (reference: graph.py:137-230) plus the
    density-aware bridge-breaking pass (reference Louvain + purity
    ensemble, clusterer.py:400-413,599-937 — run in every reference
    fit via resolver.py:432-436)."""

    model_config = ConfigDict(extra="forbid")

    max_iterations: int = 20
    checkpoint_every: int = 1
    # G4/G8: split components that fused two dense families through one
    # spurious above-threshold edge — weighted LPA inside each large
    # component + ensemble rescue of tiny fragments
    break_bridges: bool = True
    bridge_min_component: int = 8   # components below this are never split
    bridge_max_iter: int = 8        # LPA round budget
    bridge_min_community: int = 2   # smaller LPA fragments get rescued/singled
    # edge-complete components are one mutually-connected family by
    # construction — only components with internal density below this
    # get the LPA pass (O(E_suspicious), not O(E_total), per round)
    bridge_density_floor: float = 0.9


class RefinementConfig(BaseModel):
    """Post-clustering refinement passes (reference: validator.py
    evict/reassign G12/G13, merger.py merge passes G9/G10). All operate
    on the cluster-profile table (one row per cluster), so cost scales
    with cluster count, not record count."""

    model_config = ConfigDict(extra="forbid")

    evict_outliers: bool = True
    evict_min_cluster_size: int = 4
    evict_z_floor: float = 2.5
    evict_cosine_floor: float = 0.80
    # 2-of-3 vote extras (reference validator.py:404-469, 815-831)
    evict_margin_floor: float = 0.05      # alt cluster within this of own fit
    evict_very_poor_floor: float = 0.30   # always-evict override
    # String-evidence veto: all three votes read member->centroid cosine,
    # which degenerates inside viral-template mega-families (IDF of the
    # shared template collapses, typo tokens dominate the member vector).
    # Flagged members whose norm_text is near-identical to the cluster's
    # frequency-canonical (merge_clusters_string's window discipline,
    # merge_* floors) stay — the reference's own rescue path scores
    # STRING channels, config/schema.py:1436-1477. See refine.evict_outliers.
    # Floors are veto-specific (NOT merge_jw_floor/merge_lev_floor): the
    # veto compares a MEMBER text to the canonical, and typo insertions
    # shift alignment so jw is only trustworthy on the head window
    # (measured family min 0.923 vs mid/tail jw 0.8125 at lev >= 0.943 —
    # refine._string_evidence_veto docstring).
    evict_string_veto: bool = True
    evict_veto_jw_floor: float = 0.90       # head window only
    evict_veto_lev_floor: float = 0.85      # all three windows

    reassign_singletons: bool = True
    assign_floor: float = 0.80
    assign_ratio_floor: float = 1.25
    # K9 weighted reassignment score (reference validator.py:1428-1436,
    # weights schema.py:1436-1477 — name 0.40 + addr 0.40 collapse into
    # one fused cosine 0.80; size 0.10; avg membership quality 0.10)
    assign_w_cosine: float = 0.80
    assign_w_size: float = 0.10
    assign_w_avg_score: float = 0.10
    assign_soft_penalty: float = 0.15     # soft_threshold_penalty analog
    assign_min_viable: float = 0.20       # minimum_viable_score (validator.py:1443)
    assign_score_margin: float = 0.05     # weighted-score near-tie separation

    merge_vector: bool = True
    merge_centroid_cosine_floor: float = 0.80

    merge_string: bool = True
    merge_jw_floor: float = 0.93
    merge_lev_floor: float = 0.85
    # length-ratio admission (dedicated constant — the truncate
    # perturbation floor, NOT merge_lev_floor) and the centroid-cosine
    # co-gate (None disables; deliberately low — a sanity gate for
    # divergence outside the head/mid/tail windows, not a second
    # vector-merge pass). See refine.merge_clusters_string.
    merge_len_ratio_floor: float = 0.70
    merge_cosine_co_floor: float | None = 0.50

    # G15 analog: fill empty tools sets from the cluster-majority record
    enrich_metadata: bool = True


class ValidationConfig(BaseModel):
    """Cluster validation / splits (reference: refiner.py:423-589 analogs)."""

    model_config = ConfigDict(extra="forbid")

    enforce_unique_entity: bool = True    # Q1 gate (utils/validation.py:48-90)
    # Q3/Q4 analogs ON by default — the reference applies its state /
    # street-range compatibility splits in EVERY fit (validator.py:
    # 87-141, refiner.py:423-589). Tool split fires only on true
    # DISJOINTNESS from the cluster's modal tool set (a member whose
    # tools are a subset — e.g. a truncated duplicate — never splits);
    # 365d covers any legitimate duplicate-contact spread.
    split_on_tool_conflict: bool = True   # transcript analog of state splits
    max_ts_gap_days: int | None = 365     # wide time-range split


class ConfidenceConfig(BaseModel):
    """Confidence scoring (reference: scorer.py:98-141, schema.py:1590-1637)."""

    model_config = ConfigDict(extra="forbid")

    w_avg_edge_score: float = 0.45
    w_cohesion: float = 0.30
    w_size_factor: float = 0.25
    buckets: tuple[float, ...] = (0.0, 0.5, 0.7, 0.85, 1.0)
    categories: tuple[str, ...] = ("Low", "Medium", "High", "Very High")
    review_threshold: float = 0.75        # scorer.py:158-179
    # name-change penalty stack (reference scorer.py:115-129):
    # change_magnitude = 1 - sim(norm_text, canonical_text)
    name_change_floor: float = 0.5        # change above this -> x0.9
    name_change_penalty: float = 0.9
    small_cluster_change_floor: float = 0.7  # size<=2 & change above -> x0.85
    small_cluster_penalty: float = 0.85
    # review flags (reference scorer.py:160-168)
    drastic_change_floor: float = 0.7     # drastic_name_change flag
    singleton_change_floor: float = 0.01  # singleton_name_change flag
    # prefix cap for the levenshtein-based change magnitude (transcript
    # docs are long; the DP is O(cap^2) per row)
    change_prefix_chars: int = 128


class OutputConfig(BaseModel):
    model_config = ConfigDict(extra="forbid")

    checkpoint_dir: str | None = None     # per-stage parquet checkpoints
    resume: bool = True


class ResolverConfig(BaseModel):
    """Top-level config. The reference propagates one global random seed
    to every sampling site (config/schema.py:1738-1766); this pipeline
    has NO sampling sites — every stage is deterministic by construction
    (hash-derived keys, window-ordered survivors) — so no seed exists."""

    model_config = ConfigDict(extra="forbid")

    normalization: NormalizationConfig = Field(default_factory=NormalizationConfig)
    blocking: BlockingConfig = Field(default_factory=BlockingConfig)
    scoring: ScoringConfig = Field(default_factory=ScoringConfig)
    clustering: ClusteringConfig = Field(default_factory=ClusteringConfig)
    refinement: RefinementConfig = Field(default_factory=RefinementConfig)
    validation: ValidationConfig = Field(default_factory=ValidationConfig)
    confidence: ConfidenceConfig = Field(default_factory=ConfidenceConfig)
    output: OutputConfig = Field(default_factory=OutputConfig)

    # S4: YAML config I/O (reference config/loader.py:69-95 load,
    # 128-157 save — pydantic-validated round trip, strict extra=forbid)
    @classmethod
    def from_yaml(cls, path: str) -> "ResolverConfig":
        import yaml

        with open(path) as f:
            data = yaml.safe_load(f) or {}
        return cls.model_validate(data)

    def to_yaml(self, path: str) -> None:
        import yaml

        with open(path, "w") as f:
            yaml.safe_dump(self.model_dump(mode="json"), f, sort_keys=False)
