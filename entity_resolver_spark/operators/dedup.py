"""Document deduplication operators for large-scale training-data
pipelines (brief §"training-data pipeline" — first-class alongside the
record-linkage core, sharing its blocking/MinHash machinery).

All operate on a documents table (doc_id, text). Five strategies:

  * exact_dedup        — hash-groupBy, survivor = min doc_id (window,
                         deterministic like the reference's O14 rule);
  * minhash_lsh_pairs  — shingle -> MinHash -> band -> bucket join;
  * simhash_pairs      — 64-bit SimHash, near-dup if hamming <= k,
                         banded into 4 chunks (pigeonhole: <=3 bit
                         flips leave one 16-bit chunk intact);
  * ngram_jaccard_pairs— token/char n-gram Jaccard via explode+join
                         (pure SQL, DuckDB-oracle-checkable);
  * embedding_pairs    — cosine near-dup over an embedding column
                         (see ann.py for the search variant).

Scale notes: every strategy is shuffle-bounded by its key (hash,
band, chunk, n-gram) with the same stop-key protection as blocking.py;
nothing is quadratic in the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from entity_resolver_spark.operators.blocking import band_keys

POLY_MOD = 1_000_000_007  # matches textstats.poly_hash_expr default


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One survivor per distinct text: min id wins (deterministic window,
    never dropDuplicates — SURVEY O14)."""
    w = W.partitionBy(text_col).orderBy(F.col(id_col).asc())
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(text_hash, n_dups, survivor_id) for groups with >1 member."""
    return (
        docs.groupBy(F.xxhash64(text_col).alias("text_hash"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("survivor_id"))
        .where(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# token shingles
# ---------------------------------------------------------------------------

def _shingle_rows(docs: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """DISTINCT (id, s) word-n-gram shingle rows: a doc with at least
    n words yields its distinct word n-grams, a shorter doc one shingle
    of all its words. Built with posexplode + a lag window (whole-stage
    codegen) instead of an interpreted zip_with fold over shifted
    slices — measured 17.6s -> ~5s for the shingling pass at sf1.0
    (guide §4.1: higher-order functions evaluate interpreted per
    element).

    Adjacency is over the empty-filtered word sequence: empties are
    dropped AFTER posexplode, and the lag window orders by the original
    position, which yields exactly the filtered-array n-grams."""
    words = F.split(
        F.lower(F.regexp_replace(F.col(text_col), r"[^a-zA-Z0-9 ]", " ")), r"\s+"
    )
    ex = docs.select(
        F.col(id_col).alias("id"), F.posexplode(words).alias("pos", "w")
    ).where(F.length("w") > 0)
    win = W.partitionBy("id").orderBy("pos")
    seq = ex.select(
        "id", "w",
        F.lag("w", n - 1).over(win).alias("w0"),
        *[F.lag("w", n - 1 - j).over(win).alias(f"w{j}") for j in range(1, n - 1)],
        F.count("*").over(W.partitionBy("id")).alias("nw"),
    )
    long_docs = seq.where(
        (F.col("nw") >= n) & F.col("w0").isNotNull()
    ).select(
        "id",
        F.concat_ws(" ", *[F.col(f"w{j}") for j in range(n - 1)], F.col("w")).alias("s"),
    )
    # short docs (fewer than n words): one shingle = all words joined —
    # a single interpreted pass over the small subset is fine
    short = docs.select(
        F.col(id_col).alias("id"), _doc_words_expr(F.col(text_col)).alias("wa")
    ).where(F.size("wa") < n).select("id", F.array_join("wa", " ").alias("s"))
    return long_docs.unionByName(short).distinct()


def _doc_words_expr(text_col):
    w = F.split(F.lower(F.regexp_replace(text_col, r"[^a-zA-Z0-9 ]", " ")), r"\s+")
    return F.filter(w, lambda t: F.length(t) > 0)


def pick_banding(n_hashes: int, jaccard_floor: float, min_recall: float = 0.95) -> int:
    """Choose the band count so LSH recall at the jaccard floor is at
    least min_recall: recall(s) = 1 - (1 - s^r)^b with r = n_hashes/b.
    Prefers the fewest bands (most selective) that still clears the
    recall target; falls back to r=1 (bands = n_hashes, recall = 1-(1-s)^n)."""
    for b in sorted({d for d in range(1, n_hashes + 1) if n_hashes % d == 0}):
        r = n_hashes // b
        recall = 1.0 - (1.0 - jaccard_floor**r) ** b
        if recall >= min_recall:
            return b
    return n_hashes


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    n_hashes: int = 32,
    n_bands: int | None = None,
    jaccard_floor: float = 0.7,
    portable: bool = False,
) -> DataFrame:
    """Near-duplicate candidate pairs via shingle->minhash->band->join,
    verified with exact shingle-set Jaccard (estimated-then-verified,
    so no false positives from banding).

    Banding is derived from jaccard_floor (pick_banding) unless given —
    r1 shipped fixed b=8/r=4, which has only ~40% recall at floor 0.5.

    portable=True swaps xxhash64 for an affine family over a poly hash,
    sig[i] = min over shingles of ((2i+3)*h + (5i+7)) % POLY_MOD with
    h = poly_hash_expr(shingle), which a DuckDB oracle reproduces
    exactly — every shingle is poly-hashed ONCE, then each of the
    n_hashes functions is a cheap affine transform. Production default stays
    xxhash64 (better dispersion, O(len) per shingle).

    Shuffle discipline: the band join carries ONLY (band_key, id) — the
    full shingle arrays are attached once per side AFTER pair dedup
    (r1 shipped them through every band bucket: ~n_bands x payload
    amplification, the 100TB scale-killer in this plan)."""
    if n_bands is None:
        n_bands = pick_banding(n_hashes, jaccard_floor)
    # r6: DISTINCT (id, shingle) rows via the codegen window builder
    # (_shingle_rows; the interpreted zip_with fold cost ~17s alone at
    # sf1.0), materialized ONCE per invocation — the signature, the band
    # join's two sides and the two verify attachments all reference this
    # subtree, and Spark re-planned (and re-ran) the shingling for each
    # appearance (8 parquet scans in the r5 physical plan). Element
    # order inside the per-doc arrays is irrelevant downstream: the
    # signature is a MIN per hash and the verify uses intersection/union
    # SIZES only.
    rows = _shingle_rows(docs, text_col, id_col, shingle_n).localCheckpoint()
    if portable:
        from entity_resolver_spark.operators.textstats import poly_hash_expr

        hashed = rows.select("id", poly_hash_expr(F.col("s")).alias("h"))
        aggs = [
            F.min(
                F.pmod(F.col("h") * (2 * i + 3) + (5 * i + 7), F.lit(POLY_MOD))
            ).alias(f"m{i}")
            for i in range(n_hashes)
        ]
    else:
        hashed = rows.select("id", F.col("s").alias("h"))
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"m{i}")
            for i in range(n_hashes)
        ]
    # r6 (guide §4.1): signature via codegen'd MIN aggregates over the
    # exploded rows — the former array-expression form (n_hashes x
    # array_min(transform)) ran interpreted, one pass per hash function.
    sig = (
        hashed.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[F.col(f"m{i}") for i in range(n_hashes)]).alias("sig"))
    )
    banded = sig.select(
        "id", F.explode(band_keys(F.col("sig"), n_hashes, n_bands)).alias("bk")
    )
    a = banded.select(F.col("bk"), F.col("id").alias("id_a"))
    b = banded.select(F.col("bk"), F.col("id").alias("id_b"))
    cand = (
        a.join(b, "bk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = rows.groupBy("id").agg(F.collect_list("s").alias("sh"))
    cand = cand.join(
        sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cand.withColumn("jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
        .where(F.col("jaccard") >= jaccard_floor)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    jaccard_floor: float = 0.5,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via explode + equi-join on shingles
    (SQL-only — this is the DuckDB-checkable variant). Shingles shared
    by more than max_shingle_df docs are dropped (stop-key rule)."""
    # r6: shingle rows via the codegen window builder (17.6s -> 8.6s at
    # sf1.0), materialized once (guide §3.3 — the r5 plan re-derived the
    # shingle subtree 12x across the self-join and size/hot branches).
    sh = _shingle_rows(docs, text_col, id_col, shingle_n).localCheckpoint()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    hot = sh.groupBy("s").agg(F.count("*").alias("df")).where(F.col("df") > max_shingle_df)
    sh = sh.join(hot, "s", "left_anti")
    # r6: attach each doc's shingle count BEFORE the pair join (one
    # broadcast join per side over the 2.6M shingle rows) and carry the
    # two ints through it, instead of joining the sizes table onto the
    # 114M-row aggregated pair table twice afterwards (those two
    # stat-less post-agg joins planned as sort-merge and cost ~20s at
    # sf1.0). The gate keeps the broadcast docs-count-bounded.
    n_docs = docs.count()
    szb = F.broadcast(sizes) if n_docs <= 2_000_000 else sizes
    a = sh.join(szb, "id").select(
        F.col("s"), F.col("id").alias("id_a"), F.col("n").alias("n_a")
    )
    b = sh.join(szb, "id").select(
        F.col("s"), F.col("id").alias("id_b"), F.col("n").alias("n_b")
    )
    # r6: force sort-merge for the intersection self-join. The
    # checkpointed shingle table carries no stats, and the ~65MB
    # estimate sat under the session's broadcast ceiling, so Catalyst
    # built a 2.6M-entry hash relation in every task and the probe
    # emitted 127M rows against it — measured 65.5s vs 36.0s for SMJ at
    # sf1.0. (An AllPairs-style prefix filter was tried and REJECTED:
    # on this templated corpus 52M of the 114M co-occurring pairs share
    # a rarest-first prefix shingle, and attaching shingle arrays to
    # verify them shuffled ~50GB — slower than just counting the
    # co-occurrence rows.)
    # r6: size-ratio prefilter (exact, output-preserving). The computed
    # jaccard is I/(n_a+n_b-I) with I <= min(n_a, n_b) (I counts a
    # subset of the true intersection), and x/(n_a+n_b-x) is increasing
    # in x, so jaccard <= min/max. A pair with t*max > min can never
    # reach the floor, and dropping its co-occurrence rows BEFORE the
    # pair aggregate cuts the 127M-row hash-aggregate input (~45% of
    # joined rows survive at t=0.5 on the U[10,100]-words corpus).
    t = float(jaccard_floor)
    inter = (
        a.hint("merge").join(b, "s")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("n_a") * t <= F.col("n_b"))
            & (F.col("n_b") * t <= F.col("n_a"))
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_inter"),
            F.max("n_a").alias("n_a"),   # constant per group: max == the value
            F.max("n_b").alias("n_b"),
        )
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= jaccard_floor)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(hashes_col) -> "F.Column":
    """64-bit SimHash from a column of ALREADY-HASHED token longs:
    for each bit b, majority vote over the hashes sets the bit. 64
    codegen'd aggregates over the long array — callers hash each token
    exactly once (an earlier version hashed inside the per-bit lambda,
    re-running xxhash64 64x per token)."""
    n = F.size(hashes_col)

    def bit_votes(b: int):
        # factory closure (NOT a default-arg lambda: that changes the
        # PySpark lambda arity and binds the accumulator slot to b)
        return F.aggregate(
            hashes_col,
            F.lit(0),
            lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("int"),
        )

    bits = [(bit_votes(b) * 2 >= n).cast("long") for b in range(64)]
    out = F.lit(0).cast("long")
    for b, bit in enumerate(bits):
        out = out.bitwiseOR(F.shiftleft(bit, b))
    return out


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming. Candidate
    generation by chunk equality with n_chunks = max_hamming + 1
    (pigeonhole: <= max_hamming flips always leave one chunk intact,
    so recall is GUARANTEED at the declared threshold — r1 shipped a
    fixed 4-chunk split that silently lost recall for max_hamming > 3);
    verification via bit_count.

    portable=True hashes tokens with a 60-bit mix DuckDB reproduces
    exactly — m = poly31*K1 + poly37*K2, h = (m XOR m>>17) & (2^60-1);
    the multiply-and-xorshift step matters because raw poly hashes of
    short tokens stay below 31^len, leaving high bits near-constant and
    the simhash bits correlated (measured: 9,627 hamming<=6 pairs on
    the sf0.01 corpus without mixing vs 378 with, production xxhash64:
    179). Bits 60-63 are constant 0, so hamming is unaffected. Since
    pigeonhole recall is deterministically 1, the portable output
    EQUALS brute-force-over-all-pairs, which is what the oracle
    computes. Production stays xxhash64 (full 64 bits, O(len)/token)."""
    words = F.split(F.lower(F.regexp_replace(F.col(text_col), r"[^a-zA-Z0-9 ]", " ")), r"\s+")
    toks = F.filter(words, lambda t: F.length(t) > 0)
    if portable:
        from entity_resolver_spark.operators.textstats import poly_hash_expr

        def tok_hash(t):
            # poly values < 2^30, multipliers < 2^30 -> m < 2^61: exact
            # in signed 64-bit on both engines, no overflow
            m = poly_hash_expr(t, base=31) * 1073741827 + poly_hash_expr(t, base=37) * 715827883
            return m.bitwiseXOR(F.shiftright(m, 17)).bitwiseAND(F.lit((1 << 60) - 1))

    else:
        tok_hash = F.xxhash64
    # r6 (guide §4.1): the former simhash64(array) form ran 64
    # higher-order F.aggregate lambdas per doc — Catalyst evaluates
    # those INTERPRETED, one pass over the token array per bit — and the
    # chunk self-join re-evaluated the whole thing for both sides
    # (measured: 151s warm at sf1.0). Explode the tokens once, hash each
    # token once in a projection, and collect the 64 bit votes as
    # codegen'd SUM aggregates; explode_outer + coalesce(sum, 0)
    # reproduces the empty-doc vote (0 votes over n=0 tokens sets every
    # bit) exactly.
    tokd = docs.select(F.col(id_col).alias("id"), F.explode_outer(toks).alias("t"))
    hashed = tokd.select(
        "id", F.when(F.col("t").isNotNull(), tok_hash(F.col("t"))).alias("h")
    )
    votes = hashed.groupBy("id").agg(
        F.count("h").alias("n"),
        *[
            F.coalesce(
                F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)).cast("int")),
                F.lit(0),
            ).alias(f"v{b}")
            for b in range(64)
        ],
    )
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim.bitwiseOR(
            F.shiftleft((F.col(f"v{b}") * 2 >= F.col("n")).cast("long"), b)
        )
    # materialized once: both sides of the chunk self-join read this
    # 1-row-per-doc table instead of re-running tokenize+hash+votes
    sh = votes.select("id", sim.alias("sim")).localCheckpoint()
    if max_hamming + 1 > 64:
        raise ValueError(f"max_hamming={max_hamming} needs >64 chunks of a 64-bit hash")
    # r6 (guide §2.5): COMBINATORIAL pigeonhole banding. The classic
    # split into max_hamming+1 chunks guarantees recall (<= max_hamming
    # flips leave one chunk intact) but on a templated corpus the
    # per-chunk value distribution is extremely skewed — at sf1.0 the
    # hottest 9-bit chunk value held 17,684 of 50,000 docs and the
    # candidate join emitted 490M rows for a 1.4M-row true result.
    # Demanding r chunks agree instead of 1 (m = max_hamming + r
    # chunks: <= max_hamming flips still leave >= r intact, so SOME
    # r-subset matches and recall stays exactly 1) makes each key
    # carry r chunks' worth of bits: measured 490M -> 134M candidate
    # rows at r=3. Keys are packed LONGS (combo id + r chunk values),
    # not strings, and the hamming verify runs BEFORE the pair dedup so
    # the shuffle only carries true pairs.
    import itertools as _it
    import math as _math

    r = 3
    while r > 1:
        m = max_hamming + r
        maxw = _math.ceil(64 / m)
        n_combos = _math.comb(m, r)
        if (
            m <= 64
            and n_combos <= 256
            and n_combos.bit_length() + r * maxw <= 63
        ):
            break
        r -= 1
    m = max_hamming + r
    n_combos = _math.comb(m, r)
    bounds = [round(64 * c / m) for c in range(m + 1)]
    maxw = max(bounds[c + 1] - bounds[c] for c in range(m))
    chunk = [
        F.shiftright(F.col("sim"), bounds[c]).bitwiseAND(
            F.lit((1 << (bounds[c + 1] - bounds[c])) - 1)
        )
        for c in range(m)
    ]
    keys = []
    for ci, combo in enumerate(_it.combinations(range(m), r)):
        k = F.lit(ci).cast("long")
        for c in combo:
            k = F.shiftleft(k, maxw).bitwiseOR(chunk[c])
        keys.append(k)
    banded = sh.select("id", "sim", F.explode(F.array(*keys)).alias("bk"))
    a = banded.select("bk", F.col("id").alias("id_a"), F.col("sim").alias("sim_a"))
    b = banded.select("bk", F.col("id").alias("id_b"), F.col("sim").alias("sim_b"))
    return (
        a.join(b, "bk")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def embedding_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_floor: float = 0.95,
    n_bits: int = 10,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs. Candidates via OR-amplified
    random-hyperplane LSH: n_tables independent sign sketches of n_bits
    each, a pair is a candidate if it collides in ANY table; verified
    with exact cosine (dense_cosine_expr, JVM-side).

    Recall at the floor: P(bit agrees) = 1 - acos(cos)/pi, per-table
    p^n_bits, amplified 1-(1-p^n_bits)^n_tables. Defaults (10 bits x 8
    tables) give ~0.97 at cosine 0.95 — r1's single 8-bit table had
    ~0.43 and silently missed most true near-dups.

    The projections are one NumPy matmul per Arrow batch (all tables at
    once); the bucket join carries only (bucket, id), vectors attach
    once per side after pair dedup."""
    from entity_resolver_spark.functions.similarity import dense_cosine_expr

    @F.pandas_udf("array<string>")
    def _buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.stack(v.to_numpy())
        # deterministic: same seed + dim -> same hyperplanes on every
        # executor and every run
        planes = np.random.default_rng(seed).standard_normal(
            (n_tables * n_bits, M.shape[1])
        )
        signs = (M @ planes.T >= 0).astype(np.uint64)
        signs = signs.reshape(len(M), n_tables, n_bits)
        codes = (signs << np.arange(n_bits, dtype=np.uint64)).sum(axis=2)
        return pd.Series(
            [[f"{t}:{int(codes[i, t])}" for t in range(n_tables)] for i in range(len(M))],
            index=v.index,
        )

    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    # r6: the vector table feeds the sketch UDF and both verify
    # attachments — materialize once instead of three scans+repartitions.
    # Checkpointed frames carry no stats, so the verify joins must be
    # broadcast explicitly while the corpus is small (beyond the gate a
    # shuffle join is the right plan anyway).
    base = base.localCheckpoint()
    n_vecs = base.count()
    attach = F.broadcast(base) if n_vecs <= 500_000 else base
    # r6 (second session): materialize the (id, bucket) sketch rows —
    # both sides of the bucket self-join referenced the sketch UDF's
    # subtree and Spark evaluated the ArrowEvalPython projection TWICE
    # (guide §4.4's duplication shape, fixed the §3.3 way; the table is
    # n_tables rows/doc of two small columns)
    sk = base.select(
        "id", F.explode(_buckets(F.col("v"))).alias("bucket")
    ).localCheckpoint()
    a = sk.select("bucket", F.col("id").alias("id_a"))
    b = sk.select("bucket", F.col("id").alias("id_b"))
    cand = (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # r6 (second session): verify candidates in an ordered-NumPy kernel
    # instead of two broadcast array joins + three interpreted 64-term
    # Catalyst folds per pair. The joins materialized 128 doubles per
    # candidate through the projection (~1GB per 1M candidates) and the
    # interpreted folds dominated the query on near-dup-heavy corpora.
    # Bit-identity with dense_cosine_expr (the DuckDB oracle pins the
    # values): the kernel accumulates dot and the two norms in
    # ASCENDING INDEX ORDER (a Python loop over dims, vectorized across
    # pairs — each partial sum is the same IEEE-754 double add sequence
    # as the fold), np.sqrt and Java's Math.sqrt are both correctly
    # rounded, and the final expression replicates
    # when(na==0 | nb==0, 0.0).otherwise(dot / (na * nb)) including the
    # multiply-before-divide order. Gated to collectable vector tables
    # (same 500k gate as the broadcast) with well-formed fixed-dim
    # vectors; anything else keeps the JVM expression path.
    if n_vecs <= 500_000:
        kernel_out = _cosine_verify_kernel(
            cand, base, float(cosine_floor), n_vecs=n_vecs
        )
        if kernel_out is not None:
            return kernel_out
    cand = cand.join(
        attach.select(F.col("id").alias("id_a"), F.col("v").alias("v_a")), "id_a"
    ).join(attach.select(F.col("id").alias("id_b"), F.col("v").alias("v_b")), "id_b")
    return (
        cand.withColumn("cosine", dense_cosine_expr(F.col("v_a"), F.col("v_b")))
        .where(F.col("cosine") >= cosine_floor)
        .select("id_a", "id_b", "cosine")
    )


def _cosine_verify_kernel(
    cand: DataFrame, base: DataFrame, floor: float, n_vecs: int | None = None
):
    """mapInArrow exact-cosine verification of (id_a, id_b) candidates
    against a collected (id, vector) table. Returns None when the
    vector table is not well-formed for the vectorized path (ragged or
    null vectors, non-integral ids) — the caller falls back to the
    JVM expression join. Value contract: bit-identical doubles to
    dense_cosine_expr (see caller comment)."""
    import pyarrow as pa_
    from pyspark.sql import types as T_

    # id must already be LongType so the kernel output schema equals the
    # expression path's (which preserves the input id type)
    if not isinstance(base.schema["id"].dataType, T_.LongType):
        return None
    # driver-memory gate (guide §5: no record-scale collect): the row
    # gate alone would let 500k HIGH-DIM vectors collect gigabytes —
    # bound the element count (<= 32M doubles ~ 256MB) by probing one
    # row's dimensionality before collecting
    head = base.select("v").head(1)
    if head and head[0][0] is not None:
        if n_vecs is None:
            n_vecs = base.count()
        if len(head[0][0]) * n_vecs > 32_000_000:
            return None
    pdf = base.toPandas()
    if len(pdf) == 0:
        return cand.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    vecs = pdf["v"].to_numpy()
    if any(v is None for v in vecs):
        return None
    dims = {len(v) for v in vecs}
    if len(dims) != 1:
        return None
    try:
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
    except ValueError:
        return None
    if not np.isfinite(M).all():
        # Spark SQL treats NaN as greater than any double in `>=`;
        # NumPy does not — keep non-finite corpora on the JVM path
        return None
    ids = pdf["id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    ids = np.ascontiguousarray(ids[order])
    M = np.ascontiguousarray(M[order])
    d = M.shape[1]
    # per-vector norms, ascending-index fold order (identical bits to
    # the per-pair fold: the summed sequence is the same)
    sq = np.zeros(len(M))
    for i in range(d):
        sq += M[:, i] * M[:, i]
    nrm = np.sqrt(sq)
    bc = cand.sparkSession.sparkContext.broadcast((ids, M, nrm))

    def fn(batches):
        b_ids, b_M, b_nrm = bc.value
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ia = batch.column(0).to_numpy(zero_copy_only=False)
            ib = batch.column(1).to_numpy(zero_copy_only=False)
            pa_idx = np.searchsorted(b_ids, ia)
            pb_idx = np.searchsorted(b_ids, ib)
            P = b_M[pa_idx]
            Q = b_M[pb_idx]
            dot = np.zeros(len(ia))
            for i in range(b_M.shape[1]):
                dot += P[:, i] * Q[:, i]
            na = b_nrm[pa_idx]
            nb = b_nrm[pb_idx]
            denom = na * nb
            zero = (na == 0) | (nb == 0)
            cos = np.where(zero, 0.0, dot / np.where(zero, 1.0, denom))
            keep = cos >= floor
            if not keep.any():
                continue
            yield pa_.RecordBatch.from_arrays(
                [
                    pa_.array(ia[keep], pa_.int64()),
                    pa_.array(ib[keep], pa_.int64()),
                    pa_.array(cos[keep], pa_.float64()),
                ],
                names=["id_a", "id_b", "cosine"],
            )

    return cand.select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long")
    ).mapInArrow(fn, "id_a long, id_b long, cosine double")
