"""Hashed TF-IDF vectorization (SURVEY V1/V8, BASELINE-mandated
replacement for the reference's GPU dense-vectorization stack V4-V7).

The reference fits cuML TfidfVectorizer + truncated SVD
(/root/reference/entity_resolver/context_vectorizer.py:311-348,
components.py:60-741). Per SURVEY §7 both are replaced by fixed-
dimension feature hashing with IDF weighting and L2 normalization —
no global factorization, no vocabulary broadcast beyond the small IDF
table, everything JVM-side:

    explode(tokens) -> join IDF table -> slot = pmod(xxhash64(token),D)
    -> collect sorted sparse vector per record (ONE shuffle; D=2^31 so
    the slot is effectively a unique join key, no per-slot summing
    needed) -> L2-normalize with SQL aggregate/transform.

Sparse vectors are carried as two row-aligned arrays (vec_idx sorted
asc, vec_val) — the DataFrame-native answer to the reference's
side-car CSR matrices (vectorizer.py:96-99); alignment is free because
they live in the same row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from entity_resolver_spark.functions.similarity import pack_vec_udf


def token_df(records: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """(token, df) document frequencies. Token arrays are distinct per
    record upstream (array_distinct), so count(*) == countDistinct(id).

    One table serves two consumers — the rare-token blocking channel
    and the IDF weights — so the pipeline computes (and checkpoints) it
    once instead of re-exploding the corpus per consumer."""
    exploded = records.select(F.explode(tokens_col).alias("token"))
    return exploded.groupBy("token").agg(F.count("*").alias("df"))


def idf_table(
    records: DataFrame,
    tokens_col: str = "tokens",
    df_table: DataFrame | None = None,
    n_records: int | None = None,
) -> DataFrame:
    """(token, df, idf) with smooth idf = ln((N+1)/(df+1)) + 1, where N
    is `n_records` or else `records.count()`."""
    n = records.count() if n_records is None else n_records
    if df_table is None:
        df_table = token_df(records, tokens_col)
    return df_table.withColumn(
        "idf", F.log((F.lit(float(n + 1))) / (F.col("df") + 1.0)) + 1.0
    )


def hashed_tfidf(
    records: DataFrame,
    idf: DataFrame,
    id_col: str = "conv_id",
    tokens_col: str = "tokens",
    num_features: int = 1 << 31,
    top_k: int | None = 128,
) -> DataFrame:
    """-> (id_col, vec_idx array<bigint> sorted, vec_val array<double>),
    L2-normalized. Token sets (binary TF) x IDF weights, feature-hashed
    into `num_features` slots.

    top_k keeps only the highest-IDF slots per record before
    normalization (reference analog: vector pruning in
    utils/similarity.py:213-400). The discarded tail is near-stopword
    mass that contributes little to any cosine; dropping it shrinks the
    pair-scoring payload ~2-3x, which is what the scoring stage's cost
    scales with."""
    exploded = records.select(id_col, F.explode(tokens_col).alias("token"))
    weighted = exploded.join(idf.select("token", "idf"), "token").select(
        id_col,
        F.pmod(F.xxhash64("token"), F.lit(num_features)).alias("slot"),
        F.col("idf").alias("w"),
    )
    # no per-(id, slot) pre-aggregation: tokens are distinct per record,
    # so duplicate slots only arise from hash collisions (~1e-5 per
    # record at the 2^31 default space), which the cosine kernels
    # tolerate; skipping it halves the shuffle volume of this stage
    # (the exploded table crosses the wire once, not twice)
    if top_k is not None:
        # r6: keep top_k by (weight desc, slot asc — deterministic,
        # reference O14) via a codegen'd window instead of the former
        # interpreted comparator array_sort over every record's full
        # slot array (guide §4.1: HOF comparators evaluate interpreted
        # per comparison). Ties are identical (slot, w) structs, so
        # row_number order among them cannot change the kept multiset.
        # The groupBy below reuses the window's hash partitioning, so
        # this adds no exchange.
        wk = W.partitionBy(id_col).orderBy(F.col("w").desc(), F.col("slot").asc())
        weighted = (
            weighted.withColumn("__rk", F.row_number().over(wk))
            .where(F.col("__rk") <= top_k)
            .drop("__rk")
        )
    sv = F.array_sort(F.collect_list(F.struct("slot", "w")))
    # `norm` is referenced twice (condition and lambda), as in
    # add_fused_vector: with one reference CollapseProject inlines its
    # aggregate into the lambda, and every row re-folds its norm once
    # per slot (up to top_k times). A zero norm passes the weights
    # through, as l2_normalize_expr does.
    norm = F.col("norm")
    vec = (
        weighted.groupBy(id_col)
        .agg(sv.alias("sv"))
        .withColumn(
            "norm",
            F.sqrt(
                F.aggregate(
                    F.col("sv"), F.lit(0.0), lambda acc, e: acc + e["w"] * e["w"]
                )
            ),
        )
        .select(
            id_col,
            F.transform(F.col("sv"), lambda e: e["slot"]).alias("vec_idx"),
            F.when(norm > 0, F.transform(F.col("sv"), lambda e: e["w"] / norm))
            .otherwise(F.transform(F.col("sv"), lambda e: e["w"]))
            .alias("vec_val"),
        )
    )
    # packed twin of (vec_idx, vec_val): pair scoring ships this single
    # binary column through Arrow (one memcpy/row) instead of paying
    # element-wise serialization of two nested arrays per pair side
    return vec.withColumn(
        "vec_blob", pack_vec_udf(F.col("vec_idx"), F.col("vec_val"))
    )


def add_tfidf_vectors(
    records: DataFrame,
    id_col: str = "conv_id",
    tokens_col: str = "tokens",
    num_features: int = 1 << 31,
    df_table: DataFrame | None = None,
    top_k: int | None = 128,
    idf: DataFrame | None = None,
    n_records: int | None = None,
) -> DataFrame:
    """Join hashed TF-IDF sparse vectors back onto the record table.

    Pass `idf` to vectorize against a FITTED weight table (the
    transform/predict path — both sides of a comparison must share one
    IDF space); otherwise weights derive from `records` (and
    `df_table` if the document frequencies were already computed, and
    `n_records` if its row count is known)."""
    if idf is None:
        idf = idf_table(records, tokens_col, df_table=df_table, n_records=n_records)
    vec = hashed_tfidf(records, idf, id_col, tokens_col, num_features, top_k=top_k)
    return records.join(vec, id_col, "left")


def l2_normalize_expr(vec):
    """V8 as a pure JVM expression: row L2 over array<double>, zero
    rows passed through (reference utils/vector.py:19-196 dense path)."""
    n = F.sqrt(
        F.aggregate(F.transform(vec, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    return F.when(n > 0, F.transform(vec, lambda x: x / n)).otherwise(vec)


def balance_fuse_expr(streams):
    """Single-expression form of V9+V10 (see add_fused_vector). Correct
    for SMALL arrays only: expressions have no let-binding, so every
    element evaluation re-computes the nested norm aggregates —
    measured ~20 s for 100 rows of 64+16 dims. Use add_fused_vector in
    any real plan; this stays for expression-context callers and as
    the semantic spec the tests pin."""
    import math

    def _scaler(s):
        # one-arg lambda factory: a two-parameter lambda (even with a
        # default) would be called by Spark as (element, index)
        return lambda x: x * F.lit(s)

    balanced = [
        F.transform(l2_normalize_expr(col), _scaler(math.sqrt(p))) for col, p in streams
    ]
    return l2_normalize_expr(F.concat(*balanced))


def add_fused_vector(df: DataFrame, streams, out_col: str = "fused") -> DataFrame:
    """V9+V10: fuse [(array_col, proportion), ...] into one cosine-ready
    vector — per-stream L2, scale by sqrt(proportion) so each stream
    contributes its target ENERGY share, concatenate, final L2
    (reference utils/vector.py:828-857 balancing, context_vectorizer.py:
    445-530 fusion; final TruncatedSVD dropped per SURVEY §7.1).

    Each norm lands in its own projection, so it is computed ONCE per
    row and referenced as a value — CollapseProject keeps expensive
    multiply-referenced aliases in place. The naive single-expression
    nesting re-evaluates inner aggregates per element (no let-binding
    in Catalyst expressions): ~1000x slower at 80 dims. Still pure
    codegen — no UDF, no shuffle, per-row map at any scale."""
    import math

    def _norm_of(col):
        return F.sqrt(
            F.aggregate(F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
        )

    def _div_scale(n_col, s):
        return lambda x: x / n_col * F.lit(s)

    def _mul(s):
        # one-arg factory (a 2-param lambda would receive the index)
        return lambda x: x * F.lit(s)

    # IMPORTANT: each norm column is referenced TWICE (when-condition +
    # lambda body). That is what keeps CollapseProject from inlining the
    # aggregate back into the per-element lambda — a single-reference
    # "scalar multiplier" variant measured 4-8x slower because the norm
    # re-evaluated per element. Verified in the optimized plan: exactly
    # one aggregate per norm, each in its own projection.
    tmp = df
    balanced = []
    drop = []
    for i, (col, p) in enumerate(streams):
        nc = f"__bf_n{i}"
        drop.append(nc)
        tmp = tmp.withColumn(nc, _norm_of(col))
        s = math.sqrt(p)
        balanced.append(
            F.when(
                F.col(nc) > 0, F.transform(col, _div_scale(F.col(nc), s))
            ).otherwise(F.transform(col, _mul(s)))
        )
    tmp = tmp.withColumn("__bf_cat", F.concat(*balanced))
    tmp = tmp.withColumn("__bf_cn", _norm_of(F.col("__bf_cat")))
    tmp = tmp.withColumn(
        out_col,
        F.when(
            F.col("__bf_cn") > 0,
            F.transform(F.col("__bf_cat"), _div_scale(F.col("__bf_cn"), 1.0)),
        ).otherwise(F.col("__bf_cat")),
    )
    return tmp.drop("__bf_cat", "__bf_cn", *drop)
