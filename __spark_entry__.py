"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: derive transcripts from sf0.001 events,
                 inject duplicate conversations, run the full
                 entity-resolution pipeline, return resolved entities.
queries()      — one callable per implemented operator (SURVEY.md §2);
                 each takes (spark, sf_dir) and returns a DataFrame.
oracle_sql()   — matching DuckDB SQL per query (same column names,
                 floats rounded identically on both sides). Queries
                 with non-portable hashing (MinHash/SimHash/xxhash64)
                 or Arrow-UDF-only kernels are rows-only by design.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


# cache of chosen spread columns: one cheap agg per (path, schema), not
# per read — keyed on the column tuple too (r6, VERDICT r5 #7) so a
# same-path table rewritten with a different schema in one session
# cannot reuse a stale choice
_SPREAD_COL: dict[tuple[str, tuple[str, ...]], str] = {}


def _spread_column(df: DataFrame, path: str) -> str:
    """Column with the max approx distinct count — hash-partitioning on
    it spreads rows evenly. The previous heuristic (leading column)
    silently re-creates the skew it exists to remove whenever a table
    leads with a low-cardinality column (role/status/flag)."""
    key = (path, tuple(df.columns))
    if key not in _SPREAD_COL:
        # xxhash64 first: approx_count_distinct needs a hashable input
        # and xxhash64 accepts every type the test tables carry
        row = df.select(
            *[F.approx_count_distinct(F.xxhash64(c)).alias(c) for c in df.columns]
        ).first()
        _SPREAD_COL[key] = max(df.columns, key=lambda c: row[c])
    return _SPREAD_COL[key]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    # The test tables are single-row-group parquet files, so the scan
    # yields ONE input partition and every pre-shuffle expression (pair
    # expansion, tokenize/hash, per-row scoring) runs on one core. Spread
    # such scans across the session's cores, hash-partitioned on the
    # highest-cardinality column (deterministic under task retry, unlike
    # round-robin, and skips the sort-before-repartition pass). On a real
    # cluster a 100 TB table scans as thousands of splits and this branch
    # never fires.
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par, F.col(_spread_column(df, path)))
    return df


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from entity_resolver_spark.sources.transcripts import transcripts_from_events

    return transcripts_from_events(spark, sf_dir)


# the same transcript derivation as DuckDB text (kept in lockstep with
# entity_resolver_spark/sources/transcripts.py TRANSCRIPTS_SQL)
_T_SQL = """
SELECT concat('u', CAST(user_id AS STRING))              AS conv_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT)
                                                          AS turn_idx,
       CASE WHEN event_type IN ('signup','login','purchase') THEN 'user'
            WHEN event_type = 'error' THEN 'tool'
            ELSE 'assistant' END                          AS role,
       concat(event_type, ' ', props, ' v', CAST(CAST(FLOOR(value * 10) AS INT) AS STRING))
                                                          AS text,
       event_type                                         AS tool,
       ts                                                 AS ts
FROM events
"""

# shared normalized-words derivation for documents (Spark + DuckDB)
_WORDS_DUCK = (
    "list_filter(string_split_regex(regexp_replace(lower(text), "
    "'[^a-z0-9 ]', ' ', 'g'), '\\s+'), x -> len(x) > 0)"
)


def _doc_words(col):
    w = F.split(F.regexp_replace(F.lower(col), r"[^a-z0-9 ]", " "), r"\s+")
    return F.filter(w, lambda t: F.length(t) > 0)


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from entity_resolver_spark import EntityResolverPipeline
    from entity_resolver_spark.sources.transcripts import inject_duplicates

    turns = inject_duplicates(_transcripts(spark, "/root/testdata/sf0.001"))
    return EntityResolverPipeline().resolve(spark, turns)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_collapse_turns(spark, sf_dir):
    """W5: window-ordered turn concatenation per conversation."""
    from entity_resolver_spark.operators.collapse import collapse_turns

    t = _transcripts(spark, sf_dir)
    return collapse_turns(t).select("conv_id", "doc", "n_turns")


def q_turn_integrity(spark, sf_dir):
    """input_hint invariant: collapse -> explode roundtrip preserves
    (conv_id, turn_idx, text) exactly; checksum computed from the
    ROUNDTRIPPED rows must equal the oracle's checksum over the source."""
    from entity_resolver_spark.operators.collapse import collapse_turns, explode_back

    t = _transcripts(spark, sf_dir)
    back = explode_back(collapse_turns(t))
    return back.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum(F.length("text") * (F.col("turn_idx") + 1)).alias("chk"),
    )


def q_blocking_key(spark, sf_dir):
    """P9 analog: deterministic normalized-token blocking key."""
    docs = _read(spark, sf_dir, "documents")
    words = _doc_words(F.col("text"))
    key = F.array_join(F.slice(words, 1, 3), "|")
    return docs.select(key.alias("block_key")).groupBy("block_key").agg(
        F.count("*").alias("n_docs")
    )


def _same_nation_pair_input(spark, sf_dir, n_slices: int):
    """customer rows replicated once per work slice, partitioned so a
    (nation, slice) group never spans partitions (see
    ckernels.block_pairs_map: pairs are GENERATED kernel-side because
    the JVM->Python Arrow serialization of a joined 450M-row pair table
    costs ~10x the metric itself; Python->JVM streaming of the scored
    pairs is cheap)."""
    c = _read(spark, sf_dir, "customer")
    par = spark.sparkContext.defaultParallelism
    repl = c.select(
        F.col("c_nationkey").cast("long").alias("nk"),
        F.col("c_custkey").alias("ck"),
        F.col("c_name").alias("cn"),
    ).withColumn(
        "__slice", F.explode(F.array(*[F.lit(s) for s in range(n_slices)]))
    )
    return repl.repartition(max(4 * par, 16), "nk", "__slice"), c


def q_lev_similarity(spark, sf_dir):
    """K1: exp(-2*lev/(len_a+len_b)) over same-nation customer pairs.

    r6: pairs are generated AND the integer edit distance computed by
    the native C block kernel (common prefix/suffix stripped, then DP
    over the differing core) — the former plan paid ~1.9us/pair of JVM
    levenshtein, and the intermediate mapInArrow variant paid ~130s of
    JVM->Python serialization for the joined pair table."""
    from pyspark.sql import types as T

    from entity_resolver_spark.functions import ckernels

    par = spark.sparkContext.defaultParallelism
    n_slices = max(2, par)
    repl, c = _same_nation_pair_input(spark, sf_dir, n_slices)
    key_t = c.schema["c_custkey"].dataType
    # 'lev_sim6' = round(exp(-2*lev/denom), 6) computed batch-side:
    # the per-row BigDecimal inside F.round cost ~12s over the 450M-row
    # output (spark_round replicates its semantics exactly; the libm
    # exp is verified against the DuckDB oracle at every checked SF)
    out_schema = T.StructType(
        [
            T.StructField("id_a", key_t),
            T.StructField("id_b", key_t),
            T.StructField("lev_sim", T.DoubleType()),
        ]
    )
    scored = repl.mapInArrow(
        ckernels.block_pairs_map("lev_sim6", "nk", "__slice", "ck", "cn", n_slices, cap=256),
        out_schema,
    )
    return scored.select(
        F.col("id_a").alias("ka"), F.col("id_b").alias("kb"), "lev_sim"
    )


def q_jaro_winkler(spark, sf_dir):
    """Jaro-Winkler over same-nation customer pairs (r6: C block
    kernel generates + scores the pairs) — the DuckDB builtin
    jaro_winkler_similarity is the oracle."""
    from pyspark.sql import types as T

    from entity_resolver_spark.functions import ckernels

    par = spark.sparkContext.defaultParallelism
    n_slices = max(2, par)
    repl, c = _same_nation_pair_input(spark, sf_dir, n_slices)
    key_t = c.schema["c_custkey"].dataType
    # 'jw4' = F.round(jw, 4) computed batch-side with spark_round
    # (bit-identical; the JVM BigDecimal round cost ~12s/450M rows)
    out_schema = T.StructType(
        [
            T.StructField("id_a", key_t),
            T.StructField("id_b", key_t),
            T.StructField("jw", T.DoubleType()),
        ]
    )
    scored = repl.mapInArrow(
        ckernels.block_pairs_map("jw4", "nk", "__slice", "ck", "cn", n_slices, cap=64),
        out_schema,
    )
    return scored.select(
        F.col("id_a").alias("ka"), F.col("id_b").alias("kb"), "jw"
    )


def q_dedup_window(spark, sf_dir):
    """W1: deterministic best-per-group survivor (latest order per
    customer, ties to smallest orderkey)."""
    o = _read(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_date"),
        )
    )


def q_group_stats(spark, sf_dir):
    """A4/A12/A13: grouped aggregations with avg/stddev (TPC-H Q1 shape)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
            F.count("*").alias("n_rows"),
        )
    )


def q_chain_numbering(spark, sf_dir):
    """W2: ' - N' suffix for repeated names in deterministic order."""
    from entity_resolver_spark.operators.canonical import chain_numbering

    p = _read(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return chain_numbering(p, "p_brand", "p_partkey").select("p_partkey", "numbered_name")


def q_canonical_pick(spark, sf_dir):
    """A2/K7 SQL path: max-frequency, then longest, then lexicographic."""
    from entity_resolver_spark.operators.canonical import canonical_by_frequency

    o = _read(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("cluster"), F.col("o_orderpriority").alias("norm_text")
    )
    return canonical_by_frequency(o)


def q_components(spark, sf_dir):
    """G2: large-star/small-star connected components on the
    supplier->nation->region containment graph (5 region components)."""
    from entity_resolver_spark.operators.components import connected_components

    s = _read(spark, sf_dir, "supplier").select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("s_nationkey").cast("string")).alias("dst"),
    )
    n = _read(spark, sf_dir, "nation").select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    return connected_components(s.unionByName(n))


def q_review_histogram(spark, sf_dir):
    """A15: histogram of exploded csv-ish reason tokens."""
    o = _read(spark, sf_dir, "orders")
    return (
        o.select(F.explode(F.split("o_orderpriority", "-")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


def q_confidence_penalty(spark, sf_dir):
    """K10/K11: full confidence penalty stack + review flags over a
    constructed clustering of the documents table (cluster = doc_id %
    300 gives singletons AND 2-member clusters, exercising the
    name-change, small-cluster and singleton paths)."""
    from entity_resolver_spark.config import ConfidenceConfig
    from entity_resolver_spark.operators.confidence import score_confidence
    from pyspark.sql import types as T

    d = _read(spark, sf_dir, "documents")
    recs = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        (F.col("doc_id") % 300).cast("string").alias("cluster"),
        F.col("text").alias("norm_text"),
    )
    canon = recs.groupBy("cluster").agg(F.min("norm_text").alias("canonical_text"))
    recs = recs.join(canon, "cluster")
    empty_stats = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("cluster", T.StringType()),
                T.StructField("n_edges", T.LongType()),
                T.StructField("avg_edge_score", T.DoubleType()),
                T.StructField("std_edge_score", T.DoubleType()),
            ]
        ),
    )
    out = score_confidence(recs, empty_stats, ConfidenceConfig())
    return out.select(
        "conv_id",
        F.round("confidence_score", 6).alias("confidence_score"),
        "confidence_category",
        "needs_review",
        F.coalesce("review_reason", F.lit("")).alias("review_reason"),
    )


def q_canonical_fd(spark, sf_dir):
    """Q2 repair: deterministic canonical-text functional-dependency
    enforcement (two clusters converging on one canonical get ' #rank'
    suffixes) — first word of each doc as the canonical, cluster =
    doc_id % 40, so collisions are guaranteed."""
    from entity_resolver_spark.operators.validate import enforce_canonical_fd

    d = _read(spark, sf_dir, "documents")
    recs = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        (F.col("doc_id") % 40).cast("string").alias("cluster"),
        F.element_at(F.split("text", " "), 1).alias("canonical_text"),
    )
    return enforce_canonical_fd(recs).select("conv_id", "cluster", "canonical_text")


def q_mutual_rank(spark, sf_dir):
    """G3/K12: mutual-kNN graph with hybrid mutual-rank weights over
    same-nation customer-name similarity (reference utils/graph.py:
    390-571). sim = 1 - lev/max(len) — pure IEEE division so Spark and
    DuckDB rank identically."""
    from entity_resolver_spark.operators.pairs import mutual_rank_edges

    c = _read(spark, sf_dir, "customer")
    a = c.select(F.col("c_custkey").alias("src"), F.col("c_name").alias("na"),
                 F.col("c_nationkey").alias("nk"))
    b = c.select(F.col("c_custkey").alias("dst"), F.col("c_name").alias("nb"),
                 F.col("c_nationkey").alias("nk"))
    directed = (
        a.join(b, "nk")
        .where(F.col("src") != F.col("dst"))
        .select(
            "src", "dst",
            (
                F.lit(1.0)
                - F.levenshtein("na", "nb")
                / F.greatest(F.length("na"), F.length("nb"), F.lit(1))
            ).alias("sim"),
        )
    )
    out = mutual_rank_edges(directed, k=5)
    return out.select("src", "dst", F.round("weight", 6).alias("weight"))


def q_purity(spark, sf_dir):
    """A6: contingency purity between two labelings (with noise=-1 on
    both sides) of the documents table (reference clusterer.py:676-724)."""
    from entity_resolver_spark.operators.report import purity_contingency

    d = _read(spark, sf_dir, "documents")
    lab = d.select(
        F.when(F.col("doc_id") % 11 == 0, F.lit(-1))
        .otherwise(F.col("doc_id") % 7)
        .alias("label_a"),
        F.when(F.col("doc_id") % 13 == 0, F.lit(-1))
        .otherwise(F.col("doc_id") % 5)
        .alias("label_b"),
    )
    out = purity_contingency(lab, noise=-1, min_overlap=2)
    return out.select(
        "label_a", "best_match", "overlap", "total",
        F.round("purity", 6).alias("purity"),
    )


def q_label_prop(spark, sf_dir):
    """G4 analog: deterministic semi-synchronous weighted label
    propagation over a chain+skip graph on event user ids (reference
    Louvain role, clusterer.py:400-413). Integer-id parity makes every
    step SQL-portable; the oracle unrolls the same 4 iterations."""
    from entity_resolver_spark.operators.communities import label_propagation

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("id")
    ).distinct()
    a, b = ev.alias("a"), ev.alias("b")
    e1 = a.join(b, F.col("b.id") == F.col("a.id") + 1).select(
        F.col("a.id").alias("src"), F.col("b.id").alias("dst"), F.lit(1.0).alias("weight")
    )
    e2 = a.join(b, F.col("b.id") == F.col("a.id") + 10).select(
        F.col("a.id").alias("src"), F.col("b.id").alias("dst"), F.lit(0.4).alias("weight")
    )
    out = label_propagation(
        e1.union(e2), max_iter=4, parity_expr=lambda c: F.pmod(c, F.lit(2))
    )
    return out.select("id", "community")


def q_ensemble(spark, sf_dir):
    """G8: purity-ensemble reconciliation of two labelings — keep
    non-noise primary, rescue noise through the purity map, mint new
    clusters from unmapped noise-heavy secondary groups (reference
    clusterer.py:726-937)."""
    from entity_resolver_spark.operators.communities import ensemble_clusters

    d = _read(spark, sf_dir, "documents")
    # secondary classes 0-19 are coherent (map with purity ~0.86 ->
    # their noise members get RESCUED); classes 20-24 are all-noise
    # (unmapped -> MINTED); everyone else KEEPS primary
    asg = d.select(
        F.col("doc_id").alias("id"),
        F.when((F.col("doc_id") % 7 == 0) | (F.col("doc_id") % 25 >= 20), F.lit(-1))
        .otherwise(F.col("doc_id") % 5)
        .alias("primary"),
        (F.col("doc_id") % 25).alias("secondary"),
    )
    return ensemble_clusters(
        asg, noise=-1, purity_min=0.5, min_overlap=2, min_new_cluster=3
    )


def q_stream_fusion(spark, sf_dir):
    """V9+V10: balance (L2 + sqrt-proportion energy scaling) and fuse
    two feature streams into one cosine-ready vector (reference
    utils/vector.py:828-857, context_vectorizer.py:445-530). Output is
    posexploded to scalar rows so every fused element is value-checked
    against the DuckDB oracle."""
    from entity_resolver_spark.operators.vectorize import add_fused_vector

    emb = _read(spark, sf_dir, "embeddings").where("vec_id < 100").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # second stream: the first 16 dims shifted by +1 (deterministic,
    # different norm than stream one)
    two = emb.withColumn(
        "s2", F.transform(F.slice("e", 1, 16), lambda x: x + 1.0)
    )
    fused = add_fused_vector(two, [(F.col("e"), 0.6), (F.col("s2"), 0.4)])
    # posexplode_outer, NOT posexplode: plain posexplode makes
    # InferFiltersFromGenerate add a size(fused)>0 predicate that is
    # pushed below every projection with the whole fused expression
    # INLINED — re-evaluating the nested norm aggregates per element
    # (measured 12s for 100 rows; 39 aggregate nodes in the optimized
    # plan vs 3). fused is never empty here, so _outer is identical.
    return fused.select(
        "vec_id", F.posexplode_outer("fused").alias("pos", "val")
    ).select("vec_id", "pos", F.round("val", 6).alias("val"))


def q_exact_dedup(spark, sf_dir):
    """Exact dedup: deterministic survivor per (custkey, status)."""
    from entity_resolver_spark.operators.dedup import exact_dedup

    o = _read(spark, sf_dir, "orders").withColumn(
        "key", F.concat_ws("|", F.col("o_custkey").cast("string"), "o_orderstatus")
    )
    return exact_dedup(o, text_col="key", id_col="o_orderkey").select(
        "o_custkey", "o_orderstatus", F.col("o_orderkey").alias("survivor_orderkey")
    )


def q_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (SQL-expressible dedup channel)."""
    from entity_resolver_spark.operators.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, jaccard_floor=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_token_stats(spark, sf_dir):
    """Token counting (whitespace + BPE-ish subword estimate) — r6:
    explode+codegen-aggregate table form (value-identical; the
    expression form ran interpreted higher-order lambdas per word)."""
    from entity_resolver_spark.operators.textstats import token_stats_table

    docs = _read(spark, sf_dir, "documents")
    return token_stats_table(docs).select("doc_id", "n_tokens", "n_tokens_bpe")


def q_quality_lang(spark, sf_dir):
    """Quality score + stopword-vote language ID — r6: explode+codegen
    aggregate table form (same counts, same double order, same
    tie-break; the expression form ran ~40 interpreted comparisons per
    word)."""
    from entity_resolver_spark.operators.textstats import quality_lang_table

    docs = _read(spark, sf_dir, "documents")
    return quality_lang_table(docs).select(
        "doc_id",
        F.round(F.col("quality"), 6).alias("quality"),
        "lang_pred",
    )


def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k over the embedding column."""
    from entity_resolver_spark.operators.ann import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.where("vec_id < 20").selectExpr("vec_id as query_id", "embedding")
    out = brute_force_topk(emb, q, k=10)
    return out.select("query_id", "nn_id", F.round("cosine", 5).alias("cosine"), "rk")


def q_join_agg_topn(spark, sf_dir):
    """J-family + A-family + W1: top-3 customers by revenue per segment."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = W.partitionBy("c_mktsegment").orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("c_mktsegment", "c_custkey", "revenue", "rk")
    )


def q_sessionize(spark, sf_dir):
    """Time-ordered sessionization: new session when gap > 30 min."""
    e = _read(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet; route via TIMESTAMP (session
    # TZ pinned to UTC) to get the same epoch DuckDB's epoch() computes
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    return (
        e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events"))
    )


# ---- rows-only queries (non-portable hashing or full pipeline) ----

def q_resolve_entities(spark, sf_dir):
    """Flagship: full blocking+scoring+clustering pipeline."""
    from entity_resolver_spark import EntityResolverPipeline
    from entity_resolver_spark.sources.transcripts import inject_duplicates

    turns = inject_duplicates(_transcripts(spark, sf_dir))
    res = EntityResolverPipeline().resolve(spark, turns)
    return res.select(
        "conv_id", "cluster", "canonical_text", "cluster_size",
        F.round("confidence_score", 6).alias("confidence"), "confidence_category",
    )


def q_minhash_dedup(spark, sf_dir):
    """MinHash-LSH near-dup pairs in PORTABLE-hash mode (affine family
    over poly_hash_expr — see dedup.minhash_lsh_pairs): the DuckDB
    oracle replicates the SIGNATURES and the BANDING, so candidate
    generation is identical in both engines and the verified output
    value-checks end-to-end. Production default stays xxhash64."""
    from entity_resolver_spark.operators.dedup import minhash_lsh_pairs

    docs = _read(spark, sf_dir, "documents")
    out = minhash_lsh_pairs(docs, jaccard_floor=0.5, portable=True)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_simhash_dedup(spark, sf_dir):
    """SimHash near-dup pairs in PORTABLE-hash mode (poly31 | poly37<<30
    token hash). Pigeonhole banding has recall EXACTLY 1 at the declared
    threshold, so the output equals brute-force-over-all-pairs — which
    is what the DuckDB oracle computes. Production stays xxhash64."""
    from entity_resolver_spark.operators.dedup import simhash_pairs

    docs = _read(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=6, portable=True)


def q_ivf_topk(spark, sf_dir):
    """IVF ANN with EXPLICIT centroids (the first 16 corpus vectors) so
    the assignment is a pure broadcast-join plan and the DuckDB oracle
    probes IDENTICAL cells — value-checkable end-to-end, not rows-only
    (both engines fold the cosine sums sequentially over IEEE doubles,
    so the rankings agree)."""
    from entity_resolver_spark.operators.ann import ivf_topk

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.where("vec_id < 20").selectExpr("vec_id as query_id", "embedding")
    cents = emb.where("vec_id < 16").select(
        F.col("vec_id").cast("int").alias("cell_id"), F.col("embedding").alias("centroid")
    )
    out = ivf_topk(emb, q, k=10, nprobe=4, centroids=cents)
    return out.select("query_id", "nn_id", F.round("cosine", 5).alias("cosine"), "rk")


def q_embedding_dedup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via OR-amplified sign-sketch LSH
    + exact-cosine verification. The bucket hashing is seeded NumPy (not
    SQL-portable), but the oracle can still value-check the OUTPUT: it
    brute-forces exact cosine over all pairs, and on this corpus the
    only pairs >= the 0.95 floor are the 200 planted perturbed copies at
    cosine ~0.994, where the 10-bit x 8-table sketch's per-pair miss
    probability is ~6e-5 — and deterministic for the fixed seed + data,
    so equality is verified-once-holds-always (the recall PROPERTY at
    the floor is separately pytest-verified)."""
    from entity_resolver_spark.operators.dedup import embedding_dup_pairs

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # the synthetic table has no natural near-dups (max pairwise cosine
    # ~0.51), so plant deterministic perturbed copies: cosine ~0.994
    pert = emb.where("vec_id < 200").select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.zip_with(
            "embedding",
            F.sequence(F.lit(0), F.size("embedding") - 1),
            lambda v, d: v + 0.02 * F.sin(d.cast("double")),
        ).alias("embedding"),
    )
    out = embedding_dup_pairs(emb.unionByName(pert), cosine_floor=0.95)
    return out.select("id_a", "id_b", F.round("cosine", 5).alias("cosine"))


def q_doc_fingerprint(spark, sf_dir):
    """Winnowing fingerprint in PORTABLE-hash mode (poly_hash_expr —
    the (h*31+c)%p fold DuckDB reproduces exactly), so the oracle
    value-checks the fingerprint content (size + element sum), not just
    row counts. Production default stays xxhash64."""
    from entity_resolver_spark.operators.textstats import fingerprint_expr

    docs = _read(spark, sf_dir, "documents")
    fp = fingerprint_expr(F.col("text"), portable=True)
    return docs.select(
        "doc_id",
        F.size(fp).alias("fp_size"),
        F.aggregate(fp, F.lit(0).cast("long"), lambda a, x: a + x).alias("fp_sum"),
    )


def q_entity_names(spark, sf_dir):
    """P3/P4/P5: the reference's 10-step entity-name normalization
    (word-number expansion, dba/fka extraction, separator/OCR fixes,
    iterative suffix removal) on names synthesized from part names —
    suffix/qualifier decoration keyed on p_partkey so both engines
    derive identical inputs."""
    from entity_resolver_spark.functions.entity_names import normalize_entity_expr

    p = _read(spark, sf_dir, "part")
    raw = F.concat(
        F.lower(F.col("p_name")),
        F.element_at(
            F.array(
                F.lit(" llc"), F.lit(" inc (usa)"), F.lit(" d/b/a triple a supply"),
                F.lit("'s holdings ltd"), F.lit(""),
            ),
            (F.col("p_partkey") % 5 + 1).cast("int"),
        ),
    )
    return p.select(
        F.col("p_partkey").alias("key"),
        normalize_entity_expr(raw).alias("norm_name"),
    )


def q_completeness(spark, sf_dir):
    """P10 analog: weighted metadata-presence score per collapsed
    conversation (doc text w=2, multi-role 1, tools 1, time range 1)."""
    from entity_resolver_spark.operators.collapse import collapse_turns, completeness_expr

    t = _transcripts(spark, sf_dir)
    return collapse_turns(t).select(
        "conv_id", F.round(completeness_expr(), 6).alias("completeness")
    )


def q_phonetic_block(spark, sf_dir):
    """V2/V3: per-word metaphone codes over part names (real English
    words); grouped by code to show the phonetic-blocking key
    distribution (rows-only: DuckDB has no metaphone)."""
    from entity_resolver_spark.functions.phonetics import add_phonetic_tokens

    c = _read(spark, sf_dir, "part").select(
        "p_partkey", F.lower(F.col("p_name")).alias("name")
    )
    tok = add_phonetic_tokens(c, "name")
    return (
        tok.select(F.explode("phonetic_tokens").alias("code"))
        .groupBy("code")
        .agg(F.count("*").alias("n"))
    )


def q_media_features(spark, sf_dir):
    from entity_resolver_spark.operators.multimodal import extract_features, synth_media

    media = synth_media(spark, n=64)
    return extract_features(media, dim=16).select("media_id", "kind", "n_bytes")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "collapse_turns": q_collapse_turns,
        "turn_integrity": q_turn_integrity,
        "blocking_key": q_blocking_key,
        "lev_similarity": q_lev_similarity,
        "jaro_winkler": q_jaro_winkler,
        "dedup_window": q_dedup_window,
        "group_stats": q_group_stats,
        "chain_numbering": q_chain_numbering,
        "canonical_pick": q_canonical_pick,
        "components": q_components,
        "review_histogram": q_review_histogram,
        "confidence_penalty": q_confidence_penalty,
        "canonical_fd": q_canonical_fd,
        "mutual_rank": q_mutual_rank,
        "purity": q_purity,
        "label_prop": q_label_prop,
        "ensemble": q_ensemble,
        "stream_fusion": q_stream_fusion,
        "exact_dedup": q_exact_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "token_stats": q_token_stats,
        "quality_lang": q_quality_lang,
        "embedding_topk": q_embedding_topk,
        "join_agg_topn": q_join_agg_topn,
        "sessionize": q_sessionize,
        "entity_names": q_entity_names,
        "completeness": q_completeness,
        "ivf_topk": q_ivf_topk,
        "doc_fingerprint": q_doc_fingerprint,
        # oracle-checked since r4 via portable-hash modes / brute-force oracle
        "minhash_dedup": q_minhash_dedup,
        "simhash_dedup": q_simhash_dedup,
        "embedding_dedup": q_embedding_dedup,
        # rows-only (full pipeline / NumPy-rng features / Arrow phonetic kernel)
        "resolve_entities": q_resolve_entities,
        "media_features": q_media_features,
        "phonetic_block": q_phonetic_block,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def _label_prop_oracle(n_iter: int = 4) -> str:
    """Unrolled semi-synchronous LPA mirroring communities.py
    label_propagation with parity = id % 2 (see its docstring: the
    early-stop is a no-op, so exactly n_iter rounds is equivalent)."""
    ctes = [
        """users AS (SELECT DISTINCT CAST(user_id AS BIGINT) AS id FROM events),
        e AS (
          SELECT a.id AS src, b.id AS dst, 1.0 AS w
          FROM users a JOIN users b ON b.id = a.id + 1
          UNION ALL
          SELECT a.id, b.id, 0.4 FROM users a JOIN users b ON b.id = a.id + 10
        ),
        adj AS (
          SELECT u, v, max(w) AS w FROM (
            SELECT src AS u, dst AS v, w FROM e
            UNION ALL SELECT dst, src, w FROM e
          ) GROUP BY u, v
        ),
        lab0 AS (SELECT DISTINCT u AS id, u AS community FROM adj)"""
    ]
    for i in range(n_iter):
        ctes.append(f"""score{i} AS (
          SELECT a.u, l.community AS c, sum(a.w) AS s
          FROM adj a JOIN lab{i} l ON a.v = l.id GROUP BY a.u, l.community
        ),
        best{i} AS (
          SELECT u, c FROM (
            SELECT u, c, row_number() OVER (PARTITION BY u ORDER BY s DESC, c ASC) AS rn
            FROM score{i}
          ) WHERE rn = 1
        ),
        lab{i + 1} AS (
          SELECT l.id,
                 CASE WHEN l.id % 2 = {i % 2} AND b.c IS NOT NULL THEN b.c
                      ELSE l.community END AS community
          FROM lab{i} l LEFT JOIN best{i} b ON l.id = b.u
        )""")
    return "WITH " + ",\n".join(ctes) + f"\nSELECT id, community FROM lab{n_iter}"


def oracle_sql() -> dict[str, str]:
    t_cte = f"WITH t AS ({_T_SQL})"
    words = _WORDS_DUCK
    return {
        "label_prop": _label_prop_oracle(4),
        "stream_fusion": """
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id < 100
            ), streams AS (
              SELECT vec_id, e AS s1,
                     list_transform(e[1:16], x -> x + 1.0) AS s2
              FROM base
            ), norm AS (
              SELECT vec_id, s1, s2,
                     sqrt(list_aggregate(list_transform(s1, x -> x*x), 'sum')) AS n1,
                     sqrt(list_aggregate(list_transform(s2, x -> x*x), 'sum')) AS n2
              FROM streams
            ), bal AS (
              SELECT vec_id,
                     list_concat(
                       list_transform(s1, x -> x / n1 * sqrt(0.6)),
                       list_transform(s2, x -> x / n2 * sqrt(0.4))
                     ) AS f
              FROM norm
            ), fin AS (
              SELECT vec_id,
                     list_transform(
                       f, x -> x / sqrt(list_aggregate(list_transform(f, y -> y*y), 'sum')) * 1.0
                     ) AS fused
              FROM bal
            )
            SELECT vec_id,
                   CAST(generate_subscripts(fused, 1) - 1 AS INTEGER) AS pos,
                   round(unnest(fused), 6) AS val
            FROM fin
        """,
        "ensemble": """
            WITH asg AS (
              SELECT doc_id AS id,
                     CASE WHEN doc_id % 7 = 0 OR doc_id % 25 >= 20 THEN -1
                          ELSE doc_id % 5 END AS p,
                     doc_id % 25 AS s
              FROM documents
            ),
            tot AS (SELECT s, count(*) AS total FROM asg GROUP BY s),
            ov AS (SELECT s, p, count(*) AS overlap FROM asg WHERE p <> -1 GROUP BY s, p),
            best AS (
              SELECT s, p, overlap,
                     row_number() OVER (PARTITION BY s ORDER BY overlap DESC, p ASC) AS rn
              FROM ov
            ),
            map AS (
              SELECT best.s, best.p AS mp FROM best JOIN tot USING (s)
              WHERE rn = 1 AND overlap >= 2
                AND CAST(overlap AS DOUBLE) / total >= 0.5
            ),
            mint AS (
              SELECT s FROM asg LEFT JOIN map USING (s)
              WHERE p = -1 AND mp IS NULL GROUP BY s HAVING count(*) >= 3
            )
            SELECT asg.id,
                   CASE WHEN asg.p <> -1 THEN CAST(asg.p AS VARCHAR)
                        WHEN map.mp IS NOT NULL THEN CAST(map.mp AS VARCHAR)
                        WHEN mint.s IS NOT NULL THEN 'new#' || CAST(asg.s AS VARCHAR)
                        ELSE CAST(asg.p AS VARCHAR) END AS cluster
            FROM asg LEFT JOIN map USING (s) LEFT JOIN mint USING (s)
        """,
        "collapse_turns": f"""
            {t_cte}
            SELECT conv_id,
                   string_agg(text, ' ' ORDER BY turn_idx) AS doc,
                   count(*) AS n_turns
            FROM t GROUP BY conv_id
        """,
        "turn_integrity": f"""
            {t_cte}
            SELECT conv_id,
                   count(*) AS n_turns,
                   CAST(sum(length(text) * (turn_idx + 1)) AS BIGINT) AS chk
            FROM t GROUP BY conv_id
        """,
        "blocking_key": f"""
            SELECT array_to_string(list_slice({words}, 1, 3), '|') AS block_key,
                   count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "lev_similarity": """
            SELECT a.c_custkey AS ka, b.c_custkey AS kb,
                   round(exp(-2.0 * levenshtein(a.c_name, b.c_name)
                             / (length(a.c_name) + length(b.c_name))), 6) AS lev_sim
            FROM customer a JOIN customer b
              ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        """,
        "jaro_winkler": """
            SELECT a.c_custkey AS ka, b.c_custkey AS kb,
                   round(jaro_winkler_similarity(a.c_name, b.c_name), 4) AS jw
            FROM customer a JOIN customer b
              ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        """,
        "dedup_window": """
            SELECT o_custkey,
                   o_orderkey AS latest_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS latest_date
            FROM orders
            QUALIFY row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate DESC, o_orderkey ASC) = 1
        """,
        "group_stats": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   round(avg(l_discount), 6) AS avg_disc,
                   round(stddev_samp(l_quantity), 6) AS std_qty,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "chain_numbering": """
            SELECT p_partkey,
                   CASE WHEN count(*) OVER (PARTITION BY p_brand) = 1 THEN p_brand
                        ELSE p_brand || ' - ' ||
                             CAST(row_number() OVER (PARTITION BY p_brand
                                                     ORDER BY p_partkey) AS VARCHAR)
                   END AS numbered_name
            FROM part
        """,
        "canonical_pick": """
            WITH freq AS (
              SELECT o_orderstatus AS cluster, o_orderpriority AS norm_text,
                     count(*) AS f
              FROM orders GROUP BY 1, 2
            )
            SELECT cluster, norm_text AS canonical_text
            FROM freq
            QUALIFY row_number() OVER (PARTITION BY cluster
                                       ORDER BY f DESC, length(norm_text) DESC,
                                                norm_text ASC) = 1
        """,
        "components": """
            WITH RECURSIVE raw AS (
              SELECT 's' || CAST(s_suppkey AS VARCHAR) AS src,
                     'n' || CAST(s_nationkey AS VARCHAR) AS dst
              FROM supplier
              UNION ALL
              SELECT 'n' || CAST(n_nationkey AS VARCHAR),
                     'r' || CAST(n_regionkey AS VARCHAR)
              FROM nation
            ),
            edges AS (
              SELECT src, dst FROM raw
              UNION
              SELECT dst AS src, src AS dst FROM raw
            ),
            nodes AS (SELECT DISTINCT src AS node FROM edges),
            walk(node, reach) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
            )
            SELECT node, min(reach) AS component FROM walk GROUP BY node
        """,
        "review_histogram": """
            SELECT token, count(*) AS n FROM (
              SELECT unnest(string_split(o_orderpriority, '-')) AS token FROM orders
            ) GROUP BY token
        """,
        "confidence_penalty": """
            WITH r AS (
              SELECT CAST(doc_id AS VARCHAR) AS conv_id,
                     CAST(doc_id % 300 AS VARCHAR) AS cluster,
                     text AS norm_text,
                     min(text) OVER (PARTITION BY doc_id % 300) AS canonical_text,
                     count(*) OVER (PARTITION BY doc_id % 300) AS cluster_size
              FROM documents
            ), s AS (
              SELECT *,
                CAST(levenshtein(substr(norm_text, 1, 128), substr(canonical_text, 1, 128)) AS DOUBLE)
                  / greatest(length(substr(norm_text, 1, 128)),
                             length(substr(canonical_text, 1, 128)), 1) AS cm
              FROM r
            ), sc AS (
              SELECT conv_id, cluster_size, cm,
                least(greatest(
                  (0.45 * (CASE WHEN cluster_size = 1 THEN 1.0 ELSE 0.0 END)
                   + 0.30 * 1.0
                   + 0.25 * least(ln(cluster_size + 1.0) / ln(11.0), 1.0))
                  * (CASE WHEN cm > 0.5 THEN 0.9 ELSE 1.0 END)
                  * (CASE WHEN cluster_size <= 2 AND cm > 0.7 THEN 0.85 ELSE 1.0 END)
                , 0.0), 1.0) AS conf
              FROM s
            )
            SELECT conv_id,
                   round(conf, 6) AS confidence_score,
                   CASE WHEN conf < 0.5 THEN 'Low'
                        WHEN conf < 0.7 THEN 'Medium'
                        WHEN conf < 0.85 THEN 'High'
                        ELSE 'Very High' END AS confidence_category,
                   (conf < 0.75 OR cm > 0.7
                    OR (cluster_size = 1 AND cm > 0.01)) AS needs_review,
                   coalesce(concat_ws(',',
                     CASE WHEN conf < 0.75 THEN 'low_confidence' END,
                     CASE WHEN cm > 0.7 THEN 'drastic_name_change' END,
                     CASE WHEN cluster_size = 1 AND cm > 0.01 THEN 'singleton_name_change' END
                   ), '') AS review_reason
            FROM sc
        """,
        "canonical_fd": """
            WITH r AS (
              SELECT CAST(doc_id AS VARCHAR) AS conv_id,
                     CAST(doc_id % 40 AS VARCHAR) AS cluster,
                     string_split(text, ' ')[1] AS name
              FROM documents
            ), pairs AS (
              SELECT name, cluster, min(conv_id) AS min_id FROM r GROUP BY name, cluster
            ), ranked AS (
              SELECT name, cluster,
                     row_number() OVER (PARTITION BY name ORDER BY min_id, cluster) AS rk
              FROM pairs
            )
            SELECT r.conv_id, r.cluster,
                   CASE WHEN rk > 1 THEN name || chr(30) || '#' || CAST(rk AS VARCHAR)
                        ELSE name END AS canonical_text
            FROM r JOIN ranked USING (name, cluster)
        """,
        "mutual_rank": """
            WITH directed AS (
              SELECT a.c_custkey AS src, b.c_custkey AS dst,
                     1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
                           / greatest(length(a.c_name), length(b.c_name), 1) AS sim
              FROM customer a JOIN customer b
                ON a.c_nationkey = b.c_nationkey AND a.c_custkey <> b.c_custkey
            ), ranked AS (
              SELECT src AS u, dst AS v, sim,
                     row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) - 1 AS rk
              FROM directed
              QUALIFY rk < 5
            )
            SELECT r1.u AS src, r1.v AS dst,
                   round((1.0 / (r1.rk + r2.rk + 2.0)) * (r1.sim + r2.sim) / 2.0, 6) AS weight
            FROM ranked r1 JOIN ranked r2 ON r1.u = r2.v AND r1.v = r2.u
            WHERE r1.u < r1.v
        """,
        "purity": """
            WITH l AS (
              SELECT CASE WHEN doc_id % 11 = 0 THEN -1 ELSE doc_id % 7 END AS a,
                     CASE WHEN doc_id % 13 = 0 THEN -1 ELSE doc_id % 5 END AS b
              FROM documents
            ), av AS (SELECT * FROM l WHERE a <> -1),
            tot AS (SELECT a, CAST(count(*) AS BIGINT) AS total FROM av GROUP BY a),
            ov AS (
              SELECT a, b, CAST(count(*) AS BIGINT) AS overlap
              FROM av WHERE b <> -1 GROUP BY a, b
            ), best AS (
              SELECT a, b, overlap,
                     row_number() OVER (PARTITION BY a ORDER BY overlap DESC, b ASC) AS rn
              FROM ov
            )
            SELECT best.a AS label_a, best.b AS best_match, overlap, total,
                   round(CAST(overlap AS DOUBLE) / total, 6) AS purity
            FROM best JOIN tot USING (a)
            WHERE rn = 1 AND overlap >= 2
        """,
        "exact_dedup": """
            SELECT o_custkey, o_orderstatus, o_orderkey AS survivor_orderkey
            FROM orders
            QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                                       ORDER BY o_orderkey ASC) = 1
        """,
        "ngram_jaccard": f"""
            WITH words AS (
              SELECT doc_id, {words} AS w FROM documents
            ),
            sh AS (
              SELECT DISTINCT doc_id,
                     CASE WHEN len(w) >= 3
                          THEN array_to_string(list_slice(w, i + 1, i + 3), ' ')
                          ELSE array_to_string(w, ' ') END AS s
              FROM words, unnest(range(greatest(len(w) - 2, 1))) AS t(i)
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.5
        """,
        # portable minhash (see q_minhash_dedup): replicates the exact
        # signatures (affine over poly31) AND the banding (n_hashes=32,
        # pick_banding(32, 0.5) -> 16 bands x 2 rows), so both engines
        # generate identical candidates; verification is exact Jaccard
        "minhash_dedup": f"""
            WITH words AS (
              SELECT doc_id, {words} AS w FROM documents
            ),
            sh AS (
              SELECT DISTINCT doc_id,
                     CASE WHEN len(w) >= 3
                          THEN array_to_string(list_slice(w, i + 1, i + 3), ' ')
                          ELSE array_to_string(w, ' ') END AS s
              FROM words, unnest(range(greatest(len(w) - 2, 1))) AS t(i)
            ),
            ph AS (
              SELECT doc_id, s,
                     CASE WHEN s IS NULL OR length(s) = 0 THEN 0
                     ELSE list_reduce(
                       list_transform(range(1, length(s) + 1),
                                      i -> CAST(ascii(substring(s, i, 1)) AS BIGINT)),
                       (a, b) -> (a * 31 + b) % 1000000007)
                     END AS h
              FROM sh
            ),
            sig AS (
              SELECT doc_id, i,
                     min(((2 * i + 3) * h + (5 * i + 7)) % 1000000007) AS v
              FROM ph, unnest(range(32)) AS hs(i)
              GROUP BY doc_id, i
            ),
            bands AS (
              SELECT doc_id,
                     'b' || CAST(i // 2 AS VARCHAR) || '_' ||
                     string_agg(CAST(v AS VARCHAR), '_' ORDER BY i) AS bk
              FROM sig GROUP BY doc_id, i // 2
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT c.id_a, c.id_b, count(*) AS ni
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(ni * 1.0 / (sa.n + sb.n - ni), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.5
        """,
        # portable simhash (see q_simhash_dedup): pigeonhole recall is
        # deterministically 1, so the LSH output equals brute force —
        # the oracle computes the same 60-bit simhash per doc and
        # brute-forces hamming over all pairs
        "simhash_dedup": f"""
            WITH words AS (
              SELECT doc_id, {words} AS w FROM documents
            ),
            tok AS (SELECT doc_id, t FROM words, unnest(w) AS u(t)),
            m AS (
              SELECT doc_id,
                     list_reduce(
                       list_transform(range(1, length(t) + 1),
                                      i -> CAST(ascii(substring(t, i, 1)) AS BIGINT)),
                       (a, b) -> (a * 31 + b) % 1000000007) * 1073741827
                     + list_reduce(
                         list_transform(range(1, length(t) + 1),
                                        i -> CAST(ascii(substring(t, i, 1)) AS BIGINT)),
                         (a, b) -> (a * 37 + b) % 1000000007) * 715827883 AS m
              FROM tok
            ),
            th AS (
              SELECT doc_id,
                     xor(m, m >> 17) & ((CAST(1 AS BIGINT) << 60) - 1) AS h
              FROM m
            ),
            nt AS (SELECT doc_id, count(*) AS n FROM th GROUP BY doc_id),
            votes AS (
              SELECT doc_id, j, sum((h >> j) & 1) AS v
              FROM th, unnest(range(60)) AS bits(j)
              GROUP BY doc_id, j
            ),
            sim AS (
              SELECT v.doc_id,
                     CAST(sum(CASE WHEN 2 * v.v >= nt.n
                              THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sim
              FROM votes v JOIN nt ON nt.doc_id = v.doc_id
              GROUP BY v.doc_id
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
            FROM sim a JOIN sim b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sim, b.sim)) <= 6
        """,
        # embedding near-dup (see q_embedding_dedup): brute-force exact
        # cosine over base + planted perturbed copies; the only pairs
        # over the floor are the planted ones, which the sketch finds
        # deterministically for this seed + data
        "embedding_dedup": """
            WITH base AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            pert AS (
              SELECT vec_id + 1000000 AS vec_id,
                     list_transform(v, (x, i) ->
                       x + CAST(0.02 AS DOUBLE) * sin(CAST(i - 1 AS DOUBLE))) AS v
              FROM base WHERE vec_id < 200
            ),
            allv AS (SELECT * FROM base UNION ALL SELECT * FROM pert)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 5) AS cosine
            FROM allv a JOIN allv b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.95
        """,
        "token_stats": f"""
            WITH w AS (
              SELECT doc_id,
                     list_filter(string_split_regex(regexp_replace(lower(text),
                       '[^a-z0-9'' ]', ' ', 'g'), '\\s+'), x -> len(x) > 0) AS words,
                     text
              FROM documents
            )
            SELECT doc_id,
                   len(words) AS n_tokens,
                   CAST(coalesce(list_sum(list_transform(words,
                        x -> CAST(ceil(len(x) / 4.0) AS INT))), 0)
                     + len(list_filter(string_split_regex(text, '[a-zA-Z0-9\\s]+'),
                                       x -> len(x) > 0)) AS INT) AS n_tokens_bpe
            FROM w
        """,
        "quality_lang": """
            WITH w AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(regexp_replace(lower(text),
                       '[^a-z0-9'' ]', ' ', 'g'), '\\s+'), x -> len(x) > 0) AS words
              FROM documents
            ),
            c AS (
              SELECT doc_id, text, words,
                     len(words) AS n_words,
                     length(text) AS n_chars,
                     length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
                     len(list_filter(words, x -> list_contains(
                       ['the','and','of','to','in','is','that','for','with','you'], x))) AS h_en,
                     len(list_filter(words, x -> list_contains(
                       ['der','die','das','und','ist','nicht','mit','ein','ich','zu'], x))) AS h_de,
                     len(list_filter(words, x -> list_contains(
                       ['le','la','les','et','est','pas','pour','que','une','dans'], x))) AS h_fr,
                     len(list_filter(words, x -> list_contains(
                       ['el','la','los','que','es','no','por','con','una','para'], x))) AS h_es,
                     coalesce(list_sum(list_transform(words, x -> len(x))), 0) AS sum_wl
              FROM w
            )
            SELECT doc_id,
                   round(
                     0.3 * least(n_words / 200.0, 1.0)
                   + 0.2 * greatest(0.0, 1.0 - (CASE WHEN n_chars > 0
                            THEN n_punct * 1.0 / n_chars ELSE 1.0 END) * 5.0)
                   + 0.3 * least((CASE WHEN n_words > 0
                            THEN h_en * 1.0 / n_words ELSE 0.0 END) * 4.0, 1.0)
                   + 0.2 * (CASE WHEN n_words > 0
                                  AND sum_wl * 1.0 / n_words >= 3.0
                                  AND sum_wl * 1.0 / n_words <= 10.0
                            THEN 1.0 ELSE 0.3 END), 6) AS quality,
                   CASE WHEN greatest(h_en, h_de, h_fr, h_es) < 2 THEN 'und'
                        WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                        WHEN h_de = greatest(h_de, h_fr, h_es) THEN 'de'
                        WHEN h_fr = greatest(h_fr, h_es) THEN 'fr'
                        ELSE 'es' END AS lang_pred
            FROM c
        """,
        "embedding_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 20
            ),
            scored AS (
              SELECT q.query_id, c.vec_id AS nn_id,
                     list_cosine_similarity(c.embedding::DOUBLE[], q.qv) AS cos
              FROM embeddings c, q
              WHERE c.vec_id != q.query_id
            )
            SELECT query_id, nn_id, round(cos, 5) AS cosine,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, nn_id ASC) AS INT) AS rk
            FROM scored
            QUALIFY rk <= 10
        """,
        # ivf with EXPLICIT centroids (first 16 corpus vectors): both
        # engines assign cells by (cosine desc, cell asc) ranking, so
        # they probe identical cells — see q_ivf_topk
        "ivf_topk": """
            WITH cents AS (
              SELECT CAST(vec_id AS INT) AS cell_id, embedding::DOUBLE[] AS centroid
              FROM embeddings WHERE vec_id < 16
            ),
            corpus_cells AS (
              SELECT vec_id AS nn_id, cv, cell_id AS cell FROM (
                SELECT c.vec_id, c.embedding::DOUBLE[] AS cv, s.cell_id,
                       row_number() OVER (
                         PARTITION BY c.vec_id
                         ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], s.centroid) DESC,
                                  s.cell_id ASC) AS crk
                FROM embeddings c, cents s
              ) WHERE crk = 1
            ),
            query_cells AS (
              SELECT vec_id AS query_id, qv, cell_id AS cell FROM (
                SELECT c.vec_id, c.embedding::DOUBLE[] AS qv, s.cell_id,
                       row_number() OVER (
                         PARTITION BY c.vec_id
                         ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], s.centroid) DESC,
                                  s.cell_id ASC) AS crk
                FROM embeddings c, cents s
                WHERE c.vec_id < 20
              ) WHERE crk <= 4
            ),
            scored AS (
              SELECT q.query_id, c.nn_id,
                     max(list_cosine_similarity(c.cv, q.qv)) AS cos
              FROM corpus_cells c JOIN query_cells q USING (cell)
              WHERE c.nn_id != q.query_id
              GROUP BY q.query_id, c.nn_id
            )
            SELECT query_id, nn_id, round(cos, 5) AS cosine,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, nn_id ASC) AS INT) AS rk
            FROM scored
            QUALIFY rk <= 10
        """,
        # winnowing with the portable (h*31+c)%p gram hash — exact
        # value parity with textstats.poly_hash_expr (see q_doc_fingerprint)
        "doc_fingerprint": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(
                       string_split_regex(
                         lower(regexp_replace(text, '[^a-zA-Z0-9'' ]', ' ', 'g')),
                         '\\s+'),
                       t -> length(t) > 0) AS words
              FROM documents
            ),
            g AS (
              SELECT doc_id,
                     CASE WHEN len(words) >= 3 THEN
                       list_transform(range(1, len(words) - 1),
                                      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                     ELSE [list_aggregate(words, 'string_agg', ' ')] END AS grams
              FROM w
            ),
            h AS (
              SELECT doc_id,
                     list_transform(grams, s ->
                       CASE WHEN s IS NULL OR length(s) = 0 THEN 0
                       ELSE list_reduce(
                         list_transform(range(1, length(s) + 1),
                                        i -> CAST(ascii(substring(s, i, 1)) AS BIGINT)),
                         (a, b) -> (a * 31 + b) % 1000000007)
                       END) AS gh
              FROM g
            ),
            fp AS (
              SELECT doc_id,
                     list_sort(list_distinct(
                       list_transform(range(0, greatest(len(gh) - 8, 0) + 1),
                                      i -> list_min(gh[i+1 : i+8])))) AS f
              FROM h
            )
            SELECT doc_id, CAST(len(f) AS INT) AS fp_size,
                   CAST(list_aggregate(f, 'sum') AS BIGINT) AS fp_sum
            FROM fp
        """,
        "join_agg_topn": """
            WITH rev AS (
              SELECT c_mktsegment, c_custkey,
                     round(sum(o_totalprice), 2) AS revenue
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY 1, 2
            )
            SELECT c_mktsegment, c_custkey, revenue,
                   CAST(row_number() OVER (PARTITION BY c_mktsegment
                                           ORDER BY revenue DESC, c_custkey ASC) AS INT) AS rk
            FROM rev
            QUALIFY rk <= 3
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id,
                     epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id
                                                      ORDER BY ts, event_id) AS gap
              FROM events
            )
            SELECT user_id,
                   CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id
        """,
        "entity_names": _entity_names_oracle(),
        "completeness": f"""
            {t_cte}
            SELECT conv_id,
                   round((CASE WHEN length(trim(string_agg(text, ' ' ORDER BY turn_idx))) > 0 THEN 2 ELSE 0 END
                        + CASE WHEN count(DISTINCT role) > 1 THEN 1 ELSE 0 END
                        + CASE WHEN count(DISTINCT nullif(tool, '')) > 0 THEN 1 ELSE 0 END
                        + CASE WHEN max(ts) > min(ts) THEN 1 ELSE 0 END) / 5.0, 6) AS completeness
            FROM t GROUP BY conv_id
        """,
    }


def _entity_names_oracle() -> str:
    from entity_resolver_spark.functions.entity_names import normalize_entity_sql

    raw = (
        "concat(lower(p_name), list_extract("
        "[' llc', ' inc (usa)', ' d/b/a triple a supply', '''s holdings ltd', ''],"
        " CAST(p_partkey % 5 + 1 AS INT)))"
    )
    return f"SELECT p_partkey AS key, {normalize_entity_sql(raw)} AS norm_name FROM part"
