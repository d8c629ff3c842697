"""Blocking / candidate-pair generation (SURVEY J12, O5, P9 analog).

The reference generates candidates with brute-force GPU kNN
(/root/reference/entity_resolver/utils/similarity.py:492-511) plus a
deterministic normalized address key (utils/address.py:261-337).
Neither scales to 10^12 turns; here candidates come from three
independent, unioned channels — all computed with built-in JVM
expressions (no shuffle for signatures, no Python):

  C1 det:  bottom-k of xxhash64 over the distinct-token set — a
           deterministic signature robust to turn reordering (P9 analog);
  C2 lsh:  MinHash signatures (n hashes as MIN aggregates over per-token
           xxhash64 with per-hash seeds), banded b x r — the classic
           LSH recall channel for near-duplicates;
  C3 rare: the per-record R globally-rarest tokens (2 <= df <= cap) —
           high-precision keys for records sharing distinctive
           identifiers; common tokens never become keys, which is
           built-in skew protection.

Skew handling (north rule, explicit):
  * stop-key filter: any key covering > stop_key_fraction of records
    is dropped (reference analog: TF-IDF max_df, schema.py:583-585) —
    at 100TB a key that big is a degenerate token, not signal;
  * salted splitting of oversized blocks: keys with max_block_size <
    size <= stop_n are NOT dropped — members are re-keyed into
    ceil(size / max_block_size) deterministic salted sub-blocks
    (pmod(xxhash64(conv_id), n_salt)), and each sub-block's min-hash
    representative also joins the next sub-block (ring linking), so a
    legitimate large duplicate family stays connected through
    components while pair count drops from O(size^2) to
    O(size * max_block_size). Reference analog: chunked pairing
    (config/schema.py:1534-1540), which likewise never drops;
  * pair dedup across channels via groupBy on (a, b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from entity_resolver_spark.config import BlockingConfig
from entity_resolver_spark.lineage import eager_cut


def band_keys(sig_col, n_hashes: int, n_bands: int) -> "F.Column":
    """Array of band keys 'b<i>:<h1>_<h2>_...' from a MinHash signature."""
    rows = n_hashes // n_bands
    return F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(f"b{b}"),
                *[sig_col[b * rows + r].cast("string") for r in range(rows)],
            )
            for b in range(n_bands)
        ]
    )


def blocking_keys(
    records: DataFrame,
    cfg: BlockingConfig,
    tokens_col: str = "match_tokens",
    df_table: DataFrame | None = None,
) -> DataFrame:
    """records(conv_id, <tokens_col>, ...) -> (conv_id, block_key) table.

    Keys are built over the unigram+bigram match_tokens by default:
    bigrams make signatures word-order sensitive, so conversations that
    merely share vocabulary (the common case in homogeneous corpora)
    rarely collide, while true near-duplicates still do. Emits all
    three channels; empty-token records get no keys (they cannot match
    anything anyway — reference drops empties the same way,
    normalizer.py:455-463).
    """
    recs = records.select(
        "conv_id", F.col(tokens_col).alias("tokens")
    ).where(F.size(tokens_col) >= cfg.min_tokens)

    # r6 (guide §4.1): C1/C2 signatures via ONE token explode +
    # codegen'd window/MIN aggregates. The former array-expression forms
    # (array_sort(transform(...)) and n_hashes x array_min(transform))
    # are higher-order chains Catalyst evaluates interpreted — the
    # minhash alone re-walked every record's token array 24 times.
    # Tokens are distinct per record upstream, so explode row counts
    # equal array cardinalities; materialized once for the three
    # consumers (det window, signature aggregate, rare-token join path
    # keeps its own explode over the SAME rows via this frame).
    ex = recs.select(
        "conv_id", F.explode("tokens").alias("token")
    ).localCheckpoint()

    # C1 det: bottom-k hashes ascending, joined — window rank replaces
    # the interpreted array_sort(transform(...)); ties (identical hash
    # values) are interchangeable, so row_number order among them does
    # not change the joined value.
    hw = W.partitionBy("conv_id").orderBy(F.col("__h").asc())
    c1 = (
        ex.select("conv_id", F.xxhash64("token").alias("__h"))
        .withColumn("__rk", F.row_number().over(hw))
        .where(F.col("__rk") <= cfg.det_key_size)
        .groupBy("conv_id")
        .agg(
            F.concat(
                F.lit("det:"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("__h")),
                        lambda h: h.cast("string"),
                    ),
                    "|",
                ),
            ).alias("block_key")
        )
    )

    # C2 lsh: sig[i] = min over tokens of xxhash64(i, token), banded
    # with the same key layout as band_keys, via MIN aggregates.
    n_h, n_b = cfg.minhash_hashes, cfg.lsh_bands
    rows_per_band = n_h // n_b
    mins = ex.groupBy("conv_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("token"))).alias(f"__m{i}")
            for i in range(n_h)
        ]
    )
    band_cols = [
        F.concat_ws(
            "_",
            F.lit(f"b{b}"),
            *[
                F.col(f"__m{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ],
        )
        for b in range(n_b)
    ]
    c2 = mins.select(
        "conv_id", F.explode(F.array(*band_cols)).alias("block_key")
    ).withColumn("block_key", F.concat(F.lit("lsh:"), F.col("block_key")))

    # C3: per-record rarest tokens by global document frequency
    c3 = _rare_token_keys(recs, "rt:", cfg, df_table=df_table, exploded=ex)

    out = c1.unionByName(c2).unionByName(c3)

    # C4: rarest UNIGRAMS — a perturbed variant keeps most unigrams even
    # when its bigrams churn, so distinctive identifiers (case numbers,
    # ids) connect whole duplicate families through one key.
    # cfg.unigrams_col is an EXPLICIT contract: a configured-but-missing
    # column raises instead of silently dropping the recall channel (a
    # column-presence gate here once let an upstream .drop() disable C4
    # unnoticed — the pair count shifted with no error).
    uni_col = cfg.unigrams_col
    if uni_col and uni_col != tokens_col:
        if uni_col not in records.columns:
            raise ValueError(
                f"blocking.unigrams_col={uni_col!r} is configured but the "
                f"column is absent from the records frame (columns: "
                f"{records.columns}); pass unigrams_col=None to disable "
                "the C4 channel deliberately"
            )
        uni = records.select(
            "conv_id", F.col(uni_col).alias("tokens")
        ).where(F.size(uni_col) >= cfg.min_tokens)
        out = out.unionByName(_rare_token_keys(uni, "ru:", cfg))

    # C5: phonetic prefix signature (reference phonetic stream,
    # context_vectorizer.py:387-443) — ordered metaphone codes of the
    # first N words; catches typo families whose every token shifted
    # (no shared rare token, churned bigrams) as long as the
    # misspellings sound alike
    if cfg.phonetic:
        # same contract as C4: a configured-on channel with its source
        # column missing RAISES — an upstream rename/drop must never
        # silently disable a recall channel (set phonetic=False to
        # disable deliberately)
        if "norm_text" not in records.columns:
            raise ValueError(
                "blocking.phonetic=True but 'norm_text' is absent from the "
                f"records frame (columns: {records.columns}); pass "
                "phonetic=False to disable the C5 channel deliberately"
            )
        from entity_resolver_spark.functions.phonetics import make_metaphone_udf

        # substring cap: the UDF only reads the first N words, so don't
        # ship (or split) multi-KB transcripts through Arrow for them.
        # SHORT docs only (reference runs phonetics on entity NAMES): a
        # prefix signature on long transcripts keys them by their shared
        # openings — measured 3.4x candidate-pair inflation at 3.2M
        # turns with no recall gain
        cap = 24 * cfg.phonetic_max_words
        ph = records.where(F.size(tokens_col) <= cfg.phonetic_max_tokens).select(
            "conv_id",
            make_metaphone_udf(cfg.phonetic_max_words, trunc_len=cap)(
                F.substring(F.col("norm_text"), 1, cap)
            ).alias("__ph"),
        )
        c5 = ph.where(F.size("__ph") >= 1).select(
            "conv_id",
            F.concat(F.lit("ph:"), F.concat_ws("-", F.col("__ph"))).alias("block_key"),
        )
        out = out.unionByName(c5)
    return out


def _rare_token_keys(
    recs: DataFrame,
    prefix: str,
    cfg: BlockingConfig,
    df_table: DataFrame | None = None,
    exploded: DataFrame | None = None,
) -> DataFrame:
    if exploded is None:
        exploded = recs.select("conv_id", F.explode("tokens").alias("token"))
    if df_table is None:
        # token arrays are distinct per record, so count(*) == distinct ids
        df_table = exploded.groupBy("token").agg(F.count("*").alias("df"))
    df_table = df_table.where((F.col("df") >= 2) & (F.col("df") <= cfg.rare_max_df))
    rare_rank = W.partitionBy("conv_id").orderBy(F.col("df").asc(), F.col("token").asc())
    return (
        exploded.join(df_table, "token")
        .withColumn("rk", F.row_number().over(rare_rank))
        .where(F.col("rk") <= cfg.rare_tokens_per_record)
        .select("conv_id", F.concat(F.lit(prefix), F.col("token")).alias("block_key"))
    )


def candidate_pairs(
    records: DataFrame,
    cfg: BlockingConfig,
    tokens_col: str = "match_tokens",
    df_table: DataFrame | None = None,
    n_records: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """-> (pairs(conv_a, conv_b, n_shared_keys), block_metrics).
    `n_records` is `records.count()` when the caller already knows it.

    block_metrics(block_key, block_size, status in {'ok','salted','stop'})
    is the per-stage lineage the north rule asks for. 'salted' blocks
    (max_block_size < size <= stop_n) still produce pairs — members are
    split into deterministic salted sub-blocks with ring-linked
    representatives (see module docstring); only 'stop' keys drop.
    """
    # keys feeds two consumers (the size aggregation and the pair
    # self-join) — materialize once or the whole signature/rare-token
    # plan executes twice. The table is tiny: ~keys_per_record rows of
    # (conv_id, block_key).
    keys = blocking_keys(records, cfg, tokens_col, df_table=df_table).transform(eager_cut)
    if n_records is None:
        n_records = records.count()
    stop_n = max(int(cfg.stop_key_fraction * n_records), cfg.max_block_size)

    sizes = keys.groupBy("block_key").agg(F.count("*").alias("block_size"))
    metrics = sizes.withColumn(
        "status",
        F.when(F.col("block_size") > stop_n, F.lit("stop"))
        .when(F.col("block_size") > cfg.max_block_size, F.lit("salted"))
        .otherwise(F.lit("ok")),
    )
    ok_keys = metrics.where(
        (F.col("status") == "ok") & (F.col("block_size") >= 2)
    ).select("block_key")

    # keep only usable keys, then block-local self-join; broadcast the
    # key filter only if small — Catalyst/AQE decides via stats
    k = keys.join(ok_keys, "block_key").select("block_key", "conv_id")

    # salted splitting of oversized (but non-degenerate) blocks: re-key
    # members into n_salt = ceil(size / max_block_size) sub-blocks via a
    # deterministic hash, then ring-link sub-blocks through each one's
    # min-hash representative so the family stays one component. Pair
    # cost becomes O(size * max_block_size) instead of O(size^2).
    salted_meta = metrics.where(F.col("status") == "salted").select(
        "block_key", "block_size"
    )
    ck = (
        keys.join(salted_meta, "block_key")
        .withColumn(
            "n_salt",
            F.ceil(F.col("block_size") / F.lit(cfg.max_block_size)).cast("int"),
        )
        .withColumn("salt", F.pmod(F.xxhash64("conv_id"), F.col("n_salt")).cast("int"))
    )
    sub = ck.select(
        F.concat_ws("#", "block_key", F.col("salt").cast("string")).alias("block_key"),
        "conv_id",
    )
    ring = W.partitionBy("block_key", "salt").orderBy(
        F.xxhash64("conv_id").asc(), F.col("conv_id").asc()
    )
    link = (
        ck.withColumn("rk", F.row_number().over(ring))
        .where(F.col("rk") == 1)
        .select(
            F.concat_ws(
                "#",
                "block_key",
                F.pmod(F.col("salt") + 1, F.col("n_salt")).cast("string"),
            ).alias("block_key"),
            "conv_id",
        )
    )
    k = k.unionByName(sub).unionByName(link)

    a = k.select(F.col("block_key"), F.col("conv_id").alias("conv_a"))
    b = k.select(F.col("block_key"), F.col("conv_id").alias("conv_b"))
    pairs = (
        a.join(b, "block_key")
        .where(F.col("conv_a") < F.col("conv_b"))
        .groupBy("conv_a", "conv_b")
        .agg(F.count("*").alias("n_shared_keys"))
    )
    return pairs, metrics
