"""Canonical record selection per cluster (SURVEY A2/A5/K7/W2/J11).

Reference: canonical-name scoring (centrality + frequency) x
length_bonus in /root/reference/entity_resolver/utils/text.py:297-358
(edit-distance centrality for small groups, text.py:225-244), applied
per group via groupby().apply (normalizer.py:534-553); canonical-map
application is a left join + self-coalesce (refiner.py:245-269, J11);
chain numbering appends " - N" per duplicate name (refiner.py:647-673,
W2).

Spark shape: tiny clusters (the overwhelming majority) are resolved by
a pure-SQL window (max frequency, then longest, then lexicographic —
deterministic total order, reference O14); clusters with more than one
distinct text get the full centrality scoring inside
groupBy().applyInPandas with a capped member sample (SURVEY §7.4 risk
4 — bounds the O(u^2) NumPy kernel exactly like the reference's
merge_sample_size, config/schema.py:1392-1397).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

MAX_GROUP_SAMPLE = 128
# edit-distance centrality only for small groups of short strings —
# the reference gates its Levenshtein path the same way (<24 distinct,
# utils/similarity.py:128-168) and uses TF-IDF cosine centrality
# otherwise (text.py:297-358). Long transcript docs always take the
# hashed-token path: lev on 128-char prefixes of near-identical docs
# is both slow (O(len^2) per pair) and uninformative (prefixes match).
LEV_MAX_UNIQUES = 24
LEV_MAX_CHARS = 64
_HASH_DIM = 1024


def _lev_matrix(strings: list[str]) -> np.ndarray:
    """Pairwise Levenshtein distances from one C-kernel call over the
    group's i<j pairs. Exact: the gate keeps every string at or below
    LEV_MAX_CHARS codepoints, under the kernel's 256-codepoint cap."""
    import pyarrow as pa

    from entity_resolver_spark.functions import ckernels

    n = len(strings)
    i, j = np.triu_indices(n, k=1)
    d, _, _ = ckernels.lev_arrow(
        pa.array([strings[k] for k in i], pa.string()),
        pa.array([strings[k] for k in j], pa.string()),
    )
    out = np.zeros((n, n), dtype=np.float64)
    out[i, j] = out[j, i] = d.to_numpy()
    return out


def _hashed_cosine_sim(strings: list[str]) -> np.ndarray:
    """Pairwise cosine similarity over hashed token counts (stable
    crc32 hashing — deterministic across processes, reference O14).
    The NumPy analog of the reference's TF-IDF centrality kernel
    (text.py:246-273,297-358): V_n @ V_n.T on L2-normalized rows."""
    from zlib import crc32

    v = np.zeros((len(strings), _HASH_DIM), dtype=np.float64)
    for i, s in enumerate(strings):
        toks = s.split()
        if not toks:
            continue
        idx = np.fromiter(
            (crc32(t.encode()) % _HASH_DIM for t in toks), dtype=np.int64, count=len(toks)
        )
        np.add.at(v[i], idx, 1.0)
    norms = np.linalg.norm(v, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    vn = v / norms
    return vn @ vn.T


def _canonical_one_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Reference K7 scoring: score = (centrality + frequency) * length_bonus;
    centrality from a similarity matrix weighted by frequency
    (text.py:225-294): exp(-lev/max_len) for small groups of short
    strings, hashed-token cosine otherwise (the reference's TF-IDF
    variant, text.py:297-358); winner = argmax with deterministic
    (score desc, text asc) tie-break."""
    cluster = pdf["cluster"].iloc[0]
    counts = pdf.groupby("norm_text")["norm_text"].count().sort_index()
    uniques = list(counts.index)
    freqs = counts.to_numpy(dtype=np.float64)
    if len(uniques) > MAX_GROUP_SAMPLE:
        top = np.argsort(-freqs, kind="stable")[:MAX_GROUP_SAMPLE]
        uniques = [uniques[i] for i in sorted(top)]
        freqs = counts.iloc[sorted(top)].to_numpy(dtype=np.float64)
    if len(uniques) == 1:
        return pd.DataFrame({"cluster": [cluster], "canonical_text": [uniques[0]]})
    if len(uniques) < LEV_MAX_UNIQUES and max(len(u) for u in uniques) <= LEV_MAX_CHARS:
        dist = _lev_matrix(uniques)
        max_len = max(1, max(len(u) for u in uniques))
        sim = np.exp(-dist / max_len)
    else:
        sim = _hashed_cosine_sim(uniques)
    w = freqs / freqs.sum()
    centrality = sim @ w
    freq_term = freqs / freqs.max()
    length_bonus = np.minimum(np.log(np.array([len(u) for u in uniques]) + 1.0), 3.5)
    score = (centrality + freq_term) * length_bonus
    order = sorted(range(len(uniques)), key=lambda i: (-score[i], uniques[i]))
    return pd.DataFrame({"cluster": [cluster], "canonical_text": [uniques[order[0]]]})


def _canonical_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
    """One Arrow batch = one hash bucket of MANY clusters; the per-cluster
    kernel runs in a local loop so its Python invocation overhead is paid
    once per bucket, not once per cluster."""
    outs = [
        _canonical_one_group(g)
        for _, g in pdf.groupby("cluster", sort=True)
    ]
    return pd.concat(outs, ignore_index=True)


def canonical_by_frequency(records: DataFrame, cluster_col: str = "cluster") -> DataFrame:
    """Pure-SQL canonical pick: most frequent norm_text per cluster,
    ties to longest then lexicographically smallest (deterministic)."""
    freq = records.groupBy(cluster_col, "norm_text").agg(F.count("*").alias("freq"))
    w = W.partitionBy(cluster_col).orderBy(
        F.col("freq").desc(), F.length("norm_text").desc(), F.col("norm_text").asc()
    )
    return (
        freq.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(cluster_col, F.col("norm_text").alias("canonical_text"))
    )


def canonical_by_centrality(records: DataFrame, cluster_col: str = "cluster") -> DataFrame:
    """Full reference-parity canonical selection. Single-text clusters
    short-circuit in SQL; only genuinely ambiguous clusters reach the
    Arrow grouped-map kernel."""
    per_cluster = records.groupBy(cluster_col).agg(
        F.countDistinct("norm_text").alias("n_texts")
    )
    easy_ids = per_cluster.where(F.col("n_texts") == 1).select(cluster_col)
    hard_ids = per_cluster.where(F.col("n_texts") > 1).select(cluster_col)

    easy = canonical_by_frequency(records.join(easy_ids, cluster_col), cluster_col)
    n_parts = int(
        records.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    hard_src = (
        records.join(hard_ids, cluster_col)
        .select(F.col(cluster_col).alias("cluster"), "norm_text")
        # BUCKET clusters instead of grouping by cluster directly:
        # applyInPandas invokes the Python function once PER GROUP, and
        # a corpus of many small families (the linear-growth shape) pays
        # ~2 ms of per-call overhead per cluster — measured 37 s for 20k
        # 4-member clusters. Hashing clusters into n_parts*8 buckets and
        # looping inside the Arrow batch amortizes that overhead across
        # hundreds of clusters per call; per-cluster results are
        # byte-identical. The bucket count also spreads the shuffle
        # across the full parallelism (AQE would coalesce the tiny
        # exchange into one partition and serialize the kernel).
        .withColumn("__b", F.pmod(F.xxhash64("cluster"), F.lit(n_parts * 8)))
    )
    hard = hard_src.groupBy("__b").applyInPandas(
        _canonical_bucket, schema="cluster string, canonical_text string"
    ).withColumnRenamed("cluster", cluster_col)
    return easy.unionByName(hard)


def apply_canonical_map(
    records: DataFrame, canon: DataFrame, cluster_col: str = "cluster"
) -> DataFrame:
    """J11: left join the canonical map, self-coalesce for safety."""
    return records.join(canon, cluster_col, "left").withColumn(
        "canonical_text", F.coalesce(F.col("canonical_text"), F.col("norm_text"))
    )


def chain_numbering(
    df: DataFrame, name_col: str, order_col: str, out_col: str = "numbered_name"
) -> DataFrame:
    """W2: suffix ' - N' for repeated names, numbered in a deterministic
    order (reference refiner.py:647-673)."""
    w = W.partitionBy(name_col).orderBy(F.col(order_col).asc())
    cnt = W.partitionBy(name_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(cnt))
        .withColumn(
            out_col,
            F.when(F.col("__n") == 1, F.col(name_col)).otherwise(
                F.concat_ws(" - ", F.col(name_col), F.col("__rn").cast("string"))
            ),
        )
        .drop("__rn", "__n")
    )
