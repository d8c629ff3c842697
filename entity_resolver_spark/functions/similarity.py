"""Pairwise similarity kernels (SURVEY K1-K3).

Reference kernels live in /root/reference/entity_resolver/utils/
similarity.py (normalized Levenshtein 128-168, TF-IDF cosine 213-400,
embedding cosine 522-613). Spark-first split:

  * Levenshtein similarity exp(-2*lev/(len_a+len_b)) — the integer
    distance comes from the native C kernel (functions/ckernels.py)
    through an Arrow-batched pandas UDF; exp()/division stay in SQL;
  * Jaro-Winkler — no Spark builtin; the same C library scores each
    Arrow batch (strings are length-capped upstream). Matches DuckDB's
    jaro_winkler_similarity (boost threshold 0.7, prefix weight 0.1)
    so the oracle can cross-check it; jaro_winkler_py is the
    pure-Python reference the tests compare against;
  * token-set cosine over hashed TF-IDF — sparse vectors built fully
    JVM-side (explode -> idf join -> slot hash -> re-collect, see
    vectorize.py); the pair dot product is an Arrow-batched NumPy UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# K1: normalized Levenshtein similarity
# ---------------------------------------------------------------------------

def lev_sim_expr(a: Column, b: Column, prefix_chars: int = 256) -> Column:
    """exp(-2*lev/(len_a+len_b)) on length-capped inputs (reference
    utils/similarity.py:128-168). Identical strings -> 1.0; two empty
    strings -> 1.0 (reference returns 1 for zero denominator).

    The integer distance comes from the native C kernel (lev_expr):
    the JVM builtin pays a full unstripped O(n*m) DP, ~30-80us per
    128-char window pair, which dominated pair scoring at mega-family
    shapes."""
    xa, xb = F.substring(a, 1, prefix_chars), F.substring(b, 1, prefix_chars)
    denom = F.length(xa) + F.length(xb)
    return F.when(denom == 0, F.lit(1.0)).otherwise(
        F.exp(-2.0 * lev_expr(xa, xb) / denom)
    )


# ---------------------------------------------------------------------------
# Jaro-Winkler — native C kernel (standard definition, DuckDB-compatible)
# ---------------------------------------------------------------------------

def jaro_winkler_py(s1: str, s2: str) -> float:
    """Standard Jaro-Winkler (prefix weight 0.1, boost threshold 0.7)."""
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0  # DuckDB convention: empty vs anything (incl. empty) -> 0
    if s1 == s2:
        return 1.0
    match_window = max(len1, len2) // 2 - 1
    if match_window < 0:
        match_window = 0
    f1 = np.zeros(len1, dtype=bool)
    f2 = np.zeros(len2, dtype=bool)
    matches = 0
    for i in range(len1):
        lo = max(0, i - match_window)
        hi = min(len2, i + match_window + 1)
        for j in range(lo, hi):
            if not f2[j] and s1[i] == s2[j]:
                f1[i] = f2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(len1):
        if f1[i]:
            while not f2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for i in range(min(4, len1, len2)):
        if s1[i] == s2[i]:
            prefix += 1
        else:
            break
    return jaro + prefix * 0.1 * (1.0 - jaro)


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:  # pragma: no cover
    """Jaro-Winkler via the native C kernel (same operation order as
    jaro_winkler_py on IEEE doubles)."""
    import pyarrow as pa

    from entity_resolver_spark.functions import ckernels

    return ckernels.jw_arrow(pa.Array.from_pandas(a), pa.Array.from_pandas(b)).to_pandas()


@F.pandas_udf(T.IntegerType())
def lev_expr(a: pd.Series, b: pd.Series) -> pd.Series:  # pragma: no cover
    """Integer Levenshtein distance via the native C kernel: exact over
    codepoints (common prefix/suffix stripped before the DP, so the
    values equal F.levenshtein's), capped at 256 codepoints per side."""
    import pyarrow as pa

    from entity_resolver_spark.functions import ckernels

    d, _, _ = ckernels.lev_arrow(pa.Array.from_pandas(a), pa.Array.from_pandas(b))
    return d.to_pandas()


def jw_expr(a: Column, b: Column, prefix_chars: int = 64) -> Column:
    """Jaro-Winkler on length-capped inputs (JW is prefix-dominated;
    capping bounds the O(n*m) match loop for long transcripts)."""
    return jaro_winkler_udf(F.substring(a, 1, prefix_chars), F.substring(b, 1, prefix_chars))


# ---------------------------------------------------------------------------
# K2/K3: sparse/dense cosine — Arrow-batched NumPy
# ---------------------------------------------------------------------------

def _flatten_side(idx: pd.Series, val: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Series-of-arrays -> (flat row ids, flat slots, flat values)."""
    lens = np.fromiter(
        (0 if x is None else len(x) for x in idx), dtype=np.int64, count=len(idx)
    )
    rows = np.repeat(np.arange(len(idx), dtype=np.int64), lens)
    nz = [np.asarray(x, dtype=np.int64) for x in idx if x is not None and len(x)]
    slots = np.concatenate(nz) if nz else np.empty(0, dtype=np.int64)
    nzv = [np.asarray(x, dtype=np.float64) for x in val if x is not None and len(x)]
    vals = np.concatenate(nzv) if nzv else np.empty(0, dtype=np.float64)
    return rows, slots, vals


def sparse_cosine_batch(
    ia: pd.Series, va: pd.Series, ib: pd.Series, vb: pd.Series
) -> pd.Series:
    """Dot products of L2-normalized sparse vectors, one Arrow batch at
    a time with NO per-pair Python loop: pack (pair, slot) into a single
    int64 key, intersect the two flat key arrays with ONE np.intersect1d
    call, multiply the matched values, segment-sum by pair via bincount.
    Keys are globally sorted when vec_idx is sorted per row (the
    vectorizer guarantees it); a cheap monotonicity check sorts the
    rare unsorted input."""
    n = len(ia)
    ra, sa, xa = _flatten_side(ia, va)
    rb, sb, xb = _flatten_side(ib, vb)
    if len(sa) == 0 or len(sb) == 0:
        return pd.Series(np.zeros(n, dtype="float64"))
    m = int(max(sa.max(), sb.max())) + 1
    if m > (1 << 40):  # slot ids from a huge/hashed space: densify first
        uniq = np.unique(np.concatenate([sa, sb]))
        sa = np.searchsorted(uniq, sa)
        sb = np.searchsorted(uniq, sb)
        m = len(uniq)
    ka = ra * m + sa
    kb = rb * m + sb

    def _canon(k: np.ndarray, x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        # fast path: strictly increasing keys (sorted, unique) — the
        # vectorizer's output shape. Otherwise sort and sum duplicates.
        if len(k) < 2 or (np.diff(k) > 0).all():
            return k, x
        uniq, inv = np.unique(k, return_inverse=True)
        return uniq, np.bincount(inv, weights=x, minlength=len(uniq))

    ka, xa = _canon(ka, xa)
    kb, xb = _canon(kb, xb)
    pos = np.searchsorted(kb, ka)
    pos[pos == len(kb)] = 0
    hit = kb[pos] == ka
    prod = xa[hit] * xb[pos[hit]]
    dots = np.bincount(ka[hit] // m, weights=prod, minlength=n)
    return pd.Series(dots[:n])


@F.pandas_udf(T.DoubleType())
def sparse_cosine_udf(
    ia: pd.Series, va: pd.Series, ib: pd.Series, vb: pd.Series
) -> pd.Series:  # pragma: no cover
    return sparse_cosine_batch(ia, va, ib, vb)


# ---------------------------------------------------------------------------
# packed-blob sparse vectors: Arrow serializes array<double> columns
# element-wise (measured ~45s to ship 380k pairs of 310-slot vectors);
# a binary column is one memcpy per row. Layout: n int32 slots then n
# float32 values (n = len(blob)/8).
# ---------------------------------------------------------------------------

def pack_vec(idx, val) -> bytes | None:
    if idx is None or val is None:
        return None
    si = np.asarray(idx, dtype=np.int32)
    sv = np.asarray(val, dtype=np.float32)
    return si.tobytes() + sv.tobytes()


@F.pandas_udf(T.BinaryType())
def pack_vec_udf(idx: pd.Series, val: pd.Series) -> pd.Series:  # pragma: no cover
    return pd.Series(
        [pack_vec(i, v) for i, v in zip(idx, val)], dtype="object"
    )


def _unpack_side(blobs: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Series of packed blobs -> (flat row ids, flat slots, flat values)."""
    lens = np.fromiter(
        (0 if b is None else len(b) // 8 for b in blobs),
        dtype=np.int64,
        count=len(blobs),
    )
    rows = np.repeat(np.arange(len(blobs), dtype=np.int64), lens)
    slots = np.concatenate(
        [np.frombuffer(b[: 4 * (len(b) // 8)], dtype=np.int32) for b in blobs if b]
        or [np.empty(0, dtype=np.int32)]
    ).astype(np.int64)
    vals = np.concatenate(
        [np.frombuffer(b[4 * (len(b) // 8):], dtype=np.float32) for b in blobs if b]
        or [np.empty(0, dtype=np.float32)]
    ).astype(np.float64)
    return rows, slots, vals


def sparse_cosine_blob_batch(ba: pd.Series, bb: pd.Series) -> pd.DataFrame:
    """-> DataFrame(cos_bin, cos) per pair: binary-overlap (Ochiai)
    cosine and the weighted dot product, both from packed blobs in one
    pass (same packed-key intersect as sparse_cosine_batch)."""
    n = len(ba)
    ra, sa, xa = _unpack_side(ba)
    rb, sb, xb = _unpack_side(bb)
    zeros = np.zeros(n, dtype="float64")
    if len(sa) == 0 or len(sb) == 0:
        return pd.DataFrame({"cos_bin": zeros, "cos": zeros})
    m = int(max(sa.max(), sb.max())) + 1
    ka = ra * m + sa
    kb = rb * m + sb
    # both key arrays are already globally sorted (rows ascending, slots
    # sorted within each row) — a searchsorted membership probe beats
    # intersect1d's concat+argsort and touches ~4x less fresh memory
    pos = np.searchsorted(kb, ka)
    pos[pos == len(kb)] = 0
    hit = kb[pos] == ka
    pair_of_common = ka[hit] // m
    inter = np.bincount(pair_of_common, minlength=n)[:n]
    dots = np.bincount(pair_of_common, weights=xa[hit] * xb[pos[hit]], minlength=n)[:n]
    na = np.bincount(ra, minlength=n)[:n]
    nb = np.bincount(rb, minlength=n)[:n]
    denom = np.sqrt(na.astype("float64") * nb.astype("float64"))
    cos_bin = np.divide(inter, denom, out=zeros.copy(), where=denom > 0)
    return pd.DataFrame({"cos_bin": cos_bin, "cos": dots})


_BLOB_COS_SCHEMA = T.StructType(
    [
        T.StructField("cos_bin", T.DoubleType()),
        T.StructField("cos", T.DoubleType()),
    ]
)


@F.pandas_udf(_BLOB_COS_SCHEMA)
def sparse_cosine_blob_udf(ba: pd.Series, bb: pd.Series) -> pd.DataFrame:  # pragma: no cover
    return sparse_cosine_blob_batch(ba, bb)


def dense_cosine_expr(a: Column, b: Column) -> Column:
    """Cosine of two dense float arrays — pure SQL (zip_with + aggregate),
    reference analog utils/similarity.py:522-613."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))


def token_overlap_cosine_expr(tokens_a: Column, tokens_b: Column) -> Column:
    """Binary token-set cosine (Ochiai): |A∩B| / sqrt(|A||B|) — cheap
    JVM-only prefilter used before the weighted TF-IDF cosine."""
    inter = F.size(F.array_intersect(tokens_a, tokens_b)).cast("double")
    return F.when(
        (F.size(tokens_a) == 0) | (F.size(tokens_b) == 0), F.lit(0.0)
    ).otherwise(inter / F.sqrt(F.size(tokens_a).cast("double") * F.size(tokens_b).cast("double")))
