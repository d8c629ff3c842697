"""Text normalization pipeline (SURVEY P1-P6).

Re-expresses the reference normalizer (/root/reference/entity_resolver/
normalizer.py:212-415 and utils/text.py:47-186,561-650) Spark-first:

  * everything regex/case/whitespace runs JVM-side via built-in
    functions (whole-stage codegen) — the reference needed RE2
    workarounds; Java regex has \\b and backrefs natively
    (SURVEY P3 note);
  * the ONLY Python is NFKC + punctuation-fold, as an Arrow-batched
    pandas UDF (Spark has no built-in NFKC), using str.translate
    with a precompiled fold table — no per-row Python objects beyond
    the string itself;
  * normalization writes a DERIVED column (norm_text); raw doc/turn
    text is never mutated (input_hint invariant).

The reference's factorize-unique-apply-remap optimization (O1,
utils/text.py:629-645) is available via `normalize_docs(distinct_first
=True)` — worth it when exact duplicate docs are common (web data).
"""

from __future__ import annotations

import sys
import unicodedata

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# fold table (reference analog: ~140-entry map, utils/text.py:47-186):
# typographic punctuation -> ascii, exotic spaces -> ' ', zero-width -> ''
# ---------------------------------------------------------------------------
_FOLD: dict[int, str | None] = {}
for ch in "‘’‚‛′":
    _FOLD[ord(ch)] = "'"
for ch in "“”„‟″":
    _FOLD[ord(ch)] = '"'
for ch in "‐‑‒–—―−":
    _FOLD[ord(ch)] = "-"
for ch in "               　":
    _FOLD[ord(ch)] = " "
for ch in "​‌‍⁠﻿­":
    _FOLD[ord(ch)] = ""
_FOLD[ord("…")] = "..."
# strip all remaining C0/C1 control chars except \t \n \r
for cp in list(range(0x00, 0x20)) + list(range(0x7F, 0xA0)):
    if cp not in (0x09, 0x0A, 0x0D):
        _FOLD[cp] = " "


def nfkc_fold_series(s: pd.Series) -> pd.Series:
    """NFKC-normalize + fold typographic punctuation (vectorized batch)."""
    return s.map(
        lambda x: unicodedata.normalize("NFKC", x).translate(_FOLD)
        if x is not None
        else None
    )


def _make_norm_udf(min_length: int, empty_fallback: str):
    """One-pass NFKC + full normalization as a single Arrow UDF.

    Why one pass: with norm_text built from a JVM expression tree,
    Catalyst's CollapseProject inlines that tree into every downstream
    reference (tokens, match_tokens, ...), re-running the whole regex
    chain per reference (~8x measured). A UDF output is a materialized
    attribute in the plan, so downstream expressions reference it for
    free. The Python pass is normalize_py itself — one vectorized
    Arrow batch, same cost class as the NFKC hop the reference pays
    (utils/text.py:629-645)."""

    @F.pandas_udf(T.StringType())
    def norm_udf(s: pd.Series) -> pd.Series:  # pragma: no cover
        return s.map(
            lambda x: normalize_py(x, min_length=min_length, empty_fallback=empty_fallback)
            if x is not None
            else None
        )

    return norm_udf


# ---------------------------------------------------------------------------
# JVM-side normalization expression
# ---------------------------------------------------------------------------

def _minimal_norm(col: Column) -> Column:
    """Reference 'minimal normalization' fallback (normalizer.py:365-380):
    lower + trim + collapse whitespace only."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def norm_expr(col: Column, min_length: int = 2, empty_fallback: str = "unknown_entity") -> Column:
    """Full normalization on an ALREADY NFKC-folded column.

    Steps (reference normalizer.py:212-415 order):
      lower -> strip urls/emails -> strip punctuation to space ->
      collapse whitespace -> trim; then the over-normalization guard
      (len < min_length -> minimal normalization; empty -> fallback,
      normalizer.py:365-393).
    """
    x = F.lower(col)
    # URLs and emails collapse to stable placeholder tokens — they are
    # high-signal for transcript identity but break token matching raw
    x = F.regexp_replace(x, r"https?://\S+", " urltoken ")
    x = F.regexp_replace(x, r"\b[\w.+-]+@[\w-]+\.[\w.]+\b", " emailtoken ")
    # digits kept (case ids matter); punctuation -> space
    x = F.regexp_replace(x, r"[^a-z0-9\n ]", " ")
    x = F.trim(F.regexp_replace(x, r"\s+", " "))
    guarded = F.when(F.length(x) < min_length, _minimal_norm(col)).otherwise(x)
    return F.when(
        F.length(F.trim(guarded)) == 0, F.lit(empty_fallback)
    ).otherwise(guarded)


def tokens_expr(norm_col: Column, min_token_len: int = 2) -> Column:
    """Distinct, sorted token array from normalized text (basis for
    blocking keys and token-set cosine)."""
    toks = F.split(norm_col, " ")
    toks = F.filter(toks, lambda t: F.length(t) >= min_token_len)
    return F.array_sort(F.array_distinct(toks))


def match_tokens_expr(norm_col: Column) -> Column:
    """Unigram + word-bigram token set for the TF-IDF matching vector.

    Bigrams make the vector word-ORDER sensitive — two conversations
    sharing vocabulary but not phrasing (hard negatives) share few
    bigrams, while true near-duplicates share almost all of them. This
    is the word-level analog of the reference's char-(3,5)-gram TF-IDF
    (context_vectorizer.py:311-348, analyzer='char'), computed as a
    pure column expression."""
    words = F.filter(F.split(norm_col, " "), lambda t: F.length(t) >= 1)
    # zip_with(words, words[2:]) builds bigrams in one O(n) pass —
    # indexing via element_at(words, i) would re-evaluate the split per
    # element (O(n^2) per row, measured 10x slower on real documents).
    # The zip pads the shorter side with null; concat() nulls those
    # rows out and the filter drops them.
    shifted = F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(1)))
    bigrams = F.filter(
        F.zip_with(words, shifted, lambda a, b: F.concat(a, F.lit("_"), b)),
        lambda x: x.isNotNull(),
    )
    return F.array_distinct(F.concat(words, bigrams))


def normalize_docs(
    df: DataFrame,
    text_col: str = "doc",
    out_col: str = "norm_text",
    min_length: int = 2,
    empty_fallback: str = "unknown_entity",
    distinct_first: bool = False,
    nfkc: bool = True,
) -> DataFrame:
    """Add `out_col` (normalized) and `tokens` to df.

    distinct_first=True applies the reference's O1 trick: NFKC over
    distinct text values only, then a join-back remap — a win when the
    corpus has heavy exact duplication (>50% per clusterer.py:1432-1441).
    """
    if nfkc:
        # single Arrow pass: NFKC fold + full normalization -> norm_text
        # is a materialized attribute (see _make_norm_udf for why)
        norm_udf = _make_norm_udf(min_length, empty_fallback)
        if distinct_first:
            uniq = (
                df.select(F.col(text_col).alias("__raw"))
                .distinct()
                .withColumn(out_col, norm_udf(F.col("__raw")))
            )
            out = df.join(uniq, df[text_col] == uniq["__raw"], "left").drop("__raw")
        else:
            out = df.withColumn(out_col, norm_udf(F.col(text_col)))
    else:
        out = df.withColumn(
            out_col,
            norm_expr(F.col(text_col), min_length=min_length, empty_fallback=empty_fallback),
        )

    return out.withColumn("tokens", tokens_expr(F.col(out_col))).withColumn(
        "match_tokens", match_tokens_expr(F.col(out_col))
    )


# pure-python reference implementation (used by tests & the DuckDB oracle
# construction — must stay in lockstep with norm_expr)
def normalize_py(text: str, min_length: int = 2, empty_fallback: str = "unknown_entity") -> str:
    import re

    folded = unicodedata.normalize("NFKC", text).translate(_FOLD)
    x = folded.lower()
    x = re.sub(r"https?://\S+", " urltoken ", x)
    x = re.sub(r"\b[\w.+-]+@[\w-]+\.[\w.]+\b", " emailtoken ", x)
    x = re.sub(r"[^a-z0-9\n ]", " ", x)
    x = re.sub(r"\s+", " ", x).strip()
    if len(x) < min_length:
        x = re.sub(r"\s+", " ", folded.lower().strip())
    if not x.strip():
        return empty_fallback
    return x
