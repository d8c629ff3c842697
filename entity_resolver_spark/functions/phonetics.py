"""Phonetic encoding (SURVEY V2/V3).

Reference: per-word double metaphone of the first `phonetic_max_words`
words on CPU (/root/reference/entity_resolver/context_vectorizer.py:
387-443), then a binary CountVectorizer over the codes
(context_vectorizer.py:350-385, config/schema.py:706-739).

Spark shape: a metaphone-class encoder (classic Metaphone rules —
the container has no phonetics library, so the algorithm is
implemented here; it produces the same equivalence classes for the
common English patterns the reference relies on: smith/smyth,
knight/night, philip/filip, …) applied per word inside ONE Arrow
batch UDF; the resulting code array plays the role of the reference's
phonetic token stream — feed it to hashed_tfidf for a binary phonetic
vector, or use codes as an extra blocking channel for short name-like
fields.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_VOWELS = set("aeiou")


def metaphone_py(word: str, max_len: int = 8) -> str:
    """Classic-Metaphone-style code for one lowercase word."""
    w = "".join(ch for ch in word.lower() if ch.isalpha())
    if not w:
        return ""
    # initial-letter exceptions
    for pre, rep in (("kn", "n"), ("gn", "n"), ("pn", "n"), ("wr", "r"), ("ae", "e")):
        if w.startswith(pre):
            w = rep + w[len(pre):]
            break
    if w.startswith("x"):
        w = "s" + w[1:]
    if w.startswith("wh"):
        w = "w" + w[2:]

    out: list[str] = []
    i, n = 0, len(w)
    while i < n and len(out) < max_len:
        c = w[i]
        nxt = w[i + 1] if i + 1 < n else ""
        nxt2 = w[i + 2] if i + 2 < n else ""
        # drop duplicate adjacent letters except c
        if c == nxt and c != "c":
            i += 1
            continue
        if c in _VOWELS:
            if i == 0:
                out.append(c.upper())
        elif c == "b":
            if not (i == n - 1 and i > 0 and w[i - 1] == "m"):
                out.append("B")
        elif c == "c":
            if nxt == "i" and nxt2 == "a":
                out.append("X")
            elif nxt == "h":
                out.append("X")
                i += 1
            elif nxt in "iey":
                out.append("S")
            else:
                out.append("K")
        elif c == "d":
            if nxt == "g" and nxt2 in "eiy":
                out.append("J")
                i += 1
            else:
                out.append("T")
        elif c == "g":
            if nxt == "h" and not (i + 2 < n and w[i + 2] in _VOWELS):
                i += 1  # silent gh
            elif nxt == "n":
                pass  # silent g in gn
            elif nxt in "eiy":
                out.append("J")
            else:
                out.append("K")
        elif c == "h":
            if i > 0 and w[i - 1] in _VOWELS and nxt not in _VOWELS:
                pass  # silent
            else:
                out.append("H")
        elif c == "k":
            if not (i > 0 and w[i - 1] == "c"):
                out.append("K")
        elif c == "p":
            if nxt == "h":
                out.append("F")
                i += 1
            else:
                out.append("P")
        elif c == "q":
            out.append("K")
        elif c == "s":
            if nxt == "h":
                out.append("X")
                i += 1
            elif nxt == "i" and nxt2 in ("o", "a"):
                out.append("X")
            else:
                out.append("S")
        elif c == "t":
            if nxt == "h":
                out.append("0")
                i += 1
            elif nxt == "i" and nxt2 in ("o", "a"):
                out.append("X")
            else:
                out.append("T")
        elif c == "v":
            out.append("F")
        elif c == "w":
            if nxt in _VOWELS:
                out.append("W")
        elif c == "x":
            out.append("K")
            out.append("S")
        elif c == "y":
            if nxt in _VOWELS:
                out.append("Y")
        elif c == "z":
            out.append("S")
        elif c in "flmnr":
            out.append(c.upper())
        elif c == "j":
            out.append("J")
        i += 1
    return "".join(out[:max_len])


def metaphone_tokens_py(text: str, max_words: int = 10) -> list[str]:
    """Per-word codes of the first max_words words (reference
    phonetic_max_words, config/schema.py:718-726); empty codes
    dropped, order preserved, duplicates kept (binary vectorization
    dedups downstream)."""
    if not text:
        return []
    codes = [metaphone_py(wd) for wd in text.split()[:max_words]]
    return [c for c in codes if c]


def make_metaphone_udf(max_words: int = 10, trunc_len: int | None = None):
    """trunc_len: if the caller substring-capped the input at this
    length, a string of exactly that length may end mid-word — the
    partial trailing word is dropped so truncation never changes a
    code (callers cap to avoid shipping whole transcripts through
    Arrow for a 10-word prefix signature)."""

    def _tokens(x: str) -> list[str]:
        if trunc_len is not None and len(x) == trunc_len and " " in x:
            x = x.rsplit(" ", 1)[0]
        return metaphone_tokens_py(x, max_words)

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def metaphone_udf(s: pd.Series) -> pd.Series:  # pragma: no cover
        return pd.Series(
            [_tokens(x) if x is not None else [] for x in s],
            dtype="object",
        )

    return metaphone_udf


def add_phonetic_tokens(
    df: DataFrame, text_col: str, out_col: str = "phonetic_tokens", max_words: int = 10
) -> DataFrame:
    """V2: add the per-word phonetic code array. Downstream, feed
    out_col to vectorize.hashed_tfidf for the binary phonetic vector
    (V3 — binary TF is exactly what hashed_tfidf computes on a distinct
    token array) or to blocking as an extra channel."""
    return df.withColumn(out_col, make_metaphone_udf(max_words)(F.col(text_col)))
