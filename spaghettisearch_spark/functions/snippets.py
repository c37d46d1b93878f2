"""Result snippets — vectorized reimplementation of the reference's
summary extraction (/root/reference/retrieval/get_metadata.go:79-209):

  - phrase-first: if any query phrase occurs (case-insensitive word
    match), the snippet is the +/-10-word window around its first
    occurrence (get_metadata.go:156-192)
  - else first free-term match, +/-10 words around it
  - else static fallback: the middle 21 words of the document
    (get_metadata.go:195-205)

The serving engine calls ``make_summary_py`` on the driver for the k
result cards (api.SearchEngine.query); ``with_snippets`` applies the
same function as a scalar pandas UDF to a DataFrame of results. Either
way it touches k documents, never the corpus.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

WINDOW = 10
FALLBACK_HALF = 10


def make_summary_py(
    content: str,
    terms: list[str],
    phrases: list[list[str]],
    stem: bool = True,
) -> str:
    from .porter2 import stem_cached

    words = content.split()
    if not words:
        return ""
    # compare in stemmed space: query terms arrive stemmed (same pipeline
    # as indexing), so document words are stemmed for matching only —
    # the emitted snippet keeps the original surface forms. ``stem=False``
    # matches on the normalized surface form instead (the engine's
    # unstemmed config; also the SQL-mirrorable mode the driver gate uses).
    lower = [re.sub(r"[^a-z0-9]", "", w.lower()) for w in words]
    if stem:
        lower = [stem_cached(w) for w in lower]

    def window(i: int, j: int) -> str:
        lo = max(i - WINDOW, 0)
        hi = min(j + WINDOW + 1, len(words))
        return " ".join(words[lo:hi])

    for phrase in phrases:
        n = len(phrase)
        if n == 0:
            continue
        for i in range(len(lower) - n + 1):
            if lower[i:i + n] == phrase:
                return window(i, i + n - 1)
    term_set = set(terms)
    for i, w in enumerate(lower):
        if w in term_set:
            return window(i, i)
    mid = len(words) // 2
    lo = max(mid - FALLBACK_HALF, 0)
    return " ".join(words[lo:lo + 2 * FALLBACK_HALF + 1])


def summary_udf(terms: list[str], phrases: list[list[str]], stem: bool = True):
    @F.pandas_udf(T.StringType())
    def _udf(content: pd.Series) -> pd.Series:
        return content.map(
            lambda c: "" if c is None else make_summary_py(c, terms, phrases, stem)
        )

    return _udf


def with_snippets(
    topk, content_col: str, terms, phrases, stem: bool = True
) -> "DataFrame":  # noqa: F821
    return topk.withColumn(
        "snippet", summary_udf(terms, phrases, stem)(F.col(content_col))
    )
