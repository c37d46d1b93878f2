"""Tokenization — native Spark expressions with an identical Python mirror.

Semantics follow the reference's ``parser.Laundry``
(/root/reference/parser/parser.go:177-193): lowercase, replace
``[^a-zA-Z0-9]`` with space, split on whitespace, drop empties, drop
stopwords (429-word list, /root/reference/indexer/stopwords.txt), then
Porter2-stem each token.

The Spark side stays JVM-native (lower/regexp_replace/split/filter/
array_except — whole-stage codegen) right up to stemming, which is the
one genuinely non-SQL step and runs as a vectorized pandas UDF
(stem_udf.py). The Python mirror (``tokenize_py``) is used by the query
parser (driver-side, tiny input) and the pandas oracle.
"""

from __future__ import annotations

import importlib.resources
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .porter2 import stem_cached
from .smalldf import in_sql

_TOKEN_STRIP_RE = re.compile(r"[^a-zA-Z0-9]")
_WS_RE = re.compile(r"\s+")
_LINK_MARKER_RE = re.compile(r"@link\{[^}]*\}")


def load_stopwords() -> frozenset[str]:
    """429-word stopword list, copied verbatim from the reference fixture."""
    text = (
        importlib.resources.files("spaghettisearch_spark")
        .joinpath("stopwords.txt")
        .read_text()
    )
    return frozenset(w for w in text.split("\n") if w.strip())


STOPWORDS = load_stopwords()


# ---------------------------------------------------------------------------
# Spark-native side
# ---------------------------------------------------------------------------

def tokenize_col(col: str, remove_stopwords: bool = True) -> Column:
    """Raw text column (by name) -> array<string> of clean, unstemmed
    tokens.

    Pure built-in functions; Catalyst keeps this inside whole-stage
    codegen, so tokenizing 100 TB of content never crosses into Python.
    Written as ONE SQL expression: the Column API would create the
    429-stopword list one py4j literal at a time (~0.2 s on the driver
    per call, paid three times per build and once per ingest batch).
    """
    # strip @link{...} markers first (fixture analog of <a href=...> — the
    # href itself is not body text; the anchor text around it is)
    text = f"regexp_replace(`{col}`, '@link[{{][^}}]*[}}]', ' ')"
    keep = "t != ''"
    if remove_stopwords:
        # NOTE: not array_except — that would dedupe and destroy tf counts.
        # IN over 429 literals becomes an InSet (hash lookup) in codegen.
        # Positions later index the post-filter stream, matching the
        # reference (parser.go:195-207 runs on Laundry output).
        keep += " AND NOT " + in_sql("t", sorted(STOPWORDS))
    return F.expr(
        f"filter(split(trim(regexp_replace(lower({text}), '[^a-z0-9]+', ' ')),"
        f" ' '), t -> {keep})"
    )


# ---------------------------------------------------------------------------
# Python mirror (oracle + query parsing)
# ---------------------------------------------------------------------------

def clean_split_py(text: str) -> list[str]:
    """lowercase + strip non-alphanumerics + whitespace split (no stopword
    removal, no stemming)."""
    text = _LINK_MARKER_RE.sub(" ", text)
    return [t for t in _WS_RE.split(_TOKEN_STRIP_RE.sub(" ", text.lower())) if t]


def tokenize_py(
    text: str, remove_stopwords: bool = True, do_stem: bool = True
) -> list[str]:
    toks = clean_split_py(text)
    if remove_stopwords:
        toks = [t for t in toks if t not in STOPWORDS]
    if do_stem:
        toks = [stem_cached(t) for t in toks]
    return toks


PHRASE_RE = re.compile(r'"(.*?)"')


def parse_query(query: str, remove_stopwords: bool = True, do_stem: bool = True):
    """Split a raw query string into (free_terms, phrases).

    Mirrors the reference's query parse (retrieval/main_retrieve.go:17-36,
    retrieval/util.go:151-160): quoted substrings become phrases (each a
    token list), the rest become free terms; both go through the same
    clean/stopword/stem path as indexing.
    """
    phrases_raw = PHRASE_RE.findall(query)
    rest = PHRASE_RE.sub(" ", query)
    free_terms = tokenize_py(rest, remove_stopwords, do_stem)
    phrases = [
        p for p in (tokenize_py(ph, remove_stopwords, do_stem) for ph in phrases_raw) if p
    ]
    return free_terms, phrases
