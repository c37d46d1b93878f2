"""Seeded inputs for the benchmark: code-shaped documents, query stream and
ingest batches, all a pure function of the workload seed.

Document text comes from ``fixtures.make_zipf_documents`` (a 20k-term
Zipf(1.1) vocabulary). This module wraps it into the engine's
Iceberg-shaped input rows ``(repo, path, commit, lang, content)`` and
plants ``@link{repo/path}`` markers so link extraction and PageRank see a
real graph. Documents meant for ingest batches also carry one unique
planted term each, so a merge can be checked by querying that term.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

import numpy as np
import pandas as pd

VOCAB_SIZE = 20000  # make_zipf_documents default
_LANGS = ["py", "go", "js", "java", "md"]
_DIRS = ["src", "lib", "pkg", "core", "util", "io", "net", "internal"]
LINK_DOC_FRAC = 0.3  # documents that carry at least one @link marker
DANGLING_FRAC = 0.05  # markers whose target is not in the corpus


def vocab_term(rank: int) -> str:
    """The generator's term at Zipf rank ``rank`` (0 = most frequent)."""
    return f"zw{rank:05d}"


def planted_term(seed: int, doc_num: int) -> str:
    return f"qqplant{seed}x{doc_num}"


@dataclass
class Corpus:
    """``docs`` holds the input rows in doc-number order; ``sha`` maps a
    document's ``repo/path`` url to the sha256 of its content."""

    docs: pd.DataFrame
    sha: dict

    def slice(self, lo: int, hi: int) -> pd.DataFrame:
        return self.docs.iloc[lo:hi].reset_index(drop=True)

    def content_bytes(self, lo: int = 0, hi: int | None = None) -> int:
        col = self.docs["content"].iloc[lo:hi]
        return int(sum(len(c.encode()) for c in col))


def _addr(seed: int, i: int) -> tuple[str, str, str]:
    rng = random.Random(seed * 1_000_003 + i)
    lang = _LANGS[rng.randrange(len(_LANGS))]
    repo = f"org{rng.randrange(7)}/repo{rng.randrange(23)}"
    parts = [rng.choice(_DIRS) for _ in range(rng.randint(0, 2))]
    parts.append(f"{vocab_term(rng.randrange(VOCAB_SIZE))}_{i}.{lang}")
    return repo, "/".join(parts), lang


def make_corpus(spark, n_docs: int, seed: int, planted_from: int) -> Corpus:
    """``n_docs`` documents; documents numbered ``planted_from`` and up get
    a unique planted term (the ingest batches)."""
    from spaghettisearch_spark.fixtures import make_zipf_documents

    text = (
        make_zipf_documents(spark, n_docs, seed=seed)
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")["text"]
        .tolist()
    )
    addrs = [_addr(seed, i) for i in range(n_docs)]
    rng = np.random.RandomState(seed % (2**31 - 1))
    # link targets favour low document numbers (Zipf over docs), so a few
    # pages collect most in-links and PageRank is far from uniform
    weights = 1.0 / np.arange(1, n_docs + 1) ** 0.8
    weights /= weights.sum()
    rows = []
    sha = {}
    for i, body in enumerate(text):
        toks = body.split(" ")
        if rng.random_sample() < LINK_DOC_FRAC:
            for _ in range(1 + rng.randint(3)):
                if rng.random_sample() < DANGLING_FRAC:
                    target = f"orgx/gone/{vocab_term(rng.randint(VOCAB_SIZE))}.py"
                else:
                    j = int(rng.choice(n_docs, p=weights))
                    target = f"{addrs[j][0]}/{addrs[j][1]}"
                pos = rng.randint(len(toks) + 1)
                toks.insert(pos, f"@link{{{target}}}")
        if i >= planted_from:
            # last, after every marker, so it is never anchor text that
            # would credit the term to a link target too
            toks.append(planted_term(seed, i))
        content = " ".join(toks)
        repo, path, lang = addrs[i]
        commit = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:12]
        rows.append((repo, path, commit, lang, content))
        sha[f"{repo}/{path}"] = hashlib.sha256(content.encode()).hexdigest()
    docs = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    return Corpus(docs=docs, sha=sha)


# vocabulary rank bands the query terms come from
BANDS = {"head": (0, 50), "mid": (50, 2000), "tail": (2000, VOCAB_SIZE)}
# query shapes, cycled over the pool so every seed gets the same mix;
# "phrase" is a quoted bigram taken from generated text
SHAPES = [
    ["head"], ["mid", "mid"], ["phrase"], ["head", "mid", "tail"],
    ["tail"], ["head", "mid", "mid", "tail"], ["phrase", "mid"], ["head", "tail"],
]
# ranks the pool never uses: the warm-up query touches only these, so it
# leaves the caches cold for every pool query
WARMUP_RANKS = (7, 301, 4999)
WARMUP_QUERY = " ".join(vocab_term(r) for r in WARMUP_RANKS)


def make_query_pool(corpus: Corpus, n_bags: int, seed: int, upto: int) -> list[str]:
    """``n_bags`` distinct queries over documents ``[0, upto)``, shapes
    cycling through ``SHAPES``, terms drawn from the seed."""
    rng = random.Random(seed * 7919 + 1)
    warm = {vocab_term(r) for r in WARMUP_RANKS}

    def term(band):
        while True:
            t = vocab_term(rng.randrange(*BANDS[band]))
            if t not in warm:
                return t

    def bigram():
        while True:
            doc = corpus.docs["content"].iat[rng.randrange(upto)]
            toks = [t for t in doc.split(" ") if t.startswith("zw")]
            p = rng.randrange(len(toks) - 1)
            if not warm & {toks[p], toks[p + 1]}:
                return f'"{toks[p]} {toks[p + 1]}"'

    pool: list[str] = []
    while len(pool) < n_bags:
        shape = SHAPES[len(pool) % len(SHAPES)]
        q = " ".join(bigram() if b == "phrase" else term(b) for b in shape)
        if q not in pool:
            pool.append(q)
    return pool


def make_stream(pool: list[str], n: int) -> list[tuple[str, int]]:
    """``n`` (query, k) requests, k in {10, 50}: Zipf(1.1)-popular picks
    from ``pool`` so head queries repeat and tail queries mostly appear
    once. The pick pattern is fixed; the seed only chooses the pool's
    terms, so every seed sends the same mix of shapes and repeats."""
    rng = np.random.RandomState(20240917)
    w = 1.0 / np.arange(1, len(pool) + 1) ** 1.1
    picks = rng.choice(len(pool), size=n, p=w / w.sum())
    ks = rng.choice([10, 50], size=n)
    return [(pool[int(i)], int(k)) for i, k in zip(picks, ks)]
