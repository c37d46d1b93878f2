"""Deterministic synthetic corpus generator (FIXTURES.md).

Pure function of seed=42. Produces the canonical Iceberg-shaped
``documents(repo, path, commit, lang, content)`` table with:

  - ~Zipfian token frequencies over a 500-word vocabulary
  - 3 hot terms (df ~ 80% of docs) — exercises skew salting
  - 20 rare terms (df = 1 each)
  - phrase plants ("hash table probe", "hash table") at known positions
  - ``@link{repo/path}`` markers driving the link graph: intra-repo star
    + cross-repo edges, ~5% dangling targets, one 3-node cycle
  - a title-vs-body term ("navigator") present only in paths of some
    docs and only in content of others
  - one pair of byte-identical docs (tie-break determinism + exact dedup)

Scale points: tiny=64, small=1000, bench=50000 docs.
"""

from __future__ import annotations

import hashlib
import random

import pandas as pd

HOT_TERMS = ["dispatch", "buffer", "kernel"]  # df ~ 80%, never stopwords
RARE_TERMS = ["zyzzyva"] + [f"rareword{i:02d}" for i in range(1, 20)]
PHRASE_3 = ["hash", "table", "probe"]
PHRASE_2 = ["hash", "table"]
TITLE_BODY_TERM = "navigator"

_SYLLABLES = [
    "par", "ser", "tok", "len", "ver", "mod", "gen", "ran", "dat", "fil",
    "net", "mem", "reg", "cal", "win", "str", "num", "vec", "map", "set",
]
_REAL_WORDS = [
    "parse", "parser", "parsing", "parsed", "flush", "flushing", "merge",
    "merged", "merging", "sort", "sorted", "sorting", "scan", "scanner",
    "index", "indexes", "indexing", "query", "queries", "compile",
    "compiler", "compiled", "run", "running", "runner", "connect",
    "connection", "connected", "nationally", "rational", "generate",
    "generated", "generation", "happily", "dying", "flying", "crying",
    "beautiful", "activate", "activity", "argument", "arguing",
    "probe", "hash", "table", "stream", "batch", "shard", "token",
    "stemmer", "posting", "ranked", "ranking", "search", "searched",
]


def _vocab() -> list[str]:
    """500-word vocabulary, deterministic."""
    rng = random.Random(4242)
    vocab: list[str] = list(dict.fromkeys(_REAL_WORDS))
    while len(vocab) < 500 - len(HOT_TERMS) - len(RARE_TERMS) - 1:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
        if w not in vocab:
            vocab.append(w)
    return vocab


_EXT = {"py": "py", "go": "go", "js": "js", "java": "java", "md": "md"}
_LANGS = ["py", "go", "js", "java", "md"]
_DIRS = ["src", "lib", "pkg", "core", "util", "io", "net", "internal"]


def _repo(i: int) -> str:
    return f"org{i % 7}/repo{i % 23}"


def _path(i: int, rng: random.Random, lang: str) -> str:
    depth = rng.randint(1, 4)
    parts = [rng.choice(_DIRS) for _ in range(depth - 1)]
    stem_word = rng.choice(_SYLLABLES) + rng.choice(_SYLLABLES)
    # title-vs-body docs (i % 29 == 0): term appears in the path only
    if i % 29 == 0:
        stem_word = TITLE_BODY_TERM
    parts.append(f"{stem_word}_{i}.{_EXT[lang]}")
    return "/".join(parts)


def make_documents(n_docs: int = 1000, seed: int = 42) -> pd.DataFrame:
    vocab = _vocab()
    zipf_weights = [1.0 / (r + 1) for r in range(len(vocab))]
    rows = []
    meta = []  # (repo, path) per doc for link targets
    rng_meta = random.Random(seed)
    for i in range(n_docs):
        lang = _LANGS[i % 5]
        repo = _repo(i)
        path = _path(i, rng_meta, lang)
        meta.append((repo, path))

    for i in range(n_docs):
        rng = random.Random((seed << 20) + i)
        repo, path = meta[i]
        lang = _LANGS[i % 5]
        n_tokens = rng.randint(50, 400)
        toks = rng.choices(vocab, weights=zipf_weights, k=n_tokens)
        # hot terms: df ~ 80%
        for h_idx, hot in enumerate(HOT_TERMS):
            if rng.random() < 0.8:
                n_occ = rng.randint(1, 5)
                for _ in range(n_occ):
                    toks.insert(rng.randrange(len(toks) + 1), hot)
        # rare terms: term j lives only in doc j*37+5
        for j, rare in enumerate(RARE_TERMS):
            if i == (j * 37 + 5) % max(n_docs, len(RARE_TERMS) * 38):
                toks.insert(rng.randrange(len(toks) + 1), rare)
        # phrase plants at known spots
        if i % 11 == 0:
            p = rng.randrange(len(toks) + 1)
            toks[p:p] = PHRASE_3
        if i % 13 == 0:
            p = rng.randrange(len(toks) + 1)
            toks[p:p] = PHRASE_2
        # title-vs-body: body-only occurrences in i % 31 == 1 docs
        if i % 31 == 1:
            toks.insert(rng.randrange(len(toks) + 1), TITLE_BODY_TERM)
        # link markers: star + cross-repo + dangling + one 3-cycle
        markers = []
        if i % 6 == 0 and n_docs > 1:
            j = (i * 7 + 3) % n_docs
            if j != i:
                markers.append(f"see also @link{{{meta[j][0]}/{meta[j][1]}}}")
        if i % 20 == 7:
            markers.append(f"ghost ref @link{{orgX/repoX/ghost_{i}.py}}")
        if n_docs >= 3 and i in (0, 1, 2):
            j = (i + 1) % 3
            markers.append(f"cycle hop @link{{{meta[j][0]}/{meta[j][1]}}}")
        for m in markers:
            toks.insert(rng.randrange(len(toks) + 1), m)
        content = " ".join(toks)
        # identical pair for tie-break/dedup: doc 41 mirrors doc 40
        rows.append((repo, path, "", lang, content))

    if n_docs > 41:
        r40 = rows[40]
        rows[41] = (rows[41][0], rows[41][1], "", r40[3], r40[4])

    df = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    df["commit"] = [
        hashlib.md5(f"{r}:{p}:0".encode()).hexdigest()[:12]
        for r, p in zip(df["repo"], df["path"])
    ]
    return df


REFERENCE_QUERIES: list[tuple[int, str, str]] = [
    (1, "parse", "single-term"),
    (2, "parse buffer flush", "multi-term"),
    (3, "dispatch", "hot-term"),
    (4, "zyzzyva", "rare-term"),
    (5, '"hash table probe"', "phrase"),
    (6, '"hash table" flush', "phrase+terms"),
    (7, "the and of", "stopword-only"),
    (8, "qqqqqq", "no-hit"),
    (9, "navigator", "title-vs-body"),
    (10, "sorted merge", "tie-break"),
]


def make_zipf_documents(
    spark,
    n_docs: int,
    vocab_size: int = 20000,
    s: float = 1.1,
    seed: int = 1117,
    min_len: int = 50,
    max_len: int = 400,
):
    """Driver-shaped corpus (doc_id, text, lang, source, n_chars) with a
    REALISTIC heavy-tailed vocabulary: ``vocab_size`` terms drawn
    Zipf(s). The driver's uniform 24-word corpus can't exercise block-max
    skipping or delta-merge pass-through (every delta touches every hot
    group); this one can — it's the bench corpus for the at-scale claims
    (BASELINE.md round-3 "what a Zipf corpus would show" notes).

    Distributed generation: spark.range -> mapInPandas, one numpy RNG per
    doc keyed off (seed, doc_id), so the corpus is a pure function of its
    arguments at any parallelism."""
    import numpy as np
    import pandas as pd  # noqa: F811 (worker-side import)

    def gen(batches):
        probs = 1.0 / np.arange(1, vocab_size + 1) ** s
        probs /= probs.sum()
        vocab = np.array([f"zw{j:05d}" for j in range(vocab_size)], dtype=object)
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            texts = []
            for did in ids:
                rng = np.random.RandomState(
                    (seed * 2_654_435_761 + int(did)) % (2**31 - 1)
                )
                n = min_len + int(rng.randint(0, max_len - min_len))
                texts.append(" ".join(vocab[rng.choice(vocab_size, size=n, p=probs)]))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "text": texts,
                    "lang": ["en"] * len(ids),
                    "source": ["zipf"] * len(ids),
                    "n_chars": [len(t) for t in texts],
                }
            )

    n_parts = max(int(spark.sparkContext.defaultParallelism), 8)
    return (
        spark.range(n_docs)
        .repartition(n_parts)
        .mapInPandas(
            gen,
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    )
