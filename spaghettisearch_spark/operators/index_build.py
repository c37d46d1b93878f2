"""Inverted-index construction as grouped DataFrame aggregations.

Replaces the reference's per-word read-modify-write posting build under a
global mutex (/root/reference/indexer/indexer.go:138-156,350-408 — the
single-writer bottleneck) with shuffle-based aggregation: tokenize ->
posexplode -> groupBy.  No RMW, no lock; Catalyst plans partial+final
hash aggregation with map-side combine automatically.

Index tables produced (SURVEY.md §1.3):

    tokens       (doc_id, field, pos, term)           intermediate, one shuffle source
    postings     (term, field, doc_id, tf, positions, weight, df, dl,
                 bm25_weight)                         normalized rows
    doc_stats    (doc_id, field, dl)                  BM25 doc length
    term_stats   (term, field, df)                    document frequency
    corpus_stats (field, n_docs, avgdl)               tiny, broadcastable
    vocab        (term_id, term)                      reference forw[0]
                 (build_pipeline's table; build_vocab)
    doc_norms    (doc_id, field, magnitude)           reference forw[4],
                 tf-idf cosine mode (term_weighting.go:44,59-123)

Field model: ``title`` = path tokens + inbound anchor terms (anchor-text
crediting, reference indexer/indexer.go:163-299), ``body`` = content
tokens.  Anchor terms carry position -1 (the reference uses sentinel
-100 mixed into real positions, parser.go:203 — we keep them separable
so phrase matching never sees sentinel positions).

Scale notes: the tokens explosion is doc-partitioned (no skew — a doc's
size bounds its group); the only term-keyed shuffles are the df
aggregation (partial+final combine keeps hot-term traffic at
n_partitions rows) and the shard build (compression.py, which salts hot
terms explicitly).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..functions.hashing import term_id_col
from ..functions.stem_udf import stemmed
from ..functions.tokenize import tokenize_col

FIELD_TITLE = "title"
FIELD_BODY = "body"


def bm25_idf(df, n_docs, log=np.log):
    """BM25 idf = ln(1 + (N - df + 0.5) / (df + 0.5)). With
    bm25_tf_norm, the one BM25 formula: the same float64 operations in
    the same order on Spark columns (``log=F.log``), numpy arrays and
    Python floats, so the exhaustive scorer, the shard decode and the
    skip planner agree to the last bit."""
    return log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_tf_norm(tf, dl, avgdl, k1: float, b: float):
    """BM25 tf saturation with length normalisation:
    tf (k1 + 1) / (tf + k1 (1 - b + b dl / avgdl)). It rises with tf
    and falls with dl, so a posting set's best posting under any
    statistics is one of its Pareto (tf, dl) pairs."""
    return (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))


def bm25_weight_col(cfg: EngineConfig, stats: dict) -> F.Column:
    """Per-posting BM25 weight of (field, tf, df, dl) rows, with each
    field's (n_docs, avgdl) from ``stats`` ({field: (n_docs, avgdl)})."""
    weight = None
    for field, (n_docs, avgdl) in stats.items():
        w = bm25_idf(F.col("df"), float(n_docs), F.log) * bm25_tf_norm(
            F.col("tf"), F.col("dl"), float(avgdl), cfg.k1, cfg.b
        )
        on = F.col("field") == field
        weight = F.when(on, w) if weight is None else weight.when(on, w)
    return weight


@dataclass(frozen=True)
class CorpusStats:
    """The live BM25 statistics a shard query scores with: per field the
    doc count and summed doc length (avgdl = sum_dl / n_docs, as
    build_corpus_stats), and per field the dense doc-length vector
    indexed by doc_key: a Broadcast of {field: float64 vector} (the
    serving engine's, one per cards version) or that dict itself.
    Document frequencies are not here: a query sums its terms' block
    dfs (scoring)."""

    n_docs: dict
    sum_dl: dict
    dl: object

    def avgdl(self, field: str) -> float:
        return self.sum_dl[field] / self.n_docs[field]

    def lengths(self) -> dict:
        return self.dl.value if isinstance(self.dl, Broadcast) else self.dl

    def scoring(self, meta_rows: list, cfg: EngineConfig) -> "Bm25Scoring":
        """The scoring of a query whose terms' block-metadata rows are
        ``meta_rows``: idf per (term, field) from the summed block df."""
        df: dict = {}
        for r in meta_rows:
            key = (r["term"], r["field"])
            df[key] = df.get(key, 0) + int(r["df"])
        idf = {
            key: bm25_idf(float(d), float(self.n_docs[key[1]]), math.log)
            for key, d in df.items()
        }
        return Bm25Scoring(self, idf, cfg.k1, cfg.b)


@dataclass(frozen=True)
class Bm25Scoring:
    """Per-query plan data of a shard decode: the statistics, the query
    terms' idf and k1/b. Picklable; the doc lengths travel as the
    statistics' Broadcast."""

    stats: CorpusStats
    idf: dict
    k1: float
    b: float

    def doc_lengths(self, fields, counts, keys) -> np.ndarray:
        """dl of each doc_key, in blocks of ``counts`` keys of one field
        each (``fields`` names the blocks' fields)."""
        rows = np.repeat(np.asarray(fields, dtype=object), counts)
        keys = np.asarray(keys, dtype=np.int64)
        lens = self.stats.lengths()
        out = np.empty(len(rows), dtype=np.float64)
        for f in set(fields):
            sel = rows == f
            out[sel] = lens[f][keys[sel]]
        return out

    def weights(self, terms, fields, counts, tf, dl) -> np.ndarray:
        """BM25 weight of (tf, dl) rows, in blocks of ``counts`` rows of
        one (term, field) each: a decoded block's postings, a sample, or
        a block's impact pairs."""
        idf = [self.idf[(t, f)] for t, f in zip(terms, fields)]
        avgdl = [self.stats.avgdl(f) for f in fields]
        return np.repeat(np.asarray(idf, dtype=np.float64), counts) * bm25_tf_norm(
            np.asarray(tf, dtype=np.float64), np.asarray(dl, dtype=np.float64),
            np.repeat(np.asarray(avgdl, dtype=np.float64), counts), self.k1, self.b,
        )


def require_stats(stats, caller: str) -> CorpusStats:
    """``stats``, or a ValueError naming ``caller``'s missing argument."""
    if stats is None:
        raise ValueError(
            f"{caller} needs stats= (index_build.CorpusStats): it scores "
            "postings with the live statistics"
        )
    return stats


def collect_corpus_stats(
    spark: SparkSession, doc_stats: DataFrame, doc_map: DataFrame
) -> CorpusStats:
    """CorpusStats of an index for a direct caller of the shard paths:
    ``doc_stats`` (doc_id, field, dl) keyed through ``doc_map`` (doc_key,
    doc_id), n_docs the map's size, as build_corpus_stats counts it."""
    n = doc_map.count()
    pdf = doc_stats.join(doc_map, "doc_id").select("doc_key", "field", "dl").toPandas()
    vecs, sums = {}, {}
    for f, g in pdf.groupby("field"):
        vecs[f] = np.zeros(n, dtype=np.float64)
        vecs[f][g["doc_key"].to_numpy(np.int64)] = g["dl"].to_numpy(np.float64)
        sums[f] = int(g["dl"].sum())
    return CorpusStats({f: n for f in vecs}, sums, spark.sparkContext.broadcast(vecs))


@dataclass
class Index:
    """Handles to the index tables (lazy DataFrames or loaded parquet).
    ``persisted``: the frames build_index persisted, released by
    ``unpersist``."""

    tokens: DataFrame
    postings: DataFrame
    doc_stats: DataFrame
    term_stats: DataFrame
    corpus_stats: DataFrame
    doc_norms: DataFrame
    doc_meta: DataFrame
    persisted: tuple = ()

    def unpersist(self) -> None:
        for frame in self.persisted:
            frame.unpersist()


def tokenize_fields(
    corpus: DataFrame,
    cfg: EngineConfig = DEFAULT,
    links: DataFrame | None = None,
) -> DataFrame:
    """Canonical corpus -> tokens(doc_id, field, pos, term).

    Positions index the post-stopword-filter token stream per field
    (matching reference parser.go:195-207, which numbers Laundry output).
    Anchor terms from inbound links land in the title field with pos -1.
    """
    def toks(col: str):
        t = tokenize_col(col, remove_stopwords=cfg.remove_stopwords)
        return stemmed(t) if cfg.stem else t

    fields = corpus.select(
        "doc_id",
        toks("path").alias(FIELD_TITLE),
        toks("content").alias(FIELD_BODY),
    )
    # one row per (doc, field): stack, then posexplode the token array
    stacked = fields.select(
        "doc_id",
        F.expr(
            f"stack(2, '{FIELD_TITLE}', {FIELD_TITLE}, '{FIELD_BODY}', {FIELD_BODY}) "
            "as (field, toks)"
        ),
    )
    tokens = stacked.select(
        "doc_id", "field", F.posexplode("toks").alias("pos", "term")
    )

    if links is not None:
        # anchor-text crediting: terms of inbound anchors become title-field
        # tokens of the *target* doc (reference indexer.go:163-299). The
        # groupBy(dst) replaces the reference's child-DocInfo RMW.
        # Dangling targets get no credit (unlike the reference, which
        # pre-creates DocInfo for uncrawled children — meaningless for a
        # static corpus); they still join the PageRank node set.
        if "dst_exists" in links.columns:
            links = links.filter(F.col("dst_exists"))
        anchors = (
            links.select(
                F.col("dst_doc").alias("doc_id"),
                F.explode("anchor_terms").alias("term"),
            )
            .select("doc_id", F.lit(FIELD_TITLE).alias("field"),
                    F.lit(-1).alias("pos"), "term")
        )
        tokens = tokens.unionByName(anchors)
    return tokens


def build_postings(tokens: DataFrame) -> DataFrame:
    """tokens -> postings(term, field, doc_id, tf, positions).

    Grouped by (doc_id, field, term): group size is bounded by document
    length, so this aggregation has no term-frequency skew regardless of
    how hot a term is corpus-wide.  Anchor sentinel positions (-1) count
    toward tf but are excluded from the phrase-position list.
    """
    return (
        tokens.groupBy("term", "field", "doc_id")
        .agg(
            F.count("*").cast("int").alias("tf"),
            F.sort_array(
                F.collect_list(F.when(F.col("pos") >= 0, F.col("pos")))
            ).alias("positions"),
        )
    )


def build_doc_stats(tokens: DataFrame) -> DataFrame:
    """(doc_id, field, dl) — BM25 document length (token count incl.
    anchors). Docs whose field tokenizes to nothing have NO row here
    (they'd match no posting anyway); whole-collection averaging is
    handled in build_corpus_stats via sum(dl)/n_docs."""
    return tokens.groupBy("doc_id", "field").agg(
        F.count("*").cast("long").alias("dl")
    )


def build_term_stats(postings: DataFrame) -> DataFrame:
    """(term, field, df) — postings already hold one row per (term, doc),
    so df is a plain count, with map-side partial aggregation."""
    return postings.groupBy("term", "field").agg(
        F.count("*").cast("long").alias("df")
    )


def build_corpus_stats(corpus: DataFrame, doc_stats: DataFrame) -> DataFrame:
    """(field, n_docs, avgdl).  n_docs is the corpus size (reference counts
    the rank table, ranking/term_weighting.go:12-17).

    avgdl = sum(dl) / n_docs, NOT avg over doc_stats rows: empty /
    all-stopword docs have no doc_stats row but still belong to the
    collection, and both oracles (DuckDB AVG(len(toks)) over all
    documents; the pandas oracle) include them. Zero-dl docs add 0 to
    the sum, so dividing by the full corpus count is exactly the
    whole-collection mean — no scaffold join needed."""
    n_docs = corpus.count()
    return doc_stats.groupBy("field").agg(
        F.lit(n_docs).cast("long").alias("n_docs"),
        (F.sum("dl") / F.lit(float(n_docs))).alias("avgdl"),
    )


def build_vocab(postings: DataFrame) -> DataFrame:
    """(term_id, term) — reference forw[0] WordHash_word (database.go:116)."""
    return (
        postings.select("term")
        .distinct()
        .select(term_id_col("term").alias("term_id"), "term")
    )


def build_tfidf_weights(postings: DataFrame, n_docs: int) -> DataFrame:
    """Reference-exact term weighting of postings that carry their
    term's ``df``: adds ``weight`` = normTF * idf.

    normTF = tf / maxTF(doc,field)      (indexer.go:362, getMaxFreq 410-418)
    idf    = log2(N / df)               (term_weighting.go:37)

    maxTF via a window over (doc_id, field) — map-side-combinable and
    doc-bounded, no skew. A plan that replaces ``weight`` (the shard
    encoder's) prunes the window.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id", "field")
    return postings.withColumn(
        "weight",
        (F.col("tf") / F.max("tf").over(w))
        * F.log2(F.lit(float(n_docs)) / F.col("df")),
    )


def build_weighted_postings(
    postings: DataFrame,
    term_stats: DataFrame,
    doc_stats: DataFrame,
    stats_rows: list,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """postings -> (doc_id, field, term, tf, positions, weight, df, dl,
    bm25_weight): the tf-idf ``weight`` and the BM25 ``bm25_weight``
    of the exhaustive scorer, from ONE term_stats join (df) and one
    doc_stats join (dl), with each field's (n_docs, avgdl) from
    ``stats_rows`` (the collected corpus_stats)."""
    bm25 = (
        postings.join(term_stats, ["term", "field"])
        .join(doc_stats, ["doc_id", "field"])
        .withColumn("bm25_weight", bm25_weight_col(cfg, {
            r["field"]: (r["n_docs"], r["avgdl"]) for r in stats_rows
        }))
    )
    return build_tfidf_weights(bm25, int(stats_rows[0]["n_docs"])).select(
        "doc_id", "field", "term", "tf", "positions", "weight", "df", "dl",
        "bm25_weight",
    )


def build_doc_norms(weighted_postings: DataFrame) -> DataFrame:
    """(doc_id, field, magnitude) = sqrt(sum weight^2) — reference
    forw[4] DocHash_magnitude (term_weighting.go:44,59-123)."""
    return weighted_postings.groupBy("doc_id", "field").agg(
        F.sqrt(F.sum(F.pow(F.col("weight"), F.lit(2.0)))).alias("magnitude")
    )


def build_doc_meta(corpus: DataFrame, tokens: DataFrame, top_n: int = 5) -> DataFrame:
    """doc_meta — reference forw[1] DocHash_docInfo (noschema_schema.go:34-44):
    metadata + top-N most frequent words (result-card payload,
    retrieval/util.go:116-149 keeps 5)."""
    freqs = (
        tokens.filter(F.col("field") == FIELD_BODY)
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("int").alias("freq"))
    )
    top_words = (
        freqs.groupBy("doc_id")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct(F.col("freq"), F.col("term"))),
                    asc=False,
                ),
                1,
                top_n,
            ).alias("top")
        )
        .select(
            "doc_id",
            F.map_from_entries(
                F.transform("top", lambda s: F.struct(s["term"], s["freq"]))
            ).alias("top_words"),
        )
    )
    return corpus.select(
        "doc_id", "repo", "path", "commit", "lang", "content_sha256",
        F.length("content").cast("long").alias("page_size"),
    ).join(top_words, "doc_id", "left")


def build_index(
    corpus: DataFrame,
    cfg: EngineConfig = DEFAULT,
    links: DataFrame | None = None,
    persist: bool = True,
) -> Index:
    """Run the full logical build.

    ``persist=True`` (in-memory/bench path) persists the two frames every
    downstream table derives from — ``tokens`` (tokenize+stem is the
    dominant cost; without this it runs once per consumer) and
    ``postings`` — with MEMORY_AND_DISK so the build is one tokenize
    pass, not three. The 100 TB path doesn't cache: each stage
    materializes to parquet instead (plans/build_pipeline.py), which is
    the same dedup of work with durability.
    """
    from pyspark import StorageLevel

    # ONE exchange for every doc-keyed consumer (guide §2.4): hash-
    # partitioning by doc_id up front lets build_postings
    # (term, field, doc_id), build_doc_stats (doc_id, field),
    # build_doc_meta's freq/top-words aggregations and the max-tf
    # window (doc_id, field) all reuse this partitioning — previously
    # each of them re-shuffled the full token volume.
    # HashPartitioning(doc_id) satisfies every one of those clustering
    # requirements because doc_id is in each grouping key, and a doc's
    # tokens are bounded by document length, so the partitioning is
    # skew-free at any corpus size. Without anchor links the exchange
    # moves the RAW DOCUMENT rows and tokenization runs after it (narrow
    # — partitioning survives): content bytes are several times smaller
    # than the exploded token rows they become (guide §2.3, shuffle the
    # lightweight form). With links, the anchor union erases any
    # pre-union partitioning, so the exchange has to sit after it.
    if links is None:
        tokens = tokenize_fields(corpus.repartition("doc_id"), cfg, None)
    else:
        tokens = tokenize_fields(corpus, cfg, links).repartition("doc_id")
    if persist:
        tokens = tokens.persist(StorageLevel.MEMORY_AND_DISK)
    postings = build_postings(tokens)
    if persist:
        postings = postings.persist(StorageLevel.MEMORY_AND_DISK)
    doc_stats = build_doc_stats(tokens)
    term_stats = build_term_stats(postings)
    corpus_stats = build_corpus_stats(corpus, doc_stats)
    # BM25 weights of the exhaustive bm25.search reference (and the
    # impact order of the shard encoder): query-time scoring becomes
    # filter+broadcast-join+agg with NO stats joins. dl stays: the shard
    # encoder bounds blocks by their (tf, dl) pairs
    weighted = build_weighted_postings(
        postings, term_stats, doc_stats, corpus_stats.collect(), cfg
    )
    return Index(
        tokens=tokens,
        postings=weighted,
        doc_stats=doc_stats,
        term_stats=term_stats,
        corpus_stats=corpus_stats,
        doc_norms=build_doc_norms(weighted),
        doc_meta=build_doc_meta(corpus, tokens),
        persisted=(tokens, postings) if persist else (),
    )
