"""User-facing engine facade — the reference's server surface, parity-
shaped (/root/reference/cmd/server/server.go):

  POST /query          -> SearchEngine.query(q)      (server.go:32-52)
  GET /wordlist/{pre}  -> SearchEngine.wordlist(pre) (server.go:54-85)

``query`` returns the reference's result-card fields
(retrieval/util.go:56-92 resultFormat): url-analog (repo/path), title,
score components, top-5 words, top-5 parents/children, snippet.
A user of the reference can run every query they run today through this
class; rank semantics are covered by the oracle tests.
"""

from __future__ import annotations

import os
import tempfile
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import DEFAULT, EngineConfig
from .functions.snippets import make_summary_py
from .functions.tokenize import parse_query
from .operators.index_build import (
    FIELD_BODY,
    FIELD_TITLE,
    CorpusStats,
    build_index,
)
from .operators.links import extract_links
from .operators.pagerank import compute_pagerank
from .operators.wand import dense_vector
from .sources.corpus import ingest
from .sources.driver_read import read_back, read_rows, read_table, write_table

# doc_cards: one row per document, keyed and clustered by the dense
# doc_key — the reference's forward tables forw[1..4] (SURVEY §1) as one
# row: metadata, top words, PageRank, family, and the snippet source
CARD_META = [
    "repo", "path", "commit", "lang", "content_sha256", "page_size",
    "top_words",
]
CARD_COLS = [
    "doc_key", "doc_id", *CARD_META, "pagerank", "parents_anchors",
    "children_top5", "content",
]
# each doc's field lengths, the BM25 dl the engine scores with: stored
# after CARD_COLS, read whole into the broadcast doc-length vectors and
# never by the k-card read
FIELDS = (FIELD_TITLE, FIELD_BODY)
CARD_DL_COLS = [f"dl_{f}" for f in FIELDS]
# corpus_stats: one row per field, (field, n_docs, sum_dl)
STATS_SCHEMA = pa.schema(
    [("field", pa.string()), ("n_docs", pa.int64()), ("sum_dl", pa.int64())]
)
_FAMILY_TYPES = {
    "parents_anchors": "array<struct<parent:string,terms:array<string>>>",
    "children_top5": "array<string>",
}
# cards per parquet file / cached partition: a k-key lookup opens the
# few files whose doc_key range holds the keys (In pushdown on min/max)
CARDS_PER_FILE = 16384
# the top-k job's columns; query_df returns these, then CARD_META, then
# the snippet
_SCORE_COLS = ["title_rank", "body_rank", "pagerank", "score"]


def build_doc_cards(
    doc_map: DataFrame,
    corpus: DataFrame,
    doc_meta: DataFrame,
    doc_lengths: DataFrame,
    pagerank: DataFrame | None = None,
    links: DataFrame | None = None,
) -> DataFrame:
    """doc_cards rows for the (doc_key, doc_id) ``doc_map``: metadata and
    top words from ``doc_meta``, the snippet source from ``corpus``, the
    field lengths from ``doc_lengths`` (doc_id, field, dl, as
    index_build.build_doc_stats; 0 for a field without a row), PageRank
    (0 without a vector) and the family from ``links``
    (incremental.family_top5, null without links). Left joins from the
    map, so every key gets exactly one card."""
    dls = (
        doc_lengths.groupBy("doc_id")
        .pivot("field", list(FIELDS))
        .agg(F.first("dl"))
        .select("doc_id", *[F.col(f).alias(f"dl_{f}") for f in FIELDS])
    )
    cards = (
        doc_map.select("doc_key", "doc_id")
        .join(doc_meta.select("doc_id", *CARD_META), "doc_id", "left")
        .join(corpus.select("doc_id", "content"), "doc_id", "left")
        .join(dls, "doc_id", "left")
        .fillna(0, CARD_DL_COLS)
    )
    if pagerank is None:
        cards = cards.withColumn("pagerank", F.lit(0.0))
    else:
        cards = cards.join(
            pagerank.select("doc_id", F.col("rank").alias("pagerank")),
            "doc_id", "left",
        ).fillna(0.0, ["pagerank"])
    if links is None:
        for c, t in _FAMILY_TYPES.items():
            cards = cards.withColumn(c, F.lit(None).cast(t))
    else:
        from .operators.incremental import family_top5

        cards = cards.join(
            family_top5(links).select("doc_id", *_FAMILY_TYPES), "doc_id", "left"
        )
    return cards.select(
        *CARD_COLS, *[F.col(c).cast("long") for c in CARD_DL_COLS]
    )


def _store_cards(
    spark: SparkSession, cards: DataFrame, n: int, path: str,
    mode: str = "overwrite",
) -> tuple[DataFrame, list[str]]:
    """Cluster ``n`` card rows by doc_key (one file per CARDS_PER_FILE
    keys, sorted within), write them to ``path`` as zstd parquet and
    return the read-back frame with its file listing — the files the
    engine's driver-side card reads open."""
    n_files = max(1, -(-n // CARDS_PER_FILE))
    cards.repartition(
        n_files, F.floor(F.col("doc_key") / CARDS_PER_FILE)
    ).sortWithinPartitions("doc_key").write.mode(mode).option(
        "compression", "zstd"
    ).parquet(path)
    return read_back(spark, path)


def _stats_file(warehouse_dir: str) -> str:
    """The one file of the ``corpus_stats`` table (absolute: the driver
    reads and writes it through pyarrow.fs)."""
    path = f"{warehouse_dir}/corpus_stats/part-00000.parquet"
    return path if "://" in path else os.path.abspath(path)


def _store_stats(warehouse_dir: str, totals: dict) -> None:
    """Write the ``corpus_stats`` table: {field: (n_docs, sum_dl)}, one
    row per field, replacing the previous file."""
    fields = sorted(totals)
    write_table(_stats_file(warehouse_dir), pa.table({
        "field": fields,
        "n_docs": [int(totals[f][0]) for f in fields],
        "sum_dl": [int(totals[f][1]) for f in fields],
    }, schema=STATS_SCHEMA))


class _Phases:
    """The build's phases. ``start`` runs one on a driver thread that
    inherits the caller's Spark local properties (its job group
    included), ``run`` runs one on the calling thread; either way the
    phase's jobs go to the FAIR pool named after it (session.py) and
    its interval, in seconds from the build's start, goes to
    ``profile``. Leaving the ``with`` block joins every phase thread, so
    a phase's error leaves ``build`` only once no phase runs; a phase
    that failed is raised by the next ``start`` or ``run``."""

    def __init__(self, spark: SparkSession, width: int):
        self.spark = spark
        self.t0 = time.perf_counter()
        self.profile: dict = {}
        self._threads = ThreadPoolExecutor(width, thread_name_prefix="build")
        self._started: list[Future] = []

    def __enter__(self) -> "_Phases":
        return self

    def __exit__(self, *exc) -> None:
        self._threads.shutdown(wait=True)

    def _timed(self, name: str, fn, *args):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.scheduler.pool")
        sc.setLocalProperty("spark.scheduler.pool", name)
        start = time.perf_counter() - self.t0
        try:
            return fn(*args)
        finally:
            self.profile[name] = {
                "pool": name, "start_s": start,
                "end_s": time.perf_counter() - self.t0,
            }
            sc.setLocalProperty("spark.scheduler.pool", prev)

    def _raise_failed(self) -> None:
        for run in self._started:
            if run.done():
                run.result()

    def start(self, name: str, fn, *args) -> Future:
        self._raise_failed()
        run = self._threads.submit(
            inheritable_thread_target(self.spark)(self._timed), name, fn, *args
        )
        self._started.append(run)
        return run

    def run(self, name: str, fn, *args):
        self._raise_failed()
        return self._timed(name, fn, *args)


@dataclass
class SearchEngine:
    """The serving engine. A query is one Spark job, the top-k job (k
    rows of key + score parts, PageRank folded into the bucket kernel).
    The driver reads the rest itself with pyarrow, from the files the
    read-back frames list (sources.driver_read): the block metadata of
    first-seen query terms (then kept in ``meta_cache``) and the k
    result cards, whose snippets it computes from the card's content.
    Posting decode, scoring and the top-k stay in Spark. A WAND bag
    whose planned decode volume fits one task
    (``cfg.query_target_postings_per_task``) runs its top-k job as one
    stage of one task, decoding and scoring in one Python pass; larger
    plans shuffle postings to the bucket kernel, and phrase and non-WAND
    queries do so at any size.

    Every engine serves from one warehouse: ``posting_shards``
    (partitionBy("shard") zstd parquet) and ``doc_cards`` (CARD_COLS,
    one row per doc, clustered by the dense doc_key), written at build
    under ``warehouse_dir``, or under a temporary directory the engine
    owns when none is given. ``doc_map`` is the cards' (doc_key, doc_id)
    projection. The PageRank vectors (global and per topic) are dense
    float64 arrays indexed by doc_key, broadcast once per cards version
    and swapped by reference, so a running query keeps the vector it
    started with. Scoring is BM25, computed when a query decodes the
    stored tfs, with the live statistics ``stats``: the ``corpus_stats``
    table's per-field (n_docs, sum_dl) and the cards' doc lengths,
    broadcast like PageRank; each term's df is the sum of its block
    dfs. ``bm25.search`` keeps the exhaustive scorer and its
    reference-exact ``tfidf_cosine`` mode."""

    spark: SparkSession
    cfg: EngineConfig = field(default_factory=lambda: DEFAULT)
    pagerank: DataFrame | None = None
    # (doc_id, category, rank) from operators.topics.compute_topic_pagerank
    topic_pagerank: DataFrame | None = None
    # the read-back posting_shards frame + the per-term block-metadata
    # cache a serving node keeps across queries
    shards: DataFrame | None = None
    doc_cards: DataFrame | None = None
    # the read-back frames' file listings (driver_read.read_back), taken
    # whenever the engine sets ``shards`` or ``doc_cards``: the driver
    # reads open exactly the files the frames' Spark jobs would. No
    # shard listing (a direct caller's frame) keeps the Spark metadata
    # scan.
    shard_files: list[str] | None = None
    card_files: list[str] = field(default_factory=list)
    # ONE shared cache: per-term block metadata is pagerank-invariant, so
    # every topic reuses the same term rows; only the cached PR blend
    # maximum is vector-specific (a stale pr_max under another topic's
    # vector would break skip-planner admissibility), so that slot is
    # keyed per topic (pr_max_key=_PR_MAX_KEY + ":" + topic)
    meta_cache: dict = field(default_factory=dict)
    # parquet warehouse root: shards are served from the
    # partitionBy("shard") read-back frame — partition pruning +
    # column-pruned metadata reads, and the substrate apply_merge
    # rewrites with dynamic partition overwrite, I/O bounded by the
    # touched shard partitions
    warehouse_dir: str | None = None
    n_docs: int = 0
    # {None: global, topic: that topic's} Broadcast PageRank vector
    pr_vectors: dict = field(default_factory=dict)
    # the live BM25 statistics (doc-length vectors broadcast once per
    # cards version), swapped by reference like pr_vectors
    stats: CorpusStats | None = None
    # the temporary warehouse of a build without ``warehouse_dir``:
    # every dataclasses.replace copy holds the same object, so the
    # directory is removed once the last copy is collected
    tmp_warehouse: tempfile.TemporaryDirectory | None = None
    # what ``build`` did: {"phases": {name: {"pool", "start_s", "end_s"}},
    # "total_s"}, offsets in seconds from the call
    build_profile: dict = field(default_factory=dict)

    # ------------------------------------------------------------------
    @classmethod
    def build(
        cls,
        spark: SparkSession,
        documents: DataFrame,
        cfg: EngineConfig = DEFAULT,
        with_pagerank: bool = True,
        topics: DataFrame | None = None,
        warehouse_dir: str | None = None,
    ) -> "SearchEngine":
        """One-call build from a raw (repo, path, commit, lang, content)
        frame — the reference's ./bin/crawl analog for a static corpus.
        ``topics`` (doc_id, category) additionally builds the
        topic-sensitive PageRank artifact, enabling query(..., topic=...)
        — the working version of the reference's dead topic-probability
        blend (its computeTopicProbs is a no-op, SURVEY.md §3.1).

        Writes the warehouse — the compressed shards as
        partitionBy("shard") zstd parquet and ``doc_cards`` (the family
        aggregated here, once) as zstd parquet — under ``warehouse_dir``,
        or under a temporary directory owned by the engine (removed with
        its last copy) when it is None, and SERVES from the read-back
        frames: queries partition-prune to the query terms' shard
        directories and read only the k result cards, and apply_merge
        rewrites only touched partitions in place. The per-field
        statistics go to ``corpus_stats`` (field, n_docs, sum_dl) and
        each doc's field lengths to its card. The build's in-memory
        index is released once the shards and cards are written.

        The phases form a DAG and independent ones run at once, on
        driver threads: after the (cached, lazy) ingest and link
        extraction, ``pagerank`` and ``doc_dim`` start on their own
        threads while the calling thread builds the ``index`` through its
        statistics collect. Once the index and doc_dim are ready,
        ``shards`` (encode and partitioned write) runs on a thread, and
        the calling thread waits for PageRank, starts ``topic_pagerank``
        (with ``topics``; it caches and unpersists PageRank's node and
        edge frames, so it does not run beside PageRank) and writes the
        ``cards`` and ``corpus_stats``. Each
        phase submits its jobs to the FAIR pool of its name (session.py;
        the caller's other jobs keep their pool) from a thread that
        inherits the caller's local properties, job group included. Every
        table is the same as a phase-by-phase build's. A phase's error
        is raised once every phase thread is joined: no thread outlives
        the call. The engine's ``build_profile`` holds each phase's pool
        and its start and end in seconds from the call, and the total.

        ``cfg.scorer`` must be "bm25": queries score the stored tfs with
        BM25. Any other scorer raises ValueError before any Spark job;
        the reference-exact ``tfidf_cosine`` is served by
        ``bm25.search``."""
        from .operators.compression import build_doc_dim, build_posting_shards

        if cfg.scorer != "bm25":
            raise ValueError(
                f"SearchEngine scores BM25, not "
                f"scorer={cfg.scorer!r}; use bm25.search for tfidf_cosine"
            )
        tmp = None
        if warehouse_dir is None:
            tmp = tempfile.TemporaryDirectory(prefix="warehouse-")
            warehouse_dir = tmp.name
        shards_path = f"{warehouse_dir}/posting_shards"
        corpus = ingest(documents).cache()
        links = extract_links(corpus, cfg).cache()

        def doc_dim_phase():
            dim = build_doc_dim(corpus).cache()
            return dim, dim.count()

        def shards_phase(idx, doc_dim, n_docs):
            # cluster by shard before the partitioned write (guide §6):
            # without this every upstream task writes its own file into
            # every shard directory (tasks x shards tiny files); clustered,
            # each directory holds one well-sized file and a term's pruned
            # scan opens ONE file instead of dozens
            build_posting_shards(
                idx.postings, n_docs, cfg,
                doc_dim=doc_dim, weight_col="bm25_weight",
            ).repartition("shard").write.mode("overwrite").option(
                "compression", "zstd"
            ).partitionBy("shard").parquet(shards_path)

        def cards_phase(idx, doc_dim, n_docs, pr):
            doc_map = doc_dim.select(F.col("doc_idx").alias("doc_key"), "doc_id")
            cards, files = _store_cards(
                spark,
                build_doc_cards(
                    doc_map, corpus, idx.doc_meta, idx.doc_stats, pr, links
                ),
                n_docs,
                f"{warehouse_dir}/doc_cards",
            )
            # the per-field totals of the cards' lengths, as
            # build_corpus_stats counts them (every doc, sum of dl)
            dl = read_table(files, CARD_DL_COLS)
            _store_stats(warehouse_dir, {
                f: (n_docs, pc.sum(dl[f"dl_{f}"]).as_py() or 0) for f in FIELDS
            })
            return cards, files

        def topic_phase():
            from .operators.topics import compute_topic_pagerank

            return compute_topic_pagerank(spark, corpus, links, topics, cfg).cache()

        # the phase DAG: PageRank, doc_dim and the index start together;
        # shards need the index and doc_dim, cards the index, doc_dim and
        # PageRank. Its width: the doc_dim thread (then shards) and the
        # PageRank thread (then topic PageRank)
        with _Phases(spark, 1 + bool(with_pagerank or topics is not None)) as ph:
            pr_run = ph.start(
                "pagerank",
                lambda: compute_pagerank(spark, corpus, links, cfg).cache(),
            ) if with_pagerank else None
            dim_run = ph.start("doc_dim", doc_dim_phase)
            idx = ph.run("index", lambda: build_index(corpus, cfg, links=links))
            doc_dim, n_docs = dim_run.result()
            shards_run = ph.start("shards", shards_phase, idx, doc_dim, n_docs)
            pr = pr_run.result() if pr_run else None
            # after PageRank: both PageRank operators cache, then
            # unpersist, the same node and edge frames
            tpr_run = (
                ph.start("topic_pagerank", topic_phase) if topics is not None
                else None
            )
            doc_cards, card_files = ph.run(
                "cards", cards_phase, idx, doc_dim, n_docs, pr
            )
            shards_run.result()
            tpr = tpr_run.result() if tpr_run else None
        # serve from the read-back frame: queries prune to the terms'
        # shard partitions and read only the metadata / requested
        # payload columns
        shards, shard_files = read_back(spark, shards_path)
        doc_dim.unpersist()
        # the shards and cards hold everything queries read of these
        idx.unpersist()
        corpus.unpersist()
        links.unpersist()
        eng = cls(
            spark=spark, cfg=cfg, pagerank=pr, topic_pagerank=tpr,
            shards=shards, doc_cards=doc_cards, warehouse_dir=warehouse_dir,
            n_docs=n_docs, shard_files=shard_files, card_files=card_files,
            tmp_warehouse=tmp,
        )
        eng.pr_vectors = eng._build_pr_vectors()
        eng.stats = eng._build_stats()
        eng.build_profile = {
            "phases": ph.profile, "total_s": time.perf_counter() - ph.t0,
        }
        return eng

    @property
    def doc_map(self) -> DataFrame | None:
        """(doc_key, doc_id): the dense document dimension."""
        if self.doc_cards is None:
            return None
        return self.doc_cards.select("doc_key", "doc_id")

    def _build_pr_vectors(self) -> dict:
        """Dense doc_key-indexed PageRank vectors from the current cards
        (global, read on the driver) and the topic artifact, each
        broadcast once. Called at build and whenever the cards change —
        never from query threads."""
        tables = {}
        if self.pagerank is not None:
            t = read_table(self.card_files, ["doc_key", "pagerank"])
            tables[None] = dense_vector(
                t["doc_key"].to_numpy(), t["pagerank"].to_numpy(), self.n_docs
            )
        if self.topic_pagerank is not None:
            pdf = (
                self.topic_pagerank.join(self.doc_map, "doc_id")
                .select("category", "doc_key", "rank").toPandas()
            )
            for topic, g in pdf.groupby("category"):
                tables[topic] = dense_vector(g["doc_key"], g["rank"], self.n_docs)
        bc = self.spark.sparkContext.broadcast
        return {t: bc(v) for t, v in tables.items()}

    def _build_stats(self) -> CorpusStats:
        """The live statistics: per-field (n_docs, sum_dl) from the
        ``corpus_stats`` table and the cards' field lengths as dense
        doc_key-indexed vectors, broadcast once. Read on the driver, at
        build and whenever the cards change — never from query
        threads."""
        totals = read_table(
            [_stats_file(self.warehouse_dir)], STATS_SCHEMA.names
        ).to_pylist()
        t = read_table(self.card_files, ["doc_key", *CARD_DL_COLS])
        keys = t["doc_key"].to_numpy()
        return CorpusStats(
            n_docs={r["field"]: r["n_docs"] for r in totals},
            sum_dl={r["field"]: r["sum_dl"] for r in totals},
            dl=self.spark.sparkContext.broadcast({
                f: dense_vector(keys, t[f"dl_{f}"].to_numpy(), self.n_docs)
                for f in FIELDS
            }),
        )

    # ------------------------------------------------------------------
    def _ranked(
        self,
        q: str,
        k: int | None,
        use_wand: bool,
        topic: str | None,
        backend: str,
    ) -> tuple[list, list, list]:
        """The top-k job: (its k rows keyed by doc_key, the query's free
        terms, its phrases)."""
        if backend != "shards":
            raise ValueError(
                f'unknown backend {backend!r}: the only backend is "shards"'
            )
        k = k or self.cfg.top_k
        terms, phrases = parse_query(q, self.cfg.remove_stopwords, self.cfg.stem)
        if topic is not None and self.topic_pagerank is None:
            raise ValueError("topic= requires a build(..., topics=...)")
        if self.shards is None:
            raise ValueError(
                "query needs posting shards: build the engine with "
                "SearchEngine.build"
            )
        if not terms and not phrases:
            return [], terms, phrases
        pr = self.pr_vectors.get(topic)
        if use_wand and not phrases:
            from .operators.wand import _PR_MAX_KEY, wand_topk_from_shards

            pr_key = _PR_MAX_KEY if topic is None else f"{_PR_MAX_KEY}:{topic}"
            topk = wand_topk_from_shards(
                self.spark, self.shards, None, terms, self.cfg,
                k=k, pagerank=pr,
                meta_cache=self.meta_cache, pr_max_key=pr_key,
                shard_files=self.shard_files, stats=self.stats,
                # planner decides per query whether the exact-floor wave
                # pays (kept posting volume vs
                # cfg.two_phase_auto_min_postings)
                two_phase="auto",
            )
        else:
            from .operators.bm25 import search_from_shards

            topk = search_from_shards(
                self.spark, self.shards, None, q, self.cfg,
                pagerank=pr, k=k,
                meta_cache=self.meta_cache,  # term dfs, decode sizing
                shard_files=self.shard_files, stats=self.stats,
            )
        return topk.collect(), terms, phrases

    def _with_cards(self, ranked: list, terms, phrases) -> list[dict]:
        """The card lookup: the k ranked rows' cards read on the driver
        from the card files (a doc_key filter prunes row groups),
        snippets computed here, rows in the final (score desc, doc_id
        asc) order — dense keys merged in by extend_doc_dim are not in
        doc_id order. Cards are read after the top-k job from the
        current listing; apply_merge appends cards before it publishes
        shards, so they cover every key the shards can rank."""
        if not ranked:
            return []
        if not self.card_files:
            raise ValueError("query needs doc_cards: build the engine with SearchEngine.build")
        keys = [r["doc_key"] for r in ranked]
        cards = {
            c["doc_key"]: c
            for c in read_rows(self.card_files, CARD_COLS, "doc_key", keys)
        }
        out = []
        for r in ranked:
            card = cards.get(r["doc_key"])
            if card is None:
                raise RuntimeError(f"no doc_cards row for doc_key={r['doc_key']!r}")
            content = card.pop("content")
            card.update({c: r[c] for c in _SCORE_COLS})
            card["snippet"] = (
                "" if content is None
                else make_summary_py(content, terms, phrases, self.cfg.stem)
            )
            out.append(card)
        out.sort(key=lambda d: (-d["score"], d["doc_id"]))
        return out

    def query_df(
        self,
        q: str,
        k: int | None = None,
        use_wand: bool = False,
        topic: str | None = None,
        backend: str = "shards",
    ) -> DataFrame:
        """Top-k as a DataFrame: (doc_id, title_rank, body_rank,
        pagerank, score, CARD_META..., snippet), in (score desc, doc_id
        asc) order. Runs the same top-k job and card read as ``query``
        and returns the finished rows. ``topic`` blends that category's
        PageRank vector instead of the global one (requires a build with
        topics=...). ``backend`` accepts only "shards", the one serving
        path (any other value raises ValueError); results equal the
        exhaustive ``bm25.search`` over an index of the same corpus
        (test_api)."""
        cards = self._with_cards(*self._ranked(q, k, use_wand, topic, backend))
        cols = ["doc_id", *_SCORE_COLS, *CARD_META, "snippet"]
        types = {
            f.name: f.dataType
            for f in (self.doc_cards.schema if self.doc_cards is not None else [])
        }
        schema = T.StructType([
            T.StructField(c, types.get(c) or (
                T.DoubleType() if c in _SCORE_COLS else T.StringType()
            ))
            for c in cols
        ])
        return self.spark.createDataFrame(
            [tuple(c[x] for x in cols) for c in cards], schema
        )

    def query(
        self,
        q: str,
        k: int | None = None,
        use_wand: bool = False,
        topic: str | None = None,
        backend: str = "shards",
    ) -> list[dict]:
        """Reference-JSON-shaped result cards (server.go:47-48 encodes
        []Rank_combined, incl. top-5 parents with their anchor terms and
        top-5 children — retrieval/util.go:56-92, get_metadata.go:237-266).
        ``backend`` accepts only "shards" (see ``query_df``)."""
        cards = self._with_cards(*self._ranked(q, k, use_wand, topic, backend))
        return [
            {
                "rank": rank,
                "doc_id": d["doc_id"],
                "url": f"{d['repo']}/{d['path']}",
                "title": d["path"],
                "final_rank": d["score"],
                "title_rank": d["title_rank"],
                "body_rank": d["body_rank"],
                "pagerank": d["pagerank"],
                "page_size": d["page_size"],
                "mod_date": d["commit"],
                "top_words": d["top_words"],
                "parents": d["parents_anchors"] or [],
                "children": d["children_top5"] or [],
                "snippet": d["snippet"],
                "content_sha256": d["content_sha256"],
            }
            for rank, d in enumerate(cards, 1)
        ]

    # ------------------------------------------------------------------
    # LSM maintenance on the parquet warehouse: apply_merge computes the
    # touched-partitions-only frame and rewrites JUST those shard
    # directories (dynamic partition overwrite), then re-points serving
    # at the read-back frame and drops the metadata cache (its block
    # rows are stale the moment the shards change).
    # ------------------------------------------------------------------
    def _overwrite_touched(self, frame, expect_shards=()) -> None:
        shards_path = f"{self.warehouse_dir}/posting_shards"
        # the touched frame READS shards_path (Spark refuses to overwrite
        # a path that feeds the writing plan): materialize it first —
        # bounded by the touched partitions, never the index
        frame = frame.localCheckpoint(eager=True)
        (
            # cluster by shard so each rewritten directory gets one
            # well-sized file (same §6 note as the initial build write)
            frame.repartition("shard")
            .write.mode("overwrite")
            .option("compression", "zstd")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard")
            .parquet(shards_path)
        )
        if expect_shards:
            # dynamic overwrite only rewrites partitions PRESENT in the
            # written data — a touched partition whose merged output is
            # EMPTY (tombstones deleted a shard's only term) would keep
            # serving its stale files forever. Overwrite those leaf
            # directories with an explicit zero-row parquet of the same
            # non-partition schema (<= n_shards bounded collect).
            present = {
                r["shard"]
                for r in frame.select("shard").distinct().collect()
            }
            for sid in sorted(set(expect_shards) - present):
                (
                    self.spark.createDataFrame(
                        [], frame.drop("shard").schema
                    )
                    .write.mode("overwrite")
                    .option("compression", "zstd")
                    .parquet(f"{shards_path}/shard={sid}")
                )
        self.shards, self.shard_files = read_back(self.spark, shards_path)
        self.meta_cache.clear()

    def apply_merge(
        self, delta, delete_postings=None, new_doc_map=None,
        new_corpus=None,
    ) -> None:
        """Compact a delta shard segment (built against THIS engine's
        doc_map/doc_dim key space) into the warehouse. I/O is bounded by
        the shard partitions the delta touches; untouched blocks pass
        through undecoded (merge_posting_shards partitions_only).

        ``new_doc_map`` (doc_key, doc_id): dimension rows for docs this
        delta INTRODUCES (from compression.extend_doc_dim; the full
        extended dim is accepted too — only keys past the current
        dimension count). Required whenever the delta references keys
        beyond the current dimension: a ranked key without a card would
        have no result to show, so that case raises loudly instead
        (checked on the delta's decoded doc keys).

        ``new_corpus`` (ingested rows for the SAME new docs): the source
        of their cards, appended to ``doc_cards`` — metadata, top words
        and snippet source; PageRank 0 and no family until the next full
        build. Required with ``new_doc_map``. A new doc's field lengths
        are the sums of its delta postings' tfs, which the card stores
        and ``corpus_stats`` adds to the per-field totals with the new
        doc count; the PageRank vectors and the statistics are then
        rebuilt for the grown key space and swapped by reference, the
        statistics with the shards' publish. A delta that rewrites an
        EXISTING doc keeps that doc's card length.

        Both checks run BEFORE any state changes: a rejected merge
        leaves doc_cards, n_docs and the shards untouched."""
        from .functions.hashing import term_hash60_col
        from .operators.compression import decode_shards, merge_posting_shards

        # each delta doc's field lengths (the sum of its tfs) and with
        # them the EXACT maximum doc_key of the delta, from its decoded
        # key and tf streams (the delta is one batch). Block metadata is
        # no witness — a sample-complete block stores none, and
        # top_doc_keys samples the top-32 postings by encode-time
        # impact, so a key beyond the dimension can sit outside every
        # sample.
        lengths = (
            decode_shards(delta, fields=("tf",))
            .groupBy("doc_key", "field")
            .agg(F.sum("tf").cast("long").alias("dl"))
            .collect()
        )
        mx = max((r["doc_key"] for r in lengths), default=None)
        n_new = 0
        if new_doc_map is not None:
            if "doc_idx" in new_doc_map.columns:
                new_doc_map = new_doc_map.select(
                    F.col("doc_idx").alias("doc_key"), "doc_id"
                )
            new_doc_map = new_doc_map.filter(
                F.col("doc_key") >= self.n_docs
            ).localCheckpoint(eager=True)
            n_new = new_doc_map.count()
        if mx is not None and int(mx) >= self.n_docs + n_new:
            raise ValueError(
                f"delta references doc_key {int(mx)} beyond the warehouse "
                f"dimension (n_docs={self.n_docs + n_new}) — pass the new "
                "docs' dimension rows via new_doc_map= (extend_doc_dim), or "
                "the ranked rows would have no card"
            )
        if n_new and new_corpus is None:
            raise ValueError(
                f"new_doc_map introduces {n_new} docs: pass their ingested "
                "rows via new_corpus= so their cards can be written"
            )
        stats = self.stats
        if n_new:
            from .operators.index_build import build_doc_meta, tokenize_fields

            fresh = [
                (int(r["doc_key"]), r["field"], int(r["dl"]))
                for r in lengths if r["doc_key"] >= self.n_docs
            ]
            nc = new_corpus.localCheckpoint(eager=True)
            cards = build_doc_cards(
                new_doc_map, nc,
                build_doc_meta(nc, tokenize_fields(nc, cfg=self.cfg)),
                self.spark.createDataFrame(
                    fresh, "doc_key long, field string, dl long"
                ).join(new_doc_map, "doc_key"),
            )
            self.doc_cards, self.card_files = _store_cards(
                self.spark, cards, n_new, f"{self.warehouse_dir}/doc_cards",
                mode="append",
            )
            self.n_docs += n_new
            self.pr_vectors = self._build_pr_vectors()
            added = {f: 0 for f in FIELDS}
            for _k, f, dl in fresh:
                added[f] += dl
            _store_stats(self.warehouse_dir, {
                f: (self.n_docs, stats.sum_dl.get(f, 0) + added[f])
                for f in FIELDS
            })
            stats = self._build_stats()
        # expected touched partitions, same derivation the merge uses —
        # so an emptied partition is still rewritten (see
        # _overwrite_touched)
        ids = {r[0] for r in delta.select("shard").distinct().collect()}
        if delete_postings is not None:
            ids |= {
                r[0]
                for r in delete_postings.select(
                    (term_hash60_col("term") % self.cfg.n_shards).cast("int")
                ).distinct().collect()
            }
        touched = merge_posting_shards(
            self.shards, delta, self.n_docs, self.cfg,
            delete_postings=delete_postings, partitions_only=True,
            stats=stats,
        )
        # swapped by reference before the shards publish: the new
        # vectors cover every key the old shards hold
        self.stats = stats
        self._overwrite_touched(touched, expect_shards=ids)

    # ------------------------------------------------------------------
    def wordlist(self, prefix: str, limit: int = 100) -> list[str]:
        """Vocabulary prefix search — reference GET /wordlist/{pre}
        (IterateInv, database/database.go:414-454): the shards' term
        column read on the driver from the engine's shard listing, no
        Spark job."""
        terms = read_table(self.shard_files, ["term"])["term"]
        hits = pc.unique(terms.filter(pc.starts_with(terms, prefix.lower())))
        return sorted(hits.to_pylist())[:limit]
