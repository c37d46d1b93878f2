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

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import DEFAULT, EngineConfig
from .functions.snippets import make_summary_py
from .functions.smalldf import isin_col
from .functions.tokenize import parse_query
from .operators.bm25 import search
from .operators.index_build import Index, build_index
from .operators.links import extract_links
from .operators.pagerank import compute_pagerank
from .operators.wand import dense_vector, wand_topk
from .sources.corpus import ingest

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
    pagerank: DataFrame | None = None,
    links: DataFrame | None = None,
) -> DataFrame:
    """doc_cards rows for the (doc_key, doc_id) ``doc_map``: metadata and
    top words from ``doc_meta``, the snippet source from ``corpus``,
    PageRank (0 without a vector) and the family from ``links``
    (incremental.family_top5, null without links). Left joins from the
    map, so every key gets exactly one card."""
    cards = (
        doc_map.select("doc_key", "doc_id")
        .join(doc_meta.select("doc_id", *CARD_META), "doc_id", "left")
        .join(corpus.select("doc_id", "content"), "doc_id", "left")
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
    return cards.select(*CARD_COLS)


def _store_cards(
    spark: SparkSession, cards: DataFrame, n: int, path: str | None,
    mode: str = "overwrite",
) -> DataFrame:
    """Cluster ``n`` card rows by doc_key (one file / partition per
    CARDS_PER_FILE keys, sorted within) and write them to ``path`` as
    zstd parquet — returning the read-back frame — or, without a path,
    cache them in memory."""
    n_files = max(1, -(-n // CARDS_PER_FILE))
    clustered = cards.repartition(
        n_files, F.floor(F.col("doc_key") / CARDS_PER_FILE)
    ).sortWithinPartitions("doc_key")
    if path is None:
        clustered = clustered.cache()
        clustered.count()
        return clustered
    clustered.write.mode(mode).option("compression", "zstd").parquet(path)
    return spark.read.parquet(path)


@dataclass
class SearchEngine:
    """The serving engine. A query is two Spark jobs: the top-k job (k
    rows of key + score parts, PageRank folded into the bucket kernel)
    and one keyed read of those k rows from ``doc_cards``; snippets are
    computed on the driver from the card's content. A first-seen query
    term adds one block-metadata fetch (``meta_cache``). A WAND bag
    whose planned decode volume fits one task
    (``cfg.query_target_postings_per_task``) runs its top-k job as one
    stage of one task, decoding and scoring in one Python pass; larger
    plans shuffle postings to the bucket kernel, and phrase and non-WAND
    queries do so at any size.

    ``doc_cards`` (CARD_COLS, one row per doc, clustered by the dense
    doc_key) is written once at build: zstd parquet under
    ``warehouse_dir``, else cached in memory. ``doc_map`` is its
    (doc_key, doc_id) projection. The PageRank vectors (global and per
    topic) are dense float64 arrays indexed by doc_key, broadcast once
    per cards version and swapped by reference, so a running query
    keeps the vector it started with."""

    spark: SparkSession
    index: Index
    cfg: EngineConfig = field(default_factory=lambda: DEFAULT)
    pagerank: DataFrame | None = None
    # (doc_id, category, rank) from operators.topics.compute_topic_pagerank
    topic_pagerank: DataFrame | None = None
    # compressed-warehouse serving backend (build(warehouse_dir=...)):
    # the read-back posting_shards frame + the per-term block-metadata
    # cache a serving node keeps across queries
    shards: DataFrame | None = None
    doc_cards: DataFrame | None = None
    # ONE shared cache: per-term block metadata is pagerank-invariant, so
    # every topic reuses the same term rows; only the cached PR blend
    # maximum is vector-specific (a stale pr_max under another topic's
    # vector would break skip-planner admissibility), so that slot is
    # keyed per topic (pr_max_key=_PR_MAX_KEY + ":" + topic)
    meta_cache: dict = field(default_factory=dict)
    # parquet warehouse root (build(..., warehouse_dir=...)): shards are
    # served from the partitionBy("shard") read-back frame — partition
    # pruning + column-pruned metadata reads, and the substrate the LSM
    # maintenance methods (apply_merge / refresh_stats) rewrite with
    # dynamic partition overwrite, I/O bounded by the touched shard
    # partitions
    warehouse_dir: str | None = None
    n_docs: int = 0
    # {None: global, topic: that topic's} Broadcast PageRank vector
    pr_vectors: dict = field(default_factory=dict)

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

        Always writes ``doc_cards`` (the family is aggregated here,
        once), cached in memory without ``warehouse_dir``. The shard
        backend exists only with ``warehouse_dir``: persist the
        compressed shards as partitionBy("shard") zstd parquet and the
        cards as zstd parquet, and SERVE from the read-back frames —
        queries then partition-prune to the query terms' shard
        directories and read only the k result cards, and the engine
        gains the LSM maintenance methods (apply_merge / refresh_stats)
        that rewrite only touched partitions in place."""
        from .operators.compression import build_doc_dim, build_posting_shards

        corpus = ingest(documents).cache()
        links = extract_links(corpus, cfg).cache()
        idx = build_index(corpus, cfg, links=links)
        pr = (
            compute_pagerank(spark, corpus, links, cfg).cache()
            if with_pagerank
            else None
        )
        tpr = None
        if topics is not None:
            from .operators.topics import compute_topic_pagerank

            tpr = compute_topic_pagerank(spark, corpus, links, topics, cfg).cache()
        doc_dim = build_doc_dim(corpus).cache()
        n_docs = doc_dim.count()
        doc_map = doc_dim.select(F.col("doc_idx").alias("doc_key"), "doc_id")
        doc_cards = _store_cards(
            spark,
            build_doc_cards(doc_map, corpus, idx.doc_meta, pr, links),
            n_docs,
            f"{warehouse_dir}/doc_cards" if warehouse_dir is not None else None,
        )
        shards = None
        if warehouse_dir is not None:
            # warehouse-resident serving: dense-keyed compressed shards
            # (cfg must be bm25 — asserted at query time by the shard
            # paths)
            shards_path = f"{warehouse_dir}/posting_shards"
            # cluster by shard before the partitioned write (guide §6):
            # without this every upstream task writes its own file into
            # every shard directory (tasks x shards tiny files);
            # clustered, each directory holds one well-sized file and a
            # term's pruned scan opens ONE file instead of dozens
            build_posting_shards(
                idx.postings, n_docs, cfg,
                doc_dim=doc_dim, weight_col="bm25_weight",
            ).repartition("shard").write.mode("overwrite").option(
                "compression", "zstd"
            ).partitionBy("shard").parquet(shards_path)
            # serve from the read-back frame: queries prune to the
            # terms' shard partitions and read only the metadata /
            # requested payload columns
            shards = spark.read.parquet(shards_path)
        doc_dim.unpersist()
        eng = cls(
            spark=spark, index=idx, cfg=cfg, pagerank=pr, topic_pagerank=tpr,
            shards=shards, doc_cards=doc_cards, warehouse_dir=warehouse_dir,
            n_docs=n_docs,
        )
        eng.pr_vectors = eng._build_pr_vectors()
        # the cards hold everything queries read of these two
        corpus.unpersist()
        links.unpersist()
        return eng

    @property
    def doc_map(self) -> DataFrame | None:
        """(doc_key, doc_id): the dense document dimension."""
        if self.doc_cards is None:
            return None
        return self.doc_cards.select("doc_key", "doc_id")

    def _build_pr_vectors(self) -> dict:
        """Dense doc_key-indexed PageRank vectors from the current cards
        (global) and the topic artifact, each broadcast once. Called at
        build and whenever the cards change — never from query threads."""
        tables = {}
        if self.pagerank is not None:
            pdf = (
                self.doc_cards.filter(F.col("pagerank") != 0)
                .select("doc_key", "pagerank").toPandas()
            )
            tables[None] = dense_vector(pdf["doc_key"], pdf["pagerank"], self.n_docs)
        if self.topic_pagerank is not None:
            pdf = (
                self.topic_pagerank.join(self.doc_map, "doc_id")
                .select("category", "doc_key", "rank").toPandas()
            )
            for topic, g in pdf.groupby("category"):
                tables[topic] = dense_vector(g["doc_key"], g["rank"], self.n_docs)
        bc = self.spark.sparkContext.broadcast
        return {t: bc(v) for t, v in tables.items()}

    # ------------------------------------------------------------------
    def _ranked(
        self,
        q: str,
        k: int | None,
        use_wand: bool,
        topic: str | None,
        backend: str,
    ) -> tuple[list, str, list, list]:
        """The top-k job: (its k rows, their key column, the query's
        free terms, its phrases). Shard rows are keyed by doc_key,
        memory rows by doc_id."""
        k = k or self.cfg.top_k
        terms, phrases = parse_query(q, self.cfg.remove_stopwords, self.cfg.stem)
        if topic is not None and self.topic_pagerank is None:
            raise ValueError("topic= requires a build(..., topics=...)")
        if backend not in ("memory", "shards"):
            raise ValueError(f"unknown backend {backend!r}")
        if backend == "shards" and self.shards is None:
            raise ValueError(
                'backend="shards" requires a build(..., warehouse_dir=...)'
            )
        if not terms and not phrases:
            return [], "doc_id", terms, phrases
        wandable = use_wand and not phrases and self.cfg.scorer == "bm25"
        if backend == "shards":
            key = "doc_key"
            pr = self.pr_vectors.get(topic)
            if wandable:
                from .operators.wand import _PR_MAX_KEY, wand_topk_from_shards

                pr_key = (
                    _PR_MAX_KEY if topic is None else f"{_PR_MAX_KEY}:{topic}"
                )
                topk = wand_topk_from_shards(
                    self.spark, self.shards, None, terms, self.cfg,
                    k=k, pagerank=pr,
                    meta_cache=self.meta_cache, pr_max_key=pr_key,
                    # planner decides per query whether the exact-floor
                    # wave pays (kept posting volume vs
                    # cfg.two_phase_auto_min_postings)
                    two_phase="auto",
                )
            else:
                from .operators.bm25 import search_from_shards

                topk = search_from_shards(
                    self.spark, self.shards, None, q, self.cfg,
                    pagerank=pr, k=k,
                    meta_cache=self.meta_cache,  # sizes the decode stages
                )
        else:
            key = "doc_id"
            pr = self.pagerank
            if topic is not None:
                pr = self.topic_pagerank.filter(
                    F.col("category") == topic
                ).select("doc_id", "rank")
            if wandable:
                topk = wand_topk(
                    self.spark, self.index, terms, self.cfg, k=k, pagerank=pr
                )
            else:
                topk = search(self.spark, self.index, q, self.cfg, pagerank=pr, k=k)
        return topk.collect(), key, terms, phrases

    def _with_cards(self, ranked: list, key: str, terms, phrases) -> list[dict]:
        """The card lookup: ONE keyed read of the k ranked rows' cards,
        snippets computed here on the driver, rows in the final
        (score desc, doc_id asc) order — dense keys merged in by
        extend_doc_dim are not in doc_id order."""
        if not ranked:
            return []
        if self.doc_cards is None:
            raise ValueError("query needs doc_cards: build the engine with SearchEngine.build")
        keys = [r[key] for r in ranked]
        cards = {
            c[key]: c.asDict(recursive=True)
            for c in self.doc_cards.filter(isin_col(key, keys)).collect()
        }
        out = []
        for r in ranked:
            card = cards.get(r[key])
            if card is None:
                raise RuntimeError(f"no doc_cards row for {key}={r[key]!r}")
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
        backend: str = "memory",
    ) -> DataFrame:
        """Top-k as a DataFrame: (doc_id, title_rank, body_rank,
        pagerank, score, CARD_META..., snippet), in (score desc, doc_id
        asc) order. Runs the same two jobs as ``query`` and returns the
        finished rows. ``topic`` blends that category's PageRank vector
        instead of the global one (requires a build with topics=...).
        ``backend="shards"`` serves the SAME query surface (terms,
        phrases, PR/topic blend, wand, cards, snippets) from the
        compressed posting shards — the warehouse-resident path
        (requires build(..., warehouse_dir=...)); results are asserted
        identical to the in-memory backend in test_api."""
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
        backend: str = "memory",
    ) -> list[dict]:
        """Reference-JSON-shaped result cards (server.go:47-48 encodes
        []Rank_combined, incl. top-5 parents with their anchor terms and
        top-5 children — retrieval/util.go:56-92, get_metadata.go:237-266)."""
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
    # LSM maintenance on the parquet warehouse: both methods compute the
    # touched-partitions-only frame and rewrite JUST those shard
    # directories (dynamic partition overwrite), then re-point serving
    # at the read-back frame and drop the metadata cache (its block rows
    # are stale the moment the shards change).
    # ------------------------------------------------------------------
    def _require_warehouse(self):
        if self.warehouse_dir is None or self.shards is None:
            raise ValueError(
                "LSM maintenance requires a build(..., warehouse_dir=...)"
            )

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
        self.shards = self.spark.read.parquet(shards_path)
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
        build. Required with ``new_doc_map``. The PageRank vectors are
        then rebuilt for the grown key space and swapped by reference.

        Both checks run BEFORE any state changes: a rejected merge
        leaves doc_cards, n_docs and the shards untouched."""
        from .functions.hashing import term_hash60_col
        from .operators.compression import decode_shards, merge_posting_shards

        self._require_warehouse()
        # EXACT maximum doc_key of the delta: decode its key streams (the
        # delta is one batch). Block metadata is no witness — a
        # sample-complete block stores none, and top_doc_keys samples
        # the top-32 postings BY WEIGHT, so a key beyond the dimension
        # can sit under every sampled weight.
        mx = decode_shards(delta, fields=()).agg(F.max("doc_key")).first()[0]
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
        if n_new:
            from .operators.index_build import build_doc_meta, tokenize_fields

            nc = new_corpus.localCheckpoint(eager=True)
            cards = build_doc_cards(
                new_doc_map, nc, build_doc_meta(nc, tokenize_fields(nc, cfg=self.cfg)),
            )
            self.doc_cards = _store_cards(
                self.spark, cards, n_new, f"{self.warehouse_dir}/doc_cards",
                mode="append",
            )
            self.n_docs += n_new
            self.pr_vectors = self._build_pr_vectors()
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
        )
        self._overwrite_touched(touched, expect_shards=ids)

    def refresh_stats(self, drift_threshold: float = 0.1) -> None:
        """Re-weight the (term, field) groups whose encoded df drifted
        past ``drift_threshold`` against the engine's CURRENT index
        stats — the weight-staleness repair that complements apply_merge
        (which carries stored weights per segment). Touched partitions
        only; orphan postings keep their stored weight."""
        from .operators.compression import key_doc_stats, refresh_shard_stats

        self._require_warehouse()
        doc_dim = self.doc_map.select(
            "doc_id", F.col("doc_key").alias("doc_idx")
        )
        touched = refresh_shard_stats(
            self.shards,
            self.index.term_stats,
            key_doc_stats(self.index.doc_stats, doc_dim),
            self.index.corpus_stats.collect(),
            self.cfg,
            drift_threshold=drift_threshold,
            partitions_only=True,
        )
        self._overwrite_touched(touched)

    # ------------------------------------------------------------------
    def wordlist(self, prefix: str, limit: int = 100) -> list[str]:
        """Vocabulary prefix search — reference GET /wordlist/{pre}
        (IterateInv, database/database.go:414-454): one pruned scan of the
        vocab table instead of O(vocab) point lookups."""
        rows = (
            self.index.vocab.filter(F.col("term").startswith(prefix.lower()))
            .select("term")
            .distinct()
            .orderBy("term")
            .limit(limit)
            .collect()
        )
        return [r["term"] for r in rows]
