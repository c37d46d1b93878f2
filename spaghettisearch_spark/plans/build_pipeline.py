"""Full index-build DAG: ingest -> links -> tokens -> postings -> stats
-> weights -> shards -> PageRank, each a checkpointed stage with lineage
(SURVEY.md §3.2 'Spark equivalent'; reference pipeline:
cmd/crawl/start_crawl.go:85-177 crawl+index then
ranking.UpdateTopicSensitivePagerank + UpdateTermWeights post-passes).

Stage layout on disk (warehouse_dir/):
    corpus/          canonical docs + doc_id + content_sha256
    links/           edge list with anchor terms
    tokens/          (doc_id, field, pos, term)     [intermediate]
    postings/        weighted postings, partitioned by term bucket
    doc_stats/ term_stats/ corpus_stats/ vocab/ doc_norms/ doc_meta/
    posting_shards/  delta+varbyte blocks, partitioned by shard
    pagerank/        converged ranks

Partitioning for scale: ``postings`` and ``posting_shards`` are written
``partitionBy(bucket/shard = hash(term) % n)`` so a query's
``term IN (...)`` prunes scan files; stats tables are coalesced small.
Each stage records rows/partitions/wall time in ``_lineage.json``; a
re-run with the same input fingerprint skips completed stages
(kill/resume test: tests/test_resume.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..functions.hashing import term_hash60_col
from ..operators import index_build as ib
from ..operators.compression import build_posting_shards
from ..operators.links import extract_links
from ..operators.pagerank import compute_pagerank
from ..sources.checkpoints import StageResult, run_stage
from ..sources.corpus import ingest


@dataclass
class BuiltIndex:
    warehouse: str
    stages: list[StageResult]

    def load(self, spark: SparkSession) -> ib.Index:
        rd = lambda name: spark.read.parquet(f"{self.warehouse}/{name}")  # noqa: E731
        return ib.Index(
            tokens=rd("tokens"),
            postings=rd("postings"),
            doc_stats=rd("doc_stats"),
            term_stats=rd("term_stats"),
            corpus_stats=rd("corpus_stats"),
            doc_norms=rd("doc_norms"),
            doc_meta=rd("doc_meta"),
        )

    def pagerank(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(f"{self.warehouse}/pagerank")

    def topic_pagerank(self, spark: SparkSession) -> DataFrame:
        """(doc_id, category, rank) — reference forw[3] DocHash_rank
        map[category]float64, edge-list shaped."""
        return spark.read.parquet(f"{self.warehouse}/pagerank_topic")

    def shards(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(f"{self.warehouse}/posting_shards")

    def doc_map(self, spark: SparkSession) -> DataFrame:
        """(doc_key, doc_id) for shard-backed queries — dense doc_idx."""
        return spark.read.parquet(f"{self.warehouse}/doc_dim").select(
            F.col("doc_idx").alias("doc_key"), "doc_id"
        )


def corpus_fingerprint(documents: DataFrame) -> str:
    """Cheap deterministic input fingerprint: count + xor of doc-id
    hashes (order-insensitive)."""
    row = documents.select(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(repo, path, commit, content))").alias("x"),
    ).first()
    return f"n={row['n']},x={row['x']}"


def build_all(
    spark: SparkSession,
    documents: DataFrame,
    warehouse: str,
    cfg: EngineConfig = DEFAULT,
    resume: bool = True,
    with_pagerank: bool = True,
    with_shards: bool = True,
    topics: DataFrame | None = None,
) -> BuiltIndex:
    """Run the whole build; every stage resumable. ``topics`` (doc_id,
    category) additionally materializes topic_terms / topic_meta /
    pagerank_topic — the reference's per-category post-pass."""
    stages: list[StageResult] = []
    w = warehouse.rstrip("/")

    def stage(name, build, **kw):
        r = run_stage(spark, name, f"{w}/{name}", build, resume=resume, **kw)
        stages.append(r)
        return spark.read.parquet(f"{w}/{name}")

    fp = corpus_fingerprint(documents)

    corpus = stage(
        "corpus", lambda: ingest(documents), input_fingerprint=fp
    )
    links = stage(
        "links", lambda: extract_links(corpus, cfg), input_fingerprint=fp
    )
    tokens = stage(
        "tokens",
        lambda: ib.tokenize_fields(corpus, cfg, links),
        input_fingerprint=fp,
    )
    # postings partitioned by term bucket -> scan pruning for term lookups
    n_buckets = cfg.n_shards

    def _postings():
        return ib.build_postings(tokens).withColumn(
            "bucket", F.pmod(term_hash60_col("term"), F.lit(n_buckets)).cast("int")
        )

    postings_raw = stage(
        "postings_raw", _postings, input_fingerprint=fp,
        partition_by=["bucket"], sort_by=["term"],
    )
    doc_stats = stage(
        "doc_stats", lambda: ib.build_doc_stats(tokens), input_fingerprint=fp
    )
    term_stats = stage(
        "term_stats",
        lambda: ib.build_term_stats(postings_raw),
        input_fingerprint=fp,
    )
    corpus_stats = stage(
        "corpus_stats",
        lambda: ib.build_corpus_stats(corpus, doc_stats).coalesce(1),
        input_fingerprint=fp,
    )
    stage("vocab", lambda: ib.build_vocab(postings_raw), input_fingerprint=fp)

    n_docs = int(corpus_stats.select(F.first("n_docs")).first()[0])

    def _weighted():
        # tf-idf and BM25 weights; dl stays: the shard encoder bounds
        # blocks by their (tf, dl) pairs
        return ib.build_weighted_postings(
            postings_raw, term_stats, doc_stats, corpus_stats.collect(), cfg
        ).withColumn(
            "bucket", F.pmod(term_hash60_col("term"), F.lit(n_buckets)).cast("int")
        )

    postings = stage(
        "postings", _weighted, input_fingerprint=fp,
        partition_by=["bucket"], sort_by=["term"],
    )
    stage(
        "doc_norms", lambda: ib.build_doc_norms(postings), input_fingerprint=fp
    )
    stage(
        "doc_meta",
        lambda: ib.build_doc_meta(corpus, tokens),
        input_fingerprint=fp,
    )
    if with_shards:
        from ..operators.compression import build_doc_dim

        doc_dim = stage(
            "doc_dim", lambda: build_doc_dim(corpus), input_fingerprint=fp
        )
        # skew telemetry: hottest terms by df -> lineage (SURVEY.md §4.3)
        top_skew = [
            {"term": r["term"], "field": r["field"], "df": int(r["df"])}
            for r in term_stats.orderBy(F.desc("df")).limit(10).collect()
        ]
        salt_threshold = max(int(cfg.salt_df_threshold * n_docs), 1)
        stage(
            "posting_shards",
            lambda: build_posting_shards(
                postings,
                n_docs,
                cfg,
                term_stats,
                doc_dim=doc_dim,
                weight_col="bm25_weight",
            ),
            input_fingerprint=fp,
            partition_by=["shard"],
            sort_by=["term", "field", "salt"],
            extra_metrics={
                "skew_top10_terms": top_skew,
                "salt_df_threshold": salt_threshold,
                "n_salts": cfg.n_salts,
                "doc_key": "dense doc_idx (doc_dim stage)",
            },
        )
    if with_pagerank:
        stage(
            "pagerank",
            lambda: compute_pagerank(spark, corpus, links, cfg),
            input_fingerprint=fp,
        )
    if topics is not None:
        # reference post-pass ordering: UpdateTopicSensitivePagerank runs
        # after the crawl/index (cmd/crawl/start_crawl.go:175); here the
        # ODP scrape's product tables come from the static topics frame
        from ..operators.topics import build_topic_tables, compute_topic_pagerank

        topics = topics.cache()
        tfp = fp + ",topics=" + corpus_fingerprint_topics(topics)
        stage(
            "topic_terms",
            lambda: build_topic_tables(tokens, topics)[0],
            input_fingerprint=tfp,
        )
        stage(
            "topic_meta",
            lambda: build_topic_tables(tokens, topics)[1].coalesce(1),
            input_fingerprint=tfp,
        )
        stage(
            "pagerank_topic",
            lambda: compute_topic_pagerank(spark, corpus, links, topics, cfg),
            input_fingerprint=tfp,
        )
        topics.unpersist()
    return BuiltIndex(warehouse=w, stages=stages)


def corpus_fingerprint_topics(topics: DataFrame) -> str:
    row = topics.select(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(doc_id, category))").alias("x"),
    ).first()
    return f"n={row['n']},x={row['x']}"
