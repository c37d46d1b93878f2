"""Query-time scoring: BM25 (primary) and reference-exact tf-idf cosine.

Spark shape of the reference's retrieval pipeline
(/root/reference/retrieval/main_retrieve.go:17-103):

    parse query (driver, tiny)                      main_retrieve.go:17-36
    -> broadcast query-terms frame                  goroutine-per-term fan-out
    -> join postings (term-pruned scan)             getFromInverted :204-247
    -> per-posting contribution (BM25 or tf-idf)    term weights
    -> groupBy(doc).pivot(field).sum                genAggrDocsPipeline :170-187
    -> phrase candidates filter (phrase.py)         phrase.go
    -> blend (w_pr, w_title, w_body) * 100          get_metadata.go:69
    -> orderBy(score desc, doc_id asc).limit(k)     appendSort/truncate :94-103
    -> hydrate doc_meta AFTER the limit             (we improve on the
       reference, which hydrates every candidate:   get_metadata.go:21-74)

Determinism: the reference's tie order depends on goroutine fan-in
arrival (util.go:48-54); we impose the total order
(score desc, doc_id asc).

BM25: idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
      tf_norm = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),
      summed per field, duplicated query terms weighted by query tf.

tf-idf cosine (reference-exact): posting weight = normTF*log2(N/df)
(already materialized in the index), per-doc sum / (magnitude *
sqrt(|q|)) with NaN->0 (get_metadata.go:53-66).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..functions.smalldf import isin_col
from ..functions.tokenize import parse_query
from .index_build import (
    FIELD_BODY,
    FIELD_TITLE,
    Index,
    bm25_weight_col,
    require_stats,
)
from .phrase import phrase_matches


def _corpus_stats_map(index: Index) -> dict[str, tuple[int, float]]:
    """{field: (n_docs, avgdl)} — tiny table, collected once per index
    (memoized on the Index object: one driver round-trip, not one per
    query)."""
    cached = getattr(index, "_stats_map", None)
    if cached is None:
        rows = index.corpus_stats.collect()
        cached = {r["field"]: (int(r["n_docs"]), float(r["avgdl"])) for r in rows}
        index._stats_map = cached
    return cached


def _query_terms_df(spark: SparkSession, terms: list[str]):
    """Free terms with multiplicity (duplicate query terms score twice,
    matching the reference's per-occurrence accumulation)."""
    from ..functions.smalldf import tiny_df

    counts = Counter(terms)
    return tiny_df(
        spark, [(t, int(c)) for t, c in counts.items()], "term string, qtf int"
    )


def term_lookup(values: dict) -> F.Column:
    """Per-row value of the ``term`` column from a driver dict, as a
    literal map: replaces a broadcast join of a tiny query-term frame,
    whose BroadcastExchange costs a Spark job of its own per query."""
    pairs = [x for t in sorted(values) for x in (F.lit(t), F.lit(values[t]))]
    return F.create_map(*pairs)[F.col("term")]


def posting_hits(
    index: Index, terms: list[str], cfg: EngineConfig
) -> DataFrame:
    """Postings restricted to the query terms, annotated with df and dl,
    and a per-posting ``contrib`` column in the active scoring mode.

    The ``term IN (...)`` filter is pushed to the scan (partition/file
    pruning once postings are sharded by term bucket); term_stats and
    doc_stats join by key. doc_stats is doc-keyed and big — but the
    postings side is already term-pruned tiny, so AQE turns the join into
    a broadcast of the pruned side.
    """
    term_set = list(set(terms))
    hits = index.postings.filter(isin_col("term", term_set))
    if "bucket" in hits.columns:
        # warehouse postings are partitioned by bucket = hash60(term) % n;
        # deriving the buckets driver-side turns the term filter into
        # partition pruning (only |terms| directories scanned)
        from ..functions.hashing import term_hash60_py

        buckets = sorted({term_hash60_py(t) % cfg.n_shards for t in term_set})
        hits = hits.filter(isin_col("bucket", buckets))
    if cfg.scorer == "bm25" and "bm25_weight" in hits.columns:
        # warehouse-loaded postings carry precomputed BM25 impact weights
        # (plans/build_pipeline.py) — no stats joins needed at query time
        return hits.withColumn("contrib", F.col("bm25_weight"))
    if "df" not in hits.columns:
        hits = hits.join(index.term_stats, ["term", "field"], "left")
    if "dl" not in hits.columns:
        hits = hits.join(index.doc_stats, ["doc_id", "field"], "left")
    if cfg.scorer == "bm25":
        # per-field avgdl/N
        hits = hits.withColumn(
            "contrib", bm25_weight_col(cfg, _corpus_stats_map(index))
        )
    else:  # tfidf_cosine: the index already stores normTF*idf
        hits = hits.withColumn("contrib", F.col("weight"))
    return hits


def _pivot_field_ranks(parts: list[DataFrame]) -> DataFrame:
    """(doc_id, field, contrib) parts -> (doc_id, title_rank, body_rank)."""
    all_hits = parts[0]
    for p in parts[1:]:
        all_hits = all_hits.unionByName(p)
    return (
        all_hits.groupBy("doc_id")
        .pivot("field", [FIELD_TITLE, FIELD_BODY])
        .agg(F.sum("contrib"))
        .select(
            "doc_id",
            F.coalesce(FIELD_TITLE, F.lit(0.0)).alias("title_rank"),
            F.coalesce(FIELD_BODY, F.lit(0.0)).alias("body_rank"),
        )
    )


def score_per_doc(
    spark: SparkSession,
    index: Index,
    free_terms: list[str],
    phrases: list[list[str]],
    cfg: EngineConfig,
) -> DataFrame:
    """-> (doc_id, title_rank, body_rank) over all candidate docs."""
    parts: list[DataFrame] = []

    if free_terms:
        qdf = _query_terms_df(spark, free_terms)
        hits = posting_hits(index, free_terms, cfg)
        free = (
            hits.join(F.broadcast(qdf), "term")
            .select(
                "doc_id",
                "field",
                (F.col("contrib") * F.col("qtf")).alias("contrib"),
            )
        )
        parts.append(free)

    for phrase in phrases:
        # phrase docs contribute the sum of their terms' weights per field,
        # only for docs containing the exact phrase (phrase.go:53-109)
        matches = phrase_matches(spark, index, phrase, cfg)
        parts.append(matches.select("doc_id", "field", "contrib"))

    if not parts:
        return spark.createDataFrame(
            [], "doc_id string, title_rank double, body_rank double"
        )

    scored = _pivot_field_ranks(parts)

    if cfg.scorer == "tfidf_cosine":
        # cosine normalization: rank /= magnitude * sqrt(|q|), NaN/null -> 0
        qlen = len(free_terms) + sum(len(p) for p in phrases)
        norms = (
            index.doc_norms.groupBy("doc_id")
            .pivot("field", [FIELD_TITLE, FIELD_BODY])
            .agg(F.first("magnitude"))
            .select(
                "doc_id",
                F.col(FIELD_TITLE).alias("title_mag"),
                F.col(FIELD_BODY).alias("body_mag"),
            )
        )
        scored = scored.join(norms, "doc_id", "left")
        for rank_c, mag_c in (("title_rank", "title_mag"), ("body_rank", "body_mag")):
            v = F.col(rank_c) / (F.col(mag_c) * F.sqrt(F.lit(float(qlen))))
            scored = scored.withColumn(
                rank_c,
                F.when(F.isnull(v) | F.isnan(v), F.lit(0.0)).otherwise(v),
            )
        scored = scored.drop("title_mag", "body_mag")
    return scored


def search(
    spark: SparkSession,
    index: Index,
    query: str,
    cfg: EngineConfig = DEFAULT,
    pagerank: DataFrame | None = None,
    k: int | None = None,
    hydrate: bool = False,
    topic_pagerank: DataFrame | None = None,
    topic: str | None = None,
) -> DataFrame:
    """Full query pipeline -> top-k (rank, doc_id, score, ...).

    ``pagerank=None`` reproduces the reference's live behavior (its
    topic-probability path is dead code — computeTopicProbs returns
    a no-op, so PR contributes 0; SURVEY.md §3.1); passing a pagerank
    frame enables the blended ranking the north rule asks for.

    ``topic`` + ``topic_pagerank`` (doc_id, category, rank — the
    operators.topics.compute_topic_pagerank artifact) blend the
    CATEGORY'S PageRank vector instead of the global one — the working
    version of the reference's dead topic path: selecting one category
    from the keyed frame is a filter on the rank side, so the query
    plan is identical to the global blend. A category covering the
    whole corpus reproduces the global blend exactly (init 1/N ==
    1/numPages; asserted in tests)."""
    k = k or cfg.top_k
    if topic is not None:
        if topic_pagerank is None:
            raise ValueError("topic= requires topic_pagerank=")
        pagerank = topic_pagerank.filter(F.col("category") == topic).select(
            "doc_id", "rank"
        )
    free_terms, phrase_lists = parse_query(
        query, cfg.remove_stopwords, cfg.stem
    )
    scored = score_per_doc(spark, index, free_terms, phrase_lists, cfg)
    return _blend_and_topk(
        scored, cfg, pagerank, k, index.doc_meta if hydrate else None
    )


def _blend_and_topk(
    scored: DataFrame,
    cfg: EngineConfig,
    pagerank: DataFrame | None,
    k: int,
    doc_meta: DataFrame | None = None,
) -> DataFrame:
    """Shared query tail: PR blend -> deterministic top-k -> optional
    post-limit hydration."""
    if pagerank is not None:
        scored = scored.join(
            pagerank.select("doc_id", F.col("rank").alias("pr")), "doc_id", "left"
        ).withColumn("pr", F.coalesce("pr", F.lit(0.0)))
    else:
        scored = scored.withColumn("pr", F.lit(0.0))

    result = scored.select(
        "doc_id",
        "title_rank",
        "body_rank",
        F.col("pr").alias("pagerank"),
        (
            (
                F.lit(cfg.w_pagerank) * F.col("pr")
                + F.lit(cfg.w_title) * F.col("title_rank")
                + F.lit(cfg.w_body) * F.col("body_rank")
            )
            * F.lit(cfg.blend_scale)
        ).alias("score"),
    )
    topk = result.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    if doc_meta is not None:
        # metadata join AFTER the limit. INNER join with the k-row side
        # as the broadcast build side: Spark cannot build-left a
        # left-outer BroadcastHashJoin, so `broadcast(topk).join(meta,
        # "left")` silently planned a SortMergeJoin that shuffled the
        # whole doc_meta table at scale. Inner is lossless here — every
        # scored doc_id comes from postings of an indexed doc, and
        # doc_meta has a row for every indexed doc (build_doc_meta
        # left-joins top_words onto the full corpus).
        topk = F.broadcast(topk).join(doc_meta, "doc_id")
        # re-limit after the inner join: a no-op on the <=k rows, but it
        # plans TakeOrderedAndProject instead of a full range-partitioned
        # sort (which pays an extra sampling pass per query)
        topk = topk.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    return topk


def search_from_shards(
    spark: SparkSession,
    shards: DataFrame,
    doc_map: DataFrame | None,
    query: str,
    cfg: EngineConfig = DEFAULT,
    pagerank=None,
    k: int | None = None,
    meta_cache: dict | None = None,
    shard_files: list[str] | None = None,
    stats=None,
) -> DataFrame:
    """The FULL query pipeline (free terms + phrases + field blend + PR)
    served from the COMPRESSED posting shards — the warehouse-resident
    serving path. Same semantics and (to float associativity) same
    values as the exhaustive ``search`` on the index of the same corpus;
    asserted in test_api.

    The free-term and phrase rows (doc_key, field, contrib) run on the
    dense doc_key through the WAND paths' bucket kernel
    (wand._wand_from_hits), which blends the fields and PageRank and
    cuts the top-k — one top-k tail for every shard query.
    ``doc_map=None`` (the serving engine) returns the k rows keyed by
    ``doc_key``; a direct caller that passes the (doc_key long, doc_id
    string) map gets doc_id strings (wand.hydrate_doc_ids).

    ``pagerank``: the kernel's Broadcast lookup or an ad-hoc (doc_id,
    rank) frame keyed through ``doc_map`` (see
    wand.wand_topk_from_shards).

    BM25-only (tfidf_cosine's per-query normalization is served only by
    the exhaustive ``search``). ``stats`` (index_build.CorpusStats,
    required): the live statistics the decode scores each posting's tf
    with; each term's df is the sum of its block dfs. Free terms decode
    the tf stream only; phrases additionally decode positions.

    ``meta_cache``: same per-term block-metadata cache contract as
    wand_topk_from_shards — the query terms' block rows give their df
    and SIZE the decode stages and the kernel exchange from their summed
    df (guide §2.2: one decode task per ~query_target_postings_per_task
    postings instead of one near-empty Python task per scan partition);
    without it each call fetches the metadata once. Results are
    identical with or without it. ``shard_files``: the frame's file
    listing, so that fetch is a driver read instead of a Spark job
    (same contract as wand_topk_from_shards).
    """
    from .compression import (
        decode_shards,
        prune_shards,
        query_decode_parts,
        term_block_meta,
    )
    from .phrase import phrase_matches_from_shards
    from .wand import (
        _wand_from_hits,
        empty_topk,
        hydrate_doc_ids,
        pr_broadcast,
    )

    if cfg.scorer != "bm25":
        raise ValueError(
            "shard-backed serving scores BM25 only; "
            "tfidf_cosine is served only by the exhaustive bm25.search"
        )
    require_stats(stats, "search_from_shards")
    k = k or cfg.top_k
    free_terms, phrase_lists = parse_query(
        query, cfg.remove_stopwords, cfg.stem
    )
    # one metadata fetch for the query's first-seen terms: it gives the
    # terms' df and sizes the kernel's bucket exchange
    meta = term_block_meta(
        shards, free_terms + [t for p in phrase_lists for t in p], cfg,
        meta_cache, shard_files,
    )
    parts: list[DataFrame] = []
    if free_terms:
        counts = Counter(free_terms)
        free_meta = [r for r in meta if r["term"] in counts]
        decoded = decode_shards(
            prune_shards(shards, free_terms, cfg).coalesce(
                query_decode_parts(free_meta, cfg)
            ),
            fields=("weight",), scoring=stats.scoring(free_meta, cfg),
        )
        parts.append(
            decoded.withColumnRenamed("doc_key", "doc_id").select(
                "doc_id",
                "field",
                (F.col("weight") * term_lookup(
                    {t: float(c) for t, c in counts.items()}
                )).alias("contrib"),
            )
        )
    for phrase in phrase_lists:
        m = phrase_matches_from_shards(
            spark, shards, None, phrase, cfg, stats=stats,
            meta=[r for r in meta if r["term"] in phrase],
        )
        parts.append(m.select("doc_id", "field", "contrib"))
    if not parts:
        return empty_topk(spark, by_doc_id=doc_map is not None)
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionByName(p)
    n_buckets = 16  # the WAND paths' default
    ranked = _wand_from_hits(
        rows, cfg, k, n_buckets,
        pr_broadcast(spark, pagerank, doc_map),
        shuffle_parts=max(1, min(query_decode_parts(meta, cfg), n_buckets)),
    )
    if doc_map is None:
        return ranked.withColumnRenamed("doc_id", "doc_key")
    return hydrate_doc_ids(ranked, doc_map, k)
