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
from .index_build import FIELD_BODY, FIELD_TITLE, Index
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


def bm25_contrib_col(cfg: EngineConfig, n_docs: int, avgdl: float) -> F.Column:
    """Per-posting BM25 contribution; expects columns tf, df, dl."""
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * F.lit(cfg.k1 + 1.0)) / (
        F.col("tf")
        + F.lit(cfg.k1)
        * (F.lit(1.0 - cfg.b) + F.lit(cfg.b) * F.col("dl") / F.lit(avgdl))
    )
    return idf * tf_norm


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
    hits = hits.join(index.doc_stats, ["doc_id", "field"], "left")
    stats = _corpus_stats_map(index)
    if cfg.scorer == "bm25":
        # per-field avgdl/N
        contrib = None
        for field, (n_docs, avgdl) in stats.items():
            c = bm25_contrib_col(cfg, n_docs, avgdl)
            contrib = (
                F.when(F.col("field") == field, c)
                if contrib is None
                else contrib.when(F.col("field") == field, c)
            )
        hits = hits.withColumn("contrib", contrib)
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
) -> DataFrame:
    """The FULL query pipeline (free terms + phrases + field blend + PR)
    served from the COMPRESSED posting shards — the warehouse-resident
    serving path. Same semantics and (to float associativity) same
    values as ``search`` on the in-memory index the shards were built
    from; asserted in test_api.

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

    BM25-only (blocks store precomputed impact weights; tfidf_cosine's
    per-query normalization needs the in-memory path). Free terms decode
    only the weight stream; phrases additionally decode positions.

    ``meta_cache``: same per-term block-metadata cache contract as
    wand_topk_from_shards — used here only to SIZE the decode stages
    and the kernel exchange from the query terms' summed block df
    (guide §2.2: one decode task per ~query_target_postings_per_task
    postings instead of one near-empty Python task per scan partition);
    without it each call fetches the metadata once. Results are
    identical with or without it.
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
            "shard-backed serving requires bm25 impact weights; "
            "tfidf_cosine needs the in-memory path"
        )
    k = k or cfg.top_k
    free_terms, phrase_lists = parse_query(
        query, cfg.remove_stopwords, cfg.stem
    )
    # one metadata fetch for the query's first-seen terms: it sizes the
    # kernel's bucket exchange, and the per-part lookups below hit it
    cache = {} if meta_cache is None else meta_cache
    kernel_parts = query_decode_parts(
        term_block_meta(
            shards, free_terms + [t for p in phrase_lists for t in p], cfg,
            cache,
        ),
        cfg,
    )
    parts: list[DataFrame] = []
    if free_terms:
        counts = Counter(free_terms)
        pruned = prune_shards(shards, free_terms, cfg)
        n_parts = query_decode_parts(
            term_block_meta(shards, free_terms, cfg, cache), cfg
        )
        if n_parts is not None:
            pruned = pruned.coalesce(n_parts)
        decoded = decode_shards(pruned, fields=("weight",))
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
            spark, shards, None, phrase, cfg,
            decode_parts=query_decode_parts(
                term_block_meta(shards, phrase, cfg, cache), cfg
            ),
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
        pr_broadcast(spark, pagerank, doc_map, dense_keys=True),
        shuffle_parts=(
            None if kernel_parts is None else max(1, min(kernel_parts, n_buckets))
        ),
    )
    if doc_map is None:
        return ranked.withColumnRenamed("doc_id", "doc_key")
    return hydrate_doc_ids(ranked, doc_map, k)
