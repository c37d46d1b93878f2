"""Topic-blended ranking: search(topic=...) blends the category's
PageRank vector. The reference's topic path is dead code
(computeTopicProbs no-op — SURVEY.md §3.1); this is the working blend
over the topic-sensitive PageRank artifact.

Gates:
  1. a category covering the whole corpus == the global blend exactly
     (init 1/numPages == 1/N, identical iteration + normalization);
  2. on a category-skewed fixture the blend actually CHANGES the
     ranking: two docs with identical text flip order between
     categories (the per-category init scale weights the two-hop
     signal A·u against the one-hop u differently after >=2
     normalized iterations).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spaghettisearch_spark.config import DEFAULT
from spaghettisearch_spark.operators.bm25 import search
from spaghettisearch_spark.operators.links import extract_links
from spaghettisearch_spark.operators.pagerank import compute_pagerank
from spaghettisearch_spark.operators.topics import compute_topic_pagerank


def test_single_category_blend_equals_global(spark, corpus_small, index_small):
    links = extract_links(corpus_small).cache()
    topics = corpus_small.select("doc_id", F.lit("all").alias("category"))
    g = compute_pagerank(
        spark, corpus_small, links, DEFAULT, max_iters=3, epsilon=0.0
    ).cache()
    t = compute_topic_pagerank(
        spark, corpus_small, links, topics, DEFAULT, max_iters=3, epsilon=0.0
    ).cache()
    a = search(spark, index_small, "parse buffer", DEFAULT, pagerank=g, k=10).collect()
    b = search(
        spark, index_small, "parse buffer", DEFAULT,
        topic_pagerank=t, topic="all", k=10,
    ).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    for x, y in zip(a, b):
        assert x["score"] == pytest.approx(y["score"], rel=1e-9)
        assert x["pagerank"] == pytest.approx(y["pagerank"], rel=1e-9)


def _mini_corpus(spark):
    """x and y share the only 'needle' text; link structure gives x many
    weak parents (high one-hop mass u) and y one strong two-hop chain
    (high A·u): small-category init weights the two-hop signal more."""
    from spaghettisearch_spark.sources.corpus import ingest

    names = ["x", "y", "z", "a", "b", "c", "p", "q", "r", "t"]
    rows = []
    for n in names:
        content = (
            "needle gadget widget common"
            if n in ("x", "y")
            else f"filler{n} common words here"
        )
        rows.append(("org", f"{n}_doc.py", "c0ffee", "py", content))
    corpus = ingest(
        spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
    ).cache()
    ids = {r["path"].split("_")[0]: r["doc_id"] for r in corpus.select("path", "doc_id").collect()}
    edges = [("a", "x"), ("b", "x"), ("c", "x"), ("z", "y"),
             ("p", "z"), ("q", "z"), ("r", "z"), ("t", "z")]
    links = spark.createDataFrame(
        [(ids[s], ids[d]) for s, d in edges], "src_doc string, dst_doc string"
    )
    return corpus, links, ids


def test_topic_blend_changes_ranking(spark):
    from spaghettisearch_spark.operators.index_build import build_index

    corpus, links, ids = _mini_corpus(spark)
    idx = build_index(corpus, DEFAULT)
    # cat 'small' has 2 pages, 'big' all 10 -> init 1/2 vs 1/10
    topics = corpus.select(
        "doc_id",
        F.when(
            F.col("doc_id").isin([ids["x"], ids["y"]]), F.lit("small")
        ).otherwise(F.lit("big")).alias("category"),
    )
    tpr = compute_topic_pagerank(
        spark, corpus, links, topics, DEFAULT, max_iters=2, epsilon=0.0
    ).cache()
    gpr = compute_pagerank(
        spark, corpus, links, DEFAULT, max_iters=2, epsilon=0.0
    ).cache()

    def top1(**kw):
        return search(spark, idx, "needle", DEFAULT, k=2, **kw).first()["doc_id"]

    # identical text => pure-text top-1 is the doc_id tie-break; the PR
    # blend must decide instead, and decide DIFFERENTLY per category
    assert top1(topic_pagerank=tpr, topic="small") == ids["y"]
    assert top1(topic_pagerank=tpr, topic="big") == ids["x"]
    assert top1(pagerank=gpr) == ids["x"]


def test_engine_facade_topic_query(spark):
    from spaghettisearch_spark.api import SearchEngine

    corpus, links, ids = _mini_corpus(spark)
    raw = corpus.select("repo", "path", "commit", "lang", "content")
    topics = corpus.select(
        "doc_id",
        F.when(
            F.col("doc_id").isin([ids["x"], ids["y"]]), F.lit("small")
        ).otherwise(F.lit("big")).alias("category"),
    )
    eng = SearchEngine.build(spark, raw, DEFAULT, with_pagerank=True, topics=topics)
    # facade threads topic= through (uses extract_links internally, which
    # finds no hrefs in this corpus -> topic PR is uniform per category;
    # just assert the plumbing returns cards and the topic filter applies)
    cards = eng.query("needle", k=2, topic="small")
    assert len(cards) == 2
    assert {c["doc_id"] for c in cards} == {ids["x"], ids["y"]}
    with pytest.raises(ValueError):
        SearchEngine(spark=spark).query_df("needle", topic="nope")


def test_engine_topic_query_shards_backend(spark, tmp_path):
    """Topic blending on the SHARDS backend with use_wand: each topic's
    PR vector has its own blend maximum, so the skip-planner cache must
    be per-topic (a shared cache reused a stale pr_max and could
    silently skip blocks that the bigger topic vector can still lift
    into the top-k). Cards must match the exhaustive bm25.search with
    the topic's rows of topic_pagerank (the global frame without a
    topic), interleaved so cache reuse across topics would be
    exposed."""
    from spaghettisearch_spark.api import SearchEngine
    from spaghettisearch_spark.operators.index_build import build_index
    from spaghettisearch_spark.operators.wand import _PR_MAX_KEY

    corpus, links, ids = _mini_corpus(spark)
    raw = corpus.select("repo", "path", "commit", "lang", "content")
    topics = corpus.select(
        "doc_id",
        F.when(
            F.col("doc_id").isin([ids["x"], ids["y"]]), F.lit("small")
        ).otherwise(F.lit("big")).alias("category"),
    )
    eng = SearchEngine.build(
        spark, raw, DEFAULT, with_pagerank=True, topics=topics,
        warehouse_dir=str(tmp_path / "wh"),
    )
    # the exhaustive reference: a from-scratch index of the same corpus,
    # built the way the engine builds its shards
    ref = build_index(corpus, DEFAULT, links=extract_links(corpus))
    for topic in ("small", "big", "small", None, "big"):
        want = search(
            spark, ref, "needle", DEFAULT, k=3,
            pagerank=eng.pagerank if topic is None else None,
            topic_pagerank=eng.topic_pagerank, topic=topic,
        ).collect()
        shd = eng.query("needle", k=3, use_wand=True, topic=topic,
                        backend="shards")
        assert [c["doc_id"] for c in shd] == [r["doc_id"] for r in want], topic
        for a, b in zip(shd, want):
            assert a["final_rank"] == pytest.approx(b["score"], rel=1e-9)
            assert a["pagerank"] == pytest.approx(b["pagerank"], rel=1e-9)
    # ONE shared cache: term metadata fetched once for all topics, but
    # each PR vector keeps its OWN pr_max slot (a stale pr_max under a
    # different vector would break skip admissibility) — on this fixture
    # the VALUES happen to coincide (uniform per-category PR), the slot
    # isolation is what matters
    assert _PR_MAX_KEY in eng.meta_cache
    for t in ("small", "big"):
        assert f"{_PR_MAX_KEY}:{t}" in eng.meta_cache
    # term metadata entries are shared (no per-topic duplication)
    term_keys = [k for k in eng.meta_cache if not k.startswith("\x00")]
    assert len(term_keys) == len(set(term_keys))

