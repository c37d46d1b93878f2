"""Rank-identity: Spark engine vs the pure-pandas oracle on the
reference query set (FIXTURES.md §3)."""

from __future__ import annotations

import pytest

from spaghettisearch_spark.config import DEFAULT, EngineConfig
from spaghettisearch_spark.fixtures import REFERENCE_QUERIES
from spaghettisearch_spark.operators.bm25 import search
from spaghettisearch_spark.oracle.pandas_oracle import oracle_search


def _run_both(spark, index_small, oracle_small, query, cfg):
    got = (
        search(spark, index_small, query, cfg)
        .select("doc_id", "score", "title_rank", "body_rank")
        .collect()
    )
    want = oracle_search(oracle_small, query, cfg)
    return got, want


@pytest.mark.parametrize(
    "query_id,query,kind", REFERENCE_QUERIES, ids=[q[2] for q in REFERENCE_QUERIES]
)
def test_rank_identity_bm25(spark, index_small, oracle_small, query_id, query, kind):
    got, want = _run_both(spark, index_small, oracle_small, query, DEFAULT)
    got_ids = [r["doc_id"] for r in got]
    want_ids = list(want["doc_id"])
    assert got_ids == want_ids, f"{kind}: doc order mismatch"
    for r, (_, w) in zip(got, want.iterrows()):
        assert r["score"] == pytest.approx(w["score"], rel=1e-9, abs=1e-12)
        assert r["title_rank"] == pytest.approx(w["title_rank"], rel=1e-9, abs=1e-12)
        assert r["body_rank"] == pytest.approx(w["body_rank"], rel=1e-9, abs=1e-12)


def test_empty_queries(spark, index_small, oracle_small):
    for q in ("the and of", "qqqqqq", ""):
        got = search(spark, index_small, q, DEFAULT).collect()
        want = oracle_search(oracle_small, q, DEFAULT)
        assert len(got) == len(want) == 0 or [r["doc_id"] for r in got] == list(
            want["doc_id"]
        )


def test_rank_identity_tfidf_mode(spark, index_small, oracle_small):
    cfg = EngineConfig(scorer="tfidf_cosine")
    # a frozen config is hashable, so it can key caches
    assert hash(EngineConfig()) == hash(DEFAULT)
    for _, query, kind in REFERENCE_QUERIES[:6]:
        got, want = _run_both(spark, index_small, oracle_small, query, cfg)
        assert [r["doc_id"] for r in got] == list(want["doc_id"]), kind


def test_avgdl_includes_zero_token_docs(spark):
    """Empty / all-stopword docs must count toward avgdl in BOTH the
    engine and the oracle (ADVICE r01: the engine averaged only docs
    with >=1 token, diverging from the DuckDB+pandas oracles)."""
    import pandas as pd

    from spaghettisearch_spark.operators.index_build import build_index
    from spaghettisearch_spark.oracle.pandas_oracle import build_oracle_index
    from spaghettisearch_spark.sources.corpus import ingest

    docs = pd.DataFrame(
        [
            ("r", "a.py", "HEAD", "py", "parse buffer parse table"),
            ("r", "b.py", "HEAD", "py", "buffer table scan"),
            ("r", "empty.py", "HEAD", "py", ""),
            ("r", "stop.py", "HEAD", "py", "the and of is are"),
        ],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    corpus = ingest(spark.createDataFrame(docs))
    idx = build_index(corpus)
    # engine avgdl over the body field must average over ALL 4 docs
    stats = {r["field"]: r for r in idx.corpus_stats.collect()}
    oracle = build_oracle_index(docs)
    assert stats["body"]["avgdl"] == pytest.approx(oracle.avgdl["body"])
    got = search(spark, idx, "parse buffer", DEFAULT).collect()
    want = oracle_search(oracle, "parse buffer", DEFAULT)
    assert [r["doc_id"] for r in got] == list(want["doc_id"])
    for r, (_, w) in zip(got, want.iterrows()):
        assert r["score"] == pytest.approx(w["score"], rel=1e-9, abs=1e-12)


def test_tie_break_deterministic(spark, index_small):
    # identical docs 40/41 must come back adjacent, ordered by doc_id
    rows = search(spark, index_small, "dispatch buffer", DEFAULT, k=300).collect()
    scores = {}
    for r in rows:
        scores.setdefault(round(r["score"], 9), []).append(r["doc_id"])
    for ids in scores.values():
        assert ids == sorted(ids)
