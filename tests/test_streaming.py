"""Streaming ingest: incremental postings == batch postings; re-dropped
docs upsert; compaction after a stream equals a batch build; snippets."""

from __future__ import annotations

import pytest


def test_stream_ingest_matches_batch(spark, docs_tiny, tmp_path):
    from spaghettisearch_spark.operators import index_build as ib
    from spaghettisearch_spark.sources.corpus import ingest
    from spaghettisearch_spark.streaming.ingest import stream_ingest_documents

    in_dir = str(tmp_path / "drop")
    wh = str(tmp_path / "wh")
    # two "arrivals"
    docs = spark.createDataFrame(docs_tiny)
    half1 = docs.limit(30)
    half2 = docs.subtract(half1)
    half1.coalesce(1).write.mode("overwrite").parquet(in_dir)
    q = stream_ingest_documents(spark, in_dir, wh)
    q.awaitTermination(120)
    half2.coalesce(1).write.mode("append").parquet(in_dir)
    q2 = stream_ingest_documents(spark, in_dir, wh)
    q2.awaitTermination(120)

    streamed = spark.read.parquet(f"{wh}/postings_raw").select(
        "term", "field", "doc_id", "tf"
    )
    batch = ib.build_postings(ib.tokenize_fields(ingest(docs))).select(
        "term", "field", "doc_id", "tf"
    )
    assert streamed.count() == batch.count()
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stream_redrop_changed_doc_upserts(spark, docs_tiny, tmp_path):
    """ADVICE r01: a re-dropped CHANGED doc must not double-count — the
    live view resolves latest-wins per doc, and compact() folds it."""
    import pandas as pd

    from spaghettisearch_spark.operators import index_build as ib
    from spaghettisearch_spark.sources.corpus import ingest
    from spaghettisearch_spark.streaming.ingest import (
        live_corpus,
        live_postings,
        stream_ingest_documents,
    )

    in_dir = str(tmp_path / "drop")
    wh = str(tmp_path / "wh")
    docs = pd.DataFrame(docs_tiny)
    spark.createDataFrame(docs).coalesce(1).write.mode("overwrite").parquet(in_dir)
    stream_ingest_documents(spark, in_dir, wh).awaitTermination(120)

    final = docs.copy()
    for i in range(5):
        final.loc[i, "content"] = final.loc[i, "content"] + " freshzz tokenzz"
    changed = final.head(5)
    spark.createDataFrame(changed).coalesce(1).write.mode("append").parquet(in_dir)
    stream_ingest_documents(spark, in_dir, wh).awaitTermination(120)

    # raw corpus holds both versions; live view exactly one per doc
    assert spark.read.parquet(f"{wh}/corpus").count() == len(docs) + 5
    live = live_corpus(spark, wh)
    assert live.count() == len(docs)

    got = live_postings(spark, wh).select("term", "field", "doc_id", "tf")
    batch = ib.build_postings(
        ib.tokenize_fields(ingest(spark.createDataFrame(final)))
    ).select("term", "field", "doc_id", "tf")
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0

    # compact folds versions down and equals a batch build over `final`
    from spaghettisearch_spark.streaming.ingest import compact

    built = compact(spark, wh)
    compacted = built.load(spark).postings.select("term", "field", "doc_id", "tf")
    # anchor credit included in the pipeline build; strip to body/title
    # token postings by comparing against a links-aware batch build
    from spaghettisearch_spark.operators.links import extract_links

    corpus = ingest(spark.createDataFrame(final))
    full = ib.build_postings(
        ib.tokenize_fields(corpus, links=extract_links(corpus))
    ).select("term", "field", "doc_id", "tf")
    assert compacted.exceptAll(full).count() == 0
    assert full.exceptAll(compacted).count() == 0


def test_snippets(spark, corpus_tiny):
    from spaghettisearch_spark.functions.snippets import make_summary_py, with_snippets
    from spaghettisearch_spark.functions.tokenize import parse_query
    from spaghettisearch_spark.operators.bm25 import search
    from spaghettisearch_spark.operators.index_build import build_index

    idx = build_index(corpus_tiny)
    terms, phrases = parse_query('"hash table probe"')
    topk = search(spark, idx, '"hash table probe"', k=5, hydrate=True)
    topk = topk.join(corpus_tiny.select("doc_id", "content"), "doc_id")
    rows = with_snippets(topk, "content", terms, phrases).collect()
    assert rows
    for r in rows:
        assert "hash table probe" in r["snippet"]
        want = make_summary_py(r["content"], terms, phrases)
        assert r["snippet"] == want
    # fallback: no match -> middle window
    s = make_summary_py("one two three", ["zzz"], [])
    assert s == "one two three"


def test_compact_after_stream(spark, docs_tiny, tmp_path):
    """Stream docs in -> compact -> full queryable index over everything."""
    from spaghettisearch_spark.operators.bm25 import search
    from spaghettisearch_spark.plans.build_pipeline import BuiltIndex
    from spaghettisearch_spark.streaming.ingest import compact, stream_ingest_documents

    in_dir = str(tmp_path / "drop")
    wh = str(tmp_path / "wh")
    docs = spark.createDataFrame(docs_tiny)
    docs.coalesce(1).write.mode("overwrite").parquet(in_dir)
    q = stream_ingest_documents(spark, in_dir, wh)
    q.awaitTermination(120)
    built = compact(spark, wh)
    idx = built.load(spark)
    rows = search(spark, idx, "parse", k=10).collect()
    assert rows and rows[0]["score"] > 0
    # index equals a direct batch build over the same docs
    from spaghettisearch_spark.operators.index_build import build_index
    from spaghettisearch_spark.sources.corpus import ingest as _ingest

    from spaghettisearch_spark.operators.links import extract_links

    corpus = _ingest(docs)
    mem = build_index(corpus, links=extract_links(corpus))
    a = search(spark, idx, "parse buffer", k=10).collect()
    b = search(spark, mem, "parse buffer", k=10).collect()
    # compact() runs the full pipeline (links + anchor credit), so it must
    # equal a batch build with links
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    for x, y in zip(a, b):
        assert x["score"] == pytest.approx(y["score"], rel=1e-9)
