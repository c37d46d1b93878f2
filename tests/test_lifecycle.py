"""End-to-end LSM lifecycle — the full chain a serving cluster runs,
asserted against the semantically-right oracle at EVERY stage:

  stream ingest -> serve segment 1
    -> extend_doc_dim + append-only segment 2 -> serve over 2 segments
    -> re-drop changed docs -> tombstoned merge -> serve merged, with no
       refresh of any kind == from-scratch CURRENT oracle
    -> resort_index -> doc_id tie order restored, results unchanged.

Every stage serves with the live statistics of its corpus (the shards
store tfs, not weights), so every stage equals the exhaustive scorer
over a from-scratch index of that corpus.

The individual pieces are gated elsewhere (test_merge_shards,
test_compaction, test_streaming); this walks the composed chain on the
skewed fixture corpus (hot terms df ~80%, rare terms, one identical doc
pair for ties)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spaghettisearch_spark.config import DEFAULT
from spaghettisearch_spark.fixtures import make_documents
from spaghettisearch_spark.functions.tokenize import parse_query
from spaghettisearch_spark.operators.bm25 import search
from spaghettisearch_spark.operators.compression import (
    build_doc_dim,
    build_posting_shards,
    extend_doc_dim,
    merge_posting_shards,
    resort_index,
)
from spaghettisearch_spark.operators.index_build import (
    build_index,
    collect_corpus_stats,
)
from spaghettisearch_spark.operators.wand import wand_topk_from_shards
from spaghettisearch_spark.streaming.ingest import (
    live_corpus,
    stream_ingest_documents,
)

K = 20


def _map(dim):
    return dim.select(F.col("doc_idx").alias("doc_key"), "doc_id")


def _stats(spark, idx, dim):
    """The live statistics of ``idx``'s corpus over ``dim``'s keys."""
    return collect_corpus_stats(spark, idx.doc_stats, _map(dim))


def _serve(spark, shards, dim, terms, stats):
    return wand_topk_from_shards(
        spark, shards, _map(dim), terms, DEFAULT, k=K, stats=stats
    ).collect()


def _norm(rows):
    """Order-insensitive (doc_id, score) view — used where the dense-dim
    tie order legitimately differs from doc_id order (post-extend,
    pre-resort)."""
    return sorted((r["doc_id"], round(r["score"], 8)) for r in rows)


def _ranked(rows):
    return [(r["doc_id"], round(r["score"], 8)) for r in rows]


def test_lsm_lifecycle_stream_to_resort(spark, tmp_path):
    docs = make_documents(120)
    in_dir = str(tmp_path / "drop")
    wh = str(tmp_path / "wh")
    terms, _ = parse_query("dispatch buffer")

    # ---- stage A: first drop streams in; serve segment 1 ----
    spark.createDataFrame(docs.iloc[:80]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(in_dir)
    stream_ingest_documents(spark, in_dir, wh).awaitTermination(120)
    # live_corpus is a LIVE view of the warehouse path: a later append
    # re-caches any path-dependent cached frame (Spark CacheManager
    # recacheByPath), silently turning "segment-1 state" into the grown
    # corpus — stage snapshots must be localCheckpoint'd, not cached
    corpus1 = live_corpus(spark, wh).localCheckpoint(eager=True)
    n1 = corpus1.count()
    assert n1 == 80
    idx1 = build_index(corpus1, DEFAULT)
    idx1.postings.cache().count()
    dim1 = build_doc_dim(corpus1).cache()
    seg1 = build_posting_shards(
        idx1.postings, n1, DEFAULT, doc_dim=dim1, weight_col="bm25_weight"
    ).cache()
    seg1.count()
    got_a = _serve(spark, seg1, dim1, terms, _stats(spark, idx1, dim1))
    want_a = search(spark, idx1, "dispatch buffer", DEFAULT, k=K).collect()
    assert _ranked(got_a) == _ranked(want_a)

    # ---- stage B: 40 NEW docs arrive; extend the dim, append a
    # segment, serve over BOTH segments before any compaction, with the
    # grown corpus's statistics: segment 1's blocks need no re-encode to
    # score like the current-stats index. Tie ORDER may differ: dim2 is
    # extend-appended, so dense-key ties rank by segment age until the
    # re-sort (stage D). ----
    spark.createDataFrame(docs.iloc[80:]).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    stream_ingest_documents(spark, in_dir, wh).awaitTermination(120)
    corpus2 = live_corpus(spark, wh).localCheckpoint(eager=True)
    n2 = corpus2.count()
    assert n2 == 120
    idx2 = build_index(corpus2, DEFAULT)
    idx2.postings.cache().count()
    dim2 = extend_doc_dim(dim1, corpus2).cache()
    new_ids = corpus2.join(corpus1.select("doc_id"), "doc_id", "left_anti")
    delta2 = idx2.postings.join(
        new_ids.select("doc_id"), "doc_id", "left_semi"
    )
    seg2 = build_posting_shards(
        delta2, n2, DEFAULT, doc_dim=dim2, weight_col="bm25_weight"
    ).cache()
    seg2.count()
    two_seg = seg1.unionByName(seg2)
    got_b = _serve(spark, two_seg, dim2, terms, _stats(spark, idx2, dim2))
    want_b = search(spark, idx2, "dispatch buffer", DEFAULT, k=K).collect()
    assert _norm(got_b) == _norm(want_b)

    # ---- stage C: 5 docs change and RE-DROP through the stream; the
    # re-crawl delta merges in with tombstones for the stale postings,
    # and with no refresh the merged shards serve like the from-scratch
    # CURRENT-stats oracle ----
    changed = docs.iloc[:5].copy()
    changed["content"] = changed["content"] + " dispatch freshsig"
    spark.createDataFrame(changed).coalesce(1).write.mode("append").parquet(
        in_dir
    )
    stream_ingest_documents(spark, in_dir, wh).awaitTermination(120)
    corpus3 = live_corpus(spark, wh).localCheckpoint(eager=True)
    assert corpus3.count() == 120
    idx3 = build_index(corpus3, DEFAULT)
    idx3.postings.cache().count()
    changed_ids = (
        corpus3.select("doc_id", "content_sha256")
        .join(
            corpus2.select(
                "doc_id", F.col("content_sha256").alias("old_sha")
            ),
            "doc_id",
        )
        .filter(F.col("content_sha256") != F.col("old_sha"))
        .select("doc_id")
        .cache()
    )
    assert changed_ids.count() == 5
    tomb = (
        idx2.postings.join(changed_ids, "doc_id", "left_semi")
        .join(dim2, "doc_id")
        .select("term", "field", F.col("doc_idx").alias("doc_key"))
    )
    delta3 = build_posting_shards(
        idx3.postings.join(changed_ids, "doc_id", "left_semi"),
        n2, DEFAULT, doc_dim=dim2, weight_col="bm25_weight",
    ).cache()
    delta3.count()
    stats3 = _stats(spark, idx3, dim2)
    merged = merge_posting_shards(
        two_seg, delta3, n2, DEFAULT, delete_postings=tomb, stats=stats3,
    ).cache()
    merged.count()
    got_c = _serve(spark, merged, dim2, terms, stats3)
    want_c = search(spark, idx3, "dispatch buffer", DEFAULT, k=K).collect()
    assert _norm(got_c) == _norm(want_c)

    # ---- stage D: dim re-sort restores doc_id tie order — full rank
    # equality with the from-scratch oracle, scores unchanged ----
    dim3, sorted_shards = resort_index(merged, dim2, DEFAULT, stats=stats3)
    dim3.cache()
    sorted_shards = sorted_shards.cache()
    sorted_shards.count()
    stats_sorted = _stats(spark, idx3, dim3)
    got_d = _serve(spark, sorted_shards, dim3, terms, stats_sorted)
    assert _ranked(got_d) == _ranked(want_c)
    # the fixture's identical doc pair must tie-break by doc_id on the
    # re-sorted dim exactly as the exhaustive path does
    tie_terms, _ = parse_query("sorted merge")
    got_tie = _serve(spark, sorted_shards, dim3, tie_terms, stats_sorted)
    want_tie = search(spark, idx3, "sorted merge", DEFAULT, k=K).collect()
    assert _ranked(got_tie) == _ranked(want_tie)

    for df_ in (dim1, dim2, dim3, seg1, seg2, delta3, merged,
                sorted_shards, changed_ids):
        df_.unpersist()
