"""End-to-end LSM lifecycle — the full chain a serving cluster runs,
asserted against the semantically-right oracle at EVERY stage:

  stream ingest -> serve segment 1
    -> extend_doc_dim + append-only segment 2 -> serve over 2 segments
    -> re-drop changed docs -> tombstoned merge -> serve merged
    -> refresh_shard_stats (full re-weight) == from-scratch CURRENT oracle
    -> resort_index -> doc_id tie order restored, results unchanged.

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
    key_doc_stats,
    merge_posting_shards,
    refresh_shard_stats,
    resort_index,
)
from spaghettisearch_spark.operators.index_build import build_index
from spaghettisearch_spark.operators.wand import wand_topk_from_shards
from spaghettisearch_spark.streaming.ingest import (
    live_corpus,
    stream_ingest_documents,
)

K = 20


def _serve(spark, shards, dim, terms):
    doc_map = dim.select(F.col("doc_idx").alias("doc_key"), "doc_id")
    return wand_topk_from_shards(
        spark, shards, doc_map, terms, DEFAULT, k=K
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
    got_a = _serve(spark, seg1, dim1, terms)
    want_a = search(spark, idx1, "dispatch buffer", DEFAULT, k=K).collect()
    assert _ranked(got_a) == _ranked(want_a)

    # ---- stage B: 40 NEW docs arrive; extend the dim, append a
    # segment, serve over BOTH segments before any compaction.
    # Weight semantics at this stage: per-segment stored weights (the
    # documented LSM trade), so the oracle is a from-scratch build of
    # the same mixed-stats postings — not the current-stats index. ----
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
    got_b = _serve(spark, two_seg, dim2, terms)
    mixed = (
        idx1.postings.withColumn("weight", F.col("bm25_weight"))
        .select("term", "field", "doc_id", "tf", "positions", "weight")
        .unionByName(
            delta2.withColumn("weight", F.col("bm25_weight")).select(
                "term", "field", "doc_id", "tf", "positions", "weight"
            )
        )
    )
    ref_b = build_posting_shards(mixed, n2, DEFAULT, doc_dim=dim2)
    want_b = _serve(spark, ref_b, dim2, terms)
    assert _ranked(got_b) == _ranked(want_b)

    # ---- stage C: 5 docs change and RE-DROP through the stream; the
    # re-crawl delta merges in with tombstones for the stale postings ----
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
    merged = merge_posting_shards(
        two_seg, delta3, n2, DEFAULT, delete_postings=tomb
    ).cache()
    merged.count()
    got_c = _serve(spark, merged, dim2, terms)
    # mixed-stats oracle: unchanged old docs keep idx1 weights, batch-2
    # docs keep idx2 weights, changed docs carry idx3 (current) weights
    mixed_c = (
        mixed.join(changed_ids, "doc_id", "left_anti")
        .unionByName(
            idx3.postings.join(changed_ids, "doc_id", "left_semi")
            .withColumn("weight", F.col("bm25_weight"))
            .select("term", "field", "doc_id", "tf", "positions", "weight")
        )
    )
    ref_c = build_posting_shards(mixed_c, n2, DEFAULT, doc_dim=dim2)
    want_c = _serve(spark, ref_c, dim2, terms)
    assert _ranked(got_c) == _ranked(want_c)

    # ---- stage D: stats refresh (full re-weight) — NOW the served
    # results must equal the from-scratch CURRENT-stats oracle. Tie
    # ORDER may differ: dim2 is extend-appended, so dense-key ties rank
    # by segment age until the re-sort (stage E). ----
    refreshed = refresh_shard_stats(
        merged, idx3.term_stats, key_doc_stats(idx3.doc_stats, dim2),
        idx3.corpus_stats.collect(), DEFAULT, drift_threshold=0.0,
    ).cache()
    refreshed.count()
    got_d = _serve(spark, refreshed, dim2, terms)
    want_d = search(spark, idx3, "dispatch buffer", DEFAULT, k=K).collect()
    assert _norm(got_d) == _norm(want_d)

    # ---- stage E: dim re-sort restores doc_id tie order — full rank
    # equality with the from-scratch oracle, scores unchanged ----
    dim3, sorted_shards = resort_index(refreshed, dim2, DEFAULT)
    dim3.cache()
    sorted_shards = sorted_shards.cache()
    sorted_shards.count()
    got_e = _serve(spark, sorted_shards, dim3, terms)
    assert _ranked(got_e) == _ranked(want_d)
    # the fixture's identical doc pair must tie-break by doc_id on the
    # re-sorted dim exactly as the exhaustive path does
    tie_terms, _ = parse_query("sorted merge")
    got_tie = _serve(spark, sorted_shards, dim3, tie_terms)
    want_tie = search(spark, idx3, "sorted merge", DEFAULT, k=K).collect()
    assert _ranked(got_tie) == _ranked(want_tie)

    for df_ in (dim1, dim2, dim3, seg1, seg2, delta3, merged, refreshed,
                sorted_shards, changed_ids):
        df_.unpersist()
