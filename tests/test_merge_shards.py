"""LSM-style delta-shard merge (north rule: posting-list construction,
MERGE, compression). merge_posting_shards must (a) reproduce exactly the
shards a from-scratch build would produce when both sides share global
stats, (b) pass untouched blocks through byte-identical without decoding
them, and (c) honor upserts (delta wins) and tombstones."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spaghettisearch_spark.config import DEFAULT
from spaghettisearch_spark.operators.compression import (
    build_doc_dim,
    build_posting_shards,
    decode_shards,
    extend_doc_dim,
    merge_posting_shards,
)


def _decoded_set(spark, shards):
    return {
        (r["term"], r["field"], r["doc_key"], r["tf"], tuple(r["positions"]))
        for r in decode_shards(shards).collect()
    }


def test_merge_equals_scratch_build(
    spark, corpus_small, index_small, dim_small, stats_small
):
    n_docs = corpus_small.count()
    doc_dim, _ = dim_small
    postings = index_small.postings.withColumn(
        "weight", F.col("bm25_weight")
    ).select("term", "field", "doc_id", "tf", "positions", "dl", "weight").cache()

    # pick ~20% of docs as the "changed" segment
    changed_ids = (
        corpus_small.select("doc_id")
        .orderBy("doc_id")
        .limit(max(n_docs // 5, 3))
        .cache()
    )
    fresh = postings.join(changed_ids, "doc_id", "left_semi")
    kept = postings.join(changed_ids, "doc_id", "left_anti")

    # base = kept postings + STALE rows for the changed docs (old tf,
    # plus a term that vanished in the new version). The vanished-term
    # rows are picked DETERMINISTICALLY (ordered limit) — an unordered
    # limit re-evaluates differently in the base-build and tombstone
    # subplans and makes the equality below flaky.
    stale = fresh.withColumn("tf", F.col("tf") + F.lit(1)).unionByName(
        fresh.orderBy("doc_id", "field", "term").limit(5)
        .withColumn("term", F.lit("zzstaleterm"))
    ).cache()
    base = build_posting_shards(
        stale.unionByName(kept), n_docs, DEFAULT, doc_dim=doc_dim
    ).cache()
    delta = build_posting_shards(
        fresh, n_docs, DEFAULT, doc_dim=doc_dim
    ).cache()
    tombstones = stale.join(doc_dim, "doc_id").select(
        "term", "field", F.col("doc_idx").alias("doc_key")
    )

    merged = merge_posting_shards(
        base, delta, n_docs, DEFAULT, delete_postings=tombstones,
        stats=stats_small,
    ).cache()
    scratch = build_posting_shards(
        postings, n_docs, DEFAULT, doc_dim=doc_dim
    ).cache()

    assert _decoded_set(spark, merged) == _decoded_set(spark, scratch)
    # the vanished term leaves no block behind
    assert merged.filter(F.col("term") == "zzstaleterm").count() == 0

    # untouched (term, field) groups pass through byte-identical
    touched = (
        delta.select("term", "field")
        .unionByName(tombstones.select("term", "field"))
        .distinct()
    )
    untouched_base = base.join(touched, ["term", "field"], "left_anti")
    untouched_merged = merged.join(touched, ["term", "field"], "left_anti")
    key = lambda r: (r["term"], r["field"], r["salt"])
    payload = ("doc_ids", "tfs", "positions")
    blocks_b = {key(r): tuple(bytes(r[c]) for c in payload)
                for r in untouched_base.collect()}
    blocks_m = {key(r): tuple(bytes(r[c]) for c in payload)
                for r in untouched_merged.collect()}
    assert blocks_b and blocks_b == blocks_m
    for df_ in (base, delta, merged, scratch, postings, changed_ids, stale):
        df_.unpersist()


def test_merge_salt_reclassification(
    spark, corpus_small, index_small, dim_small, stats_small
):
    """A term pushed over the hot-df threshold BY the delta gets salted
    at merge time (re-encoded groups re-derive salt from merged df)."""
    import spaghettisearch_spark.config as config_mod

    n_docs = corpus_small.count()
    doc_dim, _ = dim_small
    postings = index_small.postings.withColumn(
        "weight", F.col("bm25_weight")
    ).select("term", "field", "doc_id", "tf", "positions", "dl", "weight")
    # synthetic cold term in base (1 doc), delta adds it to EVERY doc
    one = postings.limit(1).withColumn("term", F.lit("zzrare"))
    base = build_posting_shards(
        postings.unionByName(one), n_docs, DEFAULT, doc_dim=doc_dim
    )
    everywhere = (
        corpus_small.select("doc_id")
        .withColumn("term", F.lit("zzrare"))
        .withColumn("field", F.lit("body"))
        .withColumn("tf", F.lit(1))
        .withColumn("positions", F.array(F.lit(0)))
        .withColumn("dl", F.lit(1))
        .withColumn("weight", F.lit(1.0))
    )
    delta = build_posting_shards(everywhere, n_docs, DEFAULT, doc_dim=doc_dim)
    merged = merge_posting_shards(
        base, delta, n_docs, DEFAULT, stats=stats_small
    )
    salts = {
        r["salt"]
        for r in merged.filter(F.col("term") == "zzrare").collect()
    }
    assert len(salts) > 1  # hot now -> salted into multiple blocks


def test_merge_partitions_only(
    spark, corpus_small, index_small, dim_small, stats_small
):
    """partitions_only: the dynamic-partition-overwrite write set. Must
    equal the full merge restricted to the delta's shard partitions, and
    contain no rows from untouched partitions."""
    n_docs = corpus_small.count()
    doc_dim, _ = dim_small
    postings = index_small.postings.withColumn(
        "weight", F.col("bm25_weight")
    ).select("term", "field", "doc_id", "tf", "positions", "dl", "weight")
    one_doc = postings.join(
        corpus_small.select("doc_id").orderBy("doc_id").limit(1), "doc_id"
    )
    base = build_posting_shards(
        postings, n_docs, DEFAULT, doc_dim=doc_dim
    ).cache()
    delta = build_posting_shards(
        one_doc.orderBy("term", "field").limit(5)
        .withColumn("tf", F.col("tf") + F.lit(1)),
        n_docs, DEFAULT, doc_dim=doc_dim,
    ).cache()
    ids = {r[0] for r in delta.select("shard").distinct().collect()}
    assert ids and len(ids) < DEFAULT.n_shards  # a real subset

    full = merge_posting_shards(
        base, delta, n_docs, DEFAULT, stats=stats_small
    ).cache()
    part = merge_posting_shards(
        base, delta, n_docs, DEFAULT, partitions_only=True,
        stats=stats_small,
    ).cache()
    assert {r[0] for r in part.select("shard").distinct().collect()} <= ids
    want = _decoded_set(spark, full.filter(F.col("shard").isin(list(ids))))
    got = _decoded_set(spark, part)
    assert got == want
    for df_ in (base, delta, full, part):
        df_.unpersist()


def test_merge_sequential_folds(
    spark, corpus_small, index_small, dim_small, stats_small
):
    """Streaming-maintenance shape: fold micro-batch segments into the
    standing shards one merge at a time. Batch 3 re-updates docs first
    seen (stale) in batch 1, with tombstones, ACROSS an intervening
    merge — the folded result must equal the one-shot build of the
    final postings."""
    n_docs = corpus_small.count()
    doc_dim, _ = dim_small
    postings = index_small.postings.withColumn(
        "weight", F.col("bm25_weight")
    ).select("term", "field", "doc_id", "tf", "positions", "dl", "weight").cache()

    ids = [r["doc_id"] for r in
           corpus_small.select("doc_id").orderBy("doc_id").collect()]
    third = max(len(ids) // 3, 1)
    a_ids, b_ids = set(ids[:third * 2]), set(ids[third * 2:])
    c_ids = set(ids[:third // 2 + 1])  # subset of A, updated in batch 3

    p_a = postings.filter(F.col("doc_id").isin(list(a_ids - c_ids)))
    p_b = postings.filter(F.col("doc_id").isin(list(b_ids)))
    p_c = postings.filter(F.col("doc_id").isin(list(c_ids)))
    stale_c = p_c.withColumn("tf", F.col("tf") + F.lit(2))

    # segments are MATERIALIZED before each fold, per the caller contract
    # in merge_posting_shards' docstring (the merge plan references each
    # side several times; unmaterialized sides also compound the nested
    # plan tree until the plan STRING alone can exhaust driver heap)
    s1 = build_posting_shards(
        p_a.unionByName(stale_c), n_docs, DEFAULT, doc_dim=doc_dim
    ).cache()
    s2 = build_posting_shards(p_b, n_docs, DEFAULT, doc_dim=doc_dim).cache()
    s3 = build_posting_shards(p_c, n_docs, DEFAULT, doc_dim=doc_dim).cache()
    tomb = stale_c.join(doc_dim, "doc_id").select(
        "term", "field", F.col("doc_idx").alias("doc_key")
    )

    fold1 = merge_posting_shards(
        s1, s2, n_docs, DEFAULT, stats=stats_small
    ).cache()
    fold1.count()
    folded = merge_posting_shards(
        fold1, s3, n_docs, DEFAULT, delete_postings=tomb, stats=stats_small,
    )
    scratch = build_posting_shards(postings, n_docs, DEFAULT, doc_dim=doc_dim)
    assert _decoded_set(spark, folded) == _decoded_set(spark, scratch)
    for df_ in (postings, s1, s2, s3, fold1):
        df_.unpersist()


def test_query_over_unmerged_segments(
    spark, corpus_small, index_small, dim_small, stats_small
):
    """LSM read path: an append-only delta segment serves BEFORE
    compaction — WAND over the UNION of segment frames equals WAND over
    the merged shards (segments are doc-disjoint, so no posting is
    double-counted; the skip planner handles multiple block rows per
    (term, field, salt) conservatively). This is what lets compaction be
    deferred/amortized while the delta is already queryable."""
    from spaghettisearch_spark.functions.tokenize import parse_query
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards

    n_docs = corpus_small.count()
    doc_dim, doc_map = dim_small
    postings = index_small.postings.withColumn(
        "weight", F.col("bm25_weight")
    ).select("term", "field", "doc_id", "tf", "positions", "dl", "weight").cache()
    seg = F.pmod(F.xxhash64("doc_id"), F.lit(5))
    base = build_posting_shards(
        postings.filter(seg != 0), n_docs, DEFAULT, doc_dim=doc_dim
    ).cache()
    delta = build_posting_shards(
        postings.filter(seg == 0), n_docs, DEFAULT, doc_dim=doc_dim
    ).cache()
    merged = merge_posting_shards(
        base, delta, n_docs, DEFAULT, stats=stats_small
    ).cache()
    union = base.unionByName(delta)
    for query in ["parse buffer flush", "dispatch"]:
        terms, _ = parse_query(query)
        a = wand_topk_from_shards(
            spark, union, doc_map, terms, DEFAULT, k=15,
            stats=stats_small,
        ).collect()
        b = wand_topk_from_shards(
            spark, merged, doc_map, terms, DEFAULT, k=15,
            stats=stats_small,
        ).collect()
        assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b], query
        for x, y in zip(a, b):
            assert x["score"] == pytest.approx(y["score"], rel=1e-9)
    for df_ in (postings, base, delta, merged):
        df_.unpersist()


def test_recrawl_chain_equals_scratch(
    spark, corpus_small, index_small, dim_small, stats_small
):
    """The composed incremental path (the reference's checkAndUpdate
    analog, indexer.go:420-641): a base index holding STALE versions of
    ~20% of docs (perturbed content incl. a vanished term) is repaired
    by diff_corpus (sha256 staleness) -> fresh-delta build -> tombstoned
    merge, and must equal the one-shot build of the true corpus. Mirrors
    the driver's _engine_shards construction with dense keys."""
    from spaghettisearch_spark.operators.incremental import diff_corpus
    from spaghettisearch_spark.operators.index_build import (
        build_postings,
        tokenize_fields,
    )
    from spaghettisearch_spark.sources.corpus import ingest

    n_docs = corpus_small.count()
    doc_dim, _ = dim_small
    raw = corpus_small.select("repo", "path", "commit", "lang", "content")
    stale_pred = F.pmod(F.xxhash64("doc_id"), F.lit(5)) == 0
    changed_ids = corpus_small.filter(stale_pred).select("doc_id").cache()
    assert 0 < changed_ids.count() < n_docs
    stale_raw = ingest(raw).withColumn(
        "content",
        F.when(
            stale_pred,
            F.concat(F.col("content"), F.lit(" zzstaleterm zzstaleterm")),
        ).otherwise(F.col("content")),
    ).select("repo", "path", "commit", "lang", "content")
    stale_corpus = ingest(stale_raw).cache()
    stale_postings = build_postings(
        tokenize_fields(stale_corpus.join(changed_ids, "doc_id", "left_semi"))
    ).withColumn("dl", F.lit(1)).withColumn("weight", F.lit(1.0)).cache()
    true_keep = (
        index_small.postings.join(changed_ids, "doc_id", "left_anti")
        .withColumn("weight", F.col("bm25_weight"))
        .select("term", "field", "doc_id", "tf", "positions", "dl", "weight")
    )
    base = build_posting_shards(
        true_keep.unionByName(
            stale_postings.select(
                "term", "field", "doc_id", "tf", "positions", "dl", "weight"
            )
        ),
        n_docs, DEFAULT, doc_dim=doc_dim,
    ).cache()
    assert base.filter(F.col("term") == "zzstaleterm").count() > 0

    # --- the re-crawl batch arrives: the true docs ---
    changed = diff_corpus(stale_corpus, raw).cache()
    assert (
        {r["doc_id"] for r in changed.select("doc_id").collect()}
        == {r["doc_id"] for r in changed_ids.collect()}
    )
    delta = build_posting_shards(
        index_small.postings
        .join(changed.select("doc_id"), "doc_id", "left_semi")
        .withColumn("weight", F.col("bm25_weight"))
        .select("term", "field", "doc_id", "tf", "positions", "dl", "weight"),
        n_docs, DEFAULT, doc_dim=doc_dim,
    ).cache()
    tombstones = stale_postings.join(doc_dim, "doc_id").select(
        "term", "field", F.col("doc_idx").alias("doc_key")
    )
    merged = merge_posting_shards(
        base, delta, n_docs, DEFAULT, delete_postings=tombstones,
        stats=stats_small,
    )
    scratch = build_posting_shards(
        index_small.postings.withColumn("weight", F.col("bm25_weight"))
        .select("term", "field", "doc_id", "tf", "positions", "dl", "weight"),
        n_docs, DEFAULT, doc_dim=doc_dim,
    )
    assert _decoded_set(spark, merged) == _decoded_set(spark, scratch)
    assert merged.filter(F.col("term") == "zzstaleterm").count() == 0
    for df_ in (changed_ids, stale_corpus, stale_postings, base, changed,
                delta):
        df_.unpersist()


def test_extend_doc_dim_append_only(spark, corpus_small):
    half = corpus_small.limit(corpus_small.count() // 2).cache()
    dim0 = build_doc_dim(half).cache()
    dim1 = extend_doc_dim(dim0, corpus_small).cache()
    old = {r["doc_id"]: r["doc_idx"] for r in dim0.collect()}
    new = {r["doc_id"]: r["doc_idx"] for r in dim1.collect()}
    # existing mappings unchanged
    assert all(new[d] == i for d, i in old.items())
    # full coverage, contiguous, fresh ids strictly after the old max
    assert len(new) == corpus_small.select("doc_id").distinct().count()
    assert sorted(new.values()) == list(range(len(new)))
    fresh_ids = set(new) - set(old)
    assert fresh_ids and min(new[d] for d in fresh_ids) == max(old.values()) + 1
    # idempotent: extending with no new docs adds nothing
    dim2 = extend_doc_dim(dim1, corpus_small)
    assert dim2.count() == dim1.count()
    for df_ in (half, dim0, dim1):
        df_.unpersist()
