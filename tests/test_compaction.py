"""Compaction complements of the LSM merge: stats refresh (re-weight
only df-drifted groups, untouched blocks byte-identical) and dense-dim
re-sort (restore doc_id-order tie-breaking after extend_doc_dim without
a full pipeline rebuild)."""

from __future__ import annotations

import dataclasses

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spaghettisearch_spark.config import DEFAULT
from spaghettisearch_spark.operators.compression import (
    build_doc_dim,
    build_posting_shards,
    decode_shards,
    extend_doc_dim,
    key_doc_stats,
    refresh_shard_stats,
    resort_index,
)


def _decoded_set(shards):
    return {
        (r["term"], r["field"], r["doc_key"], r["tf"],
         round(r["weight"], 9), tuple(r["positions"]))
        for r in decode_shards(shards).collect()
    }


def _blocks(shards):
    return {
        (r["term"], r["field"], r["salt"]): (
            bytes(r["doc_ids"]), bytes(r["tfs"]), bytes(r["weights"]),
            bytes(r["positions"]), bytes(r["pos_lens"]),
        )
        for r in shards.collect()
    }


def _expected_reweight(spark, idx, postings, term_stats, n_docs):
    """postings re-weighted from the given CURRENT stats — what refresh
    must converge to for touched groups (same formula, independent
    composition)."""
    from spaghettisearch_spark.operators.bm25 import bm25_contrib_col

    contrib = None
    for r in idx.corpus_stats.collect():
        c = bm25_contrib_col(DEFAULT, int(r["n_docs"]), float(r["avgdl"]))
        contrib = (
            F.when(F.col("field") == r["field"], c)
            if contrib is None
            else contrib.when(F.col("field") == r["field"], c)
        )
    return (
        postings.drop("weight")
        .join(term_stats, ["term", "field"])
        .join(idx.doc_stats, ["doc_id", "field"])
        .withColumn("weight", contrib)
        .select("term", "field", "doc_id", "tf", "positions", "weight")
    )


def test_refresh_noop_when_no_drift(
    spark, corpus_small, index_small, dim_small
):
    """Current stats == encoded stats -> nothing drifts; EVERY block
    passes through byte-identical (the bounded-write property)."""
    n_docs = corpus_small.count()
    doc_dim, _ = dim_small
    postings = index_small.postings.withColumn(
        "weight", F.col("bm25_weight")
    ).select("term", "field", "doc_id", "tf", "positions", "weight")
    base = build_posting_shards(
        postings, n_docs, DEFAULT, doc_dim=doc_dim
    ).cache()
    dsk = key_doc_stats(index_small.doc_stats, doc_dim)
    out = refresh_shard_stats(
        base, index_small.term_stats, dsk,
        index_small.corpus_stats.collect(), DEFAULT, drift_threshold=0.1,
    )
    assert _blocks(out) == _blocks(base)
    base.unpersist()


def test_refresh_drifted_subset(
    spark, corpus_small, index_small, dim_small
):
    """Only the groups whose df drifted past the threshold are
    re-weighted (to exactly the weights a rebuild against the current
    stats would produce); everything else is byte-identical."""
    n_docs = corpus_small.count()
    doc_dim, _ = dim_small
    postings = index_small.postings.withColumn(
        "weight", F.col("bm25_weight")
    ).select("term", "field", "doc_id", "tf", "positions", "weight").cache()
    base = build_posting_shards(
        postings, n_docs, DEFAULT, doc_dim=doc_dim
    ).cache()

    drift_terms = [
        r["term"]
        for r in index_small.term_stats.filter(F.col("df") >= 4)
        .select("term").distinct().orderBy("term").limit(2).collect()
    ]
    assert len(drift_terms) == 2
    # "current" stats where just these two terms' df halved (docs left)
    current = index_small.term_stats.withColumn(
        "df",
        F.when(
            F.col("term").isin(drift_terms),
            F.greatest((F.col("df") / 2).cast("long"), F.lit(1)),
        ).otherwise(F.col("df")),
    ).cache()
    dsk = key_doc_stats(index_small.doc_stats, doc_dim)
    stats_rows = index_small.corpus_stats.collect()

    out = refresh_shard_stats(
        base, current, dsk, stats_rows, DEFAULT, drift_threshold=0.1
    ).cache()

    is_drifted = F.col("term").isin(drift_terms)
    assert _blocks(out.filter(~is_drifted)) == _blocks(base.filter(~is_drifted))
    expected = _expected_reweight(
        spark, index_small, postings.filter(is_drifted),
        current.filter(is_drifted), n_docs,
    )
    exp_shards = build_posting_shards(
        expected, n_docs, DEFAULT, doc_dim=doc_dim
    )
    assert _decoded_set(out.filter(is_drifted)) == _decoded_set(exp_shards)
    # and the refreshed weights actually CHANGED (df moved -> idf moved)
    assert _decoded_set(out.filter(is_drifted)) != _decoded_set(
        base.filter(is_drifted)
    )
    for df_ in (postings, base, current, out):
        df_.unpersist()


def test_refresh_all_on_zero_threshold_scaled_stats(
    spark, corpus_small, index_small, dim_small
):
    """Degenerate full re-weight: every group drifts (df doubled),
    refresh == independent rebuild against the scaled stats."""
    n_docs = corpus_small.count()
    doc_dim, _ = dim_small
    postings = index_small.postings.withColumn(
        "weight", F.col("bm25_weight")
    ).select("term", "field", "doc_id", "tf", "positions", "weight").cache()
    base = build_posting_shards(
        postings, n_docs, DEFAULT, doc_dim=doc_dim
    ).cache()
    scaled = index_small.term_stats.withColumn(
        "df", F.col("df") * 2
    ).cache()
    dsk = key_doc_stats(index_small.doc_stats, doc_dim)
    out = refresh_shard_stats(
        base, scaled, dsk, index_small.corpus_stats.collect(), DEFAULT,
        drift_threshold=0.0,
    )
    expected = _expected_reweight(spark, index_small, postings, scaled, n_docs)
    assert _decoded_set(out) == _decoded_set(
        build_posting_shards(expected, n_docs, DEFAULT, doc_dim=doc_dim)
    )
    for df_ in (postings, base, scaled):
        df_.unpersist()


def test_refresh_never_deletes_orphan_postings(
    spark, corpus_small, index_small, dim_small
):
    """A refresh is a weight-only repair: a posting in a drifted group
    whose doc is absent from the CURRENT doc stats (removed from the
    corpus but not yet tombstoned) must survive with its STORED weight —
    deletions flow only through merge tombstones. Guards the round-4
    advisory: the inner doc_stats join silently dropped such rows."""
    n_docs = corpus_small.count()
    doc_dim, _ = dim_small
    postings = index_small.postings.withColumn(
        "weight", F.col("bm25_weight")
    ).select("term", "field", "doc_id", "tf", "positions", "weight").cache()
    base = build_posting_shards(
        postings, n_docs, DEFAULT, doc_dim=doc_dim
    ).cache()

    # force EVERY group to drift (df doubled) so the whole index is
    # re-weighted, then hand refresh doc stats MISSING a few docs
    scaled = index_small.term_stats.withColumn("df", F.col("df") * 2)
    gone = [
        r["doc_id"]
        for r in corpus_small.select("doc_id").orderBy("doc_id").limit(3).collect()
    ]
    dsk = key_doc_stats(
        index_small.doc_stats.filter(~F.col("doc_id").isin(gone)), doc_dim
    )
    out = refresh_shard_stats(
        base, scaled, dsk, index_small.corpus_stats.collect(), DEFAULT,
        drift_threshold=0.0,
    ).cache()

    # no posting lost: decoded (term, field, doc_key) sets identical
    key = lambda df_: {
        (r["term"], r["field"], r["doc_key"])
        for r in decode_shards(df_).select("term", "field", "doc_key").collect()
    }
    assert key(out) == key(base)

    # orphan postings keep their stored weight bit-for-bit; the rest got
    # the re-derived (changed) weight
    gone_keys = {
        r["doc_idx"]
        for r in doc_dim.filter(F.col("doc_id").isin(gone)).collect()
    }
    before = {
        (r["term"], r["field"], r["doc_key"]): r["weight"]
        for r in decode_shards(base).collect()
    }
    changed = unchanged = 0
    for r in decode_shards(out).collect():
        k = (r["term"], r["field"], r["doc_key"])
        if r["doc_key"] in gone_keys:
            assert r["weight"] == before[k]
            unchanged += 1
        elif r["weight"] != before[k]:
            changed += 1
    assert unchanged > 0 and changed > 0
    for df_ in (postings, base, out):
        df_.unpersist()


def test_merge_upsert_group_invariant(
    spark, corpus_small, index_small, dim_small
):
    """merge_posting_shards' caller contract: each side holds at most one
    posting per (term, field, doc_key), so the decoded union the upsert
    aggregates has group size <= 2. Assert it on a real merge input."""
    n_docs = corpus_small.count()
    doc_dim, _ = dim_small
    postings = index_small.postings.withColumn(
        "weight", F.col("bm25_weight")
    ).select("term", "field", "doc_id", "tf", "positions", "weight")
    changed = corpus_small.select("doc_id").orderBy("doc_id").limit(30)
    fresh = postings.join(changed, "doc_id", "left_semi")
    base = build_posting_shards(postings, n_docs, DEFAULT, doc_dim=doc_dim)
    delta = build_posting_shards(fresh, n_docs, DEFAULT, doc_dim=doc_dim)
    sides = base.withColumn("src", F.lit(0)).unionByName(
        delta.withColumn("src", F.lit(1))
    )
    mx = (
        decode_shards(sides, passthrough=("src",))
        .groupBy("term", "field", "doc_key")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert mx <= 2


def test_resort_restores_doc_id_tie_break(spark):
    """Two ingest segments via extend_doc_dim -> exact-score ties rank by
    segment age (the documented caveat); resort_index re-derives a
    globally sorted dim and the dense-key tie order equals doc_id string
    order again — without a pipeline rebuild."""
    from spaghettisearch_spark.functions.hashing import doc_id_py
    from spaghettisearch_spark.operators.index_build import build_index
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards
    from spaghettisearch_spark.sources.corpus import ingest

    cfg = dataclasses.replace(DEFAULT, stem=False)
    repos = [f"org/tie-{i}" for i in range(8)]
    path = "src/alpha/tiedoc.py"
    content = "glacier marmot glacier basalt"
    ids = sorted(doc_id_py(r, path) for r in repos)
    by_id = {doc_id_py(r, path): r for r in repos}
    seg1_ids, seg2_ids = ids[0::2], ids[1::2]  # interleaved in id order

    def mk(id_list):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "repo": [by_id[d] for d in id_list],
                    "path": [path] * len(id_list),
                    "commit": ["c0"] * len(id_list),
                    "lang": ["python"] * len(id_list),
                    "content": [content] * len(id_list),
                }
            )
        )

    corpus1 = ingest(mk(seg1_ids)).cache()
    corpus_full = ingest(mk(seg1_ids + seg2_ids)).cache()
    dim0 = build_doc_dim(corpus1).cache()
    dim_ext = extend_doc_dim(dim0, corpus_full).cache()

    idx = build_index(corpus_full, cfg)
    shards = build_posting_shards(
        idx.postings.withColumn("weight", F.col("bm25_weight")),
        8, cfg, doc_dim=dim_ext, weight_col="bm25_weight",
    ).cache()
    doc_map = dim_ext.select(F.col("doc_idx").alias("doc_key"), "doc_id")

    def order(sh, dm, k):
        res = wand_topk_from_shards(
            spark, sh, dm, ["glacier", "marmot"], cfg, k=k
        )
        return [r["doc_id"] for r in res.collect()]

    # every score ties, so top-k SELECTION follows doc_idx order — on the
    # extended dim that's segment age: k=4 picks all of segment 1 instead
    # of the first 4 doc_ids (the documented extend_doc_dim caveat)
    drifted = order(shards, doc_map, 4)
    assert drifted == seg1_ids
    assert seg1_ids != ids[:4]  # the drift is observable on this layout

    new_dim, new_shards = resort_index(shards, dim_ext, cfg)
    new_dim = new_dim.cache()
    new_shards = new_shards.cache()
    new_map = new_dim.select(F.col("doc_idx").alias("doc_key"), "doc_id")
    # string-order ties restored, for selection AND presentation
    assert order(new_shards, new_map, 4) == ids[:4]
    assert order(new_shards, new_map, 8) == ids

    # the new dim is globally doc_id-sorted and dense
    rows = sorted(
        ((r["doc_idx"], r["doc_id"]) for r in new_dim.collect())
    )
    assert [d for _, d in rows] == ids
    assert [i for i, _ in rows] == list(range(len(ids)))
    # payloads survived the re-key bit-for-bit (weights/tf/positions)
    old = {
        (r["term"], r["field"], r["tf"], round(r["weight"], 12),
         tuple(r["positions"]))
        for r in decode_shards(shards).collect()
    }
    new = {
        (r["term"], r["field"], r["tf"], round(r["weight"], 12),
         tuple(r["positions"]))
        for r in decode_shards(new_shards).collect()
    }
    assert old == new
    for df_ in (corpus1, corpus_full, dim0, dim_ext, shards, new_dim, new_shards):
        df_.unpersist()


def test_zipf_corpus_deterministic_across_parallelism(spark):
    """make_zipf_documents is a pure function of its arguments: the same
    (n, vocab, seed) yields byte-identical text at different partition
    counts (per-doc RNG keyed off (seed, doc_id), not off partition)."""
    from spaghettisearch_spark.fixtures import make_zipf_documents

    a = {
        r["doc_id"]: r["text"]
        for r in make_zipf_documents(spark, 60, vocab_size=500).collect()
    }
    b = {
        r["doc_id"]: r["text"]
        for r in make_zipf_documents(spark, 60, vocab_size=500)
        .coalesce(1)
        .collect()
    }
    assert a == b and len(a) == 60
    # heavy-tailed: the top term is much more frequent than the median
    from collections import Counter

    c = Counter(t for txt in a.values() for t in txt.split())
    freqs = sorted(c.values(), reverse=True)
    assert freqs[0] > 20 * freqs[len(freqs) // 2]
