"""Compaction complements of the LSM merge: the upsert's group-size
contract and dense-dim re-sort (restore doc_id-order tie-breaking after
extend_doc_dim without a full pipeline rebuild)."""

from __future__ import annotations

import dataclasses

import pandas as pd
from pyspark.sql import functions as F

from spaghettisearch_spark.config import DEFAULT
from spaghettisearch_spark.operators.compression import (
    build_doc_dim,
    build_posting_shards,
    decode_shards,
    extend_doc_dim,
    resort_index,
)


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
    ).select("term", "field", "doc_id", "tf", "positions", "dl", "weight")
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
    from spaghettisearch_spark.operators.index_build import (
        build_index,
        collect_corpus_stats,
    )
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
    stats = collect_corpus_stats(spark, idx.doc_stats, doc_map)

    def order(sh, dm, k, st=stats):
        res = wand_topk_from_shards(
            spark, sh, dm, ["glacier", "marmot"], cfg, k=k, stats=st
        )
        return [r["doc_id"] for r in res.collect()]

    # every score ties, so top-k SELECTION follows doc_idx order — on the
    # extended dim that's segment age: k=4 picks all of segment 1 instead
    # of the first 4 doc_ids (the documented extend_doc_dim caveat)
    drifted = order(shards, doc_map, 4)
    assert drifted == seg1_ids
    assert seg1_ids != ids[:4]  # the drift is observable on this layout

    new_dim, new_shards = resort_index(shards, dim_ext, cfg, stats=stats)
    new_dim = new_dim.cache()
    new_shards = new_shards.cache()
    new_map = new_dim.select(F.col("doc_idx").alias("doc_key"), "doc_id")
    new_stats = collect_corpus_stats(spark, idx.doc_stats, new_map)
    # string-order ties restored, for selection AND presentation
    assert order(new_shards, new_map, 4, new_stats) == ids[:4]
    assert order(new_shards, new_map, 8, new_stats) == ids

    # the new dim is globally doc_id-sorted and dense
    rows = sorted(
        ((r["doc_idx"], r["doc_id"]) for r in new_dim.collect())
    )
    assert [d for _, d in rows] == ids
    assert [i for i, _ in rows] == list(range(len(ids)))
    # payloads survived the re-key bit-for-bit (tf/positions)
    old = {
        (r["term"], r["field"], r["tf"], tuple(r["positions"]))
        for r in decode_shards(shards).collect()
    }
    new = {
        (r["term"], r["field"], r["tf"], tuple(r["positions"]))
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
