"""Varbyte/delta codec round-trip + property tests, and shard-path
equivalence to the uncompressed postings (SURVEY.md §5.2 item 1/3)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spaghettisearch_spark.operators.compression import (
    delta_decode,
    delta_encode,
    vb_decode,
    vb_encode,
)


def test_empty():
    assert vb_encode(np.array([], dtype=np.int64)) == b""
    assert len(vb_decode(b"")) == 0


def test_simple_roundtrip():
    vals = np.array([0, 1, 127, 128, 300, 2**20, 2**40, 2**62], dtype=np.int64)
    assert (vb_decode(vb_encode(vals)) == vals).all()


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=500))
def test_vb_property(xs):
    vals = np.array(xs, dtype=np.int64)
    assert (vb_decode(vb_encode(vals)) == vals).all()


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300)
)
def test_delta_vb_roundtrip_sorted(xs):
    vals = np.array(sorted(xs), dtype=np.int64)
    enc = vb_encode(delta_encode(vals))
    assert (delta_decode(vb_decode(enc)) == vals).all()


def test_shard_roundtrip_spark(spark, corpus_tiny):
    """build shards -> decode -> identical (term, field, doc, tf,
    positions) multiset as the uncompressed postings; postings with no
    doc_key and no doc_dim, or with no doc length, are refused."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators.compression import (
        build_doc_dim,
        build_posting_shards,
        decode_shards,
    )
    from spaghettisearch_spark.operators.index_build import build_index

    idx = build_index(corpus_tiny)
    n_docs = corpus_tiny.count()
    with pytest.raises(ValueError, match="doc_dim"):
        build_posting_shards(idx.postings, n_docs)
    dim = build_doc_dim(corpus_tiny).cache()
    with pytest.raises(ValueError, match="dl"):
        build_posting_shards(idx.postings.drop("dl"), n_docs, doc_dim=dim)
    shards = build_posting_shards(idx.postings, n_docs, doc_dim=dim)
    decoded = decode_shards(shards)

    orig = idx.postings.join(dim, "doc_id").select(
        "term",
        "field",
        F.col("doc_idx").alias("doc_key"),
        F.col("tf").cast("int").alias("tf"),
        F.col("positions").cast("array<int>").alias("positions"),
    )
    got = decoded.select("term", "field", "doc_key", "tf", "positions")
    assert got.count() == orig.count()
    assert got.exceptAll(orig).count() == 0
    assert orig.exceptAll(got).count() == 0
    # hot terms must be salted into multiple blocks
    from spaghettisearch_spark.fixtures import HOT_TERMS

    hot_blocks = shards.filter(
        (F.col("term") == HOT_TERMS[0]) & (F.col("field") == "body")
    ).count()
    assert hot_blocks > 1
    dim.unpersist()


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),          # term id
            st.integers(min_value=0, max_value=60),         # doc number
            st.integers(min_value=1, max_value=7),          # tf
            st.lists(                                       # positions
                st.integers(min_value=0, max_value=5000),
                max_size=6,
            ),
            st.floats(
                min_value=0.001, max_value=50.0,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=80,
    )
)
def test_shard_roundtrip_property(spark, postings_spec):
    """Property: build_posting_shards ∘ decode_shards is the identity on
    arbitrary posting sets — random term/doc/tf/positions combos under
    random encode-time order weights, including empty position lists,
    duplicate (term, doc) rows collapsed to one (the builder's input
    contract), and weight ties that push groups onto the doc-key salt
    fallback."""
    from spaghettisearch_spark.config import DEFAULT
    from spaghettisearch_spark.operators.compression import (
        build_posting_shards,
        decode_shards,
    )

    seen = {}
    for t, d, tf, pos, w in postings_spec:
        seen[(f"t{t}", f"doc{d:03d}")] = (tf, sorted(set(pos)), round(w, 6))
    rows = [
        (term, "body", doc, tf, pos, 10, w)
        for (term, doc), (tf, pos, w) in seen.items()
    ]
    pdf = spark.createDataFrame(
        rows,
        "term string, field string, doc_id string, tf int, "
        "positions array<int>, dl long, weight double",
    )
    # the dense doc_idx of sorted doc ids doc000..doc060 is the number
    dim = spark.createDataFrame(
        [(f"doc{d:03d}", d) for d in range(61)], "doc_id string, doc_idx long"
    )
    shards = build_posting_shards(pdf, 61, DEFAULT, doc_dim=dim)
    got = {
        (r["term"], r["doc_key"], r["tf"], tuple(r["positions"]))
        for r in decode_shards(shards).collect()
    }
    want = {
        (term, int(doc[3:]), tf, tuple(pos))
        for (term, doc), (tf, pos, _w) in seen.items()
    }
    assert got == want


def test_absolute_block_bound(spark):
    """``block_target_postings`` bounds every encode group ABSOLUTELY
    (the quantile split alone caps blocks at ~df/n_salts, which grows
    with the corpus): a hot term's quantile buckets and a cold-but-large
    group both doc-hash sub-split once their expected size passes the
    target; the decoded multiset is unchanged, shard-backed WAND stays
    exact, and under the default target the (term, field, salt, df)
    layout is identical to the unbounded one."""
    from dataclasses import replace

    from synthetic import synthetic_shards

    from spaghettisearch_spark.config import DEFAULT
    from spaghettisearch_spark.operators.compression import (
        build_posting_shards,
        decode_shards,
    )
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards

    n = 2000
    docs = [f"d{i:05d}" for i in range(n)]
    rows = [("hh", "body", d, 1) for d in docs]  # hot: df == n
    rows += [("cc", "body", d, 2) for d in docs[:150]]  # cold but > target
    rows += [("ss", "body", d, 3) for d in docs[:10]]  # small
    # varied lengths give the hot term distinct quantile bounds
    dl = {"body": {d: 10 + i % 97 for i, d in enumerate(docs)}}
    cfg = replace(DEFAULT, block_target_postings=32)
    fx = synthetic_shards(spark, rows, dl, cfg)
    shards = fx.shards
    meta = shards.select("term", "field", "salt", "df").collect()
    by_term: dict = {}
    for r in meta:
        by_term.setdefault(r["term"], []).append(int(r["df"]))
    # hot: 16 quantile buckets x ceil(2000/(16*32))=4 sub-salts
    assert len(by_term["hh"]) == 64, sorted(by_term["hh"])
    # cold oversized: ceil(150/32)=5 doc-hash blocks
    assert len(by_term["cc"]) == 5, by_term["cc"]
    assert len(by_term["ss"]) == 1
    # the bound holds with doc-hash slack
    assert max(by_term["hh"]) <= 2 * 32, max(by_term["hh"])
    assert max(by_term["cc"]) <= 2 * 32, max(by_term["cc"])
    # round-trip: decoded multiset == input
    got = {
        (r["term"], r["doc_key"], r["tf"], tuple(r["positions"]))
        for r in decode_shards(shards).collect()
    }
    idx_of = {r["doc_id"]: r["doc_idx"] for r in fx.dim.collect()}
    want = {(t, idx_of[d], tf, (0,)) for t, _f, d, tf in rows}
    assert got == want
    # WAND over sub-split blocks == python oracle
    res = wand_topk_from_shards(
        spark, shards, fx.doc_map, ["hh", "cc", "ss"], cfg, k=5,
        stats=fx.stats,
    ).collect()
    assert [r["doc_id"] for r in res] == [d for d, _ in fx.ranked[:5]]
    for r, (_d, s) in zip(res, fx.ranked):
        assert r["score"] == pytest.approx(s, rel=1e-9)
    # default target: sub == 1 everywhere here -> layout identical to a
    # build with the bound effectively off
    base = build_posting_shards(fx.postings, n, DEFAULT, doc_dim=fx.dim)
    huge = build_posting_shards(
        fx.postings, n, replace(DEFAULT, block_target_postings=1 << 40),
        doc_dim=fx.dim,
    )
    key = lambda df_: sorted(
        (r["term"], r["field"], int(r["salt"]), int(r["df"]))
        for r in df_.select("term", "field", "salt", "df").collect()
    )
    assert key(base) == key(huge)
    fx.dim.unpersist()
    shards.unpersist()


def test_decode_chunk_of_60bit_hash_key_blocks(spark):
    """Many blocks of 60-bit hash keys decoded in ONE chunk: the running
    key total across the chunk passes 2^64, and the per-block keys must
    still come back exact (the within-block cumsum is modular)."""
    from spaghettisearch_spark.config import DEFAULT
    from spaghettisearch_spark.operators.compression import (
        build_posting_shards,
        decode_shards,
    )

    rng = np.random.default_rng(7)
    rows = []
    for t in range(40):
        keys = np.unique(rng.integers(1 << 59, 1 << 60, size=5))
        rows += [
            (f"term{t}", "body", int(dk), 1, [0], 10, 1.0 + i)
            for i, dk in enumerate(keys)
        ]
    assert sum(min(dk for tm, _f, dk, *_ in rows if tm == f"term{t}")
               for t in range(40)) > 2**64
    postings = spark.createDataFrame(
        rows,
        "term string, field string, doc_key long, tf int, "
        "positions array<int>, dl long, weight double",
    )
    shards = build_posting_shards(postings, 1000, DEFAULT)
    got = sorted(
        (r["term"], r["doc_key"])
        for r in decode_shards(shards.coalesce(1), fields=("tf",)).collect()
    )
    assert got == sorted((r[0], r[2]) for r in rows)
