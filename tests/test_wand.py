"""WAND exactness: block-max WAND must return the same top-k as the
exhaustive BM25 path on every fixture query (SURVEY.md §7 'WAND
exactness')."""

from __future__ import annotations

import pytest

from spaghettisearch_spark.config import DEFAULT
from spaghettisearch_spark.functions.tokenize import parse_query
from spaghettisearch_spark.operators.bm25 import search
from spaghettisearch_spark.operators.wand import wand_topk

TERM_QUERIES = [
    "parse",
    "parse buffer flush",
    "dispatch",  # hot term: df ~ 80% — pruning actually engages
    "zyzzyva",
    "navigator",
    "dispatch buffer kernel parse",  # all-hot multi-term
    "qqqqqq",
]


def _exhaustive(spark, index_small, query, k, pagerank=None):
    return search(spark, index_small, query, DEFAULT, pagerank=pagerank, k=k).collect()


@pytest.mark.parametrize("kernel", ["taat", "daat_reference"])
@pytest.mark.parametrize("query", TERM_QUERIES)
def test_wand_matches_exhaustive(spark, index_small, query, kernel):
    # the per-row DAAT heap kernel is a TEST-ONLY parity oracle — it is
    # injected as a callable and must not be reachable by name from any
    # production path (a string other than 'taat' raises)
    k = 20
    terms, _ = parse_query(query)
    if kernel == "daat_reference":
        with pytest.raises(ValueError, match="vectorized kernel"):
            wand_topk(spark, index_small, terms, DEFAULT, k=k, kernel="daat")
        from daat_reference import make_daat_kernel as kernel
    want = _exhaustive(spark, index_small, query, k)
    got = wand_topk(
        spark, index_small, terms, DEFAULT, k=k, n_buckets=4, kernel=kernel
    ).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], query
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], rel=1e-9, abs=1e-12)
        assert g["title_rank"] == pytest.approx(w["title_rank"], rel=1e-9, abs=1e-12)
        assert g["body_rank"] == pytest.approx(w["body_rank"], rel=1e-9, abs=1e-12)


def test_wand_with_pagerank(spark, corpus_small, index_small):
    from spaghettisearch_spark.operators.links import extract_links
    from spaghettisearch_spark.operators.pagerank import compute_pagerank

    pr = compute_pagerank(spark, corpus_small, extract_links(corpus_small)).cache()
    terms, _ = parse_query("parse buffer")
    want = _exhaustive(spark, index_small, "parse buffer", 15, pagerank=pr)
    got = wand_topk(spark, index_small, terms, DEFAULT, k=15, pagerank=pr).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], rel=1e-9)


def test_wand_single_bucket_equals_many(spark, index_small):
    terms, _ = parse_query("parse buffer flush")
    a = wand_topk(spark, index_small, terms, DEFAULT, k=10, n_buckets=1).collect()
    b = wand_topk(spark, index_small, terms, DEFAULT, k=10, n_buckets=16).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]


def test_wand_from_shards_matches_exhaustive(
    spark, corpus_small, index_small, dim_small
):
    """North-rule query path: pruned shard scan -> varbyte decode ->
    WAND == exhaustive DataFrame scoring."""
    from spaghettisearch_spark.operators.compression import build_posting_shards
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards
    from pyspark.sql import functions as F

    n_docs = corpus_small.count()
    doc_dim, doc_map = dim_small
    shards = build_posting_shards(
        index_small.postings.withColumn("weight", F.col("bm25_weight")),
        n_docs,
        DEFAULT,
        doc_dim=doc_dim,
    ).cache()
    for query in ["parse", "parse buffer flush", "dispatch"]:
        terms, _ = parse_query(query)
        want = _exhaustive(spark, index_small, query, 15)
        got = wand_topk_from_shards(
            spark, shards, doc_map, terms, DEFAULT, k=15, n_buckets=4
        ).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], query
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], rel=1e-9)
    shards.unpersist()


def test_wand_from_shards_dense_keys(spark, corpus_small, index_small, dim_small):
    """Deferred-hydration shard path: shards keyed by the dense doc_idx
    (build_doc_dim assigns it in global doc_id sort order, so scoring +
    tie-breaking on the long key is the same total order), doc_id strings
    joined only to the n_buckets*k kernel output. Must equal exhaustive,
    with and without the PageRank blend."""
    from spaghettisearch_spark.operators.compression import build_posting_shards
    from spaghettisearch_spark.operators.links import extract_links
    from spaghettisearch_spark.operators.pagerank import compute_pagerank
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards

    n_docs = corpus_small.count()
    doc_dim, doc_map = dim_small
    shards = build_posting_shards(
        index_small.postings, n_docs, DEFAULT,
        doc_dim=doc_dim, weight_col="bm25_weight",
    ).cache()
    pr = compute_pagerank(
        spark, corpus_small, extract_links(corpus_small)
    ).cache()
    for query, prank in [
        ("parse", None),
        ("parse buffer flush", None),
        ("dispatch", None),
        ("parse buffer", pr),
    ]:
        terms, _ = parse_query(query)
        want = _exhaustive(spark, index_small, query, 15, pagerank=prank)
        got = wand_topk_from_shards(
            spark, shards, doc_map, terms, DEFAULT, k=15, n_buckets=4,
            pagerank=prank,
        ).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], query
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], rel=1e-9)
    shards.unpersist(); pr.unpersist()


def test_empty_bag_schema_matches_nonempty(
    spark, corpus_small, index_small, dim_small
):
    """An empty bag returns the columns and types of a non-empty result,
    from both shard entry points, with and without a doc_map: doc_key
    without one (the serving engine), doc_id with one."""
    from spaghettisearch_spark.operators.bm25 import search_from_shards
    from spaghettisearch_spark.operators.compression import build_posting_shards
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards

    n_docs = corpus_small.count()
    doc_dim, dense_map = dim_small
    shards = build_posting_shards(
        index_small.postings, n_docs, DEFAULT,
        doc_dim=doc_dim, weight_col="bm25_weight",
    ).cache()
    terms, _ = parse_query("parse")
    for doc_map, key in [(None, "doc_key"), (dense_map, "doc_id")]:
        got = [
            wand_topk_from_shards(
                spark, shards, doc_map, bag, DEFAULT, k=5,
            ).dtypes
            for bag in ([], terms)
        ] + [
            search_from_shards(
                spark, shards, doc_map, q, DEFAULT, k=5,
            ).dtypes
            for q in ("", "parse")
        ]
        assert got[0][0][0] == key
        assert all(g == got[0] for g in got), (key, got)
    shards.unpersist()


def test_wand_shards_meta_cache(spark, corpus_small, index_small, dim_small):
    """meta_cache: the per-term block-metadata dictionary a serving node
    keeps. Cached and uncached planning must produce identical results;
    repeated queries must not re-collect already-cached terms (including
    terms absent from the index, cached as empty)."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators.compression import build_posting_shards
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards

    n_docs = corpus_small.count()
    doc_dim, doc_map = dim_small
    shards = build_posting_shards(
        index_small.postings, n_docs, DEFAULT,
        doc_dim=doc_dim, weight_col="bm25_weight",
    ).cache()
    cache: dict = {}
    for query in ["parse buffer", "dispatch", "parse zzzznotaword"]:
        terms, _ = parse_query(query)
        plain = wand_topk_from_shards(
            spark, shards, doc_map, terms, DEFAULT, k=10
        ).collect()
        cached = wand_topk_from_shards(
            spark, shards, doc_map, terms, DEFAULT, k=10, meta_cache=cache
        ).collect()
        again = wand_topk_from_shards(
            spark, shards, doc_map, terms, DEFAULT, k=10, meta_cache=cache
        ).collect()
        assert [r["doc_id"] for r in cached] == [r["doc_id"] for r in plain]
        assert cached == again
        for t in terms:
            assert t in cache  # missing-from-index terms cached as []
    shards.unpersist()


def test_wand_shards_pr_max_cached(spark, corpus_small, index_small, dim_small):
    """Blended shard queries cache the PageRank blend maximum alongside
    the term metadata: the repeat-query path runs NO driver aggregation
    on the pagerank frame (asserted by making .agg explode), and cached
    == uncached == first-call results."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators.compression import build_posting_shards
    from spaghettisearch_spark.operators.links import extract_links
    from spaghettisearch_spark.operators.pagerank import compute_pagerank
    from spaghettisearch_spark.operators.wand import (
        _PR_MAX_KEY,
        wand_topk_from_shards,
    )

    n_docs = corpus_small.count()
    doc_dim, doc_map = dim_small
    shards = build_posting_shards(
        index_small.postings, n_docs, DEFAULT,
        doc_dim=doc_dim, weight_col="bm25_weight",
    ).cache()
    pr = compute_pagerank(spark, corpus_small, extract_links(corpus_small)).cache()
    pr.count()
    terms, _ = parse_query("parse buffer")

    cache: dict = {}
    uncached = wand_topk_from_shards(
        spark, shards, doc_map, terms, DEFAULT, k=10, pagerank=pr
    ).collect()
    first = wand_topk_from_shards(
        spark, shards, doc_map, terms, DEFAULT, k=10, pagerank=pr,
        meta_cache=cache,
    ).collect()
    assert _PR_MAX_KEY in cache

    def _boom(*_a, **_k):
        raise AssertionError("repeat blended query ran a driver aggregation")

    pr.agg = _boom  # instance attr shadows the method
    try:
        again = wand_topk_from_shards(
            spark, shards, doc_map, terms, DEFAULT, k=10, pagerank=pr,
            meta_cache=cache,
        ).collect()
    finally:
        del pr.agg
    assert [r["doc_id"] for r in first] == [r["doc_id"] for r in uncached]
    assert first == again
    shards.unpersist(); pr.unpersist()


def test_wand_two_phase_planner(spark, corpus_small, index_small, dim_small):
    """Two-phase skip planning (wave-1 exact partials as the threshold
    floor) must stay EXACT — identical ranking and scores to the
    single-phase and exhaustive paths — and can only tighten the kept
    set (kept_2p <= kept_1p)."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators import wand as wand_mod
    from spaghettisearch_spark.operators.compression import build_posting_shards
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards

    n_docs = corpus_small.count()
    doc_dim, doc_map = dim_small
    shards = build_posting_shards(
        index_small.postings, n_docs, DEFAULT,
        doc_dim=doc_dim, weight_col="bm25_weight",
    ).cache()
    for query in ["dispatch buffer kernel", "parse buffer", "dispatch"]:
        terms, _ = parse_query(query)
        want = _exhaustive(spark, index_small, query, 10)
        one = wand_topk_from_shards(
            spark, shards, doc_map, terms, DEFAULT, k=10
        ).collect()
        kept_1p = wand_mod.LAST_SKIP_STATS["kept"]
        two = wand_topk_from_shards(
            spark, shards, doc_map, terms, DEFAULT, k=10, two_phase=True
        ).collect()
        kept_2p = wand_mod.LAST_SKIP_STATS["kept"]
        assert [r["doc_id"] for r in two] == [r["doc_id"] for r in want], query
        assert [r["doc_id"] for r in two] == [r["doc_id"] for r in one], query
        for g, w in zip(two, want):
            assert g["score"] == pytest.approx(w["score"], rel=1e-9)
        assert kept_2p <= kept_1p, (query, kept_2p, kept_1p)
    shards.unpersist()


def test_two_phase_unlocks_multiterm_skipping(spark):
    """On a realistic Zipf vocabulary the single-phase threshold (block
    sample PARTIALS) sits below the true k-th score — a doc's weight in
    blocks where it wasn't sampled is missing — so multi-term bags keep
    nearly everything. Wave-1 exact scoring of the sampled docs closes
    that gap: kept_2p < kept_1p < total, still exact."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.config import EngineConfig
    from spaghettisearch_spark.fixtures import make_zipf_documents
    from spaghettisearch_spark.operators import wand as wand_mod
    from spaghettisearch_spark.operators.bm25 import search
    from spaghettisearch_spark.operators.compression import (
        build_doc_dim,
        build_posting_shards,
    )
    from spaghettisearch_spark.operators.index_build import build_index
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards
    from spaghettisearch_spark.sources.corpus import from_driver_documents

    zcfg = EngineConfig(stem=False)
    zn = 800
    zdocs = make_zipf_documents(spark, zn, vocab_size=2000).cache()
    zdocs.count()
    zcorpus = from_driver_documents(zdocs)
    zidx = build_index(zcorpus, zcfg)
    zidx.postings.cache().count()
    zdim = build_doc_dim(zcorpus).cache()
    zdim.count()
    zshards = build_posting_shards(
        zidx.postings, zn, zcfg, doc_dim=zdim, weight_col="bm25_weight"
    ).cache()
    zshards.count()
    zmap = zdim.select(F.col("doc_idx").alias("doc_key"), "doc_id")
    bag = ["zw00000", "zw00001", "zw00002"]
    exh = [
        r["doc_id"]
        for r in search(spark, zidx, " ".join(bag), zcfg, k=30).collect()
    ]
    cache: dict = {}
    one = [
        r["doc_id"]
        for r in wand_topk_from_shards(
            spark, zshards, zmap, bag, zcfg, k=30,
            meta_cache=cache,
        ).collect()
    ]
    s1 = dict(wand_mod.LAST_SKIP_STATS)
    two = [
        r["doc_id"]
        for r in wand_topk_from_shards(
            spark, zshards, zmap, bag, zcfg, k=30,
            meta_cache=cache, two_phase=True,
        ).collect()
    ]
    s2 = dict(wand_mod.LAST_SKIP_STATS)
    assert one == exh and two == exh
    assert s2["kept"] < s1["kept"] < s1["total"], (s1, s2)
    for df_ in (zdocs, zshards, zdim):
        df_.unpersist()


def test_block_skip_before_decode(spark):
    """Skip planner: on a skewed fixture (a hot term whose salted blocks
    have very different max weights), the shard path decodes FEWER blocks
    than exist while returning the exact top-k. Construction: 8 'strong'
    docs carry raresig(10.0) + hotterm(5.0); the rest of the hot-salt-0
    docs carry hotterm(4.0); every other salt group carries ~0 weight —
    so the threshold (435 = the strong docs' full blended score, fully
    visible in the two blocks' top-N samples) provably beats every other
    hot block's upper bound (290.029)."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators import wand as wand_mod
    from spaghettisearch_spark.operators.compression import (
        build_doc_dim,
        build_posting_shards,
    )
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards

    cfg = DEFAULT
    doc_ids = [f"d{i:04d}" for i in range(400)]
    # the tied hot weights fall back to doc-key salting (doc_key mod
    # n_salts), and build_doc_dim keys these sorted ids by their index
    salt0 = doc_ids[::cfg.n_salts]
    strong = sorted(salt0)[:8]
    rows = []
    for d in doc_ids:
        if d in strong:
            w = 5.0
        elif d in salt0:
            w = 4.0
        else:
            w = 0.001
        rows.append(("hotterm", "body", d, 1, [0], w))
    for d in strong:
        rows.append(("raresig", "body", d, 1, [1], 10.0))
    postings = spark.createDataFrame(
        rows,
        "term string, field string, doc_id string, tf int, "
        "positions array<int>, weight double",
    )
    dim = build_doc_dim(
        spark.createDataFrame([(d,) for d in doc_ids], "doc_id string")
    ).cache()
    shards = build_posting_shards(
        postings, len(doc_ids), cfg, doc_dim=dim
    ).cache()
    doc_map = dim.select(F.col("doc_idx").alias("doc_key"), "doc_id")
    got = wand_topk_from_shards(
        spark, shards, doc_map, ["raresig", "hotterm"], cfg, k=8, n_buckets=4
    ).collect()
    stats = dict(wand_mod.LAST_SKIP_STATS)
    assert stats["kept"] < stats["total"], stats
    assert stats["kept"] <= 2, stats  # rare block + hot salt-0 block only
    # exact python oracle
    from collections import defaultdict

    score: dict[str, float] = defaultdict(float)
    for _term, _field, d, _tf, _pos, w in rows:
        score[d] += cfg.w_body * cfg.blend_scale * w
    want = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_d, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, rel=1e-9)
    dim.unpersist()
    shards.unpersist()


def test_range_aware_planner_beats_global_bounds(spark):
    """Doc-range-aligned sub-maxima: two terms whose weights are
    monotone in doc index in OPPOSITE directions. The global cross-term
    bound (own max + other term's corpus-wide max) keeps most blocks —
    termb's corpus max leaks into every terma block's bound and vice
    versa — while the range-aware bound sees that termb is weak exactly
    where terma is strong, and prunes down to the two blocks that hold
    the true top-k. Same metadata rows stripped of the range columns
    reproduce the old global behavior (back-compat degradation)."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators import wand as wand_mod
    from spaghettisearch_spark.operators.compression import (
        build_doc_dim,
        build_posting_shards,
        term_block_meta,
    )
    from spaghettisearch_spark.operators.wand import (
        plan_blocks,
        wand_topk_from_shards,
    )

    cfg = DEFAULT
    docs = [f"d{i:04d}" for i in range(400)]
    rows = []
    for i, d in enumerate(docs):
        rows.append(("terma", "body", d, 1, [0], 10.0 - 0.02 * i))
        rows.append(("termb", "body", d, 1, [1], 0.005 * (i + 1)))
    postings = spark.createDataFrame(
        rows,
        "term string, field string, doc_id string, tf int, "
        "positions array<int>, weight double",
    )
    ids = spark.createDataFrame([(d,) for d in docs], "doc_id string")
    dim = build_doc_dim(ids).cache()
    dim.count()
    shards = build_posting_shards(
        postings, len(docs), cfg, doc_dim=dim, weight_col="weight"
    ).cache()
    shards.count()
    doc_map = dim.select(F.col("doc_idx").alias("doc_key"), "doc_id")
    got = wand_topk_from_shards(
        spark, shards, doc_map, ["terma", "termb"], cfg, k=5
    ).collect()
    stats = dict(wand_mod.LAST_SKIP_STATS)
    # exact oracle: monotone sum, top-5 = lowest doc indexes
    score = {
        d: (10.0 - 0.02 * i + 0.005 * (i + 1)) * cfg.w_body * cfg.blend_scale
        for i, d in enumerate(docs)
    }
    want = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_d, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, rel=1e-9)
    assert stats["kept"] <= 4 < stats["total"], stats

    qtf = {"terma": 1.0, "termb": 1.0}
    # the planner's rows come from term_block_meta: these 25-posting
    # blocks are sample-complete, so their shard rows store no metadata
    meta = term_block_meta(shards, ["terma", "termb"], cfg)
    keep_rng = plan_blocks(meta, cfg, qtf, 5)[0]
    no_ranges = [
        {c: v for c, v in r.asDict().items()
         if c not in ("range_bounds", "range_maxw")}
        for r in meta
    ]
    keep_glob = plan_blocks(no_ranges, cfg, qtf, 5)[0]
    assert len(keep_rng) <= 4
    assert len(keep_glob) >= 4 * len(keep_rng), (len(keep_rng), len(keep_glob))
    dim.unpersist()
    shards.unpersist()


def test_block_meta_rebuilt_for_sample_complete_blocks(
    spark, corpus_small, index_small, dim_small
):
    """Sample-complete blocks (df <= BLOCK_SAMPLE_N) store no skip
    metadata; term_block_meta rebuilds it from the block's own postings.
    On corpus_small plus a hot term in every doc, encoded with 4 salts so
    the hot and common terms' blocks exceed BLOCK_SAMPLE_N while the rare
    terms' do not, every block's metadata row must equal the reference
    builder applied to its decoded postings, incomplete blocks must still
    store theirs, and the planner must give the same plan on the rebuilt
    rows as on the reference rows."""
    from dataclasses import replace

    import numpy as np
    from pyspark.sql import functions as F
    from test_plan_property import reference_meta_row

    from spaghettisearch_spark.operators.compression import (
        BLOCK_SAMPLE_N,
        SKIP_META_COLS,
        build_posting_shards,
        decode_shards,
        term_block_meta,
    )
    from spaghettisearch_spark.operators.wand import plan_blocks

    cfg = replace(DEFAULT, n_salts=4)
    doc_dim, _ = dim_small
    cols = ["term", "field", "doc_id", "tf", "positions", "weight"]
    postings = index_small.postings.withColumn("weight", F.col("bm25_weight"))
    hot = corpus_small.select(
        F.lit("hotterm").alias("term"),
        F.lit("body").alias("field"),
        "doc_id",
        F.lit(1).alias("tf"),
        F.array(F.lit(0)).alias("positions"),
        (F.lit(0.5) + (F.abs(F.hash("doc_id")) % 997) / F.lit(100.0))
        .alias("weight"),
    )
    shards = build_posting_shards(
        postings.select(*cols).unionByName(hot),
        corpus_small.count(), cfg, doc_dim=doc_dim,
    ).cache()
    stored = {
        (r["term"], r["field"], r["salt"]): r
        for r in shards.select("term", "field", "salt", "df", *SKIP_META_COLS)
        .collect()
    }
    complete = {b for b, r in stored.items() if r["df"] <= BLOCK_SAMPLE_N}
    assert complete and len(complete) < len(stored), "fixture needs both"
    assert any(b[0] == "hotterm" for b in set(stored) - complete)

    # reference rows from the decoded postings, key-sorted per block
    dec = decode_shards(
        shards, passthrough=("salt",), fields=("weight",)
    ).toPandas().sort_values(["term", "field", "salt", "doc_key"])
    ref = {
        b: reference_meta_row(
            *b, g["doc_key"].to_numpy(np.int64),
            g["weight"].to_numpy(np.float64),
        )
        for b, g in dec.groupby(["term", "field", "salt"], sort=True)
    }
    terms = sorted({b[0] for b in stored})
    got = {
        (r["term"], r["field"], r["salt"]): r
        for r in term_block_meta(shards, terms, cfg)
    }
    assert set(got) == set(ref) == set(stored)
    for b, r in got.items():
        for c in ["df"] + SKIP_META_COLS:
            assert r[c] == ref[b][c], (b, c)
        if b in complete:
            assert all(stored[b][c] is None for c in SKIP_META_COLS), b
        else:
            for c in SKIP_META_COLS:
                assert stored[b][c] == ref[b][c], (b, c)

    got_rows = [got[b] for b in sorted(got)]
    ref_rows = [ref[b] for b in sorted(ref)]
    for q in ("hotterm parse", "dispatch buffer", "hotterm",
              "flush kernel hotterm"):
        qtf = {t: 1.0 for t in parse_query(q)[0]}
        sel_got = [r for r in got_rows if r["term"] in qtf]
        sel_ref = [r for r in ref_rows if r["term"] in qtf]
        for k in (1, 5, 20):
            assert plan_blocks(sel_got, cfg, qtf, k) == plan_blocks(
                sel_ref, cfg, qtf, k
            ), (q, k)
    shards.unpersist()


def test_candidate_doc_pruning(spark):
    """Doc-level candidate pruning: a rare high-impact term (its blocks
    sample-complete) plus a hot flat term (incomplete). Every unsampled
    doc's best case (hot max only) provably misses the threshold, so the
    planner restricts the decode to sampled doc keys — the at-scale path
    where decode/shuffle volume follows |candidates|, not the hot df.
    Results stay exact vs a python oracle."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators import wand as wand_mod
    from spaghettisearch_spark.operators.compression import (
        BLOCK_SAMPLE_N,
        build_doc_dim,
        build_posting_shards,
    )
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards

    cfg = DEFAULT
    n = 1000  # hot blocks get ~62 postings > BLOCK_SAMPLE_N -> incomplete
    docs = [f"d{i:04d}" for i in range(n)]
    strong = docs[5:13]
    rows = [("hotterm", "body", d, 1, [0], 1.0) for d in docs]
    rows += [("raresig", "body", d, 1, [1], 10.0) for d in strong]
    postings = spark.createDataFrame(
        rows,
        "term string, field string, doc_id string, tf int, "
        "positions array<int>, weight double",
    )
    ids = spark.createDataFrame([(d,) for d in docs], "doc_id string")
    dim = build_doc_dim(ids).cache()
    dim.count()
    shards = build_posting_shards(
        postings, n, cfg, doc_dim=dim, weight_col="weight"
    ).cache()
    assert (
        shards.filter(
            (F.col("term") == "hotterm") & (F.col("df") > BLOCK_SAMPLE_N)
        ).count()
        > 0
    ), "fixture must make the hot group sample-incomplete"
    doc_map = dim.select(F.col("doc_idx").alias("doc_key"), "doc_id")
    got = wand_topk_from_shards(
        spark, shards, doc_map, ["raresig", "hotterm"], cfg, k=5,
    ).collect()
    stats = dict(wand_mod.LAST_SKIP_STATS)
    assert 0 < stats["cand_docs"] < n, stats
    score = defaultdict(float)
    for _t, _f, d, _tf, _p, w in rows:
        score[d] += cfg.w_body * cfg.blend_scale * w
    want = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_d, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, rel=1e-9)
    dim.unpersist()
    shards.unpersist()


def test_candidate_pruning_sample_min_bound(spark):
    """The unsampled-doc bound uses each incomplete block's MINIMUM
    sampled weight (samples are the block's top-N by weight, and salt
    maps a doc's posting in a group to exactly one block), not the
    group's global max_weight. On a steeply-decaying hot term the two
    differ by ~30x: the old global-max bound provably cannot fire here
    (hot max 100 > any k-th partial), while the sample-min bound does —
    and results stay exact vs the python oracle."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators import wand as wand_mod
    from spaghettisearch_spark.operators.compression import (
        BLOCK_SAMPLE_N,
        build_doc_dim,
        build_posting_shards,
    )
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards

    cfg = DEFAULT
    n = 1000
    docs = [f"d{i:04d}" for i in range(n)]
    # hot term in every doc, weight 100/(i+1): group max 100, but the
    # top impact-ordered block's 32-sample minimum is ~100/32 ~ 3 — the
    # gap the sample-min bound exploits
    rows = [
        ("hotterm", "body", d, 1, [0], 100.0 / (i + 1))
        for i, d in enumerate(docs)
    ]
    rows += [("raresig", "body", d, 1, [1], 10.0) for d in docs[5:13]]
    postings = spark.createDataFrame(
        rows,
        "term string, field string, doc_id string, tf int, "
        "positions array<int>, weight double",
    )
    ids = spark.createDataFrame([(d,) for d in docs], "doc_id string")
    dim = build_doc_dim(ids).cache()
    dim.count()
    shards = build_posting_shards(
        postings, n, cfg, doc_dim=dim, weight_col="weight"
    ).cache()
    meta = shards.filter(F.col("term") == "hotterm").select(
        "df", "max_weight", "top_weights"
    ).collect()
    assert any(int(r["df"]) > BLOCK_SAMPLE_N for r in meta)
    # the old bound (group max) provably exceeds any admissible
    # threshold here, so only the sample-min bound can let pruning fire
    group_max = max(float(r["max_weight"]) for r in meta)
    sample_min_ub = max(
        min(r["top_weights"])
        for r in meta
        if int(r["df"]) > BLOCK_SAMPLE_N
    )
    assert sample_min_ub * 20 < group_max, (sample_min_ub, group_max)
    doc_map = dim.select(F.col("doc_idx").alias("doc_key"), "doc_id")
    got = wand_topk_from_shards(
        spark, shards, doc_map, ["raresig", "hotterm"], cfg, k=5,
    ).collect()
    stats = dict(wand_mod.LAST_SKIP_STATS)
    assert 0 < stats["cand_docs"] < n, stats
    score = defaultdict(float)
    for _t, _f, d, _tf, _p, w in rows:
        score[d] += cfg.w_body * cfg.blend_scale * w
    want = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_d, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, rel=1e-9)
    dim.unpersist()
    shards.unpersist()


def test_wand_from_warehouse_shards_dense_ids(spark, docs_small, tmp_path):
    """Pipeline shards use dense doc_idx keys; shard-backed WAND from the
    warehouse == exhaustive scoring on the same index."""
    from spaghettisearch_spark.operators.bm25 import search
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards
    from spaghettisearch_spark.plans.build_pipeline import build_all

    wh = str(tmp_path / "wh")
    built = build_all(
        spark, spark.createDataFrame(docs_small.head(120)), wh, with_pagerank=False
    )
    idx = built.load(spark)
    shards = built.shards(spark)
    doc_map = built.doc_map(spark)
    for query in ["parse", "parse buffer flush"]:
        terms, _ = parse_query(query)
        want = search(spark, idx, query, DEFAULT, k=15).collect()
        got = wand_topk_from_shards(
            spark, shards, doc_map, terms, DEFAULT, k=15
        ).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], query
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], rel=1e-9)

def test_two_phase_auto(spark, docs_small, tmp_path):
    """``two_phase="auto"``: the planner itself decides whether the
    exact-floor wave pays, from metadata it already holds (total kept
    posting volume vs ``two_phase_auto_min_postings``). On a small
    corpus auto stays single-phase (the extra job would dominate), and
    even with the volume threshold forced to 0 it stays single-phase
    when DOC-level candidate pruning is already admissible (phase 2
    then scales with |candidates| — the wave would be a strictly
    wasteful extra decode pass); an explicit two_phase=True still runs
    the wave and can only tighten the kept set. All exact, decisions
    observable in LAST_SKIP_STATS."""
    from dataclasses import replace

    from spaghettisearch_spark.operators import wand as wand_mod
    from spaghettisearch_spark.operators.bm25 import search
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards
    from spaghettisearch_spark.plans.build_pipeline import build_all

    wh = str(tmp_path / "wh")
    built = build_all(
        spark, spark.createDataFrame(docs_small.head(150)), wh,
        with_pagerank=False,
    )
    idx = built.load(spark)
    shards = built.shards(spark)
    doc_map = built.doc_map(spark)
    terms, _ = parse_query("dispatch buffer parse")
    want = [
        r["doc_id"]
        for r in search(spark, idx, "dispatch buffer parse", DEFAULT, k=10).collect()
    ]
    got = wand_topk_from_shards(
        spark, shards, doc_map, terms, DEFAULT, k=10,
        two_phase="auto",
    ).collect()
    assert [r["doc_id"] for r in got] == want
    assert wand_mod.LAST_SKIP_STATS["two_phase"] == 0  # volume below threshold
    kept_1p = wand_mod.LAST_SKIP_STATS["kept"]
    eager = replace(DEFAULT, two_phase_auto_min_postings=0)
    got2 = wand_topk_from_shards(
        spark, shards, doc_map, terms, eager, k=10,
        two_phase="auto",
    ).collect()
    assert [r["doc_id"] for r in got2] == want
    # this bag admits candidate pruning on this corpus, so auto SKIPS
    # the wave even at threshold 0 (phase 2 is already |candidates|-
    # bounded)
    assert wand_mod.LAST_SKIP_STATS["cand_docs"] > 0
    assert wand_mod.LAST_SKIP_STATS["two_phase"] == 0
    got3 = wand_topk_from_shards(
        spark, shards, doc_map, terms, eager, k=10,
        two_phase=True,
    ).collect()
    assert [r["doc_id"] for r in got3] == want
    assert wand_mod.LAST_SKIP_STATS["two_phase"] == 1  # explicit wave ran
    assert wand_mod.LAST_SKIP_STATS["kept"] <= kept_1p


def test_floor_cache_repeat_query(spark, docs_small, tmp_path):
    """Exact-floor caching: a repeat of the same (bag, k) over the same
    shards reuses the wave-1 floor from meta_cache — no second wave job
    (two_phase=0, floor_cached=1) — yet plans the SAME tightened block
    set and returns the identical exact top-k. A different bag misses
    the cache (floors are keyed by bag+k: reusing another bag's floor
    would be inadmissible)."""
    from dataclasses import replace

    from spaghettisearch_spark.operators import wand as wand_mod
    from spaghettisearch_spark.operators.bm25 import search
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards
    from spaghettisearch_spark.plans.build_pipeline import build_all

    wh = str(tmp_path / "wh")
    built = build_all(
        spark, spark.createDataFrame(docs_small.head(150)), wh,
        with_pagerank=False,
    )
    idx = built.load(spark)
    shards = built.shards(spark)
    doc_map = built.doc_map(spark)
    terms, _ = parse_query("dispatch buffer parse")
    want = [
        r["doc_id"]
        for r in search(
            spark, idx, "dispatch buffer parse", DEFAULT, k=10
        ).collect()
    ]
    eager = replace(DEFAULT, two_phase_auto_min_postings=0)
    cache: dict = {}
    # explicit two_phase=True: on this bag auto would skip the wave
    # (candidate pruning is admissible) and never cache a floor
    got1 = wand_topk_from_shards(
        spark, shards, doc_map, terms, eager, k=10,
        two_phase=True, meta_cache=cache,
    ).collect()
    s1 = dict(wand_mod.LAST_SKIP_STATS)
    assert s1["two_phase"] == 1 and s1["floor_cached"] == 0
    assert any(key.startswith("\x00floor:") for key in cache)
    got2 = wand_topk_from_shards(
        spark, shards, doc_map, terms, eager, k=10,
        two_phase="auto", meta_cache=cache,
    ).collect()
    s2 = dict(wand_mod.LAST_SKIP_STATS)
    assert s2["two_phase"] == 0 and s2["floor_cached"] == 1
    assert s2["kept"] == s1["kept"] and s2["kept_df"] == s1["kept_df"]
    assert [r["doc_id"] for r in got1] == want
    assert [r["doc_id"] for r in got2] == want
    # decode-volume telemetry is populated and consistent
    assert 0 < s1["kept_df"] <= s1["total_df"]
    # a different bag must not hit the cached floor
    other, _ = parse_query("buffer parse")
    wand_topk_from_shards(
        spark, shards, doc_map, other, eager, k=10,
        two_phase="auto", meta_cache=cache,
    ).collect()
    assert wand_mod.LAST_SKIP_STATS["floor_cached"] == 0
    # ...and neither must a different scoring cfg sharing the cache:
    # floors embed the field/blend weights (a floor computed under
    # heavier weights would be an inadmissible threshold here)
    lighter = replace(eager, w_body=eager.w_body * 0.5)
    got3 = wand_topk_from_shards(
        spark, shards, doc_map, terms, lighter, k=10,
        two_phase="auto", meta_cache=cache,
    ).collect()
    assert wand_mod.LAST_SKIP_STATS["floor_cached"] == 0
    want3 = [
        r["doc_id"]
        for r in search(
            spark, idx, "dispatch buffer parse", lighter, k=10
        ).collect()
    ]
    assert [r["doc_id"] for r in got3] == want3


def test_range_level_decode_pruning(spark):
    """Range-LEVEL pruning: kept blocks shed their provably-sub-
    threshold equi-depth sub-ranges, so the decoded posting volume
    (decoded_df) drops below the kept blocks' full df (kept_df) while
    the top-k stays exact. Fixture: two monotone terms in opposite
    directions — every kept terma block is strong only at its low-key
    end, so its high-key sub-ranges fall under the threshold and are
    dropped from the decode. Also checks the decode filter directly:
    key_ranges={block: [0]} yields exactly the block's first equi-depth
    chunk in doc_key order."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators import wand as wand_mod
    from spaghettisearch_spark.operators.compression import (
        RANGE_SUB_N,
        build_doc_dim,
        build_posting_shards,
        decode_shards,
    )
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards

    cfg = DEFAULT
    docs = [f"d{i:04d}" for i in range(400)]
    rows = []
    for i, d in enumerate(docs):
        rows.append(("terma", "body", d, 1, [0], 10.0 - 0.02 * i))
        rows.append(("termb", "body", d, 1, [1], 0.005 * (i + 1)))
    postings = spark.createDataFrame(
        rows,
        "term string, field string, doc_id string, tf int, "
        "positions array<int>, weight double",
    )
    ids = spark.createDataFrame([(d,) for d in docs], "doc_id string")
    dim = build_doc_dim(ids).cache()
    dim.count()
    shards = build_posting_shards(
        postings, len(docs), cfg, doc_dim=dim, weight_col="weight"
    ).cache()
    shards.count()
    doc_map = dim.select(F.col("doc_idx").alias("doc_key"), "doc_id")
    got = wand_topk_from_shards(
        spark, shards, doc_map, ["terma", "termb"], cfg, k=5
    ).collect()
    stats = dict(wand_mod.LAST_SKIP_STATS)
    score = {
        d: (10.0 - 0.02 * i + 0.005 * (i + 1)) * cfg.w_body * cfg.blend_scale
        for i, d in enumerate(docs)
    }
    want = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    for r, (_d, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, rel=1e-9)
    # kept blocks decoded strictly fewer postings than they hold
    assert 0 < stats["decoded_df"] < stats["kept_df"], stats
    assert stats["kept_ranges"] < stats["total_ranges"], stats

    # direct decode-filter check: first chunk only, positional semantics
    blk = shards.filter(F.col("term") == "terma").select(
        "term", "field", "salt", "df"
    ).orderBy("salt").first()
    bkey = (blk["term"], blk["field"], int(blk["salt"]))
    one = shards.filter(
        (F.col("term") == bkey[0]) & (F.col("salt") == bkey[2])
    )
    full = (
        decode_shards(one, fields=("weight",))
        .orderBy("doc_key")
        .collect()
    )
    n = int(blk["df"])
    n_sub = min(RANGE_SUB_N, n)
    first_chunk = decode_shards(
        one, fields=("weight",), key_ranges={bkey: (n_sub, [0])}
    ).orderBy("doc_key").collect()
    want_n = ((1 * n) // n_sub) - ((0 * n) // n_sub)
    assert [r["doc_key"] for r in first_chunk] == [
        r["doc_key"] for r in full[:want_n]
    ]
    dim.unpersist()
    shards.unpersist()


def test_two_phase_string_guard_and_zero_weight_field(spark):
    """Two review regressions: (1) a non-'auto' string for two_phase
    must raise, not silently bool() to True ('off' ENABLING the wave is
    the worst misread); (2) a zero blended field weight (body-only
    ranking) must not crash the planner's unsampled-doc bound when a
    hot group of that field is sample-incomplete."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators.compression import (
        BLOCK_SAMPLE_N,
        build_doc_dim,
        build_posting_shards,
    )
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards

    cfg = replace(DEFAULT, w_title=0.0)
    n = 1000  # hot blocks ~62 postings > BLOCK_SAMPLE_N -> incomplete
    docs = [f"d{i:04d}" for i in range(n)]
    rows = [("hott", "title", d, 1, [0], 1.0) for d in docs]
    rows += [("raresig", "body", d, 1, [1], 10.0) for d in docs[3:9]]
    postings = spark.createDataFrame(
        rows,
        "term string, field string, doc_id string, tf int, "
        "positions array<int>, weight double",
    )
    ids = spark.createDataFrame([(d,) for d in docs], "doc_id string")
    dim = build_doc_dim(ids).cache()
    dim.count()
    shards = build_posting_shards(
        postings, n, cfg, doc_dim=dim, weight_col="weight"
    ).cache()
    assert (
        shards.filter(
            (F.col("term") == "hott") & (F.col("df") > BLOCK_SAMPLE_N)
        ).count()
        > 0
    ), "fixture must make the zero-weight hot group sample-incomplete"
    doc_map = dim.select(F.col("doc_idx").alias("doc_key"), "doc_id")
    got = wand_topk_from_shards(
        spark, shards, doc_map, ["raresig", "hott"], cfg, k=5,
    ).collect()
    # title weight 0 -> only raresig's body postings score
    assert [r["doc_id"] for r in got] == docs[3:8]
    with pytest.raises(ValueError, match="two_phase"):
        wand_topk_from_shards(
            spark, shards, doc_map, ["raresig"], cfg, k=5,
            two_phase="Auto",
        )
    dim.unpersist()
    shards.unpersist()
