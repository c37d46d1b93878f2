"""WAND exactness: block-max WAND must return the same top-k as the
exhaustive BM25 path on every fixture query (SURVEY.md §7 'WAND
exactness')."""

from __future__ import annotations

import pytest

from spaghettisearch_spark.config import DEFAULT
from spaghettisearch_spark.functions.tokenize import parse_query
from spaghettisearch_spark.operators.bm25 import search
from spaghettisearch_spark.operators.wand import wand_topk_from_shards
from synthetic import synthetic_shards

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


@pytest.fixture(scope="module")
def shards_small(corpus_small, index_small, dim_small):
    """corpus_small's posting shards, keyed by the dense dim_small keys."""
    from spaghettisearch_spark.operators.compression import build_posting_shards

    shards = build_posting_shards(
        index_small.postings, corpus_small.count(), DEFAULT,
        doc_dim=dim_small[0], weight_col="bm25_weight",
    ).cache()
    shards.count()
    yield shards
    shards.unpersist()


def _daat_topk(spark, shards, doc_map, terms, k, stats):
    """Top-k of the reference DAAT kernel (tests/daat_reference.py) run
    on the driver over the query's collected postings — one bucket
    holding every doc — with the per-(doc, term) blend the kernel
    expects: one cursor per (doc, qterm), both fields summed."""
    from collections import Counter

    from daat_reference import make_daat_kernel

    from spaghettisearch_spark.operators.compression import (
        decode_shards,
        prune_shards,
        term_block_meta,
    )
    from spaghettisearch_spark.operators.index_build import FIELD_BODY, FIELD_TITLE

    qtf = Counter(terms)
    bag = sorted(qtf)
    scoring = stats.scoring(term_block_meta(shards, bag, DEFAULT), DEFAULT)
    pdf = (
        decode_shards(
            prune_shards(shards, bag, DEFAULT), fields=("weight",),
            scoring=scoring,
        )
        .join(doc_map, "doc_key")
        .select("doc_id", "term", "field", "weight")
        .toPandas()
    )
    contrib = pdf["weight"] * pdf["term"].map(qtf).astype(float)
    fw = pdf["field"].map({FIELD_TITLE: DEFAULT.w_title, FIELD_BODY: DEFAULT.w_body})
    rows = (
        pdf.assign(
            qterm_id=pdf["term"].map({t: i for i, t in enumerate(bag)}),
            contrib=fw.fillna(0.0) * contrib * DEFAULT.blend_scale,
            title_c=contrib.where(pdf["field"] == FIELD_TITLE, 0.0),
            body_c=contrib.where(pdf["field"] == FIELD_BODY, 0.0),
        )
        .groupby(["doc_id", "qterm_id"], as_index=False)[
            ["contrib", "title_c", "body_c"]
        ]
        .sum()
    )
    out = make_daat_kernel(DEFAULT, k)(rows)
    return out.sort_values(
        ["score", "doc_id"], ascending=[False, True]
    ).head(k).to_dict("records")


def _assert_topk(got, ranked, k):
    assert [r["doc_id"] for r in got] == [d for d, _ in ranked[:k]]
    for r, (_d, s) in zip(got, ranked):
        assert r["score"] == pytest.approx(s, rel=1e-9)


@pytest.mark.parametrize("kernel", ["taat", "daat_reference"])
@pytest.mark.parametrize("query", TERM_QUERIES)
def test_wand_matches_exhaustive(
    spark, index_small, dim_small, stats_small, shards_small, query, kernel
):
    # the production bucket kernel (taat) through the shard planner, and
    # the per-row DAAT heap kernel — a TEST-ONLY parity oracle with no
    # hook into the engine — over the same shards' postings
    k = 20
    terms, _ = parse_query(query)
    doc_map = dim_small[1]
    want = _exhaustive(spark, index_small, query, k)
    if kernel == "taat":
        got = wand_topk_from_shards(
            spark, shards_small, doc_map, terms, DEFAULT, k=k, n_buckets=4,
            stats=stats_small,
        ).collect()
    else:
        got = _daat_topk(spark, shards_small, doc_map, terms, k, stats_small)
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], query
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], rel=1e-9, abs=1e-12)
        assert g["title_rank"] == pytest.approx(w["title_rank"], rel=1e-9, abs=1e-12)
        assert g["body_rank"] == pytest.approx(w["body_rank"], rel=1e-9, abs=1e-12)


def test_wand_with_pagerank(
    spark, corpus_small, index_small, dim_small, stats_small, shards_small
):
    from spaghettisearch_spark.operators.links import extract_links
    from spaghettisearch_spark.operators.pagerank import compute_pagerank

    pr = compute_pagerank(spark, corpus_small, extract_links(corpus_small)).cache()
    terms, _ = parse_query("parse buffer")
    want = _exhaustive(spark, index_small, "parse buffer", 15, pagerank=pr)
    got = wand_topk_from_shards(
        spark, shards_small, dim_small[1], terms, DEFAULT, k=15, pagerank=pr,
        stats=stats_small,
    ).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], rel=1e-9)
        assert g["pagerank"] == pytest.approx(w["pagerank"], rel=1e-9)
    pr.unpersist()


def test_wand_single_bucket_equals_many(
    spark, index_small, dim_small, stats_small, shards_small
):
    """One bucket (the one-task pass) and 16 (a tiny per-task target
    forces the shuffled bucket tail) rank alike, and like the
    exhaustive scorer."""
    from dataclasses import replace

    terms, _ = parse_query("parse buffer flush")
    many = replace(DEFAULT, query_target_postings_per_task=1)
    a = wand_topk_from_shards(
        spark, shards_small, dim_small[1], terms, many, k=10, n_buckets=1,
        stats=stats_small,
    ).collect()
    b = wand_topk_from_shards(
        spark, shards_small, dim_small[1], terms, many, k=10, n_buckets=16,
        stats=stats_small,
    ).collect()
    want = _exhaustive(spark, index_small, "parse buffer flush", 10)
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in want]
    for g, w in zip(b, want):
        assert g["score"] == pytest.approx(w["score"], rel=1e-9)


def test_wand_from_shards_matches_exhaustive(
    spark, corpus_small, index_small, dim_small, stats_small
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
            spark, shards, doc_map, terms, DEFAULT, k=15, n_buckets=4,
            stats=stats_small,
        ).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], query
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], rel=1e-9)
    shards.unpersist()


def test_wand_from_shards_dense_keys(
    spark, corpus_small, index_small, dim_small, stats_small
):
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
            pagerank=prank, stats=stats_small,
        ).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], query
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], rel=1e-9)
    shards.unpersist(); pr.unpersist()


def test_empty_bag_schema_matches_nonempty(
    spark, corpus_small, index_small, dim_small, stats_small
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
                spark, shards, doc_map, bag, DEFAULT, k=5, stats=stats_small,
            ).dtypes
            for bag in ([], terms)
        ] + [
            search_from_shards(
                spark, shards, doc_map, q, DEFAULT, k=5, stats=stats_small,
            ).dtypes
            for q in ("", "parse")
        ]
        assert got[0][0][0] == key
        assert all(g == got[0] for g in got), (key, got)
    shards.unpersist()


def test_wand_shards_meta_cache(
    spark, corpus_small, index_small, dim_small, stats_small
):
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
            spark, shards, doc_map, terms, DEFAULT, k=10,
            stats=stats_small,
        ).collect()
        cached = wand_topk_from_shards(
            spark, shards, doc_map, terms, DEFAULT, k=10, meta_cache=cache,
            stats=stats_small,
        ).collect()
        again = wand_topk_from_shards(
            spark, shards, doc_map, terms, DEFAULT, k=10, meta_cache=cache,
            stats=stats_small,
        ).collect()
        assert [r["doc_id"] for r in cached] == [r["doc_id"] for r in plain]
        assert cached == again
        for t in terms:
            assert t in cache  # missing-from-index terms cached as []
    shards.unpersist()


def test_wand_shards_pr_max_cached(
    spark, corpus_small, index_small, dim_small, stats_small
):
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
        spark, shards, doc_map, terms, DEFAULT, k=10, pagerank=pr,
        stats=stats_small,
    ).collect()
    first = wand_topk_from_shards(
        spark, shards, doc_map, terms, DEFAULT, k=10, pagerank=pr,
        meta_cache=cache, stats=stats_small,
    ).collect()
    assert _PR_MAX_KEY in cache

    def _boom(*_a, **_k):
        raise AssertionError("repeat blended query ran a driver aggregation")

    pr.agg = _boom  # instance attr shadows the method
    try:
        again = wand_topk_from_shards(
            spark, shards, doc_map, terms, DEFAULT, k=10, pagerank=pr,
            meta_cache=cache, stats=stats_small,
        ).collect()
    finally:
        del pr.agg
    assert [r["doc_id"] for r in first] == [r["doc_id"] for r in uncached]
    assert first == again
    shards.unpersist(); pr.unpersist()


def test_wand_two_phase_planner(
    spark, corpus_small, index_small, dim_small, stats_small
):
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
            spark, shards, doc_map, terms, DEFAULT, k=10,
            stats=stats_small,
        ).collect()
        kept_1p = wand_mod.LAST_SKIP_STATS["kept"]
        two = wand_topk_from_shards(
            spark, shards, doc_map, terms, DEFAULT, k=10, two_phase=True,
            stats=stats_small,
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
    from spaghettisearch_spark.operators.index_build import (
        build_index,
        collect_corpus_stats,
    )
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
    zstats = collect_corpus_stats(spark, zidx.doc_stats, zmap)
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
            meta_cache=cache, stats=zstats,
        ).collect()
    ]
    s1 = dict(wand_mod.LAST_SKIP_STATS)
    two = [
        r["doc_id"]
        for r in wand_topk_from_shards(
            spark, zshards, zmap, bag, zcfg, k=30,
            meta_cache=cache, two_phase=True, stats=zstats,
        ).collect()
    ]
    s2 = dict(wand_mod.LAST_SKIP_STATS)
    assert one == exh and two == exh
    assert s2["kept"] < s1["kept"] < s1["total"], (s1, s2)
    for df_ in (zdocs, zshards, zdim):
        df_.unpersist()


def test_block_skip_before_decode(spark):
    """Skip planner: on a skewed fixture (a hot term whose salted blocks
    have very different bounds), the shard path decodes FEWER blocks
    than exist while returning the exact top-k. Construction: 8 'strong'
    docs carry raresig + hotterm at tf 5; the rest of the hot-salt-0
    docs carry hotterm at tf 4; every other salt group carries it at
    tf 1 — so the threshold (the strong docs' full blended score, fully
    visible in the two blocks' samples) provably beats every other hot
    block's bound (raresig's weight plus hotterm's at tf 1)."""
    from spaghettisearch_spark.operators import wand as wand_mod

    cfg = DEFAULT
    doc_ids = [f"d{i:04d}" for i in range(400)]
    # the tied hot weights fall back to doc-key salting (doc_key mod
    # n_salts), and build_doc_dim keys these sorted ids by their index
    salt0 = doc_ids[::cfg.n_salts]
    strong = sorted(salt0)[:8]
    rows = [
        ("hotterm", "body", d, 5 if d in strong else 4 if d in salt0 else 1)
        for d in doc_ids
    ] + [("raresig", "body", d, 1) for d in strong]
    fx = synthetic_shards(spark, rows, {"body": {d: 10 for d in doc_ids}}, cfg)
    shards, doc_map, stats, ranked = fx.shards, fx.doc_map, fx.stats, fx.ranked
    got = wand_topk_from_shards(
        spark, shards, doc_map, ["raresig", "hotterm"], cfg, k=8,
        n_buckets=4, stats=stats,
    ).collect()
    skip = dict(wand_mod.LAST_SKIP_STATS)
    assert skip["kept"] < skip["total"], skip
    assert skip["kept"] <= 2, skip  # rare block + hot salt-0 block only
    _assert_topk(got, ranked, 8)
    shards.unpersist()


def _opposed_terms(spark):
    """Two terms in every one of 400 docs whose weights are monotone in
    doc index in OPPOSITE directions: terma (body) falls as the body
    grows with the index, termb (title) rises as the title shrinks."""
    docs = [f"d{i:04d}" for i in range(400)]
    rows = [("terma", "body", d, 1) for d in docs]
    rows += [("termb", "title", d, 1) for d in docs]
    dl = {
        "body": {d: 10 + i for i, d in enumerate(docs)},
        "title": {d: 410 - i for i, d in enumerate(docs)},
    }
    fx = synthetic_shards(spark, rows, dl)
    return fx.shards, fx.doc_map, fx.stats, fx.ranked


def test_range_aware_planner_beats_global_bounds(spark):
    """Doc-range-aligned bounds: two terms whose weights are monotone in
    doc index in OPPOSITE directions. The global cross-term bound (own
    max + other term's corpus-wide max) keeps most blocks — termb's
    corpus max leaks into every terma block's bound and vice versa —
    while the range-aware bound sees that termb is weak exactly where
    terma is strong, and prunes down to the blocks that hold the true
    top-k. The same metadata rows without range_bounds reproduce the
    global behavior."""
    from spaghettisearch_spark.operators import wand as wand_mod
    from spaghettisearch_spark.operators.compression import term_block_meta
    from spaghettisearch_spark.operators.wand import plan_blocks

    cfg = DEFAULT
    shards, doc_map, stats, ranked = _opposed_terms(spark)
    got = wand_topk_from_shards(
        spark, shards, doc_map, ["terma", "termb"], cfg, k=5, stats=stats,
    ).collect()
    skip = dict(wand_mod.LAST_SKIP_STATS)
    _assert_topk(got, ranked, 5)
    assert skip["kept"] <= 4 < skip["total"], skip

    qtf = {"terma": 1.0, "termb": 1.0}
    # the planner's rows come from term_block_meta: these 25-posting
    # blocks are sample-complete, so their shard rows store no metadata
    meta = term_block_meta(shards, ["terma", "termb"], cfg)
    keep_rng = plan_blocks(meta, cfg, qtf, 5, stats=stats)[0]
    no_ranges = [{**r.asDict(), "range_bounds": None} for r in meta]
    keep_glob = plan_blocks(no_ranges, cfg, qtf, 5, stats=stats)[0]
    assert len(keep_rng) <= 4
    assert len(keep_glob) >= 4 * len(keep_rng), (len(keep_rng), len(keep_glob))
    shards.unpersist()


def test_block_meta_rebuilt_for_sample_complete_blocks(
    spark, corpus_small, index_small, dim_small, stats_small, tmp_path
):
    """Sample-complete blocks (df <= BLOCK_SAMPLE_N) store no skip
    metadata; term_block_meta rebuilds it from the block's own keys and
    tfs. On corpus_small plus a hot term in every doc, encoded with 4
    salts so the hot and common terms' blocks exceed BLOCK_SAMPLE_N
    while the rare terms' do not, every block's metadata row must equal
    the reference builder applied to its postings, incomplete blocks
    must still store theirs, and the planner must give the same plan on
    the rebuilt rows as on the reference rows. Written to parquet, the
    driver read from the read-back's file listing returns the same rows
    as the Spark scan of that frame."""
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
    from spaghettisearch_spark.sources.driver_read import read_back

    cfg = replace(DEFAULT, n_salts=4)
    doc_dim, doc_map = dim_small
    cols = ["term", "field", "doc_id", "tf", "positions", "dl", "weight"]
    postings = index_small.postings.withColumn("weight", F.col("bm25_weight"))
    hot = corpus_small.join(
        index_small.doc_stats.filter(F.col("field") == "body"), "doc_id"
    ).select(
        F.lit("hotterm").alias("term"),
        F.lit("body").alias("field"),
        "doc_id",
        F.lit(1).alias("tf"),
        F.array(F.lit(0)).alias("positions"),
        "dl",
        (F.lit(0.5) + (F.abs(F.hash("doc_id")) % 997) / F.lit(100.0))
        .alias("weight"),
    )
    inputs = postings.select(*cols).unionByName(hot).cache()
    shards = build_posting_shards(
        inputs, corpus_small.count(), cfg, doc_dim=doc_dim,
    ).cache()
    stored = {
        (r["term"], r["field"], r["salt"]): r
        for r in shards.select("term", "field", "salt", "df", *SKIP_META_COLS)
        .collect()
    }
    complete = {b for b, r in stored.items() if r["df"] <= BLOCK_SAMPLE_N}
    assert complete and len(complete) < len(stored), "fixture needs both"
    assert any(b[0] == "hotterm" for b in set(stored) - complete)

    # reference rows from each block's postings (decoded keys and tfs,
    # the input's dl and encode-time order), key-sorted per block
    dec = (
        decode_shards(shards, passthrough=("salt",), fields=("tf",))
        .join(
            inputs.join(doc_map, "doc_id").select(
                "term", "field", "doc_key", "dl", "weight"
            ),
            ["term", "field", "doc_key"],
        )
        .toPandas()
        .sort_values(["term", "field", "salt", "doc_key"])
    )
    ref = {
        b: reference_meta_row(
            *b, g["doc_key"].to_numpy(np.int64), g["tf"].to_numpy(np.int64),
            g["dl"].to_numpy(np.int64), g["weight"].to_numpy(np.float64),
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
            assert plan_blocks(
                sel_got, cfg, qtf, k, stats=stats_small
            ) == plan_blocks(sel_ref, cfg, qtf, k, stats=stats_small), (q, k)

    path = str(tmp_path / "shards")
    shards.repartition("shard").write.partitionBy("shard").parquet(path)
    pq, files = read_back(spark, path)
    driver = term_block_meta(pq, terms, cfg, shard_files=files)
    assert driver == term_block_meta(pq, terms, cfg)
    assert driver == term_block_meta(shards, terms, cfg)
    by_block = {(r["term"], r["field"], r["salt"]): r for r in driver}
    assert set(by_block) == set(ref)
    assert complete and set(by_block) - complete
    cache: dict = {}
    term_block_meta(pq, terms[::2], cfg, cache, files)
    assert term_block_meta(pq, terms, cfg, cache, files) == driver
    shards.unpersist()
    inputs.unpersist()


def test_candidate_doc_pruning(spark):
    """Doc-level candidate pruning: a rare high-impact term (its blocks
    sample-complete) plus a hot flat term (incomplete). Every unsampled
    doc's best case (the hot blocks' rest bound only) provably misses
    the threshold, so the planner restricts the decode to sampled doc
    keys — the at-scale path where decode/shuffle volume follows
    |candidates|, not the hot df. Results stay exact vs a python
    oracle."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators import wand as wand_mod
    from spaghettisearch_spark.operators.compression import BLOCK_SAMPLE_N

    cfg = DEFAULT
    n = 1000  # hot blocks get ~62 postings > BLOCK_SAMPLE_N -> incomplete
    docs = [f"d{i:04d}" for i in range(n)]
    rows = [("hotterm", "body", d, 1) for d in docs]
    rows += [("raresig", "body", d, 1) for d in docs[5:13]]
    fx = synthetic_shards(spark, rows, {"body": {d: 10 for d in docs}}, cfg)
    shards, doc_map, stats, ranked = fx.shards, fx.doc_map, fx.stats, fx.ranked
    assert (
        shards.filter(
            (F.col("term") == "hotterm") & (F.col("df") > BLOCK_SAMPLE_N)
        ).count()
        > 0
    ), "fixture must make the hot group sample-incomplete"
    got = wand_topk_from_shards(
        spark, shards, doc_map, ["raresig", "hotterm"], cfg, k=5, stats=stats,
    ).collect()
    skip = dict(wand_mod.LAST_SKIP_STATS)
    assert 0 < skip["cand_docs"] < n, skip
    _assert_topk(got, ranked, 5)
    shards.unpersist()


def test_candidate_pruning_sample_min_bound(spark):
    """The unsampled-doc bound is each incomplete block's REST impacts
    — the Pareto (tf, dl) pairs of exactly the postings outside its
    sample, admissible under any statistics — not the group's global
    bound. A cold hot-ish term (one 80-posting block) decays along doc
    index; docs 5-12 also carry a weak title term. The block's global
    bound (doc 0's weight) exceeds the true k-th score, so a global-max
    bound cannot let pruning fire, while the rest bound (doc 32's
    weight) sits below it — and results stay exact vs the python
    oracle."""
    import math

    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators import wand as wand_mod
    from spaghettisearch_spark.operators.compression import BLOCK_SAMPLE_N

    cfg = DEFAULT
    n = 1000
    docs = [f"d{i:04d}" for i in range(n)]
    rows = [("hotterm", "body", d, max(1, 10 - i)) for i, d in enumerate(docs[:80])]
    rows += [("raresig", "title", d, 1) for d in docs[5:13]]
    dl = {
        "body": {d: 10 + 5 * i for i, d in enumerate(docs)},
        "title": {d: 200 if d in docs[5:13] else 1 for d in docs},
    }
    fx = synthetic_shards(spark, rows, dl, cfg)
    shards, doc_map, stats, ranked = fx.shards, fx.doc_map, fx.stats, fx.ranked
    meta = shards.filter(F.col("term") == "hotterm").select(
        "df", "impacts"
    ).collect()
    assert [int(r["df"]) for r in meta] == [80] and 80 > BLOCK_SAMPLE_N

    def blended(tf, length):
        avgdl = sum(dl["body"].values()) / n
        idf = math.log(1.0 + (n - 80 + 0.5) / (80 + 0.5))
        denom = tf + cfg.k1 * (1 - cfg.b + cfg.b * length / avgdl)
        return cfg.w_body * cfg.blend_scale * idf * tf * (cfg.k1 + 1.0) / denom

    impacts = meta[0]["impacts"]
    groups = impacts[0]
    n_rest = impacts[groups]
    pairs = list(zip(impacts[1 + groups::2], impacts[2 + groups::2]))
    group_max = max(blended(tf, length) for tf, length in pairs)
    rest_ub = max(blended(tf, length) for tf, length in pairs[-n_rest:])
    kth = ranked[4][1]
    assert rest_ub < kth < group_max, (rest_ub, kth, group_max)
    got = wand_topk_from_shards(
        spark, shards, doc_map, ["raresig", "hotterm"], cfg, k=5, stats=stats,
    ).collect()
    skip = dict(wand_mod.LAST_SKIP_STATS)
    assert 0 < skip["cand_docs"] < n, skip
    _assert_topk(got, ranked, 5)
    shards.unpersist()


def test_wand_from_warehouse_shards_dense_ids(spark, docs_small, tmp_path):
    """Pipeline shards use dense doc_idx keys; shard-backed WAND from the
    warehouse == exhaustive scoring on the same index."""
    from spaghettisearch_spark.operators.bm25 import search
    from spaghettisearch_spark.operators.index_build import collect_corpus_stats
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards
    from spaghettisearch_spark.plans.build_pipeline import build_all

    wh = str(tmp_path / "wh")
    built = build_all(
        spark, spark.createDataFrame(docs_small.head(120)), wh, with_pagerank=False
    )
    idx = built.load(spark)
    shards = built.shards(spark)
    doc_map = built.doc_map(spark)
    stats = collect_corpus_stats(spark, idx.doc_stats, doc_map)
    for query in ["parse", "parse buffer flush"]:
        terms, _ = parse_query(query)
        want = search(spark, idx, query, DEFAULT, k=15).collect()
        got = wand_topk_from_shards(
            spark, shards, doc_map, terms, DEFAULT, k=15, stats=stats,
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
    from spaghettisearch_spark.operators.index_build import collect_corpus_stats
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
    stats = collect_corpus_stats(spark, idx.doc_stats, doc_map)
    terms, _ = parse_query("dispatch buffer parse")
    want = [
        r["doc_id"]
        for r in search(spark, idx, "dispatch buffer parse", DEFAULT, k=10).collect()
    ]
    got = wand_topk_from_shards(
        spark, shards, doc_map, terms, DEFAULT, k=10,
        two_phase="auto", stats=stats,
    ).collect()
    assert [r["doc_id"] for r in got] == want
    assert wand_mod.LAST_SKIP_STATS["two_phase"] == 0  # volume below threshold
    kept_1p = wand_mod.LAST_SKIP_STATS["kept"]
    eager = replace(DEFAULT, two_phase_auto_min_postings=0)
    got2 = wand_topk_from_shards(
        spark, shards, doc_map, terms, eager, k=10,
        two_phase="auto", stats=stats,
    ).collect()
    assert [r["doc_id"] for r in got2] == want
    # this bag admits candidate pruning on this corpus, so auto SKIPS
    # the wave even at threshold 0 (phase 2 is already |candidates|-
    # bounded)
    assert wand_mod.LAST_SKIP_STATS["cand_docs"] > 0
    assert wand_mod.LAST_SKIP_STATS["two_phase"] == 0
    got3 = wand_topk_from_shards(
        spark, shards, doc_map, terms, eager, k=10,
        two_phase=True, stats=stats,
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
    from spaghettisearch_spark.operators.index_build import collect_corpus_stats
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
    stats = collect_corpus_stats(spark, idx.doc_stats, doc_map)
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
        two_phase=True, meta_cache=cache, stats=stats,
    ).collect()
    s1 = dict(wand_mod.LAST_SKIP_STATS)
    assert s1["two_phase"] == 1 and s1["floor_cached"] == 0
    assert any(key.startswith("\x00floor:") for key in cache)
    got2 = wand_topk_from_shards(
        spark, shards, doc_map, terms, eager, k=10,
        two_phase="auto", meta_cache=cache, stats=stats,
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
        two_phase="auto", meta_cache=cache, stats=stats,
    ).collect()
    assert wand_mod.LAST_SKIP_STATS["floor_cached"] == 0
    # ...and neither must a different scoring cfg sharing the cache:
    # floors embed the field/blend weights (a floor computed under
    # heavier weights would be an inadmissible threshold here)
    lighter = replace(eager, w_body=eager.w_body * 0.5)
    got3 = wand_topk_from_shards(
        spark, shards, doc_map, terms, lighter, k=10,
        two_phase="auto", meta_cache=cache, stats=stats,
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
    directions — every kept block is strong only at one end, so its
    far sub-ranges fall under the threshold and are dropped from the
    decode. Also checks the decode filter directly: key_ranges={block:
    [0]} yields exactly the block's first equi-depth chunk in doc_key
    order."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators import wand as wand_mod
    from spaghettisearch_spark.operators.compression import (
        RANGE_SUB_N,
        decode_shards,
    )

    cfg = DEFAULT
    shards, doc_map, stats, ranked = _opposed_terms(spark)
    got = wand_topk_from_shards(
        spark, shards, doc_map, ["terma", "termb"], cfg, k=5, stats=stats,
    ).collect()
    skip = dict(wand_mod.LAST_SKIP_STATS)
    _assert_topk(got, ranked, 5)
    # kept blocks decoded strictly fewer postings than they hold
    assert 0 < skip["decoded_df"] < skip["kept_df"], skip
    assert skip["kept_ranges"] < skip["total_ranges"], skip

    # direct decode-filter check: first chunk only, positional semantics
    blk = shards.filter(F.col("term") == "terma").select(
        "term", "field", "salt", "df"
    ).orderBy("salt").first()
    bkey = (blk["term"], blk["field"], int(blk["salt"]))
    one = shards.filter(
        (F.col("term") == bkey[0]) & (F.col("salt") == bkey[2])
    )
    full = decode_shards(one, fields=("tf",)).orderBy("doc_key").collect()
    n = int(blk["df"])
    n_sub = min(RANGE_SUB_N, n)
    first_chunk = decode_shards(
        one, fields=("tf",), key_ranges={bkey: (n_sub, [0])}
    ).orderBy("doc_key").collect()
    want_n = ((1 * n) // n_sub) - ((0 * n) // n_sub)
    assert [r["doc_key"] for r in first_chunk] == [
        r["doc_key"] for r in full[:want_n]
    ]
    shards.unpersist()


def test_two_phase_string_guard_and_zero_weight_field(spark):
    """Two review regressions: (1) a non-'auto' string for two_phase
    must raise, not silently bool() to True ('off' ENABLING the wave is
    the worst misread); (2) a zero blended field weight (body-only
    ranking) must not crash the planner's unsampled-doc bound when a
    hot group of that field is sample-incomplete."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators.compression import BLOCK_SAMPLE_N

    cfg = replace(DEFAULT, w_title=0.0)
    n = 1000  # hot blocks ~62 postings > BLOCK_SAMPLE_N -> incomplete
    docs = [f"d{i:04d}" for i in range(n)]
    rows = [("hott", "title", d, 1) for d in docs]
    rows += [("raresig", "body", d, 1) for d in docs[3:9]]
    dl = {f: {d: 10 for d in docs} for f in ("title", "body")}
    fx = synthetic_shards(spark, rows, dl, cfg)
    shards, doc_map, stats = fx.shards, fx.doc_map, fx.stats
    assert (
        shards.filter(
            (F.col("term") == "hott") & (F.col("df") > BLOCK_SAMPLE_N)
        ).count()
        > 0
    ), "fixture must make the zero-weight hot group sample-incomplete"
    got = wand_topk_from_shards(
        spark, shards, doc_map, ["raresig", "hott"], cfg, k=5, stats=stats,
    ).collect()
    # title weight 0 -> only raresig's body postings score
    assert [r["doc_id"] for r in got] == docs[3:8]
    with pytest.raises(ValueError, match="two_phase"):
        wand_topk_from_shards(
            spark, shards, doc_map, ["raresig"], cfg, k=5,
            two_phase="Auto", stats=stats,
        )
    shards.unpersist()
