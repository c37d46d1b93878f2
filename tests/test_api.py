"""SearchEngine facade: the reference's /query + /wordlist surface."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def engine(spark, docs_tiny):
    from spaghettisearch_spark.api import SearchEngine

    return SearchEngine.build(spark, spark.createDataFrame(docs_tiny))


def test_query_cards(engine):
    cards = engine.query("parse", k=5)
    assert 0 < len(cards) <= 5
    c = cards[0]
    for key in ("rank", "url", "final_rank", "title_rank", "body_rank",
                "pagerank", "snippet", "top_words", "parents", "children",
                "content_sha256"):
        assert key in c
    assert c["rank"] == 1
    assert cards == sorted(cards, key=lambda x: (-x["final_rank"], x["doc_id"]))
    assert len(c["content_sha256"]) == 64


def test_query_cards_family_anchor_terms(engine):
    """Reference DocInfo.Parents carries the anchor terms each parent
    credited (noschema_schema.go:34-44); the card must surface them."""
    cards = engine.query("parse buffer", k=50)
    with_parents = [c for c in cards if c["parents"]]
    assert with_parents, "fixture corpus has inbound links"
    p = with_parents[0]["parents"][0]
    assert set(p) == {"parent", "terms"}
    assert isinstance(p["terms"], list)
    assert any(
        p2["terms"] for c in with_parents for p2 in c["parents"]
    ), "some parent carries anchor terms"
    for c in with_parents:
        assert len(c["parents"]) <= 5
        assert [x["parent"] for x in c["parents"]] == sorted(
            x["parent"] for x in c["parents"]
        )


def test_query_wand_path_matches(engine):
    a = engine.query("parse buffer", k=10)
    b = engine.query("parse buffer", k=10, use_wand=True)
    assert [c["doc_id"] for c in a] == [c["doc_id"] for c in b]
    for x, y in zip(a, b):
        assert x["final_rank"] == pytest.approx(y["final_rank"], rel=1e-9)


def test_phrase_query_cards(engine):
    cards = engine.query('"hash table probe"', k=5)
    assert cards
    assert all("hash table probe" in c["snippet"] for c in cards)


def test_wordlist(engine):
    words = engine.wordlist("pa")
    assert words == sorted(words)
    assert all(w.startswith("pa") for w in words)
    # stemmed vocabulary: 'parse' family stems present
    assert any(w.startswith("pars") for w in words)
    assert engine.wordlist("zzzzz") == []


@pytest.fixture(scope="module")
def shard_engine(spark, docs_tiny, tmp_path_factory):
    from spaghettisearch_spark.api import SearchEngine

    return SearchEngine.build(
        spark, spark.createDataFrame(docs_tiny),
        warehouse_dir=str(tmp_path_factory.mktemp("wh_api")),
    )


@pytest.fixture(scope="module")
def ref_tiny(spark, docs_tiny):
    """The exhaustive scorer's reference for engines built on docs_tiny:
    a from-scratch index of the same documents, with their links."""
    from spaghettisearch_spark.operators.index_build import build_index
    from spaghettisearch_spark.operators.links import extract_links
    from spaghettisearch_spark.sources.corpus import ingest

    corpus = ingest(spark.createDataFrame(docs_tiny)).cache()
    idx = build_index(corpus, links=extract_links(corpus).cache())
    idx.postings.cache().count()
    return idx


def _assert_matches_search(eng, ref, cards, q, k):
    """``cards`` rank like the exhaustive bm25.search over ``ref`` (a
    from-scratch index of the engine's documents) and the engine's
    PageRank frame: equal doc_ids, scores and their parts within rel
    1e-9."""
    from spaghettisearch_spark.operators.bm25 import search

    want = search(
        eng.spark, ref, q, eng.cfg, pagerank=eng.pagerank, k=k
    ).collect()
    assert want, q
    assert [c["doc_id"] for c in cards] == [r["doc_id"] for r in want], q
    for c, r in zip(cards, want):
        assert c["final_rank"] == pytest.approx(r["score"], rel=1e-9)
        assert c["title_rank"] == pytest.approx(r["title_rank"], rel=1e-9, abs=1e-12)
        assert c["body_rank"] == pytest.approx(r["body_rank"], rel=1e-9, abs=1e-12)
        assert c["pagerank"] == pytest.approx(r["pagerank"], rel=1e-9, abs=1e-12)
    return want


def test_shard_backend_matches_memory(shard_engine, ref_tiny):
    """The engine serves the FULL query surface from the compressed
    warehouse layout with results equal to the exhaustive bm25.search
    over its index: free terms, phrases, phrase+terms, the WAND path,
    and the PageRank blend."""
    queries = [
        ("parse buffer", False),
        ('"hash table probe"', False),
        ('"hash table" flush', False),
        ("parse buffer", True),  # wand path
        ("dispatch", True),
    ]
    for q, wand in queries:
        shd = shard_engine.query(q, k=5, use_wand=wand)
        _assert_matches_search(shard_engine, ref_tiny, shd, q, 5)
    # an engine without posting shards fails loudly
    from spaghettisearch_spark.api import SearchEngine

    eng2 = SearchEngine(spark=shard_engine.spark, cfg=shard_engine.cfg)
    with pytest.raises(ValueError, match="posting shards"):
        eng2.query_df("parse")


def test_query_backend_memory_raises(engine):
    """"shards" is the only backend: any other value, "memory"
    included, raises and names it."""
    for backend in ("memory", "bogus"):
        with pytest.raises(ValueError, match='"shards"'):
            engine.query("parse", backend=backend)
        with pytest.raises(ValueError, match='"shards"'):
            engine.query_df("parse", backend=backend)


def test_build_rejects_non_bm25_scorer(spark, docs_tiny):
    """The engine scores BM25 only: a tfidf_cosine build raises before
    any Spark job runs."""
    from spaghettisearch_spark.api import SearchEngine
    from spaghettisearch_spark.config import EngineConfig

    docs = spark.createDataFrame(docs_tiny)

    def build():
        with pytest.raises(ValueError, match="tfidf_cosine"):
            SearchEngine.build(spark, docs, EngineConfig(scorer="tfidf_cosine"))

    _, n_jobs = _spark_jobs(spark, "tfidf-build", build)
    assert n_jobs == 0


def _warehouse_rows(spark, wh):
    """Each warehouse table's rows, sorted by the table's key."""
    return {
        table: spark.read.parquet(f"{wh}/{table}").orderBy(*key).collect()
        for table, key in (
            ("posting_shards", ("term", "field", "shard", "salt")),
            ("doc_cards", ("doc_key",)),
            ("corpus_stats", ("field",)),
        )
    }


@pytest.fixture(scope="module")
def twice_small(spark, docs_small, tmp_path_factory):
    """Two builds of docs_small (with its links and PageRank) into two
    warehouses."""
    from spaghettisearch_spark.api import SearchEngine

    docs = spark.createDataFrame(docs_small)
    return [
        SearchEngine.build(
            spark, docs, warehouse_dir=str(tmp_path_factory.mktemp(f"twice{i}"))
        )
        for i in range(2)
    ]


def test_build_is_deterministic(spark, twice_small):
    """The build's phases overlap on driver threads, but two builds of
    one corpus write the same rows: shard blocks, cards (PageRank
    compared exactly) and corpus_stats."""
    a, b = (_warehouse_rows(spark, e.warehouse_dir) for e in twice_small)
    assert len(a["doc_cards"]) == 300
    assert any(r["pagerank"] > 0 for r in a["doc_cards"])
    for table in a:
        assert a[table] == b[table], table


def test_build_phases_overlap(spark, docs_tiny, twice_small):
    """``build_profile`` names each phase with its pool and interval;
    PageRank runs while the index or the shards are built. Without
    PageRank there is no pagerank phase."""
    from spaghettisearch_spark.api import SearchEngine

    import xml.etree.ElementTree as ET

    from spaghettisearch_spark.session import POOLS_FILE

    prof = twice_small[0].build_profile
    phases = prof["phases"]
    assert set(phases) == {"index", "pagerank", "doc_dim", "shards", "cards"}
    # every phase's pool is declared, topic PageRank's too
    declared = {p.get("name") for p in ET.parse(POOLS_FILE).getroot()}
    assert set(phases) | {"topic_pagerank"} <= declared
    for name, ph in phases.items():
        assert ph["pool"] == name
        assert 0 <= ph["start_s"] <= ph["end_s"] <= prof["total_s"]

    def overlaps(x, y):
        return x["start_s"] < y["end_s"] and y["start_s"] < x["end_s"]

    pr = phases["pagerank"]
    assert overlaps(pr, phases["index"]) or overlaps(pr, phases["shards"])
    # the cards carry PageRank: they start once it is done
    assert phases["cards"]["start_s"] >= pr["end_s"]
    eng = SearchEngine.build(
        spark, spark.createDataFrame(docs_tiny), with_pagerank=False
    )
    assert set(eng.build_profile["phases"]) == {
        "index", "doc_dim", "shards", "cards",
    }


def test_build_phase_error_propagates(spark, docs_tiny):
    """A phase thread's error leaves ``build`` once every phase thread is
    joined: a topics frame without ``category`` raises the analysis
    error naming it, and no thread outlives the call. Jobs run after
    it stay in the default pool."""
    import threading

    from pyspark.errors import AnalysisException

    from spaghettisearch_spark.api import SearchEngine

    topics = spark.createDataFrame([("r/a.py", "x")], "doc_id string, cat string")
    before = threading.active_count()
    with pytest.raises(AnalysisException, match="category"):
        SearchEngine.build(spark, spark.createDataFrame(docs_tiny), topics=topics)
    assert threading.active_count() == before
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") is None


def test_warehouse_engine_serves_and_compacts(
    spark, docs_tiny, ref_tiny, tmp_path
):
    """warehouse_dir: the engine serves every query from
    partitionBy("shard") parquet with results equal to the exhaustive
    bm25.search, and apply_merge rewrites only the warehouse in place:
    it makes a delta segment searchable (and tombstones deletable)
    without moving unrelated queries."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.api import SearchEngine
    from spaghettisearch_spark.operators.compression import (
        build_posting_shards,
    )

    wh = str(tmp_path / "wh")
    eng = SearchEngine.build(
        spark, spark.createDataFrame(docs_tiny), warehouse_dir=wh
    )
    assert (tmp_path / "wh" / "posting_shards").exists()
    for q, wand in [
        ("parse buffer", False),
        ('"hash table" flush', False),
        ("parse buffer", True),
        ("dispatch", True),
    ]:
        wh_cards = eng.query(q, k=5, use_wand=wand, backend="shards")
        _assert_matches_search(eng, ref_tiny, wh_cards, q, 5)

    # ---- apply_merge: a delta adding a brand-new term to two docs ----
    assert eng.query("qqnewsig", k=5, use_wand=True, backend="shards") == []
    target = [
        r["doc_key"]
        for r in eng.doc_map.orderBy("doc_key").limit(2).collect()
    ]
    delta_postings = spark.createDataFrame(
        [("qqnewsig", "body", int(dk), 1, [0], 1, 7.5) for dk in target],
        "term string, field string, doc_key long, tf int, "
        "positions array<int>, dl long, weight double",
    )
    delta = build_posting_shards(delta_postings, eng.n_docs, eng.cfg)
    before = {
        c["doc_id"]: c["final_rank"]
        for c in eng.query("parse buffer", k=5, use_wand=True,
                           backend="shards")
    }
    eng.apply_merge(delta)
    hits = eng.query("qqnewsig", k=5, use_wand=True, backend="shards")
    assert {c["doc_id"] for c in hits} == {
        r["doc_id"]
        for r in eng.doc_map.filter(F.col("doc_key").isin(target)).collect()
    }
    after = {
        c["doc_id"]: c["final_rank"]
        for c in eng.query("parse buffer", k=5, use_wand=True,
                           backend="shards")
    }
    assert after == before, "merge of an unrelated term moved other queries"

    # ---- tombstones through the same surface ----
    dels = spark.createDataFrame(
        [("qqnewsig", "body", int(target[0]))],
        "term string, field string, doc_key long",
    )
    empty_delta = build_posting_shards(
        delta_postings.limit(0), eng.n_docs, eng.cfg
    )
    eng.apply_merge(empty_delta, delete_postings=dels)
    left = eng.query("qqnewsig", k=5, use_wand=True, backend="shards")
    assert len(left) == 1


def test_concurrent_queries_one_engine(spark, docs_small, tmp_path):
    """The serving claim behind the bench's engine_qps row: concurrent
    queries from multiple driver threads against ONE engine (shared
    Spark session, shared metadata/floor caches) return exactly the
    sequential results — no cache races, no cross-query contamination."""
    import concurrent.futures as fut

    from spaghettisearch_spark.api import SearchEngine

    eng = SearchEngine.build(
        spark, spark.createDataFrame(docs_small.head(150)),
        warehouse_dir=str(tmp_path / "wh"), with_pagerank=False,
    )
    queries = [
        ("dispatch buffer parse", True),
        ('"hash table" parse', False),
        ("parse", True),
        ("buffer", True),
    ]
    want = {
        q: [r["doc_id"] for r in eng.query(q, backend="shards", use_wand=w)]
        for q, w in queries
    }

    def run(args):
        q, w = args
        return q, [
            r["doc_id"] for r in eng.query(q, backend="shards", use_wand=w)
        ]

    stream = [queries[i % len(queries)] for i in range(12)]
    with fut.ThreadPoolExecutor(4) as ex:
        for q, got in ex.map(run, stream):
            assert got == want[q], q


def _assert_driver_meta_matches(eng, terms):
    """The driver read of ``terms``' block metadata from the engine's
    shard listing equals the Spark scan over its read-back frame."""
    from spaghettisearch_spark.operators.compression import term_block_meta

    assert eng.shard_files
    terms = sorted(set(terms))
    driver = term_block_meta(eng.shards, terms, eng.cfg, shard_files=eng.shard_files)
    assert driver == term_block_meta(eng.shards, terms, eng.cfg)
    return driver


def test_apply_merge_clears_emptied_partition(spark, docs_small, tmp_path):
    """Dynamic partition overwrite only rewrites partitions present in
    the written data — a touched partition whose merged output is EMPTY
    (tombstones deleted everything in it) must still be rewritten, or
    deleted postings would be served forever from its stale files."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.api import SearchEngine
    from spaghettisearch_spark.operators.compression import decode_shards

    eng = SearchEngine.build(
        spark, spark.createDataFrame(docs_small.head(120)),
        warehouse_dir=str(tmp_path / "wh"), with_pagerank=False,
    )
    sid = int(eng.shards.select("shard").first()["shard"])
    before_other = eng.shards.filter(F.col("shard") != sid).count()
    assert eng.shards.filter(F.col("shard") == sid).count() > 0
    dels = (
        decode_shards(eng.shards.filter(F.col("shard") == sid))
        .select("term", "field", "doc_key")
        .localCheckpoint(eager=True)
    )
    gone = sorted({r["term"] for r in dels.select("term").distinct().collect()})
    kept = sorted({
        r["term"] for r in eng.shards.filter(F.col("shard") != sid)
        .select("term").distinct().collect()
    })
    assert _assert_driver_meta_matches(eng, gone[:20] + kept[:40])
    eng.apply_merge(eng.shards.limit(0), delete_postings=dels)
    assert eng.shards.filter(F.col("shard") == sid).count() == 0
    assert eng.shards.filter(F.col("shard") != sid).count() == before_other
    # the emptied partition's terms have no rows in either read
    meta = _assert_driver_meta_matches(eng, gone + kept[:40])
    assert meta and not {r["term"] for r in meta} & set(gone)


def test_apply_merge_guards_unknown_doc_keys(spark, docs_small, tmp_path):
    """A delta referencing doc_keys beyond the warehouse dimension must
    raise loudly (silently dropping ranked docs at hydration is the
    failure mode), and passing the extended dim via new_doc_map= makes
    the same merge succeed and the new doc queryable."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from spaghettisearch_spark.api import SearchEngine
    from spaghettisearch_spark.operators.compression import (
        build_posting_shards,
        extend_doc_dim,
    )
    from spaghettisearch_spark.operators.index_build import build_index
    from spaghettisearch_spark.sources.corpus import ingest

    eng = SearchEngine.build(
        spark, spark.createDataFrame(docs_small.head(100)),
        warehouse_dir=str(tmp_path / "wh"), with_pagerank=False,
    )
    n0 = eng.n_docs
    new_raw = spark.createDataFrame(
        [("r", "znewpath9999", "c", "python",
          "zzuniqueterm zzuniqueterm parse")],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    # ingest DERIVES doc_id (content-addressed) — use the derived id
    new_corpus = ingest(new_raw).localCheckpoint(eager=True)
    new_id = new_corpus.select("doc_id").first()["doc_id"]
    old_dim = eng.doc_map.select(
        "doc_id", F.col("doc_key").alias("doc_idx")
    )
    ext = extend_doc_dim(old_dim, new_corpus.select("doc_id")).localCheckpoint(
        eager=True
    )
    idx_new = build_index(new_corpus, eng.cfg)
    delta = build_posting_shards(
        idx_new.postings, n0 + 1, eng.cfg,
        doc_dim=ext, weight_col="bm25_weight",
    ).localCheckpoint(eager=True)
    assert delta.count() > 0
    with _pytest.raises(ValueError, match="beyond the warehouse dimension"):
        eng.apply_merge(delta)
    eng.apply_merge(delta, new_doc_map=ext, new_corpus=new_corpus)
    assert eng.n_docs == n0 + 1
    # the full card surface serves the merged-in doc: postings (shards),
    # dimension (doc_map), metadata (doc_meta) and snippet corpus all
    # extended — an inner hydration join dropping it would return []
    got = eng.query_df("zzuniqueterm", use_wand=True, backend="shards").collect()
    assert [r["doc_id"] for r in got] == [new_id]
    assert "zzuniqueterm" in got[0]["snippet"]


def test_apply_merge_guard_catches_unsampled_key_and_leaves_state_intact(
    spark, docs_small, tmp_path
):
    """The dimension guard must use the EXACT max key of the delta, not
    the weight-sampled top_doc_keys: a block with >BLOCK_SAMPLE_N
    postings whose out-of-dimension key carries the LOWEST weight is
    invisible to the sample, and a sample-based guard passed while the
    ranked row silently vanished at hydration. A sample-complete block
    stores no metadata, so its key must be caught too. A rejected merge
    must also leave the engine unmutated (doc_map parquet not appended,
    n_docs and the statistics unchanged)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from spaghettisearch_spark.api import SearchEngine
    from spaghettisearch_spark.operators.compression import (
        BLOCK_SAMPLE_N,
        build_posting_shards,
    )

    eng = SearchEngine.build(
        spark, spark.createDataFrame(docs_small.head(100)),
        warehouse_dir=str(tmp_path / "wh"), with_pagerank=False,
    )
    n0 = eng.n_docs
    map_rows0 = eng.doc_map.count()
    stats0 = eng.stats
    # one cold block, BLOCK_SAMPLE_N + 8 postings; the out-of-dimension
    # key gets the smallest weight so the top-N weight sample misses it
    n_post = BLOCK_SAMPLE_N + 8
    rows = [
        ("qqguardterm", "body", int(k), 1, [1], 1, 1.0)
        for k in range(n_post - 1)
    ] + [("qqguardterm", "body", int(n0 + 50), 1, [1], 1, 0.001)]
    bad_postings = spark.createDataFrame(
        rows,
        "term string, field string, doc_key long, tf int, "
        "positions array<int>, dl long, weight double",
    )
    from dataclasses import replace as _replace

    # keep the 40-posting group COLD (single block) so the top-N sample
    # genuinely truncates it — the regression needs df > BLOCK_SAMPLE_N
    # within one block
    cold_cfg = _replace(eng.cfg, salt_df_threshold=1.0)
    delta = build_posting_shards(
        bad_postings, n0, cold_cfg
    ).localCheckpoint(eager=True)
    # precondition for the regression: the bad key is NOT in the sample
    samp = delta.select(F.explode("top_doc_keys").alias("k")).agg(
        F.max("k")
    ).first()[0]
    assert samp < n0 + 50, "fixture must keep the bad key out of the sample"
    # a sample-complete block (df <= BLOCK_SAMPLE_N) stores no metadata
    # at all, so its out-of-dimension key has no metadata witness
    small = build_posting_shards(
        bad_postings.filter(
            (F.col("doc_key") < 4) | (F.col("doc_key") == n0 + 50)
        ),
        n0, cold_cfg,
    ).localCheckpoint(eager=True)
    small_rows = small.select("df", "range_bounds").collect()
    assert [r["df"] for r in small_rows] == [5]
    assert small_rows[0]["range_bounds"] is None
    for bad in (delta, small):
        with _pytest.raises(ValueError, match="beyond the warehouse dimension"):
            eng.apply_merge(bad)
        # rejected merge left the engine untouched
        assert eng.n_docs == n0
        assert eng.doc_map.count() == map_rows0
        assert eng.stats is stats0


def _spark_jobs(spark, group, fn):
    """(fn(), number of Spark jobs it started) via a job group."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _job_stage_tasks(spark, group):
    """Task count of each stage of each job started under ``group``, in
    job order: [[tasks per stage] per job]."""
    st = spark.sparkContext.statusTracker()
    return [
        [st.getStageInfo(s).numTasks for s in st.getJobInfo(j).stageIds]
        for j in sorted(st.getJobIdsForGroup(group))
    ]


def test_warehouse_query_is_one_job(spark, docs_tiny, ref_tiny, tmp_path):
    """A shard query runs exactly one Spark job, the top-k job: the
    driver reads the block metadata of first-seen terms and the k cards
    itself. That holds cold (cleared meta_cache) and warm, for a WAND
    bag and for a phrase, and the rows equal the exhaustive bm25.search
    (hydrated: url, content_sha256, page_size and top words). A WAND bag
    this small plans one task, so its top-k job is one stage of one
    task: decode and score in one Python pass, no bucket shuffle."""
    from spaghettisearch_spark.api import SearchEngine
    from spaghettisearch_spark.operators.bm25 import search

    eng = SearchEngine.build(
        spark, spark.createDataFrame(docs_tiny),
        warehouse_dir=str(tmp_path / "wh"),
    )
    for i, (q, wand) in enumerate(
        [("parse buffer", True), ('"hash table" flush', False)]
    ):
        got = {}
        for run in ("cold", "warm"):
            if run == "cold":
                eng.meta_cache.clear()
            got[run], n_jobs = _spark_jobs(
                spark, f"one-job-{i}-{run}",
                lambda: eng.query(q, k=5, use_wand=wand, backend="shards"),
            )
            assert n_jobs == 1, (q, run, n_jobs)
            if wand:
                assert _job_stage_tasks(spark, f"one-job-{i}-{run}") == [[1]]
        assert got["warm"] == got["cold"]
        want = _assert_matches_search(eng, ref_tiny, got["warm"], q, 5)
        hydrated = {
            r["doc_id"]: r
            for r in search(
                spark, ref_tiny, q, eng.cfg, pagerank=eng.pagerank, k=5,
                hydrate=True,
            ).collect()
        }
        assert set(hydrated) == {r["doc_id"] for r in want}
        for c in got["warm"]:
            r = hydrated[c["doc_id"]]
            assert c["url"] == f"{r['repo']}/{r['path']}"
            assert (c["content_sha256"], c["page_size"], c["top_words"]) == (
                r["content_sha256"], r["page_size"], r["top_words"]
            )


def test_driver_cards_equal_spark_rows(spark, docs_small, tmp_path):
    """The cards ``query`` reads on the driver equal the doc_cards rows
    a Spark read returns (Row.asDict(recursive=True)), field by field:
    top_words a dict, parents, children and content_sha256 equal — with
    a temporary and a given warehouse, and for cards appended by
    apply_merge."""
    import gc
    from pathlib import Path
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from spaghettisearch_spark.api import SearchEngine

    def check(eng, cards):
        assert cards
        ids = [c["doc_id"] for c in cards]
        rows = {
            r["doc_id"]: r.asDict(recursive=True)
            for r in eng.doc_cards.filter(F.col("doc_id").isin(ids)).collect()
        }
        for c in cards:
            r = rows[c["doc_id"]]
            assert isinstance(c["top_words"], dict)
            assert c["top_words"] == r["top_words"]
            assert c["parents"] == (r["parents_anchors"] or [])
            assert c["children"] == (r["children_top5"] or [])
            assert c["url"] == f"{r['repo']}/{r['path']}"
            for key, col in (("content_sha256", "content_sha256"),
                             ("page_size", "page_size"), ("mod_date", "commit"),
                             ("pagerank", "pagerank")):
                assert c[key] == r[col], key

    tmp_eng = SearchEngine.build(spark, spark.createDataFrame(docs_small.head(80)))
    check(tmp_eng, tmp_eng.query("parse buffer", k=20))
    # without a warehouse_dir the warehouse is a temporary directory
    # that goes with the engine
    tmp = Path(urlparse(tmp_eng.card_files[0]).path).parents[1]
    assert tmp.is_dir()
    del tmp_eng
    gc.collect()
    assert not tmp.exists()
    eng = SearchEngine.build(
        spark, spark.createDataFrame(docs_small.head(100)),
        warehouse_dir=str(tmp_path / "wh"),
    )
    cards = eng.query("parse buffer", k=20, backend="shards")
    assert any(c["parents"] for c in cards) and any(c["children"] for c in cards)
    check(eng, cards)
    delta, ext, nc = _merge_batch(spark, eng, [
        ("rcard", "zzcard.py", "c1", "python", "zzcardsig parse buffer"),
    ])
    eng.apply_merge(delta, new_doc_map=ext, new_corpus=nc)
    check(eng, eng.query("zzcardsig parse", k=20, use_wand=True, backend="shards"))


def test_multi_task_tail_matches_one_task_and_oracle(
    spark, docs_small, oracle_small, tmp_path
):
    """A WAND bag planned over several tasks (a tiny
    query_target_postings_per_task) keeps the shuffled bucket tail, and
    ranks like the one-task pass and the pandas oracle, PageRank
    blended in."""
    from dataclasses import replace

    from spaghettisearch_spark.api import SearchEngine
    from spaghettisearch_spark.oracle.pandas_oracle import oracle_search

    eng = SearchEngine.build(
        spark, spark.createDataFrame(docs_small),
        warehouse_dir=str(tmp_path / "wh"),
    )
    many = replace(
        eng, cfg=replace(eng.cfg, query_target_postings_per_task=1),
        meta_cache={},
    )
    pr = {r["doc_id"]: r["rank"] for r in eng.pagerank.collect()}
    for i, q in enumerate(["parse buffer flush", "dispatch buffer kernel parse"]):
        one = eng.query(q, k=10, use_wand=True, backend="shards")
        many.query(q, k=10, use_wand=True, backend="shards")  # fills the caches
        got, _ = _spark_jobs(
            spark, f"many-tasks-{i}",
            lambda: many.query(q, k=10, use_wand=True, backend="shards"),
        )
        topk_stages = _job_stage_tasks(spark, f"many-tasks-{i}")[0]
        assert len(topk_stages) == 2 and max(topk_stages) > 1, topk_stages
        want = oracle_search(oracle_small, q, eng.cfg, pagerank=pr, k=10)
        ids = [c["doc_id"] for c in got]
        assert ids == [c["doc_id"] for c in one] == list(want["doc_id"]), q
        for c, w in zip(got, want["score"]):
            assert c["final_rank"] == pytest.approx(w, abs=1e-6)


def _merge_batch(spark, eng, rows):
    """(delta, extended dim, ingested corpus) for new raw ``rows``,
    through the public LSM path."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators.compression import (
        build_posting_shards,
        extend_doc_dim,
    )
    from spaghettisearch_spark.operators.index_build import build_index
    from spaghettisearch_spark.sources.corpus import ingest

    raw = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    nc = ingest(raw).localCheckpoint(eager=True)
    old = eng.doc_map.select("doc_id", F.col("doc_key").alias("doc_idx"))
    ext = extend_doc_dim(old, nc.select("doc_id")).localCheckpoint(eager=True)
    delta = build_posting_shards(
        build_index(nc, eng.cfg).postings, eng.n_docs + len(rows), eng.cfg,
        doc_dim=ext, weight_col="bm25_weight",
    ).localCheckpoint(eager=True)
    return delta, ext, nc


def test_temp_warehouse_outlives_merge(spark, docs_small):
    """An engine built without warehouse_dir serves and merges from its
    temporary warehouse. The directory outlives the
    frames a merge replaces (the cards frame is re-read on append) and
    every dataclasses.replace copy, and goes with the last copy."""
    import gc
    from dataclasses import replace
    from pathlib import Path

    from spaghettisearch_spark.api import SearchEngine

    eng = SearchEngine.build(
        spark, spark.createDataFrame(docs_small.head(60)), with_pagerank=False,
    )
    tmp = Path(eng.warehouse_dir)
    assert (tmp / "posting_shards").is_dir() and (tmp / "doc_cards").is_dir()
    copy = replace(eng, meta_cache={})
    assert copy.query("parse buffer", k=5) == eng.query("parse buffer", k=5)
    rows = [("rtmp", "zztmp.py", "c1", "python", "zztmpsig parse buffer")]
    delta, ext, nc = _merge_batch(spark, eng, rows)
    eng.apply_merge(delta, new_doc_map=ext, new_corpus=nc)
    gc.collect()
    hits = eng.query("zztmpsig", k=5, use_wand=True)
    assert [c["url"] for c in hits] == ["rtmp/zztmp.py"]
    assert hits[0]["snippet"] == rows[0][4]
    del eng
    gc.collect()
    assert tmp.is_dir(), "a live copy still serves from the directory"
    del copy
    gc.collect()
    assert not tmp.exists()


def test_apply_merge_appends_cards(spark, docs_small, tmp_path):
    """Merged docs get cards (url, content_sha256, snippet; PageRank 0,
    no family) and serve through both shard paths alike; a merge the
    dimension guard rejects leaves doc_cards unchanged."""
    import hashlib

    from spaghettisearch_spark.api import SearchEngine

    eng = SearchEngine.build(
        spark, spark.createDataFrame(docs_small.head(100)),
        warehouse_dir=str(tmp_path / "wh"),
    )
    rows = [
        ("rnew", f"zznew{i}.py", "c1", "python",
         f"zzmergesig parse buffer flush zzmergesig{i} dispatch parse")
        for i in range(3)
    ]
    delta, ext, nc = _merge_batch(spark, eng, rows)
    cards0 = sorted(map(tuple, eng.doc_cards.collect()))
    with pytest.raises(ValueError, match="beyond the warehouse dimension"):
        eng.apply_merge(delta)
    assert sorted(map(tuple, eng.doc_cards.collect())) == cards0
    old_pr = eng.pr_vectors[None]
    eng.apply_merge(delta, new_doc_map=ext, new_corpus=nc)
    # swapped by reference; the old vector stays readable
    assert eng.pr_vectors[None] is not old_pr
    assert len(old_pr.value) == eng.n_docs - 3
    assert len(eng.pr_vectors[None].value) == eng.n_docs
    hits = eng.query("zzmergesig", k=10, use_wand=True, backend="shards")
    want = {f"rnew/{r[1]}": r[4] for r in rows}
    assert {c["url"] for c in hits} == set(want)
    for c in hits:
        content = want[c["url"]]
        assert c["content_sha256"] == hashlib.sha256(
            content.encode()
        ).hexdigest()
        assert c["snippet"] == content
        assert c["pagerank"] == 0.0
        assert c["parents"] == [] and c["children"] == []
    from spaghettisearch_spark.functions.tokenize import parse_query

    merged_terms = parse_query("zzmergesig zzmergesig1 parse buffer flush dispatch")[0]
    assert "zzmergesig" in merged_terms
    assert _assert_driver_meta_matches(eng, merged_terms)
    q = "zzmergesig parse buffer zzmergesig1"
    wand = eng.query(q, k=10, use_wand=True, backend="shards")
    exhaustive = eng.query(q, k=10, use_wand=False, backend="shards")
    assert wand
    assert [c["doc_id"] for c in wand] == [c["doc_id"] for c in exhaustive]


def test_concurrent_queries_across_merge(spark, docs_small, tmp_path):
    """4 query threads against one warehouse engine while a merge
    commits between queries (no query spans the commit): every query
    succeeds and returns exactly the sequential answer of the state it
    ran in, old or new."""
    import concurrent.futures as fut
    import threading

    from spaghettisearch_spark.api import SearchEngine

    eng = SearchEngine.build(
        spark, spark.createDataFrame(docs_small.head(150)),
        warehouse_dir=str(tmp_path / "wh"),
    )
    queries = [
        ("dispatch buffer parse", True),
        ('"hash table" parse', False),
        ("zzconcsig parse", True),
        ("buffer", True),
    ]

    def answers():
        return {
            q: [r["doc_id"] for r in eng.query(q, backend="shards", use_wand=w)]
            for q, w in queries
        }

    delta, ext, nc = _merge_batch(spark, eng, [
        ("rconc", "zzconc.py", "c1", "python", "zzconcsig parse buffer parse"),
    ])
    want = {"old": answers()}
    cond = threading.Condition()
    state = {"readers": 0, "writing": False, "phase": "old", "done": 0}

    def run(args):
        q, w = args
        with cond:
            while state["writing"]:
                cond.wait()
            state["readers"] += 1
            phase = state["phase"]
        try:
            got = [
                r["doc_id"] for r in eng.query(q, backend="shards", use_wand=w)
            ]
        finally:
            with cond:
                state["readers"] -= 1
                state["done"] += 1
                cond.notify_all()
        return phase, q, got

    def merge():
        with cond:
            while state["done"] < 4:
                cond.wait()
            state["writing"] = True
            while state["readers"]:
                cond.wait()
        try:
            eng.apply_merge(delta, new_doc_map=ext, new_corpus=nc)
        finally:
            with cond:
                state["phase"] = "new"
                state["writing"] = False
                cond.notify_all()

    stream = [queries[i % len(queries)] for i in range(12)]
    with fut.ThreadPoolExecutor(5) as ex:
        writer = ex.submit(merge)
        results = list(ex.map(run, stream))
        writer.result()
    want["new"] = answers()
    assert want["new"]["zzconcsig parse"] != want["old"]["zzconcsig parse"]
    assert {phase for phase, _q, _g in results} == {"old", "new"}
    for phase, q, got in results:
        assert got == want[phase][q], (phase, q)


def test_merged_docs_score_with_live_statistics(spark, tmp_path):
    """After a merge, with no refresh of any kind, every query scores
    with the merged corpus's statistics: an engine built on 200 docs
    that merges docs 200-239 the way the benchmark's batch does ranks
    like bm25.search over a from-scratch index of the 240 docs (doc ids,
    scores within rel 1e-9) and like the pandas oracle (within 1e-6),
    on both shard paths. The corpus has no links, so no anchor credit
    crosses the batch boundary."""
    import re

    from spaghettisearch_spark.api import SearchEngine
    from spaghettisearch_spark.fixtures import make_documents
    from spaghettisearch_spark.operators.bm25 import search
    from spaghettisearch_spark.operators.index_build import build_index
    from spaghettisearch_spark.oracle.pandas_oracle import (
        build_oracle_index,
        oracle_search,
    )
    from spaghettisearch_spark.sources.corpus import ingest

    docs = make_documents(300)[:240].copy()
    docs["content"] = docs["content"].map(
        lambda c: re.sub(r"@link\{[^}]*\}", "", c)
    )
    eng = SearchEngine.build(
        spark, spark.createDataFrame(docs[:200]),
        warehouse_dir=str(tmp_path / "wh"), with_pagerank=False,
    )
    delta, ext, nc = _merge_batch(
        spark, eng, list(docs[200:].itertuples(index=False, name=None))
    )
    eng.apply_merge(delta, new_doc_map=ext, new_corpus=nc)
    assert eng.n_docs == 240
    assert set(eng.stats.n_docs.values()) == {240}

    full = ingest(spark.createDataFrame(docs)).cache()
    ref = build_index(full, eng.cfg)
    oracle = build_oracle_index(docs, eng.cfg)
    queries = ["parse buffer", "dispatch", "buffer flush", "sorted merge",
               "parse", '"hash table" probe']
    for q in queries:
        want = search(spark, ref, q, eng.cfg, k=10).collect()
        ora = oracle_search(oracle, q, eng.cfg, k=10)
        assert [r["doc_id"] for r in want] == list(ora["doc_id"]), q
        for use_wand in (True, False):
            got = eng.query(q, k=10, use_wand=use_wand)
            assert [c["doc_id"] for c in got] == [r["doc_id"] for r in want], (
                q, use_wand,
            )
            for c, r, o in zip(got, want, ora["score"]):
                assert c["final_rank"] == pytest.approx(r["score"], rel=1e-9)
                assert c["title_rank"] == pytest.approx(
                    r["title_rank"], rel=1e-9, abs=1e-12
                )
                assert c["body_rank"] == pytest.approx(
                    r["body_rank"], rel=1e-9, abs=1e-12
                )
                assert c["final_rank"] == pytest.approx(o, abs=1e-6)
    ref.unpersist()
    full.unpersist()


def test_merged_zipf_engine_skips_blocks_exactly(spark, tmp_path):
    """On a Zipf corpus whose hot terms have sample-incomplete blocks,
    an engine that merged a batch (no refresh) still skips blocks with
    the impact bounds — the WAND plan keeps fewer blocks than it sees —
    and ranks like the exhaustive shard path and like bm25.search over
    a from-scratch index of the merged corpus."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.api import SearchEngine
    from spaghettisearch_spark.config import EngineConfig
    from spaghettisearch_spark.fixtures import make_zipf_documents
    from spaghettisearch_spark.operators import wand as wand_mod
    from spaghettisearch_spark.operators.bm25 import search
    from spaghettisearch_spark.operators.compression import BLOCK_SAMPLE_N
    from spaghettisearch_spark.operators.index_build import build_index
    from spaghettisearch_spark.sources.corpus import ingest

    cfg = EngineConfig(stem=False)
    rows = [
        (r["source"], str(r["doc_id"]), "HEAD", r["lang"], r["text"])
        for r in make_zipf_documents(spark, 800, vocab_size=2000)
        .orderBy("doc_id").collect()
    ]
    schema = (
        "repo string, path string, commit string, lang string, "
        "content string"
    )
    eng = SearchEngine.build(
        spark, spark.createDataFrame(rows[:700], schema), cfg,
        with_pagerank=False, warehouse_dir=str(tmp_path / "wh"),
    )
    delta, ext, nc = _merge_batch(spark, eng, rows[700:])
    eng.apply_merge(delta, new_doc_map=ext, new_corpus=nc)
    assert eng.shards.filter(F.col("df") > BLOCK_SAMPLE_N).count() > 0

    ref = build_index(ingest(spark.createDataFrame(rows, schema)), cfg)
    q = "zw00000 zw00001 zw00002"
    got = eng.query(q, k=30, use_wand=True)
    skip = dict(wand_mod.LAST_SKIP_STATS)
    assert skip["kept"] < skip["total"], skip
    exhaustive = eng.query(q, k=30, use_wand=False)
    want = search(spark, ref, q, cfg, k=30).collect()
    assert [c["doc_id"] for c in got] == [c["doc_id"] for c in exhaustive]
    assert [c["doc_id"] for c in got] == [r["doc_id"] for r in want]
    for c, r in zip(got, want):
        assert c["final_rank"] == pytest.approx(r["score"], rel=1e-9)
