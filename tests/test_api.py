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


def test_shard_backend_matches_memory(shard_engine):
    """backend="shards" serves the FULL query surface from the
    compressed warehouse layout with results identical to the in-memory
    backend: free terms, phrases, phrase+terms, the WAND path, and the
    PageRank blend — cards (ranks, scores, snippets, family) equal."""
    queries = [
        ("parse buffer", False),
        ('"hash table probe"', False),
        ('"hash table" flush', False),
        ("parse buffer", True),  # wand path
        ("dispatch", True),
    ]
    for q, wand in queries:
        mem = shard_engine.query(q, k=5, use_wand=wand, backend="memory")
        shd = shard_engine.query(q, k=5, use_wand=wand, backend="shards")
        assert [c["doc_id"] for c in shd] == [c["doc_id"] for c in mem], (q, wand)
        for a, b in zip(shd, mem):
            assert a["final_rank"] == pytest.approx(b["final_rank"], rel=1e-9)
            assert a["snippet"] == b["snippet"]
            assert a["parents"] == b["parents"]
    # unbuilt backend fails loudly
    from spaghettisearch_spark.api import SearchEngine

    eng2 = SearchEngine(
        spark=shard_engine.spark, index=shard_engine.index,
        cfg=shard_engine.cfg,
    )
    with pytest.raises(ValueError, match="warehouse_dir"):
        eng2.query_df("parse", backend="shards")


def test_warehouse_engine_serves_and_compacts(spark, docs_tiny, tmp_path):
    """warehouse_dir: the engine serves every backend="shards" query
    from partitionBy("shard") parquet with cards identical to its
    in-memory backend, and the LSM maintenance methods rewrite only the
    warehouse in place: apply_merge makes a delta segment searchable
    (and tombstones deletable), refresh_stats with no drift leaves
    results untouched."""
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
        mem = eng.query(q, k=5, use_wand=wand, backend="memory")
        wh_cards = eng.query(q, k=5, use_wand=wand, backend="shards")
        assert [c["doc_id"] for c in wh_cards] == [c["doc_id"] for c in mem], q
        for a, b in zip(wh_cards, mem):
            assert a["final_rank"] == pytest.approx(b["final_rank"], rel=1e-9)
            assert a["snippet"] == b["snippet"]

    # ---- apply_merge: a delta adding a brand-new term to two docs ----
    assert eng.query("qqnewsig", k=5, use_wand=True, backend="shards") == []
    target = [
        r["doc_key"]
        for r in eng.doc_map.orderBy("doc_key").limit(2).collect()
    ]
    delta_postings = spark.createDataFrame(
        [("qqnewsig", "body", int(dk), 1, [0], 7.5) for dk in target],
        "term string, field string, doc_key long, tf int, "
        "positions array<int>, weight double",
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

    # ---- refresh_stats: nothing drifted for untouched terms ----
    eng.refresh_stats(drift_threshold=0.5)
    assert {
        c["doc_id"]: c["final_rank"]
        for c in eng.query("parse buffer", k=5, use_wand=True,
                           backend="shards")
    } == before


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
    eng.apply_merge(eng.shards.limit(0), delete_postings=dels)
    assert eng.shards.filter(F.col("shard") == sid).count() == 0
    assert eng.shards.filter(F.col("shard") != sid).count() == before_other


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
    n_docs/doc_meta unchanged)."""
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
    meta_rows0 = eng.index.doc_meta.count()
    # one cold block, BLOCK_SAMPLE_N + 8 postings; the out-of-dimension
    # key gets the smallest weight so the top-N weight sample misses it
    n_post = BLOCK_SAMPLE_N + 8
    rows = [
        ("qqguardterm", "body", int(k), 1, [1], 1.0)
        for k in range(n_post - 1)
    ] + [("qqguardterm", "body", int(n0 + 50), 1, [1], 0.001)]
    bad_postings = spark.createDataFrame(
        rows,
        "term string, field string, doc_key long, tf int, "
        "positions array<int>, weight double",
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
        assert eng.index.doc_meta.count() == meta_rows0


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


def _assert_same_cards(got, want):
    assert [c["doc_id"] for c in got] == [c["doc_id"] for c in want]
    for a, b in zip(got, want):
        assert a["final_rank"] == pytest.approx(b["final_rank"], rel=1e-9)
        assert a["pagerank"] == pytest.approx(b["pagerank"], rel=1e-9)
        for key in ("url", "content_sha256", "snippet", "parents",
                    "children", "top_words", "page_size"):
            assert a[key] == b[key], key


def test_warehouse_query_is_two_jobs(spark, docs_tiny, tmp_path):
    """A repeated shard query costs the top-k job plus one keyed read of
    doc_cards — at most 3 Spark jobs for a WAND bag and for a phrase —
    and its cards equal the memory backend's. A WAND bag this small
    plans one task, so its top-k job is one stage of one task: decode
    and score in one Python pass, no bucket shuffle."""
    from spaghettisearch_spark.api import SearchEngine

    eng = SearchEngine.build(
        spark, spark.createDataFrame(docs_tiny),
        warehouse_dir=str(tmp_path / "wh"),
    )
    for i, (q, wand) in enumerate(
        [("parse buffer", True), ('"hash table" flush', False)]
    ):
        mem = eng.query(q, k=5, use_wand=wand, backend="memory")
        first = eng.query(q, k=5, use_wand=wand, backend="shards")
        again, n_jobs = _spark_jobs(
            spark, f"two-jobs-{i}",
            lambda: eng.query(q, k=5, use_wand=wand, backend="shards"),
        )
        assert n_jobs <= 3, (q, n_jobs)
        if wand:
            assert _job_stage_tasks(spark, f"two-jobs-{i}")[0] == [1]
        assert again == first
        _assert_same_cards(again, mem)


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
