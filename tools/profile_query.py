"""Per-query latency breakdown for the shard-backed WAND path (guide §1).

Builds the sf0.1 index + shards exactly like bench.py, then times:
  - the engine build, printed from its ``build_profile`` (each phase's
    pool and start/end offsets, and the total)
  - engine queries over a warehouse built from the same documents, cold
    (``meta_cache`` cleared) and warm: wall time and Spark jobs per query,
    and for a phrase query a cProfile top-15 (cumulative) of one cold
    and one warm ``bm25.search_from_shards`` call — the planning that
    the benchmark's ``bm25.plan_ms`` times (the top-k job runs after it)
  - the session's fixed action floors: collect on a 1-row cached frame,
    and the same row through one ``mapInPandas`` Python crossing
  - the decode alone, and the engine's top-k job at the default task
    sizing and forced to several tasks (stages and tasks printed)
  - the full query under config variations (AQE on/off, shuffle partitions)

Run:  python tools/profile_query.py
      python tools/profile_query.py --docs 300 --seed 1

With ``--docs N --seed S`` it only profiles the engine queries, over the
first N documents of the benchmark's corpus generator
(``perfbench/corpus.py``, a ``serve`` run's documents for that seed) and
that run's phrase queries from its query pool.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import replace
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F


def t(fn, n=5, warm=1):
    for _ in range(warm):
        fn()
    times = []
    for _ in range(n):
        t0 = time.time()
        fn()
        times.append(time.time() - t0)
    return min(times), sorted(times)[len(times) // 2]


def phrase_plan_profile(eng, q, top=15):
    """cProfile of one cold (``meta_cache`` cleared) and one warm
    ``search_from_shards`` call for ``q`` with the engine's arguments:
    the top ``top`` functions by cumulative time. Only the planning
    runs; the returned top-k frame is not collected."""
    import cProfile
    import io
    import pstats

    from spaghettisearch_spark.operators.bm25 import search_from_shards

    def plan():
        return search_from_shards(
            eng.spark, eng.shards, None, q, eng.cfg,
            pagerank=eng.pr_vectors.get(None), k=10,
            meta_cache=eng.meta_cache, shard_files=eng.shard_files,
            stats=eng.stats,
        )

    plan()
    for mode in ("cold", "warm"):
        if mode == "cold":
            eng.meta_cache.clear()
        prof = cProfile.Profile()
        t0 = time.perf_counter()
        prof.runcall(plan)
        ms = (time.perf_counter() - t0) * 1000
        out = io.StringIO()
        pstats.Stats(prof, stream=out).sort_stats("cumulative").print_stats(top)
        print(f"phrase_plan_{mode} {q!r}: {ms:.1f} ms under cProfile")
        print(out.getvalue())


def print_build_profile(prof):
    """The engine's ``build_profile``: each phase's pool and interval
    (seconds from the build call), in start order, and the total."""
    for name, ph in sorted(prof["phases"].items(), key=lambda kv: kv[1]["start_s"]):
        print(f"build_phase {name:<15} pool={ph['pool']:<15} "
              f"{ph['start_s']:6.2f} -> {ph['end_s']:6.2f} s "
              f"({ph['end_s'] - ph['start_s']:.2f} s)")
    print(f"build_total {prof['total_s']:.2f} s")


def engine_queries(spark, raw, queries, n=5):
    """Cold (meta_cache cleared before each run) and warm
    ``SearchEngine.query`` calls over a warehouse built from ``raw``
    (repo, path, commit, lang, content): wall time (min, median) and the
    Spark jobs each query started, counted through a job group."""
    import tempfile

    from spaghettisearch_spark.api import SearchEngine

    sc = spark.sparkContext
    st = sc.statusTracker()
    with tempfile.TemporaryDirectory(prefix="profile-wh-") as wh:
        eng = SearchEngine.build(spark, raw, warehouse_dir=wh)
        print_build_profile(eng.build_profile)
        for qi, (q, wand) in enumerate(queries):
            def run():
                eng.query(q, 10, use_wand=wand, backend="shards")

            run()
            for mode in ("cold", "warm"):
                times, jobs = [], []
                for i in range(n):
                    if mode == "cold":
                        eng.meta_cache.clear()
                    group = f"engine-{qi}-{mode}-{i}"
                    sc.setJobGroup(group, group)
                    t0 = time.perf_counter()
                    run()
                    times.append(time.perf_counter() - t0)
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    jobs.append(len(st.getJobIdsForGroup(group)))
                times.sort()
                print(f"engine_{mode} {q!r} wand={wand}: "
                      f"{times[0] * 1000:.1f} / {times[n // 2] * 1000:.1f} ms "
                      f"(min / median of {n}), spark jobs per query {jobs}")
            if '"' in q:
                phrase_plan_profile(eng, q)


def serve_corpus_queries(n_docs, seed):
    """Engine queries over a ``serve`` run's documents and the phrase
    queries of its query pool, in a session sized like perfbench's."""
    root = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(root / "perfbench"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p
    )
    # perfbench's heap cap, so a run leaves a shared host alone
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    import corpus as gen

    from spaghettisearch_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        "profile-query", cores=cores, shuffle_partitions=2 * cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    docs = gen.make_corpus(spark, n_docs, seed, planted_from=n_docs)
    pool = gen.make_query_pool(docs, 24, seed, n_docs)
    engine_queries(
        spark, spark.createDataFrame(docs.docs),
        [(q, True) for q in pool if '"' in q],
    )


def main():
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    if args.docs:
        serve_corpus_queries(args.docs, args.seed)
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from spaghettisearch_spark.config import EngineConfig
    from spaghettisearch_spark.operators.bm25 import search
    from spaghettisearch_spark.operators.compression import (
        build_doc_dim,
        build_posting_shards,
        decode_shards,
        prune_shards,
        term_block_meta,
    )
    from spaghettisearch_spark.operators.index_build import (
        build_index,
        collect_corpus_stats,
    )
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards
    from spaghettisearch_spark.session import get_spark
    from spaghettisearch_spark.sources.corpus import from_driver_documents
    from spaghettisearch_spark.functions.porter2 import stem as p2stem

    spark = get_spark("profile-query", cores=cpus, shuffle_partitions=max(cpus, 16))
    cfg = EngineConfig(stem=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(cpus * 2).cache()
    n_files = docs.count()
    engine_queries(spark, docs.select(
        F.col("source").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("HEAD").alias("commit"),
        "lang",
        F.col("text").alias("content"),
    ), [("spark query scan", True), ('"value table" spark', False)])
    corpus = from_driver_documents(docs)
    idx = build_index(corpus, cfg)
    idx.postings.cache().count()
    idx.doc_stats.cache().count()
    idx.term_stats.cache().count()
    idx.corpus_stats.cache().count()

    doc_dim = build_doc_dim(corpus).cache()
    doc_dim.count()
    shards = build_posting_shards(
        idx.postings, n_files, cfg, doc_dim=doc_dim, weight_col="bm25_weight"
    ).cache()
    shards.count()
    doc_map = doc_dim.select(F.col("doc_idx").alias("doc_key"), "doc_id").cache()
    doc_map.count()
    stats = collect_corpus_stats(spark, idx.doc_stats, doc_map)
    meta: dict = {}

    wand_terms = [p2stem(x) for x in ["spark", "query", "scan"]]

    one = spark.createDataFrame([(1,)], "x int").cache()
    one.count()
    print("floor_1row_collect", t(lambda: one.collect()))
    print("floor_1row_mapInPandas", t(lambda: one.mapInPandas(
        lambda batches: batches, "x int").collect()))
    print("floor_createDataFrame", t(lambda: spark.createDataFrame(
        [(x, i, 1.0) for i, x in enumerate(wand_terms)],
        "term string, qterm_id int, qtf double").collect()))

    # full query, warm cache
    def full():
        wand_topk_from_shards(
            spark, shards, doc_map, wand_terms, cfg, k=50,
            meta_cache=meta, stats=stats,
        ).collect()

    print("full_q_wand_shards", t(full))

    # stage 1: pruned metadata already cached; decode only
    pruned = prune_shards(shards, wand_terms, cfg)
    scoring = stats.scoring(term_block_meta(shards, wand_terms, cfg), cfg)
    print("decode_only_collect", t(lambda: decode_shards(
        pruned, fields=("weight",), scoring=scoring).collect()))

    # the engine's top-k job (no card read), timed at the default task
    # sizing (one task: decode and score in one Python pass) and forced
    # to several tasks (the shuffled bucket tail), with the stages and
    # tasks each run's top-k job took
    sc = spark.sparkContext
    st = sc.statusTracker()
    for name, c in (
        ("topk_default", cfg),
        ("topk_many_tasks", replace(cfg, query_target_postings_per_task=1)),
    ):
        cache: dict = {}

        def topk(c=c, cache=cache):
            wand_topk_from_shards(
                spark, shards, None, wand_terms, c, k=50,
                meta_cache=cache, two_phase="auto", stats=stats,
            ).collect()

        print(name, t(topk))
        sc.setJobGroup(name, name)
        topk()
        sc.setLocalProperty("spark.jobGroup.id", None)
        for j in sorted(st.getJobIdsForGroup(name)):
            # stages of the cached shards' lineage are listed but skipped
            infos = [st.getStageInfo(s) for s in st.getJobInfo(j).stageIds]
            ran = [i.numCompletedTasks for i in infos if i and i.numCompletedTasks]
            print(f"  {name} job {j}: {len(ran)} stage(s) run, tasks {ran}")

    # exhaustive for comparison
    print("exhaustive_search", t(lambda: search(
        spark, idx, "spark query scan", cfg, k=50).collect()))

    # AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    print("full_AQE_off", t(full))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    print("full_AQE_off_sp8", t(full))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    print("full_AQE_on_sp8", t(full))
    spark.conf.set("spark.sql.shuffle.partitions", str(max(cpus, 16)))

    # explain for the record
    df = wand_topk_from_shards(
        spark, shards, doc_map, wand_terms, cfg, k=50,
        meta_cache=meta, stats=stats,
    )
    Path("plans/r06").mkdir(parents=True, exist_ok=True)
    with open("plans/r06/profile_wand_shards_plan.txt", "w") as f:
        f.write(df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    print("done")


if __name__ == "__main__":
    main()
