"""Round-6 extra benchmarks (bench.py is frozen for measurement).

Isolated timings for the optimization work, with the same corpora and
methodology as bench.py rows they mirror:

  engine   - warehouse SearchEngine: seq16 / conc16_t4 / per-query rows
  queries  - q_* family: the exhaustive scorer on the index, WAND on
             cached shards
  build    - index build + shard build on the zipf corpora
  merge    - LSM merge rows on the zipf corpora

python bench_extra.py [engine|queries|build|merge|all] [zipfL_docs]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F


def best_of(fn, n=3):
    times = []
    for _ in range(n):
        t0 = time.time()
        fn()
        times.append(time.time() - t0)
    return round(min(times), 4)


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    zl_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 50000
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from spaghettisearch_spark.config import EngineConfig
    from spaghettisearch_spark.functions.porter2 import stem as p2stem
    from spaghettisearch_spark.operators.bm25 import search
    from spaghettisearch_spark.operators.compression import (
        build_doc_dim,
        build_posting_shards,
        merge_posting_shards,
    )
    from spaghettisearch_spark.operators.index_build import (
        build_index,
        collect_corpus_stats,
    )
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards
    from spaghettisearch_spark.session import get_spark
    from spaghettisearch_spark.sources.corpus import from_driver_documents

    spark = get_spark("bench-extra", cores=cpus, shuffle_partitions=max(cpus, 16))
    out: dict[str, float] = {}
    cfg = EngineConfig(stem=True)

    if which in ("engine", "queries", "all"):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
            cpus * 2
        ).cache()
        n_files = docs.count()
        corpus = from_driver_documents(docs)
        t0 = time.time()
        idx = build_index(corpus, cfg)
        idx.postings.cache().count()
        idx.doc_stats.cache().count()
        idx.term_stats.cache().count()
        idx.corpus_stats.cache().count()
        out["index_build_1rep"] = round(time.time() - t0, 4)
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
        wand_terms = [p2stem(t) for t in ["spark", "query", "scan"]]

        if which in ("queries", "all"):
            exh = [
                r["doc_id"]
                for r in search(spark, idx, "spark query scan", cfg, k=50).collect()
            ]
            got = [
                r["doc_id"]
                for r in wand_topk_from_shards(
                    spark, shards, doc_map, wand_terms, cfg, k=50,
                    meta_cache=meta, stats=stats,
                ).collect()
            ]
            assert got == exh, "WAND shards != exhaustive"
            out["q_single"] = best_of(
                lambda: search(spark, idx, "spark", cfg, k=50).collect()
            )
            out["q_multi"] = best_of(
                lambda: search(spark, idx, "spark query scan", cfg, k=50).collect()
            )
            out["q_phrase"] = best_of(
                lambda: search(spark, idx, '"value table"', cfg, k=50).collect()
            )
            out["q_phrase_terms"] = best_of(
                lambda: search(spark, idx, '"value table" spark', cfg, k=50).collect()
            )
            out["q_wand_shards"] = best_of(
                lambda: wand_topk_from_shards(
                    spark, shards, doc_map, wand_terms, cfg, k=50,
                    meta_cache=meta, stats=stats,
                ).collect()
            )

        if which in ("engine", "all"):
            import concurrent.futures as _fut
            import shutil as _sh
            import tempfile as _tmp

            from spaghettisearch_spark.api import (
                SearchEngine,
                _store_cards,
                build_doc_cards,
            )
            from spaghettisearch_spark.sources.driver_read import read_back

            shard_dir = _tmp.mkdtemp(prefix="bx_shards_")
            shards.write.mode("overwrite").partitionBy("shard").parquet(
                f"{shard_dir}/posting_shards"
            )
            shards_pq, shard_files = read_back(spark, f"{shard_dir}/posting_shards")
            cards, card_files = _store_cards(
                spark,
                build_doc_cards(doc_map, corpus, idx.doc_meta, idx.doc_stats),
                n_files, f"{shard_dir}/doc_cards",
            )
            eng = SearchEngine(
                spark=spark, cfg=cfg, shards=shards_pq,
                doc_cards=cards, warehouse_dir=shard_dir, n_docs=n_files,
                shard_files=shard_files, card_files=card_files, stats=stats,
            )
            out["q_engine_warehouse"] = best_of(
                lambda: eng.query_df(
                    "spark query scan", k=50, use_wand=True, backend="shards"
                ).collect()
            )
            out["q_engine_warehouse_phrase"] = best_of(
                lambda: eng.query_df(
                    '"value table" spark', k=50, backend="shards"
                ).collect()
            )
            qs_mix = [
                "spark query scan", '"value table" spark', "spark scan",
                "query table", "scan table spark",
            ]

            def _serve(q):
                eng.query_df(q, k=50, use_wand=True, backend="shards").collect()

            for q in qs_mix:
                _serve(q)
            stream = [qs_mix[i % len(qs_mix)] for i in range(16)]
            t0 = time.time()
            for q in stream:
                _serve(q)
            out["engine_serve_seq16"] = round(time.time() - t0, 4)
            t0 = time.time()
            with _fut.ThreadPoolExecutor(4) as ex:
                list(ex.map(_serve, stream))
            out["engine_serve_conc16_t4"] = round(time.time() - t0, 4)
            out["engine_qps"] = round(16 / out["engine_serve_conc16_t4"], 2)
            _sh.rmtree(shard_dir, ignore_errors=True)

    if which in ("build", "merge", "all") and zl_docs > 0:
        from spaghettisearch_spark.fixtures import make_zipf_documents

        zcfg = EngineConfig(stem=False)
        zldocs = make_zipf_documents(spark, zl_docs).cache()
        zldocs.count()
        t0 = time.time()
        zlcorpus = from_driver_documents(zldocs)
        zlidx = build_index(zlcorpus, zcfg)
        zlidx.postings.cache().count()
        out["zipfL_index_build"] = round(time.time() - t0, 4)
        zldim = build_doc_dim(zlcorpus).cache()
        zldim.count()
        t0 = time.time()
        zlshards = build_posting_shards(
            zlidx.postings, zl_docs, zcfg, doc_dim=zldim,
            weight_col="bm25_weight",
        ).cache()
        zlshards.count()
        out["zipfL_shard_build"] = round(time.time() - t0, 4)

        if which in ("merge", "all"):
            zlseg = F.pmod(F.xxhash64("doc_id"), F.lit(100))
            t0 = time.time()
            zldelta = build_posting_shards(
                zlidx.postings.filter(zlseg == 0), zl_docs, zcfg,
                doc_dim=zldim, weight_col="bm25_weight",
            ).cache()
            zldelta.count()
            out["zipfL_segment_append_1pct"] = round(time.time() - t0, 4)
            zlbase = build_posting_shards(
                zlidx.postings.filter(zlseg != 0), zl_docs, zcfg,
                doc_dim=zldim, weight_col="bm25_weight",
            ).cache()
            zlbase.count()
            t0 = time.time()
            zlstats = collect_corpus_stats(
                spark, zlidx.doc_stats,
                zldim.select(F.col("doc_idx").alias("doc_key"), "doc_id"),
            )
            merge_posting_shards(
                zlbase, zldelta, zl_docs, zcfg, stats=zlstats
            ).count()
            out["zipfL_shard_merge_1pct"] = round(time.time() - t0, 4)

    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
