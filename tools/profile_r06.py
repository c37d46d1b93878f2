"""Round-6 phase profiler: per-stage timings for build_index,
build_posting_shards and merge_posting_shards on the zipf corpus
(stem=False, the shape of the heavy bench rows) plus sf0.1 (stem=True).

python tools/profile_r06.py [zipf_docs]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F


def main():
    n_zipf = int(sys.argv[1]) if len(sys.argv) > 1 else 50000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from pyspark import StorageLevel

    from spaghettisearch_spark.config import EngineConfig
    from spaghettisearch_spark.fixtures import make_zipf_documents
    from spaghettisearch_spark.operators import index_build as ib
    from spaghettisearch_spark.operators.compression import (
        build_doc_dim,
        build_posting_shards,
        merge_posting_shards,
    )
    from spaghettisearch_spark.session import get_spark
    from spaghettisearch_spark.sources.corpus import from_driver_documents

    spark = get_spark("profile-r06", cores=cpus, shuffle_partitions=max(cpus, 16))
    sc = spark.sparkContext
    cfg = EngineConfig(stem=False)

    zdocs = make_zipf_documents(spark, n_zipf).cache()
    zdocs.count()

    def ph(name, fn):
        sc.setJobDescription(name)
        t0 = time.time()
        r = fn()
        dt = time.time() - t0
        print(f"{name:40s} {dt:8.2f}s", flush=True)
        sc.setJobDescription(None)
        return r

    corpus = from_driver_documents(zdocs)
    tokens = ib.tokenize_fields(corpus, cfg, None).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ph("tokenize_count", lambda: tokens.count())
    postings = ib.build_postings(tokens).persist(StorageLevel.MEMORY_AND_DISK)
    ph("postings_count", lambda: postings.count())
    doc_stats = ph("doc_stats", lambda: ib.build_doc_stats(tokens).cache())
    ph("doc_stats_count", lambda: doc_stats.count())
    term_stats = ib.build_term_stats(postings).cache()
    ph("term_stats_count", lambda: term_stats.count())
    corpus_stats = ib.build_corpus_stats(corpus, doc_stats)
    stats_rows = ph("corpus_stats_collect", lambda: corpus_stats.collect())
    n_docs = int(stats_rows[0]["n_docs"])
    weighted = ib.build_weighted_postings(
        postings, term_stats, doc_stats, stats_rows, cfg
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ph("weighted_postings_count", lambda: weighted.count())

    dim = ph("doc_dim", lambda: build_doc_dim(corpus).cache())
    ph("doc_dim_count", lambda: dim.count())

    # shard build, phase by phase
    p = weighted
    threshold = max(int(cfg.salt_df_threshold * n_docs), 1)
    probs = [i / cfg.n_salts for i in range(1, cfg.n_salts)]
    gstats = p.withColumn("weight", F.col("bm25_weight")).groupBy(
        "term", "field"
    ).agg(
        F.count("*").cast("long").alias("_df"),
        F.percentile_approx("weight", probs, 10000).alias("qb"),
    )
    ph("shard_gstats_quantiles_all", lambda: gstats.write.format("noop").mode(
        "overwrite").save())
    gstats_cnt = p.groupBy("term", "field").agg(
        F.count("*").cast("long").alias("_df")
    )
    ph("shard_gstats_count_only", lambda: gstats_cnt.write.format("noop").mode(
        "overwrite").save())
    hot = gstats_cnt.filter(F.col("_df") > threshold).select("term", "field")
    gq_hot = (
        p.withColumn("weight", F.col("bm25_weight"))
        .join(F.broadcast(hot), ["term", "field"], "left_semi")
        .groupBy("term", "field")
        .agg(F.percentile_approx("weight", probs, 10000).alias("qb"))
    )
    ph("shard_quantiles_hot_only", lambda: gq_hot.write.format("noop").mode(
        "overwrite").save())

    shards = ph(
        "shard_build_full",
        lambda: build_posting_shards(
            p, n_docs, cfg, doc_dim=dim, weight_col="bm25_weight"
        ).persist(StorageLevel.MEMORY_AND_DISK),
    )
    ph("shard_build_full_count", lambda: shards.count())

    zseg = F.pmod(F.xxhash64("doc_id"), F.lit(100))
    base = build_posting_shards(
        p.filter(zseg != 0), n_docs, cfg, doc_dim=dim, weight_col="bm25_weight"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ph("base99_build_count", lambda: base.count())
    delta = build_posting_shards(
        p.filter(zseg == 0), n_docs, cfg, doc_dim=dim, weight_col="bm25_weight"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ph("delta1_build_count", lambda: delta.count())
    stats = ib.collect_corpus_stats(
        spark, doc_stats,
        dim.select(F.col("doc_idx").alias("doc_key"), "doc_id"),
    )
    ph(
        "merge_1pct",
        lambda: merge_posting_shards(
            base, delta, n_docs, cfg, stats=stats
        ).count(),
    )
    print("done")


if __name__ == "__main__":
    main()
