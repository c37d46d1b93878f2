"""One scaling-run worker: full index build (+ query set) at a given
parallelism, printing one JSON line. Invoked via spark-submit by
tools/run_scaling.py — the in-sandbox stand-in for N vs 4N executors
(BASELINE.md): same job, same input, local[8] vs local[32].

Usage:
  spark-submit --py-files engine.zip tools/scaling_run.py \
      --cores 8 --corpus /tmp/scaling_corpus.parquet
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--queries", type=int, default=5)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    from spaghettisearch_spark.config import DEFAULT
    from spaghettisearch_spark.operators.bm25 import search
    from spaghettisearch_spark.operators.index_build import build_index
    from spaghettisearch_spark.session import get_spark
    from spaghettisearch_spark.sources.corpus import ingest

    spark = get_spark(
        f"scaling-{args.cores}",
        cores=args.cores,
        shuffle_partitions=args.cores * 2,
        adaptive=True,
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(args.corpus).repartition(args.cores * 4).cache()
    n_files = docs.count()  # warms the session + pins input

    # repeat the build and keep the best run: the sandbox host has noisy
    # neighbors, so a single wall-clock sample badly mismeasures scaling
    build_times = []
    idx = None
    for _ in range(args.reps):
        spark.catalog.clearCache()
        docs.cache().count()
        t0 = time.time()
        corpus = ingest(docs)
        idx = build_index(corpus, DEFAULT)
        idx.postings.count()
        idx.doc_stats.count()
        idx.term_stats.count()
        build_times.append(time.time() - t0)
    build_sec = min(build_times)

    qts = []
    for q in ["parse", "dispatch buffer", '"hash table probe"', "zyzzyva",
              "parse buffer flush kernel"][: args.queries]:
        t0 = time.time()
        search(spark, idx, q, DEFAULT, k=50).collect()
        qts.append(time.time() - t0)

    print(
        json.dumps(
            {
                "cores": args.cores,
                "n_files": n_files,
                "build_sec": round(build_sec, 3),
                "build_sec_all_reps": [round(t, 3) for t in build_times],
                "files_per_sec": round(n_files / build_sec, 2),
                "query_sec": [round(t, 3) for t in qts],
            }
        )
    )


if __name__ == "__main__":
    main()
