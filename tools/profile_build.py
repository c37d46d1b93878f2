"""Per-stage build profile at a given core count (diagnosing scaling).
spark-submit --master local[N] tools/profile_build.py --cores N --corpus P
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
    ap.add_argument("--persist", default="memdisk",
                    choices=["memdisk", "disk", "none"])
    args = ap.parse_args()

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from spaghettisearch_spark.config import DEFAULT
    from spaghettisearch_spark.operators import index_build as ib
    from spaghettisearch_spark.session import get_spark
    from spaghettisearch_spark.sources.corpus import ingest

    spark = get_spark(
        f"profile-{args.cores}",
        cores=args.cores,
        shuffle_partitions=args.cores * 2,
        adaptive=True,
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(args.corpus).repartition(args.cores * 4)
    docs.count()
    out = {"cores": args.cores, "persist": args.persist}

    corpus = ingest(docs)
    t0 = time.time()
    tokens = ib.tokenize_fields(corpus, DEFAULT, None)
    # stage 1: tokenize+stem only (count of exploded rows)
    n_tok = tokens.count()
    out["t_tokenize_count"] = round(time.time() - t0, 2)
    out["n_tokens"] = n_tok

    t0 = time.time()
    postings = ib.build_postings(tokens)
    if args.persist == "memdisk":
        postings = postings.persist(StorageLevel.MEMORY_AND_DISK)
    elif args.persist == "disk":
        postings = postings.persist(StorageLevel.DISK_ONLY)
    n_post = postings.count()
    out["t_postings"] = round(time.time() - t0, 2)
    out["n_postings"] = n_post

    t0 = time.time()
    ib.build_doc_stats(tokens).count()
    out["t_doc_stats_from_tokens"] = round(time.time() - t0, 2)

    t0 = time.time()
    postings.groupBy("doc_id", "field").agg(F.sum("tf")).count()
    out["t_doc_stats_from_postings"] = round(time.time() - t0, 2)

    t0 = time.time()
    ib.build_term_stats(postings).count()
    out["t_term_stats"] = round(time.time() - t0, 2)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
