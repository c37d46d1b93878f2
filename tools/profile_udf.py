"""Isolate scaling of: (a) JVM-only tokenize, (b) stem pandas UDF,
(c) shuffle groupBy. spark-submit tools/profile_udf.py --cores N --corpus P"""

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
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from spaghettisearch_spark.functions.stem_udf import stem_tokens_udf
    from spaghettisearch_spark.functions.tokenize import tokenize_col
    from spaghettisearch_spark.session import get_spark

    spark = get_spark(
        f"profudf-{args.cores}",
        cores=args.cores,
        shuffle_partitions=args.cores * 2,
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.corpus).repartition(args.cores * 4).cache()
    docs.count()
    out = {"cores": args.cores}

    t0 = time.time()
    jvm_toks = docs.select(F.explode(tokenize_col("content")).alias("t"))
    out["n"] = jvm_toks.count()
    out["t_jvm_tokenize"] = round(time.time() - t0, 2)

    t0 = time.time()
    stemmed = docs.select(
        F.explode(stem_tokens_udf(tokenize_col("content"))).alias("t")
    )
    stemmed.count()
    out["t_stem_udf"] = round(time.time() - t0, 2)

    t0 = time.time()
    jvm_toks.groupBy("t").count().count()
    out["t_groupby_jvm"] = round(time.time() - t0, 2)

    t0 = time.time()
    docs.select(F.posexplode(tokenize_col("content")).alias("p", "t")).groupBy(
        "t"
    ).agg(F.sort_array(F.collect_list("p"))).count()
    out["t_collectlist_shuffle"] = round(time.time() - t0, 2)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
