"""Shards of hand-made postings with their exact BM25 scores, for tests
that shape skip metadata on purpose."""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from types import SimpleNamespace

from pyspark.sql import functions as F

from spaghettisearch_spark.config import DEFAULT
from spaghettisearch_spark.operators.compression import (
    build_doc_dim,
    build_posting_shards,
)
from spaghettisearch_spark.operators.index_build import collect_corpus_stats


def synthetic_shards(spark, rows, dl, cfg=DEFAULT):
    """Shards of synthetic postings ``rows`` (term, field, doc_id, tf)
    over a corpus whose docs have the field lengths ``dl`` ({field:
    {doc_id: length}}, every doc in every field), ordered by their exact
    BM25 weight. Returns a namespace of ``shards``, ``postings`` (the
    encoded frame: the rows with positions [0], dl and weight),
    ``dim``, ``doc_map``, ``stats`` (the live statistics) and
    ``ranked``: every scored doc's (doc_id, exact blended score) in
    (score desc, doc_id asc) order, from the pandas oracle's formula."""
    docs = sorted(next(iter(dl.values())))
    n = len(docs)
    df = Counter((t, f) for t, f, _d, _tf in rows)
    avgdl = {f: sum(v.values()) / n for f, v in dl.items()}
    fw = {"title": cfg.w_title, "body": cfg.w_body}
    score: dict = defaultdict(float)
    out = []
    for t, f, d, tf in rows:
        idf = math.log(1.0 + (n - df[(t, f)] + 0.5) / (df[(t, f)] + 0.5))
        denom = tf + cfg.k1 * (1 - cfg.b + cfg.b * dl[f][d] / avgdl[f])
        w = idf * tf * (cfg.k1 + 1.0) / denom
        score[d] += fw[f] * w * cfg.blend_scale
        out.append((t, f, d, tf, [0], float(dl[f][d]), w))
    postings = spark.createDataFrame(
        out,
        "term string, field string, doc_id string, tf int, "
        "positions array<int>, dl double, weight double",
    )
    dim = build_doc_dim(
        spark.createDataFrame([(d,) for d in docs], "doc_id string")
    ).cache()
    doc_map = dim.select(F.col("doc_idx").alias("doc_key"), "doc_id").cache()
    lengths = spark.createDataFrame(
        [(d, f, int(v[d])) for f, v in dl.items() for d in docs],
        "doc_id string, field string, dl long",
    )
    return SimpleNamespace(
        shards=build_posting_shards(postings, n, cfg, doc_dim=dim).cache(),
        postings=postings,
        dim=dim,
        doc_map=doc_map,
        stats=collect_corpus_stats(spark, lengths, doc_map),
        ranked=sorted(score.items(), key=lambda kv: (-kv[1], kv[0])),
    )
