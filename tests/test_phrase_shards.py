"""Phrase matching from compressed shards == from uncompressed postings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spaghettisearch_spark.config import DEFAULT
from spaghettisearch_spark.functions.tokenize import parse_query


def test_phrase_from_shards(
    spark, corpus_small, index_small, dim_small, stats_small
):
    from spaghettisearch_spark.operators.compression import build_posting_shards
    from spaghettisearch_spark.operators.phrase import (
        phrase_matches,
        phrase_matches_from_shards,
    )

    n_docs = corpus_small.count()
    doc_dim, doc_map = dim_small
    shards = build_posting_shards(
        index_small.postings.withColumn("weight", F.col("bm25_weight")),
        n_docs,
        DEFAULT,
        doc_dim=doc_dim,
    ).cache()
    _, phrases = parse_query('"hash table probe"')
    phrase = phrases[0]
    want = {
        (r["doc_id"], r["field"]): (r["contrib"], r["n_matches"])
        for r in phrase_matches(spark, index_small, phrase, DEFAULT).collect()
    }
    got = {
        (r["doc_id"], r["field"]): (r["contrib"], r["n_matches"])
        for r in phrase_matches_from_shards(
            spark, shards, doc_map, phrase, DEFAULT, stats=stats_small
        ).collect()
    }
    assert set(got) == set(want)
    for key, (c, m) in want.items():
        assert got[key][0] == pytest.approx(c, rel=1e-9)
        assert got[key][1] == m
    assert len(want) > 0
    shards.unpersist()
