from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from spaghettisearch_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sss-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def docs_tiny():
    from spaghettisearch_spark.fixtures import make_documents

    return make_documents(64)


@pytest.fixture(scope="session")
def docs_small():
    from spaghettisearch_spark.fixtures import make_documents

    return make_documents(300)


@pytest.fixture(scope="session")
def corpus_tiny(spark, docs_tiny):
    from spaghettisearch_spark.sources.corpus import ingest

    df = ingest(spark.createDataFrame(docs_tiny)).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def corpus_small(spark, docs_small):
    from spaghettisearch_spark.sources.corpus import ingest

    df = ingest(spark.createDataFrame(docs_small)).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def index_small(spark, corpus_small):
    from spaghettisearch_spark.operators.index_build import build_index
    from spaghettisearch_spark.operators.links import extract_links

    links = extract_links(corpus_small).cache()
    idx = build_index(corpus_small, links=links)
    for name in ("postings", "doc_stats", "term_stats", "corpus_stats"):
        getattr(idx, name).cache().count()
    return idx


@pytest.fixture(scope="session")
def oracle_small(docs_small):
    from spaghettisearch_spark.oracle.pandas_oracle import build_oracle_index

    return build_oracle_index(docs_small)


@pytest.fixture(scope="session")
def dim_small(spark, corpus_small):
    """(doc_dim, doc_map) of corpus_small: the dense (doc_id, doc_idx)
    dimension posting shards are keyed by, and its (doc_key, doc_id)
    projection that hydrates shard results to doc ids."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators.compression import build_doc_dim

    doc_dim = build_doc_dim(corpus_small).cache()
    doc_dim.count()
    doc_map = doc_dim.select(F.col("doc_idx").alias("doc_key"), "doc_id").cache()
    doc_map.count()
    return doc_dim, doc_map


@pytest.fixture(scope="session")
def stats_small(spark, index_small, dim_small):
    """The live BM25 statistics of corpus_small over dim_small's keys:
    what the shard paths score index_small's shards with."""
    from spaghettisearch_spark.operators.index_build import collect_corpus_stats

    return collect_corpus_stats(spark, index_small.doc_stats, dim_small[1])
