"""spaghettisearch_spark — a PySpark-native inverted-index + BM25 query engine.

A from-scratch rebuild (NOT a port) of the capabilities of
nwihardjo/SpaghettiSearch (Go + BadgerDB web search engine) as idiomatic
Spark: posting-list construction as grouped DataFrame aggregations,
PageRank as iterative checkpointed joins, BM25 top-k with phrase search
and title/body field weighting, and block-max WAND over a parquet posting-shard
warehouse.

Layout:
    functions/   tokenization, Porter2 stemming (pandas UDF), hashing, snippets
    operators/   index build, compression, BM25, phrase, WAND, PageRank, topics,
                 links, incremental maintenance
    sources/     corpus ingest adapters + stage checkpoints with lineage
    plans/       full build pipeline DAG
    streaming/   Structured Streaming ingest
    oracle/      pure-pandas scoring oracle for rank-identity tests
"""

__version__ = "0.1.0"
