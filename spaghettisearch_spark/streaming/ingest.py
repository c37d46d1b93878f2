"""Structured Streaming ingest — incremental index maintenance.

The reference re-indexes modified pages inside its crawl loop
(/root/reference/indexer/indexer.go:41-75 staleness check;
checkAndUpdate 420-641 deletes stale postings then re-adds). The
streaming analog: new/changed document files arrive in a drop directory;
each micro-batch tokenizes ONLY the new docs and appends their posting
rows (partitioned by term bucket), so the index grows incrementally
without touching existing partitions' history. Readers recompute df/
avgdl from the appended state (or periodically compact via the batch
pipeline — same code path, plans/build_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT, EngineConfig
from ..functions.hashing import term_hash60_col
from ..operators import index_build as ib
from ..sources.corpus import ingest

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def stream_ingest_documents(
    spark: SparkSession,
    input_dir: str,
    warehouse: str,
    cfg: EngineConfig = DEFAULT,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """File-source stream of documents -> incremental postings append
    with LSM-style upsert semantics.

    Every appended corpus/postings row carries ``ingest_seq`` (the
    micro-batch id); a re-dropped CHANGED document appends a new version
    instead of rewriting history, and readers resolve latest-wins via
    ``live_corpus``/``live_postings`` (one window / one semi-join — no
    per-batch rewrite of existing partitions, which is what makes this
    shape viable at 100 TB). ``compact()`` folds versions down to one by
    rebuilding from the live view. Within one batch, duplicate
    (repo, path) rows dedupe deterministically to the (commit,
    content_sha256)-max row.

    Returns the StreamingQuery. ``available_now=True`` drains what's
    there and stops (test/batch-catchup mode); False = continuous.
    """
    checkpoint_dir = checkpoint_dir or f"{warehouse}/_stream_checkpoint"
    raw = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        corpus = ingest(batch_df)
        in_batch = Window.partitionBy("doc_id").orderBy(
            F.desc("commit"), F.desc("content_sha256")
        )
        corpus = (
            corpus.withColumn("_rn", F.row_number().over(in_batch))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn("ingest_seq", F.lit(batch_id).cast("long"))
        )
        tokens = ib.tokenize_fields(corpus, cfg)
        postings = (
            ib.build_postings(tokens)
            .withColumn(
                "bucket",
                F.pmod(term_hash60_col("term"), F.lit(cfg.n_shards)).cast("int"),
            )
            .withColumn("ingest_seq", F.lit(batch_id).cast("long"))
        )
        (
            postings.write.mode("append")
            .partitionBy("bucket")
            .parquet(f"{warehouse}/postings_raw")
        )
        corpus.write.mode("append").parquet(f"{warehouse}/corpus")

    writer = (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _with_seq(df: DataFrame) -> DataFrame:
    """Tolerate pre-upsert tables: missing/null ingest_seq reads as -1."""
    if "ingest_seq" not in df.columns:
        return df.withColumn("ingest_seq", F.lit(-1).cast("long"))
    return df.withColumn(
        "ingest_seq", F.coalesce(F.col("ingest_seq"), F.lit(-1)).cast("long")
    )


def live_corpus(spark: SparkSession, warehouse: str) -> DataFrame:
    """Latest version of every document in a streamed warehouse —
    the read-side half of the upsert: one window over (doc_id)."""
    corpus = _with_seq(
        spark.read.option("mergeSchema", "true").parquet(f"{warehouse}/corpus")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("ingest_seq"), F.desc("content_sha256")
    )
    return (
        corpus.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def live_postings(spark: SparkSession, warehouse: str) -> DataFrame:
    """Postings restricted to each doc's latest version: semi-join on
    (doc_id, ingest_seq) against the live corpus. Stale versions stay in
    parquet until ``compact()`` garbage-collects them."""
    postings = _with_seq(
        spark.read.option("mergeSchema", "true").parquet(f"{warehouse}/postings_raw")
    )
    live_keys = live_corpus(spark, warehouse).select("doc_id", "ingest_seq")
    return postings.join(live_keys, ["doc_id", "ingest_seq"], "left_semi")


def compact(spark: SparkSession, warehouse: str, cfg: EngineConfig = DEFAULT):
    """Rebuild the derived index tables after streaming appends.

    The stream appends raw postings + corpus rows; global stats (df,
    avgdl, weights, shards, pagerank) go stale. Compaction re-runs the
    batch pipeline with the warehouse corpus as input — ``ingest`` is
    idempotent on canonical rows, and the changed input fingerprint
    invalidates every stage, so this is one call, resumable like any
    build. Same pattern at cluster scale, on a schedule or a row-count
    trigger.
    """
    from ..plans.build_pipeline import build_all

    documents = live_corpus(spark, warehouse).select(
        "repo", "path", "commit", "lang", "content"
    )
    # sever lineage from the corpus dir before stages overwrite it —
    # localCheckpoint materializes (unlike cache, survives eviction;
    # at cluster scale use reliable checkpoint() on object storage)
    documents = documents.localCheckpoint()
    return build_all(spark, documents, warehouse, cfg)
