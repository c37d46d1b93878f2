"""Physical-plan quality gates — the scale properties asserted, not
assumed: pushdown, partition pruning, column pruning, no row-at-a-time
Python UDFs anywhere in the engine."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

SRC = Path(__file__).resolve().parent.parent / "spaghettisearch_spark"


@pytest.fixture(scope="module")
def wh_index(spark, docs_tiny, tmp_path_factory):
    from spaghettisearch_spark.plans.build_pipeline import build_all

    wh = str(tmp_path_factory.mktemp("wh_plans"))
    built = build_all(
        spark, spark.createDataFrame(docs_tiny), wh,
        with_pagerank=False, with_shards=False,
    )
    return built.load(spark)


def _formatted_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_term_filter_pushed_and_partitions_pruned(spark, wh_index):
    from spaghettisearch_spark.operators.bm25 import search

    plan = _formatted_plan(spark, search(spark, wh_index, "parse buffer", k=10))
    assert re.search(r"PushedFilters:.*In\(term", plan), "term filter not pushed"
    assert re.search(r"PartitionFilters:.*bucket.*IN", plan), "no bucket pruning"


def test_positions_not_read_for_term_queries(spark, wh_index):
    from spaghettisearch_spark.operators.bm25 import search

    plan = _formatted_plan(spark, search(spark, wh_index, "parse buffer", k=10))
    scan_schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert scan_schemas, "no parquet scans found"
    for s in scan_schemas:
        assert "positions" not in s, f"positions read for a non-phrase query: {s}"


def test_positions_read_only_for_phrase(spark, wh_index):
    from spaghettisearch_spark.operators.bm25 import search

    plan = _formatted_plan(spark, search(spark, wh_index, '"hash table"', k=10))
    assert "positions" in plan


def test_topk_is_take_ordered(spark, wh_index):
    from spaghettisearch_spark.operators.bm25 import search

    plan = _formatted_plan(spark, search(spark, wh_index, "parse", k=10))
    assert "TakeOrderedAndProject" in plan, "top-k did not plan as TakeOrdered"


def test_no_row_at_a_time_udfs():
    """North rule: vectorized pandas/Arrow UDFs only. Greps the engine
    source for row-at-a-time udf registrations (SURVEY.md §5.2)."""
    bad = []
    for p in SRC.rglob("*.py"):
        text = p.read_text()
        # F.udf( / @udf( / spark.udf.register with a plain function
        if re.search(r"(?<!pandas_)\budf\s*\(", text.replace("pandas_udf", "P_")):
            bad.append(str(p))
    assert not bad, f"row-at-a-time UDFs found: {bad}"


def test_hydration_join_is_broadcast_not_smj(spark, wh_index):
    """Post-limit doc_meta hydration must stay a BroadcastHashJoin even
    with auto-broadcast off — a left join here silently fell back to
    SortMergeJoin (shuffling the whole doc_meta table at scale)."""
    from spaghettisearch_spark.operators.bm25 import search

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted_plan(
            spark, search(spark, wh_index, "parse buffer", k=10, hydrate=True)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" not in plan, "hydration fell back to SortMergeJoin"
    assert "BroadcastHashJoin" in plan


def test_broadcast_in_query_join(spark, wh_index):
    from spaghettisearch_spark.operators.bm25 import search

    plan = _formatted_plan(spark, search(spark, wh_index, "parse buffer", k=10))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_dense_shard_hydration_is_broadcast(
    spark, corpus_small, index_small, dim_small, stats_small, tmp_path
):
    """Dense-key shard path: the post-top-k doc_id hydration joins the
    k-row kernel output under an explicit broadcast hint — the
    corpus-sized doc_map side must never plan a SortMergeJoin (that
    would shuffle the whole dimension per query at scale). Shards are
    written and read back (the production shape) so the plan under test
    is the QUERY plan, not the build lineage — the build's
    postings-to-doc_dim shuffle join is intentional and would otherwise
    appear in the explain output of an inline-built frame."""
    from spaghettisearch_spark.operators.compression import build_posting_shards
    from spaghettisearch_spark.config import DEFAULT
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards

    doc_dim, doc_map = dim_small
    build_posting_shards(
        index_small.postings, corpus_small.count(), DEFAULT,
        doc_dim=doc_dim, weight_col="bm25_weight",
    ).write.parquet(str(tmp_path / "shards"))
    shards = spark.read.parquet(str(tmp_path / "shards"))
    doc_map.write.parquet(str(tmp_path / "doc_map"))
    doc_map = spark.read.parquet(str(tmp_path / "doc_map"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted_plan(
            spark,
            wand_topk_from_shards(
                spark, shards, doc_map, ["pars", "buffer"], DEFAULT,
                k=10, stats=stats_small,
            ),
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" not in plan, "dense hydration fell back to SMJ"
    assert "BroadcastHashJoin" in plan


def test_shard_scan_partition_prunes(
    spark, corpus_small, index_small, dim_small, stats_small, tmp_path
):
    """North-rule storage layout: posting shards written
    partitionBy("shard") must partition-prune to the query terms' shard
    ids at the SCAN (the Spark analog of the reference's per-term point
    gets) — and non-queried columns must not be read."""
    from spaghettisearch_spark.config import DEFAULT
    from spaghettisearch_spark.operators.compression import build_posting_shards
    from spaghettisearch_spark.operators.wand import wand_topk_from_shards

    doc_dim, doc_map = dim_small
    build_posting_shards(
        index_small.postings, corpus_small.count(), DEFAULT,
        doc_dim=doc_dim, weight_col="bm25_weight",
    ).write.partitionBy("shard").parquet(str(tmp_path / "shards"))
    shards = spark.read.parquet(str(tmp_path / "shards"))
    plan = _formatted_plan(
        spark,
        wand_topk_from_shards(
            spark, shards, doc_map, ["pars"], DEFAULT, k=10,
            stats=stats_small,
        ),
    )
    assert re.search(r"PartitionFilters:.*shard#\d+ (=|IN)", plan), (
        "shard scan did not partition-prune:\n"
        + "\n".join(l for l in plan.splitlines() if "PartitionFilters" in l)
    )
    assert re.search(
        r"PushedFilters:.*(In|EqualTo)\(term", plan
    ), "term filter not pushed"
    # fields=("weight",) decode (the term-bag path): the weights come
    # from the tf stream, and the position streams must be pruned OFF
    # the parquet scan — a term query never reads them (README
    # "non-phrase queries never read the positions column", now enforced
    # at the shard layout too)
    scan_lines = [
        l for l in plan.splitlines() if "ReadSchema" in l
    ]
    assert scan_lines, "no ReadSchema in plan"
    for l in scan_lines:
        assert "positions" not in l and "pos_lens" not in l, (
            "term-bag shard scan reads unneeded payload streams:\n" + l
        )


def test_dense_phrase_serving_defers_doc_map(
    spark, corpus_small, index_small, dim_small, stats_small, tmp_path
):
    """Dense-key search_from_shards (free terms + a phrase): scoring and
    position intersection run on long keys, and the corpus-sized
    doc_map joins only the k-row output under an explicit broadcast —
    with auto-broadcast disabled the full plan must contain no
    SortMergeJoin (a pre-scoring doc_map join would plan one against
    the decoded postings at scale)."""
    from spaghettisearch_spark.config import DEFAULT
    from spaghettisearch_spark.operators.bm25 import search_from_shards
    from spaghettisearch_spark.operators.compression import build_posting_shards

    doc_dim, doc_map = dim_small
    build_posting_shards(
        index_small.postings, corpus_small.count(), DEFAULT,
        doc_dim=doc_dim, weight_col="bm25_weight",
    ).write.parquet(str(tmp_path / "shards"))
    shards = spark.read.parquet(str(tmp_path / "shards"))
    doc_map.write.parquet(str(tmp_path / "doc_map"))
    doc_map = spark.read.parquet(str(tmp_path / "doc_map"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted_plan(
            spark,
            search_from_shards(
                spark, shards, doc_map, '"hash table" parse', DEFAULT,
                k=10, stats=stats_small,
            ),
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" not in plan, "doc_map joined before top-k"
    assert "BroadcastHashJoin" in plan
