"""Phrase search as position-list intersection in native array functions.

Reference semantics (/root/reference/retrieval/phrase.go):
  - for phrase term at index i, subtract i from every stored position
    (getPosTerm, phrase.go:120-170)
  - a doc qualifies only if it contains ALL phrase terms
    (evalPhraseOccurrence, phrase.go:53-63)
  - the doc matches if the intersection of the adjusted position lists is
    non-empty (phrase.go:64-106); when it matches, each present field
    contributes the SUM of the phrase terms' weights (phrase.go:97-106)

Spark shape: literal term -> [term_idx] map, exploded onto postings ->
``transform(positions, p -> p - term_idx)`` -> groupBy(doc, field) ->
completeness filter -> ``aggregate(..., array_intersect)`` fold. All
JVM-side array ops; no Python in the loop.

Divergence from the reference, documented: the reference mixes sentinel
position -100 for meta/anchor terms into title position lists
(parser.go:203, indexer.go:190,244), which can create spurious phrase
matches after offset adjustment. Our index keeps anchor terms out of the
position lists (pos -1 dropped at build_postings), so phrase matching
only ever sees real token positions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions.smalldf import isin_col


def phrase_matches(
    spark: SparkSession,
    index,
    phrase: list[str],
    cfg: EngineConfig,
) -> DataFrame:
    """-> (doc_id, field, contrib, n_matches) for docs containing the
    exact phrase in that field.

    ``contrib`` is the summed per-term weight in the active scoring mode
    (BM25 contribution or stored tf-idf weight), mirroring
    phrase.go:97-106's weight-sum semantics.
    """
    from .bm25 import posting_hits

    hits = posting_hits(index, phrase, cfg)
    return phrase_matches_from_hits(spark, hits, phrase)


def phrase_matches_from_shards(
    spark: SparkSession,
    shards,
    doc_map,
    phrase: list[str],
    cfg: EngineConfig,
    decode_parts: int | None = None,
):
    """Phrase matching straight off the compressed shards: pruned scan ->
    varbyte position decode -> offset-adjust -> intersect. ``contrib`` is
    the stored impact weight (bm25 path).

    ``doc_map=None`` (the serving engine): position intersection needs no
    doc_id strings, so the match runs entirely on the long doc_key
    (returned in the ``doc_id`` column) and the corpus-sized map never
    enters the per-query plan — the caller hydrates after top-k, the
    only join shape that survives 10^12 docs."""
    from .compression import decode_shards, prune_shards

    pruned = prune_shards(shards, list(set(phrase)), cfg)
    if decode_parts is not None:
        # scale-adaptive decode sizing from the caller's block metadata
        # (coalesce only ever shrinks — no shuffle)
        pruned = pruned.coalesce(decode_parts)
    # phrase matching needs positions + weights but never tf
    decoded = decode_shards(pruned, fields=("weight", "positions"))
    if doc_map is not None:
        decoded = decoded.join(doc_map, "doc_key")
    else:
        decoded = decoded.withColumnRenamed("doc_key", "doc_id")
    hits = decoded.select(
        "term", "field", "doc_id", "positions", F.col("weight").alias("contrib")
    )
    return phrase_matches_from_hits(spark, hits, phrase)


def phrase_matches_from_hits(
    spark: SparkSession,
    hits,
    phrase: list[str],
):
    """Shared tail: ``hits`` carries (term, field, doc_id, positions,
    contrib) for the phrase terms."""
    from .bm25 import term_lookup

    n = len(phrase)
    # each row fans out to every index its term holds in the phrase (a
    # repeated term is matched once per occurrence); a literal map, not
    # a broadcast join of a tiny frame, so no extra job per query
    idx_of: dict[str, list[int]] = {}
    for i, t in enumerate(phrase):
        idx_of.setdefault(t, []).append(i)
    adj = (
        hits.filter(isin_col("term", sorted(idx_of)))
        .withColumn("term_idx", F.explode(term_lookup(idx_of)))
        .select(
            "doc_id",
            "field",
            "term_idx",
            "contrib",
            F.transform(
                "positions", lambda p: p - F.col("term_idx")
            ).alias("adj_positions"),
        )
    )

    grouped = adj.groupBy("doc_id", "field").agg(
        F.size(F.array_distinct(F.collect_list("term_idx"))).alias("n_present"),
        F.array_sort(
            F.collect_list(F.struct("term_idx", "adj_positions"))
        ).alias("term_arrays"),
        F.sum("contrib").alias("contrib"),
    )

    complete = grouped.filter(F.col("n_present") == n)
    folded = complete.withColumn(
        "match_positions",
        F.aggregate(
            F.expr("slice(term_arrays, 2, size(term_arrays) - 1)"),
            F.col("term_arrays")[0]["adj_positions"],
            lambda acc, x: F.array_intersect(acc, x["adj_positions"]),
        ),
    )
    return folded.filter(F.size("match_positions") > 0).select(
        "doc_id",
        "field",
        "contrib",
        F.size("match_positions").alias("n_matches"),
    )
