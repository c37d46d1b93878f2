"""Block-max WAND top-k — exact document-at-a-time pruning inside
``applyInPandas``.

The reference scores every candidate doc exhaustively
(/root/reference/retrieval/main_retrieve.go:50-97); the north rule asks
for block-max WAND posting-list intersection with exact results. Catalyst
cannot express document-at-a-time skipping, so this is one of the three
genuinely custom algorithmic pieces (SURVEY.md §4.2).

Distributed shape (the part that must survive 100 TB):

  1. posting rows are fetched ONLY for the query terms (term-pruned scan
     of posting_shards / postings — a few million rows for even the
     hottest term, never the whole index);
  2. those rows are hash-partitioned by ``doc_bucket`` (one shuffle of
     candidate postings only), so each bucket holds the complete posting
     set of every query term for its doc range — the precondition for
     document-at-a-time evaluation;
  3. each bucket independently computes its exact local top-k with a
     single branchless numpy bincount scatter-add over the
     Arrow-resident bucket + k-th-score partition (see
     _score_bucket_vectorized for why this beats pointer-chasing once
     the data is in memory). The classic per-row document-at-a-time
     heap kernel lives in tests/daat_reference.py ONLY — a parity
     oracle, deliberately unreachable from any production path (the
     engine ships no per-row Python kernel); tests inject it via the
     ``kernel`` callable parameter and cross-assert both against the
     exhaustive scorer;
  4. global top-k = TakeOrderedAndProject over n_buckets * k rows.

  Shard queries score on the dense ``doc_key`` (build_doc_dim assigns it
  in global doc_id order, so the long key tie-breaks like the string).
  The one-task case: when the skip planner sizes a shard query to ONE
  task (kept decode volume <=
  ``cfg.query_target_postings_per_task``; every WAND bag over the local
  corpora), steps 2-3 collapse. That task already holds every posting
  of every doc, so it decodes the kept blocks and runs the bucket
  kernel over them in the same Python pass (_one_task_topk): one stage,
  one task, one Python crossing, no shuffle. Larger plans keep the
  bucketed tail above, and so do phrase queries (bm25.search_from_shards)
  at any size.

Exactness: every bucket returns its true local top-k, and the global
merge of true local top-k sets contains the true global top-k (with one
task, its bucket is the whole candidate set). Pruning (upper-bound
skipping) only ever discards docs that cannot enter the local heap.

Scoring model: per-posting impact weights are precomputed at index time
(BM25 weights need only tf, df, dl, avgdl — all known at build), so
query-time score(d) = sum over query terms of stored weight * qtf. This
matches the exhaustive bm25.py path bit-for-bit on the same floats, and
is asserted so in tests/test_wand.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT, EngineConfig
from ..functions.smalldf import in_sql
from .bm25 import posting_hits, term_lookup
from .index_build import FIELD_BODY, FIELD_TITLE, Index

def _out_schema(key_type: T.DataType) -> T.StructType:
    """Kernel output: (doc_id, title_rank, body_rank, pagerank, score);
    ``doc_id`` carries the dense long doc_key on the shard paths."""
    return T.StructType(
        [T.StructField("doc_id", key_type)]
        + [
            T.StructField(c, T.DoubleType())
            for c in ("title_rank", "body_rank", "pagerank", "score")
        ]
    )


_OUT_COLS = ["doc_id", "title_rank", "body_rank", "pagerank", "score"]


def _pr_lookup(pr, keys) -> np.ndarray:
    """PageRank of each key: ``pr`` is a dense float64 vector indexed by
    doc_key (keys past its end score 0 — docs merged in after the
    vector was built), or a doc_id-indexed Series (string keys)."""
    if isinstance(pr, np.ndarray):
        keys = np.asarray(keys, dtype=np.int64)
        out = np.zeros(len(keys), dtype=np.float64)
        ok = (keys >= 0) & (keys < len(pr))
        out[ok] = pr[keys[ok]]
        return out
    return pr.reindex(keys).fillna(0.0).to_numpy(np.float64)


def _score_bucket_vectorized(k: int, cfg: EngineConfig, pr=None):
    """Vectorized exact per-bucket top-k over (doc_id, field, contrib)
    posting rows, ``contrib`` = stored impact weight x query-term
    frequency. The blend lives here, once: each posting's field weight
    x ``blend_scale`` and its title/body split. Then it factorizes doc
    ids once, runs a single branchless ``np.bincount`` scatter-add per
    score column over the WHOLE bucket, an O(n) k-th-score partition
    and a tiny (-score, doc_id) tie-break sort of the survivors.

    ``pr`` (a Broadcast of a _pr_lookup table) folds the PageRank blend
    into the kernel: each candidate gains ``w_pagerank * blend_scale *
    pr[doc]`` before the k-th-score cut, and the row carries the
    looked-up rank in its ``pagerank`` column. The candidate set is
    unchanged (docs with at least one posting), the same as the
    exhaustive path's left join.

    Why this beats document-at-a-time WAND here: the bucket's postings
    are already Arrow-resident (the pruned scan did the real skipping),
    so DAAT's upper-bound skipping saves only Python-loop CPU — and a
    bincount accumulates a posting in ~1ns vs ~1us per iteration of the
    pointer-chasing loop. Pruning would have to skip >99.9% of postings
    to win; on hot terms (df ~ 80%) it skips almost nothing. The
    classic DAAT heap kernel survives only as the test-side parity
    oracle (tests/daat_reference.py) — both are exact and asserted
    equal to the exhaustive scorer in tests."""
    w_pr = cfg.w_pagerank * cfg.blend_scale

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(columns=_OUT_COLS)
        field = pdf["field"].to_numpy()
        contrib = pdf["contrib"].to_numpy(np.float64)
        is_t = field == FIELD_TITLE
        is_b = field == FIELD_BODY
        fw = np.where(is_t, cfg.w_title, np.where(is_b, cfg.w_body, 0.0))
        codes, uniques = pd.factorize(pdf["doc_id"], sort=False)
        n = len(uniques)
        acc = np.bincount(
            codes, weights=fw * contrib * cfg.blend_scale, minlength=n
        )
        acc_t = np.bincount(
            codes, weights=np.where(is_t, contrib, 0.0), minlength=n
        )
        acc_b = np.bincount(
            codes, weights=np.where(is_b, contrib, 0.0), minlength=n
        )
        if pr is not None:
            ranks = _pr_lookup(pr.value, uniques)
            acc = acc + w_pr * ranks
        else:
            ranks = np.zeros(n, dtype=np.float64)
        if n > k:
            kth = np.partition(acc, n - k)[n - k]
            cand = np.nonzero(acc >= kth)[0]  # >= keeps kth-score ties
        else:
            cand = np.arange(n)
        ids = uniques[cand]
        order = sorted(range(len(cand)), key=lambda i: (-acc[cand[i]], ids[i]))[:k]
        sel = cand[order]
        return pd.DataFrame(
            {
                "doc_id": uniques[sel],
                "title_rank": acc_t[sel],
                "body_rank": acc_b[sel],
                "pagerank": ranks[sel],
                "score": acc[sel],
            },
            columns=_OUT_COLS,
        )

    return kernel


def pr_broadcast(
    spark: SparkSession, pagerank, doc_map=None, dense_keys: bool = False
):
    """The bucket kernel's Broadcast PageRank lookup for ``pagerank``:
    None and an existing Broadcast pass through; a (doc_id, rank) frame
    becomes a doc_id-indexed Series, or — for ``dense_keys``, through
    the (doc_key, doc_id) map — a float64 vector indexed by doc_key. One
    driver collect for ad-hoc callers; a serving engine builds its
    vectors once (api.SearchEngine) and passes the Broadcast itself."""
    if pagerank is None or isinstance(pagerank, Broadcast):
        return pagerank
    if dense_keys and doc_map is None:
        raise ValueError(
            "a (doc_id, rank) PageRank frame needs the doc_map to key it "
            "by doc_key; pass the map or a Broadcast vector"
        )
    if not dense_keys:
        pdf = pagerank.select("doc_id", "rank").toPandas()
        table = pd.Series(
            pdf["rank"].to_numpy(np.float64), index=pdf["doc_id"].to_numpy()
        )
    else:
        pdf = (
            doc_map.join(pagerank, "doc_id").select("doc_key", "rank").toPandas()
        )
        table = dense_vector(pdf["doc_key"], pdf["rank"])
    return spark.sparkContext.broadcast(table)


def dense_vector(keys, values, n: int = 0) -> np.ndarray:
    """float64 vector of length >= n with ``values`` at ``keys``."""
    keys = np.asarray(keys, dtype=np.int64)
    vec = np.zeros(max(n, int(keys.max()) + 1 if len(keys) else 0))
    vec[keys] = np.asarray(values, dtype=np.float64)
    return vec


def wand_topk(
    spark: SparkSession,
    index: Index,
    query_terms: list[str],
    cfg: EngineConfig = DEFAULT,
    k: int | None = None,
    n_buckets: int = 16,
    pagerank: DataFrame | None = None,
    kernel="taat",
) -> DataFrame:
    """Exact top-k for a bag of free terms via distributed block-max WAND.

    Returns (doc_id, title_rank, body_rank, pagerank, score) — same shape
    and (to float associativity) same values as bm25.search's exhaustive
    path for term-only queries, asserted in tests. PageRank, when given,
    is folded into the bucket kernel (a broadcast doc_id -> rank
    lookup), so its mass enters each candidate's score before the
    local top-k cut and results stay exact.
    """
    from collections import Counter

    if cfg.scorer != "bm25":
        raise ValueError(
            "wand_topk scores precomputed impact weights; tfidf_cosine's "
            "per-query normalization needs the exhaustive path (bm25.search)"
        )
    k = k or cfg.top_k
    if not query_terms:
        return empty_topk(spark, by_doc_id=True)
    counts = Counter(query_terms)
    terms = sorted(counts)
    hits = posting_hits(index, terms, cfg).select(
        "doc_id", "field",
        term_lookup({t: i for i, t in enumerate(terms)}).alias("qterm_id"),
        (F.col("contrib") * term_lookup(
            {t: float(counts[t]) for t in terms}
        )).alias("contrib"),
    )
    return _wand_from_hits(
        hits, cfg, k, n_buckets, pr_broadcast(spark, pagerank), kernel
    )


def _wand_from_hits(
    hits: DataFrame,
    cfg: EngineConfig,
    k: int,
    n_buckets: int,
    pr=None,
    kernel="taat",
    shuffle_parts: int | None = None,
) -> DataFrame:
    """The shuffled top-k tail of the WAND and shard paths: ``hits``
    carries (doc_id, field, contrib) with the query-term frequency
    already multiplied into ``contrib`` (plus ``qterm_id`` for an
    injected reference kernel); ``pr`` is the kernel's Broadcast
    PageRank lookup (see _score_bucket_vectorized). The rows are
    hash-partitioned by ``doc_bucket`` so each bucket holds every
    posting of its docs, and each bucket cuts its exact local top-k.
    ``shuffle_parts`` (shard paths) sizes the bucket-kernel exchange
    from the planner-known decode volume — an explicit repartition by
    doc_bucket that the groupBy reuses (one exchange, exact task count)
    instead of the session-wide shuffle-partition default."""
    long_keys = dict(hits.dtypes).get("doc_id") == "bigint"
    if callable(kernel):
        # an injected reference kernel (tests/daat_reference.py) walks
        # document-at-a-time and needs ONE cursor per (doc, qterm): a
        # doc can hit the same query term in BOTH fields, so collapse
        # first, blending in Spark. The vectorized kernel's scatter-add
        # collapses duplicates natively, so the production path skips
        # this whole shuffle. Reference kernels score term postings
        # only, so PageRank is refused.
        if pr is not None:
            raise ValueError(
                "injected reference kernels score term postings only; "
                "the PageRank blend requires the vectorized kernel"
            )
        is_t = F.col("field") == FIELD_TITLE
        is_b = F.col("field") == FIELD_BODY
        fw = (
            F.when(is_t, F.lit(cfg.w_title))
            .when(is_b, F.lit(cfg.w_body))
            .otherwise(F.lit(0.0))
        )
        rows = hits.groupBy("doc_id", "qterm_id").agg(
            F.sum(fw * F.col("contrib") * F.lit(cfg.blend_scale)).alias("contrib"),
            F.sum(F.when(is_t, F.col("contrib")).otherwise(0.0)).alias("title_c"),
            F.sum(F.when(is_b, F.col("contrib")).otherwise(0.0)).alias("body_c"),
        )
        ref = kernel(cfg, k)

        def bucket_kernel(pdf):
            return ref(pdf).assign(pagerank=0.0)[_OUT_COLS]
    elif kernel == "taat":
        rows = hits.select("doc_id", "field", "contrib")
        bucket_kernel = _score_bucket_vectorized(k, cfg, pr)
    else:
        raise ValueError(
            "only the vectorized kernel ships in the engine; pass a "
            "callable (cfg, k) -> (pdf -> pdf) factory to inject a "
            "reference kernel (see tests/daat_reference.py)"
        )

    bucketed = rows.withColumn(
        "doc_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )
    if shuffle_parts is not None:
        # explicit partition count (clamped to n_buckets by the caller):
        # hash-partitioning on the grouping key with a known count, so
        # the groupBy below adds NO second exchange and AQE has nothing
        # to coalesce — the kernel stage runs exactly this many tasks
        bucketed = bucketed.repartition(shuffle_parts, "doc_bucket")
    local = bucketed.groupBy("doc_bucket").applyInPandas(
        bucket_kernel,
        _out_schema(T.LongType() if long_keys else T.StringType()),
    )
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _one_task_topk(
    pruned: DataFrame, cfg: EngineConfig, k: int, pr, qtf: dict, **decode_kw
) -> DataFrame:
    """Top-k of a shard query whose kept postings fit in ONE
    task: ``pruned`` (coalesced to one partition) is decoded and scored
    in one Python pass — decode_shards hands its frames straight to the
    bucket kernel, with ``contrib = weight x qtf`` computed in between —
    so the job is one stage, one task and one Python crossing, with no
    bucket exchange (one task already holds every posting of every
    doc). ``decode_kw`` is the planner's decode pruning (doc_keys,
    key_ranges)."""
    from .compression import decode_shards

    score = _score_bucket_vectorized(k, cfg, pr)

    def consume(frames):
        frames = [f for f in frames if len(f)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        yield score(pd.DataFrame({
            "doc_id": pdf["doc_key"],
            "field": pdf["field"],
            "contrib": pdf["weight"].to_numpy(np.float64)
            * pdf["term"].map(qtf).to_numpy(np.float64),
        }))

    local = decode_shards(
        pruned, fields=("weight",),
        consumer=(consume, _out_schema(T.LongType())), **decode_kw,
    )
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def hydrate_doc_ids(ranked: DataFrame, doc_map: DataFrame, k: int) -> DataFrame:
    """doc_id strings for a dense-keyed k-row top-k (doc_id column holds
    the doc_key) from a (doc_key, doc_id) map, for direct callers of the
    shard paths that pass one: a broadcast of the k-row side, then the
    (score desc, doc_id asc) order. The serving engine passes no map and
    reads the k keys' cards instead (api.SearchEngine.query)."""
    return (
        doc_map.join(
            F.broadcast(ranked.withColumnRenamed("doc_id", "doc_key")),
            "doc_key",
        )
        .select(*_OUT_COLS)
        # limit(k) is a no-op on the <=k joined rows but turns the
        # final global sort into TakeOrderedAndProject (no range-
        # partitioning sampling pass)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


# telemetry from the latest wand_topk_from_shards call: how many blocks
# the skip planner kept vs saw (tests assert kept < total on skewed
# data), the doc-level candidate count (-1 = pruning not admissible),
# whether the exact-floor wave ran / was served from the floor cache,
# and the DECODE VOLUME the plan implies (kept_df = summed df of kept
# blocks vs total_df of all query-term blocks) — the metric that scales
# with the corpus, unlike local wall-clock
LAST_SKIP_STATS: dict[str, int] = {
    "total": 0, "kept": 0, "cand_docs": -1, "two_phase": 0,
    "floor_cached": 0, "total_df": 0, "kept_df": 0,
    "total_ranges": 0, "kept_ranges": 0, "decoded_df": 0,
}

# reserved meta_cache key for the cached PageRank blend maximum (terms
# never contain NUL, so this cannot shadow a term's metadata entry)
_PR_MAX_KEY = "\x00pr_max"


_I64_MIN = np.iinfo(np.int64).min
_I64_MAX = np.iinfo(np.int64).max


def _row_ranges(r) -> tuple | None:
    """(range_bounds, range_maxw) off a metadata row, or None when the
    row predates the range-aligned schema (pre-round-5 shard frames)."""
    try:
        rb, rm = r["range_bounds"], r["range_maxw"]
    except (ValueError, KeyError):
        return None
    if rb is None or rm is None or len(rb) != len(rm) + 1:
        return None
    return rb, rm


def _plan_df(meta_rows: list, keep: set | None) -> int:
    """Summed df of the metadata rows in ``keep`` (all rows when None) —
    the posting volume a plan implies, used both for the two-phase auto
    decision and the decode-volume telemetry. Rows predating the df
    column count as 0."""
    total = 0
    for r in meta_rows:
        if keep is not None and (
            r["term"], r["field"], int(r["salt"]),
        ) not in keep:
            continue
        try:
            total += int(r["df"] or 0)
        except (ValueError, KeyError):
            pass
    return total


def _range_counts(df: int, n_sub: int) -> np.ndarray:
    """Posting count of each equi-depth sub-range of a df-posting block
    (the encoder's chunking formula, compression._encode_blocks):
    chunk i covers sorted positions [i*df//n_sub, (i+1)*df//n_sub)."""
    edges = (np.arange(n_sub + 1, dtype=np.int64) * df) // n_sub
    return np.diff(edges)


def plan_blocks(
    meta_rows: list,
    cfg: EngineConfig,
    qtf: dict[str, float],
    k: int,
    extra_ub: float = 0.0,
    min_threshold: float | None = None,
) -> tuple:
    """Block-max skip planner (driver-side, pure): given the block
    metadata rows of compression.term_block_meta (term, field, salt, df,
    max_weight, top_doc_keys, top_weights, range_bounds, range_maxw),
    return

      (keep, threshold, candidate_doc_keys, keep_ranges)

    - ``keep``: the (term, field, salt) blocks that must be decoded for
      an EXACT top-k;
    - ``threshold``: the admissible lower bound on the true k-th score
      the planner derived (None when the samples can't produce one);
    - ``candidate_doc_keys``: when DOC-level pruning is admissible (see
      below), the sorted doc_key list that provably contains every
      top-k doc — the caller may then restrict the varbyte decode to
      those keys; None otherwise.
    - ``keep_ranges``: {(term, field, salt) -> (n_sub, kept chunk
      indices)} for kept blocks whose decode can drop at least one
      sub-range — ``n_sub`` is the chunk count the block was ENCODED
      with (len of its range_maxw), which the decode needs to map the
      positional indices exactly (see the range-pruning note at the
      keep loop); blocks absent from the dict decode whole.

    Threshold: each block's top-N (doc_key, weight) sample yields partial
    blended scores per doc (a lower bound of the doc's full score, since
    contributions are non-negative); T = k-th largest partial.

    Doc-range-aligned bound: a doc in sub-range i of block B (doc_key in
    [bounds[i], bounds[i+1]]) scores at most B's sub-range max, plus for
    every OTHER (term, field) group the max over that group's sub-range
    triples whose key interval INTERSECTS [bounds[i], bounds[i+1]] (the
    doc's posting in that group, if any, lies inside such a triple), plus
    ``extra_ub`` (e.g. the PageRank blend maximum). B is skippable iff
    that bound is strictly below T for EVERY sub-range: each of its docs
    then provably misses the top-k, so dropping their contributions
    cannot corrupt it (top-k docs appear only in kept blocks, so their
    scores stay exact). Strict inequality keeps tie-on-T blocks. This is
    what makes multi-term skipping bite: the admissible cross-term bound
    uses a term's max within ~1/16th of the doc space — typically its
    bulk high weight — instead of its single global outlier. A row
    without range metadata degrades to one (-inf, +inf, max_weight)
    triple, which reproduces the round-4 global-maxima bound exactly.

    Doc-level candidate pruning (the at-scale complement of block
    skipping): a block with df <= BLOCK_SAMPLE_N is SAMPLE-COMPLETE —
    its top-N sample IS its whole posting list (so the shards store no
    copy: term_block_meta rebuilds its rows from the block's own keys
    and weights, with the encoder's rules) — and a (term, field)
    group all of whose blocks are complete contributes ZERO to any doc
    outside the sampled keys. So a doc appearing in NO block's sample
    scores at most U_out = sum over the INCOMPLETE groups of the max,
    over each group's incomplete blocks, of the block's MINIMUM sampled
    blended weight, + extra_ub (admissible because samples are each
    block's top-N postings by weight and salt assigns a doc's posting
    in a group to exactly one block — an unsampled doc therefore sits
    under some incomplete block's sample minimum, which is far below
    the hot term's global max_weight). When U_out < threshold, every top-k doc is
    provably among the sampled keys, and the decode can drop all other
    postings: computed scores stay exact for candidates (only
    non-candidate rows are dropped, and block skipping already
    guarantees top-k docs live in kept blocks), and a dropped doc's
    true score < threshold <= true k-th, so it cannot displace anyone.
    This is what pays on the rare-term + hot-term bag — the dominant
    shape where block granularity is too coarse (every hot block spans
    the whole doc space) but the candidate set is tiny: decode, Arrow
    transfer, and the bucket shuffle then scale with |candidates|, not
    with the hot term's df.

    Intervals are int64 end-to-end: doc_keys are exact integers, and a
    float boundary rounded the wrong way could silently drop a true
    overlap (inadmissible)."""
    from .compression import BLOCK_SAMPLE_N
    fw = {FIELD_TITLE: cfg.w_title, FIELD_BODY: cfg.w_body}

    def factor(field: str, term: str) -> float:
        return fw.get(field, 0.0) * qtf.get(term, 0.0) * cfg.blend_scale

    # threshold from the per-block top-N samples + per-group blended
    # sub-range triples (lo, hi, max) for the range-aware cross bound
    partials: dict[int, float] = {}
    tri: dict[tuple[str, str], tuple[list, list, list]] = {}
    unsampled_ub: dict[tuple[str, str], float] = {}
    incomplete: set[tuple[str, str]] = set()
    for r in meta_rows:
        f = factor(r["field"], r["term"])
        key = (r["term"], r["field"])
        ub = float(r["max_weight"]) * f
        try:
            df = r["df"]
        except (ValueError, KeyError):
            df = None
        if df is None or int(df) > BLOCK_SAMPLE_N:
            incomplete.add(key)
            # samples are the block's top-N postings BY WEIGHT
            # (compression.py argsort(-weights)[:N]), so a doc NOT in
            # this block's sample weighs at most the sample's minimum —
            # a much tighter unsampled-doc bound than max_weight. Salt
            # partitions a (term, field) group by doc, so an unsampled
            # doc's posting lives in exactly one (necessarily
            # incomplete) block: bound the group by the max over its
            # incomplete blocks' sample minima.
            tw = r["top_weights"] or []
            blk_ub = (
                float(min(tw)) * f if len(tw) >= BLOCK_SAMPLE_N else ub
            )
            if blk_ub > unsampled_ub.get(key, 0.0):
                unsampled_ub[key] = blk_ub
        for dk, w in zip(r["top_doc_keys"] or [], r["top_weights"] or []):
            partials[dk] = partials.get(dk, 0.0) + float(w) * f
        los, his, ms = tri.setdefault(key, ([], [], []))
        rng = _row_ranges(r)
        if rng is not None:
            rb, rm = rng
            los.extend(rb[:-1])
            his.extend(rb[1:])
            ms.extend(float(m) * f for m in rm)
        else:
            los.append(_I64_MIN)
            his.append(_I64_MAX)
            ms.append(ub)
    if len(partials) < k:
        if min_threshold is None:
            keep_all = {
                (r["term"], r["field"], int(r["salt"])) for r in meta_rows
            }
            return keep_all, None, None, {}
        threshold = min_threshold
    else:
        threshold = sorted(partials.values(), reverse=True)[k - 1]
        # an externally supplied EXACT lower bound (the two-phase
        # planner's k-th wave-1 partial score) can only tighten the
        # sample-derived threshold — both are lower bounds on the true
        # k-th score, so max() preserves admissibility
        if min_threshold is not None and min_threshold > threshold:
            threshold = min_threshold

    tri_np = {
        key: (
            np.asarray(los, dtype=np.int64),
            np.asarray(his, dtype=np.int64),
            np.asarray(ms, dtype=np.float64),
        )
        for key, (los, his, ms) in tri.items()
    }
    others_of: dict[tuple[str, str], list] = {
        key: [v for g, v in tri_np.items() if g != key] for key in tri_np
    }

    keep: set[tuple[str, str, int]] = set()
    # RANGE-level pruning (finer than block-level): the per-sub-range
    # bound computed below bounds the TOTAL score of every doc whose
    # posting lies in that sub-range — so a sub-range with bound < T can
    # be dropped from the decode even when its BLOCK is kept (some other
    # sub-range beats T). Exactness argument is the block one, applied
    # per range: a true top-k doc t with a posting in range i of block B
    # has bound(B,i) >= t's true score >= true k-th >= T, so all of t's
    # postings live in kept ranges and its computed score stays exact;
    # a doc with any dropped posting has total score < T <= true k-th
    # and cannot displace anyone. keep_ranges[(term, field, salt)] lists
    # the kept equi-depth chunk indices for kept blocks that shed at
    # least one range (absent = decode the whole block).
    keep_ranges: dict[tuple[str, str, int], tuple[int, list[int]]] = {}
    # float-noise slack: the wave-1 floor and the sample partials are
    # computed with Spark-side association ((fw*w)*qtf)*bs while the
    # bounds here multiply rm*((fw*qtf)*bs) — a few ULPs apart. A true
    # k-th doc whose own sub-range max IS its weight could otherwise
    # fall a hair below an exact floor and be pruned. Relative 1e-9 is
    # ~1e7 ULPs of headroom and costs nothing measurable in pruning.
    thr_eps = threshold - abs(threshold) * 1e-9
    # a union-of-segments frame carries multiple block rows per
    # (term, field, salt); positional chunk indices are only meaningful
    # against the one block they were planned from, so range pruning is
    # disabled for duplicated keys (block-level keep stays correct: it
    # is a set union over rows)
    from collections import Counter as _Counter

    bkey_counts = _Counter(
        (r["term"], r["field"], int(r["salt"])) for r in meta_rows
    )
    for r in meta_rows:
        key = (r["term"], r["field"])
        f = factor(r["field"], r["term"])
        rng = _row_ranges(r)
        if rng is not None:
            rb, rm = rng
            subs = [
                (int(rb[i]), int(rb[i + 1]), float(rm[i]) * f, i)
                for i in range(len(rm))
            ]
        else:
            subs = [(_I64_MIN, _I64_MAX, float(r["max_weight"]) * f, -1)]
        others = others_of[key]
        kept_subs: list[int] = []
        for lo, hi, m, i in subs:
            bound = m + extra_ub
            for los, his, ms in others:
                sel = (his >= lo) & (los <= hi)
                if sel.any():
                    bound += float(ms[sel].max())
            if bound >= thr_eps:
                kept_subs.append(i)
        if kept_subs:
            bkey = (r["term"], r["field"], int(r["salt"]))
            keep.add(bkey)
            if (
                rng is not None
                and len(kept_subs) < len(subs)
                and bkey_counts[bkey] == 1
            ):
                # carry the block's OWN chunk count (len(range_maxw))
                # so the decode maps indices with the n_sub this block
                # was encoded with, never a module constant that may
                # have changed between build and serve
                keep_ranges[bkey] = (len(subs), kept_subs)

    # doc-level candidate pruning: admissible iff any unsampled doc's
    # best case (incomplete groups' maxima + PR mass) provably misses
    # the threshold
    cand: list[int] | None = None
    # .get: a group whose blended factor is 0 (e.g. w_title=0 body-only
    # ranking) lands in `incomplete` with bound 0.0, which the `>` guard
    # above never inserted — its contribution to u_out is rightly zero
    u_out = sum(unsampled_ub.get(g, 0.0) for g in incomplete) + extra_ub
    if u_out < thr_eps:
        cand = sorted(
            {dk for r in meta_rows for dk in (r["top_doc_keys"] or [])}
        )
    return keep, threshold, cand, keep_ranges


def wand_topk_from_shards(
    spark: SparkSession,
    shards: DataFrame,
    doc_map: DataFrame | None,
    query_terms: list[str],
    cfg: EngineConfig = DEFAULT,
    k: int | None = None,
    n_buckets: int = 16,
    pagerank=None,
    meta_cache: dict | None = None,
    two_phase: bool | str = False,
    pr_max_key: str = _PR_MAX_KEY,
) -> DataFrame:
    """Exact top-k straight from the compressed posting shards: pruned
    shard scan -> varbyte decode (mapInPandas) -> block-max WAND. With
    a plan that fits one task (the planner's decode volume vs
    ``cfg.query_target_postings_per_task``), decode and the bucket
    kernel share one Python pass and the top-k job is one stage
    (_one_task_topk); otherwise postings shuffle to the bucket kernel.

    ``two_phase=True`` refines the skip threshold with one extra
    distributed round: decode ONLY the sampled docs' postings (the
    planner's candidate filter over every query-term block), score them
    EXACTLY, and use the k-th best exact score — a lower bound on the
    true k-th result (PageRank mass is omitted and only adds) — as a
    floor for the planner threshold. The single-phase threshold sums
    per-block sample PARTIALS, which miss a doc's contributions from
    blocks where it wasn't sampled; wave 1 restores them, so its floor
    dominates both the old best-block-per-group wave and the sample
    partials. Multi-term bags skip little without it (the admissible
    cross-term bound needs a near-true k-th to bite — measured on the
    Zipf hot bag: threshold 0.46 vs true 0.508 is the difference
    between keeping 46/48 and ~2/3 of that). Costs one extra job per
    query whose decode re-reads the key streams but transfers only
    |samples| rows, so it's opt-in: right for long posting lists at
    scale, wrong for latency-bound tiny corpora. Exactness argument is
    plan_blocks', unchanged: both thresholds are lower bounds on the
    true k-th score. ``two_phase="auto"`` lets the planner decide per
    query: the wave runs only when the single-phase plan would decode
    at least ``cfg.two_phase_auto_min_postings`` postings (the kept
    blocks' summed df, already on the driver) — the serving facade's
    default, so tiny corpora never pay the extra job and long posting
    lists always get the tighter plan. The decision is recorded in
    ``LAST_SKIP_STATS["two_phase"]``. When ``meta_cache`` is supplied the
    wave-1 floor is cached beside the term metadata keyed by (bag, k,
    field/blend weights) — the floor is a deterministic, PR-independent
    function of the shards frame, the bag, and the cfg's scoring
    weights, so a REPEAT query reuses it, plans with the near-oracle
    threshold, and skips the wave's extra job entirely
    (``LAST_SKIP_STATS["floor_cached"]``); invalidation rides the
    existing meta_cache contract (drop the dict when shards change).

    This is the north-rule query path at scale: the scan touches only
    the |terms| shard partitions (``shard = hash60(term) % n_shards``
    derived driver-side) and only the query terms' block rows inside
    them; everything else never leaves parquet.

    The shards key docs by the dense ``doc_idx`` from build_doc_dim
    (``doc_key``), which is assigned in GLOBAL doc_id sort order — so
    (score desc, doc_key asc) is the same total order as (score desc,
    doc_id asc) and scoring runs entirely on long keys, with the
    vectorized kernel only. With ``doc_map=None`` (the serving engine)
    the result is the k rows (doc_key, title_rank, body_rank, pagerank,
    score): ONE Spark job, and the caller reads the k keys' doc_cards
    rows. A direct caller that passes a (doc_key long, doc_id string)
    ``doc_map`` gets doc_id strings (hydrate_doc_ids: a broadcast of
    the k-row side).

    ``pagerank``: the blend's PageRank as the kernel's Broadcast lookup
    (a dense float64 vector indexed by doc_key — what the engine builds
    once per cards version), or an ad-hoc (doc_id, rank) frame that is
    collected into one through ``doc_map`` (pr_broadcast). Either way the
    rank is added inside the bucket kernel; no join enters the plan.

    ``meta_cache``: optional dict owned by the caller, mapping term ->
    its block-metadata rows. A serving node queries the same shards
    frame repeatedly; without the cache every query pays one extra
    driver job just to fetch the (tiny) per-term block metadata for
    skip planning. With it, only first-seen terms are collected — the
    in-memory term dictionary every native engine keeps, made explicit.
    The caller must drop the dict when the shards frame is rebuilt.

    ``pr_max_key``: the meta_cache slot for the cached PageRank blend
    maximum. The per-term block rows are pagerank-INVARIANT, so a caller
    serving several PR vectors over the same shards (topic-sensitive
    blending) shares ONE cache and keys only the pr_max slot per vector
    (e.g. ``_PR_MAX_KEY + ":" + topic``) — a stale pr_max under a
    different vector would break skip-planner admissibility, while
    duplicating the term metadata per vector just wastes fetches. Must
    start with NUL so it can never shadow a term's entry.
    """
    from collections import Counter

    from .compression import decode_shards, prune_shards

    if cfg.scorer != "bm25":
        raise ValueError("shard-backed WAND requires bm25 impact weights")
    k = k or cfg.top_k
    if not query_terms:
        return empty_topk(spark, by_doc_id=doc_map is not None)
    counts = Counter(query_terms)
    term_list = sorted(counts)
    qtf = {t: float(counts[t]) for t in term_list}
    pruned = prune_shards(shards, term_list, cfg)
    pr_bc = pr_broadcast(spark, pagerank, doc_map, dense_keys=True)

    cand_keys = None
    q_parts = None
    # block-max skipping BEFORE decode: read ONLY the block metadata
    # columns (parquet column pruning — the varbyte payloads stay on
    # disk), derive an exact threshold from the per-block top-N
    # samples, and decode only blocks whose upper bound can beat it.
    # (term_block_meta degrades to None on pre-metadata shard frames —
    # the planner then decodes everything, as before.)
    from .compression import term_block_meta

    meta = term_block_meta(shards, term_list, cfg, meta_cache)
    if meta is not None:
        extra_ub = 0.0
        if pagerank is not None:
            # cache the PR blend maximum alongside the term metadata, so
            # the repeat-query path never touches the lookup table on the
            # driver. The reserved key can't collide: the tokenizer never
            # emits NUL.
            if not pr_max_key.startswith("\x00"):
                raise ValueError("pr_max_key must start with NUL")
            if meta_cache is not None and pr_max_key in meta_cache:
                pr_max = meta_cache[pr_max_key]
            else:
                table = pr_bc.value
                pr_max = float(table.max()) if len(table) else 0.0
                if meta_cache is not None:
                    meta_cache[pr_max_key] = pr_max
            extra_ub = cfg.w_pagerank * cfg.blend_scale * float(pr_max or 0.0)
        # exact-floor cache: the wave-1 floor is a pure function of
        # (shards, bag, k) AND the scoring weights the wave multiplies
        # in (w_title/w_body/blend_scale — so those are part of the
        # key: a floor computed under heavier field weights would be an
        # INADMISSIBLE threshold for a lighter cfg sharing the cache).
        # PR-independent (wave scores omit PR mass). A serving node
        # sees the same hot bags over and over; caching the floor
        # beside the term metadata gives repeat queries the near-oracle
        # two-phase plan at single-phase cost (zero extra jobs). The
        # cache dies with meta_cache, which the caller must drop
        # whenever the shards frame changes — exactly the invalidation
        # the floor needs for admissibility.
        floor_key = (
            "\x00floor:" + repr((
                tuple(sorted(qtf.items())), k,
                cfg.w_title, cfg.w_body, cfg.blend_scale,
            ))
            if meta_cache is not None
            else None
        )
        cached_floor = (
            meta_cache.get(floor_key) if floor_key is not None else None
        )
        LAST_SKIP_STATS["floor_cached"] = int(cached_floor is not None)
        keep, _thr, cand_keys, keep_ranges = plan_blocks(
            meta, cfg, qtf, k, extra_ub, min_threshold=cached_floor
        )
        if cached_floor is not None:
            # the cached floor IS what the wave would recompute — same
            # shards, same bag, same k — so the wave adds nothing
            run_wave = False
        elif two_phase == "auto":
            # decide from the plan itself: the kept blocks' total df IS
            # the decode volume the exact-floor wave can cut, and it is
            # already on the driver — no extra action. Below the
            # threshold the wave's fixed job cost dominates any saving
            # (the measured local regime); above it, skipped posting
            # volume grows with the corpus while the wave cost stays
            # O(|samples| x |groups|). When DOC-level candidate pruning
            # is already admissible, phase 2 scales with |candidates|
            # regardless of kept blocks — the wave would be a strictly
            # wasteful extra decode pass, so skip it.
            run_wave = (
                cand_keys is None
                and _plan_df(meta, keep) >= cfg.two_phase_auto_min_postings
            )
        elif isinstance(two_phase, str):
            # loud guard: "Auto"/"off"/any other string would silently
            # bool() to True — enabling the wave a caller tried to
            # disable is the worst possible misread
            raise ValueError(
                f"two_phase={two_phase!r}: expected True, False, or 'auto'"
            )
        else:
            run_wave = bool(two_phase)
        LAST_SKIP_STATS["two_phase"] = int(run_wave)
        if run_wave and meta:
            # wave 1: exact scores for every SAMPLED doc — decode all
            # query-term blocks restricted to the sample-union keys, so
            # each sampled doc's cross-term score is complete (vs the
            # single-phase partials, which miss a doc's weight in blocks
            # where it wasn't sampled). Arrow transfer and aggregation
            # are O(|samples| * |groups|), never posting-volume.
            sample_keys = sorted(
                {dk for r in meta for dk in (r["top_doc_keys"] or [])}
            )
            fw1 = (
                F.when(F.col("field") == FIELD_TITLE, F.lit(cfg.w_title))
                .when(F.col("field") == FIELD_BODY, F.lit(cfg.w_body))
                .otherwise(F.lit(0.0))
            )
            d1 = decode_shards(
                pruned, fields=("weight",), doc_keys=sample_keys
            )
            rows1 = (
                d1.groupBy("doc_key")
                .agg(
                    F.sum(
                        fw1 * F.col("weight") * term_lookup(qtf)
                        * F.lit(cfg.blend_scale)
                    ).alias("s")
                )
                .orderBy(F.desc("s"))
                .limit(k)
                .collect()
            )
            if len(rows1) == k:
                # exact partial scores are lower bounds (PR and undecoded
                # blocks only add non-negative mass)
                floor = float(rows1[-1]["s"])
                if floor_key is not None:
                    meta_cache[floor_key] = floor
                keep, _thr, cand_keys, keep_ranges = plan_blocks(
                    meta, cfg, qtf, k, extra_ub, min_threshold=floor
                )
        LAST_SKIP_STATS["total"] = len(meta)
        LAST_SKIP_STATS["kept"] = len(keep)
        LAST_SKIP_STATS["total_df"] = _plan_df(meta, None)
        LAST_SKIP_STATS["kept_df"] = _plan_df(meta, keep)
        # range-level telemetry: sub-ranges kept vs total, and the
        # DECODED posting volume after range pruning — the number that
        # scales with the corpus (equi-depth chunk counts derived from
        # each block's df, matching the decode's positional filter)
        n_rng = n_rng_kept = rng_df = 0
        for r in meta:
            rngs = _row_ranges(r)
            n_sub = len(rngs[1]) if rngs is not None else 1
            n_rng += n_sub
            bkey = (r["term"], r["field"], int(r["salt"]))
            if bkey not in keep:
                continue
            try:
                df_r = int(r["df"] or 0)
            except (ValueError, KeyError):
                df_r = 0
            sel = keep_ranges.get(bkey)
            if sel is None or rngs is None:
                n_rng_kept += n_sub
                rng_df += df_r
            else:
                n_rng_kept += len(sel[1])
                rng_df += int(_range_counts(df_r, sel[0])[sel[1]].sum())
        LAST_SKIP_STATS["total_ranges"] = n_rng
        LAST_SKIP_STATS["kept_ranges"] = n_rng_kept
        LAST_SKIP_STATS["decoded_df"] = rng_df
        LAST_SKIP_STATS["cand_docs"] = (
            len(cand_keys) if cand_keys is not None else -1
        )
        if len(keep) < len(meta):
            keep_keys = [f"{t}\x01{f}\x01{s}" for t, f, s in sorted(keep)]
            pruned = pruned.filter(F.expr(in_sql(
                "concat_ws('\x01', term, field, CAST(salt AS STRING))",
                keep_keys,
            )))
        # scale-adaptive task sizing (guide §2.2): the planner knows the
        # decode volume, so size the decode stage and the bucket-kernel
        # shuffle from it — tiny queries collapse to 1-2 tasks per stage
        # (per-task scheduling + Python round-trips dominate them), hot
        # queries over long posting lists fan out, from the same rule.
        vol = rng_df
        if cand_keys is not None:
            n_groups = len({(r["term"], r["field"]) for r in meta})
            vol = min(vol, len(cand_keys) * max(n_groups, 1))
        target = max(int(cfg.query_target_postings_per_task), 1)
        q_parts = max(1, min(-(-vol // target), n_buckets))
        # coalesce is narrow (no shuffle) and only ever shrinks: kept
        # blocks spread over scan partitions merge into ~q_parts decode
        # tasks instead of one near-empty Python task per partition
        pruned = pruned.coalesce(int(q_parts))

    # term-bag scoring needs ONLY the precomputed impact weights: skip
    # the tf/positions varbyte decode and their Arrow transfer entirely;
    # when the planner proved doc-level pruning admissible, only the
    # candidate postings survive the decode (everything downstream —
    # Arrow, bucket shuffle, kernel — scales with |candidates|), and
    # kept blocks additionally shed their provably-sub-threshold
    # sub-ranges (range-level pruning — see plan_blocks)
    decode_kw = {
        "doc_keys": cand_keys,
        "key_ranges": (keep_ranges or None) if meta is not None else None,
    }
    if q_parts == 1:
        # the planned volume fits one task, which then holds every
        # posting of every doc: decode and score in one Python pass
        ranked = _one_task_topk(pruned, cfg, k, pr_bc, qtf, **decode_kw)
    else:
        decoded = decode_shards(pruned, fields=("weight",), **decode_kw)
        # score on the dense long keys; doc_id strings only after top-k
        hits = decoded.withColumnRenamed("doc_key", "doc_id").select(
            "doc_id", "field",
            (F.col("weight") * term_lookup(qtf)).alias("contrib"),
        )
        ranked = _wand_from_hits(
            hits, cfg, k, n_buckets, pr_bc, shuffle_parts=q_parts
        )
    if doc_map is None:
        return ranked.withColumnRenamed("doc_id", "doc_key")
    return hydrate_doc_ids(ranked, doc_map, k)


def empty_topk(spark: SparkSession, by_doc_id: bool) -> DataFrame:
    """The zero-row top-k, keyed like a non-empty result: ``doc_id
    string`` for rows that carry doc ids (the in-memory index, a shard
    query given a doc_map), else ``doc_key long`` (the serving engine)."""
    key = "doc_id string" if by_doc_id else "doc_key long"
    return spark.createDataFrame(
        [], f"{key}, title_rank double, body_rank double, "
        "pagerank double, score double"
    )

