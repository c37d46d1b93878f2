"""Property test for the skip planner's admissibility — driver-side,
no Spark session, hundreds of random cases per run.

The invariant under test is the one every exactness proof in
wand.plan_blocks rests on: for ANY posting data consistent with its
block metadata, every true top-k doc has ALL of its postings inside
kept blocks AND kept sub-ranges (so its computed score is exact), and
the doc-level candidate list (when returned) contains every true top-k
doc. Metadata here is built with the encoder's own formulas (equi-depth
chunks over doc_key-sorted postings, per-chunk Pareto (tf, dl) impacts,
top-N samples by the encode-time impact and the rest's impacts), so
a drift between encoder chunking and planner/decoder index mapping
would fail this test as well.

The blocks are encoded under statistics A (their samples chosen by the
BM25 weight under A) and planned and scored under statistics B: twice
the docs, an average length 50% off, each term's encode-time df
shifted. Samples chosen under A are not B's top postings, so only
bounds that hold under any statistics keep the plan exact.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from spaghettisearch_spark.config import DEFAULT
from spaghettisearch_spark.operators.compression import (
    BLOCK_SAMPLE_N,
    RANGE_SUB_N,
)
from spaghettisearch_spark.operators.index_build import CorpusStats
from spaghettisearch_spark.operators.wand import plan_blocks


class _Row(dict):
    """plan_blocks reads rows via __getitem__ — a dict suffices."""

    __getattr__ = dict.__getitem__


def _pareto_ref(tfs, dls):
    """Non-dominated (tf, dl) pairs by brute force, (tf desc, dl asc)."""
    pairs = sorted(set(zip(map(int, tfs), map(int, dls))), key=lambda p: (-p[0], p[1]))
    return [
        p for p in pairs
        if not any(q != p and q[0] >= p[0] and q[1] <= p[1] for q in pairs)
    ]


def reference_meta_row(term, field, salt, keys, tfs, dls, order):
    """Encoder-faithful metadata of one block from its key-sorted
    ``keys`` and their ``tfs``, doc lengths ``dls`` and encode-time
    impact ``order``, written out independently of
    compression.block_skip_meta. A sample-complete block (df <=
    BLOCK_SAMPLE_N) is its own sample in key order, with no impacts;
    any other samples its top-N by ``order`` (stable) and stores each
    equi-depth chunk's Pareto (tf, dl) pairs, then the unsampled
    rest's, behind the group count and each group's pair count."""
    n = len(keys)
    n_sub = int(min(RANGE_SUB_N, n))
    sub_starts = (np.arange(n_sub) * n) // n_sub
    row = _Row(
        term=term, field=field, salt=salt, df=n,
        range_bounds=[int(k) for k in keys[sub_starts]] + [int(keys[-1])],
    )
    if n <= BLOCK_SAMPLE_N:
        row.update(
            top_doc_keys=[int(k) for k in keys],
            top_tfs=[int(t) for t in tfs], impacts=None,
        )
        return row
    top = np.argsort(-order, kind="stable")[:BLOCK_SAMPLE_N]
    rest = np.setdiff1d(np.arange(n), top)
    groups = [
        _pareto_ref(tfs[lo:hi], dls[lo:hi])
        for lo, hi in zip(sub_starts, list(sub_starts[1:]) + [n])
    ] + [_pareto_ref(tfs[rest], dls[rest])]
    row.update(
        top_doc_keys=[int(keys[i]) for i in top],
        top_tfs=[int(tfs[i]) for i in top],
        impacts=[len(groups)] + [len(g) for g in groups]
        + [x for g in groups for p in g for x in p],
    )
    return row


def _bm25(tf, dl, df, n_docs, avgdl, cfg=DEFAULT):
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return idf * tf * (cfg.k1 + 1.0) / (
        tf + cfg.k1 * (1 - cfg.b + cfg.b * dl / avgdl)
    )


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 10_000), st.integers(1, 4), st.integers(1, 3))
def test_plan_admissibility_random(seed, n_terms, n_salts):
    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(10, 400))
    k = int(rng.integers(1, 20))
    dl = rng.integers(1, 500, size=n_docs)
    avgdl_a = float(dl.mean())
    # statistics B: twice the docs, the average length 50% off
    n_b = 2 * n_docs
    avgdl_b = avgdl_a * float(rng.choice([0.5, 1.5]))
    stats = CorpusStats(
        {"body": n_b}, {"body": avgdl_b * n_b}, {"body": dl.astype(np.float64)}
    )

    rows, postings = [], {}
    for t in range(n_terms):
        term = f"t{t}"
        # each term hits a random subset of docs, salted by key mod
        df_total = int(rng.integers(1, n_docs + 1))
        keys_all = rng.choice(n_docs, size=df_total, replace=False)
        # the df the blocks were encoded under (shifted from the true one)
        df_a = max(1, int(df_total * rng.uniform(0.3, 3.0)))
        for salt in range(n_salts):
            keys = np.sort(keys_all[keys_all % n_salts == salt]).astype(np.int64)
            if len(keys) == 0:
                continue
            tfs = rng.integers(1, 20, size=len(keys))
            order = np.array([
                _bm25(tf, dl[d], df_a, n_docs, avgdl_a) for tf, d in zip(tfs, keys)
            ])
            rows.append(
                reference_meta_row(term, "body", salt, keys, tfs, dl[keys], order)
            )
            postings[(term, "body", salt)] = (keys, tfs)
    if not rows:
        return
    qtf = {f"t{t}": 1.0 for t in range(n_terms)}
    keep, threshold, cand, keep_ranges = plan_blocks(
        rows, DEFAULT, qtf, k, stats=stats
    )

    # brute-force true scores under B: df = the blocks' summed df
    df_b: dict = {}
    for (term, _f, _s), (keys, _t) in postings.items():
        df_b[term] = df_b.get(term, 0) + len(keys)
    factor = DEFAULT.w_body * DEFAULT.blend_scale
    score = np.zeros(n_docs)
    for (term, _f, _s), (keys, tfs) in postings.items():
        for d, tf in zip(keys, tfs):
            score[d] += factor * _bm25(tf, dl[d], df_b[term], n_b, avgdl_b)
    order = np.argsort(-score, kind="stable")
    topk = [d for d in order[:k] if score[d] > 0]

    # every top-k doc's every posting is in a kept block and kept range
    for bkey, (keys, _tfs) in postings.items():
        n = len(keys)
        n_sub = int(min(RANGE_SUB_N, n))
        edges = (np.arange(n_sub + 1, dtype=np.int64) * n) // n_sub
        for d in topk:
            pos = np.searchsorted(keys, d)
            if pos >= n or keys[pos] != d:
                continue  # doc has no posting in this block
            assert bkey in keep, (
                f"top-{k} doc {d} posting in dropped block {bkey}; "
                f"threshold={threshold}"
            )
            sel = keep_ranges.get(bkey)
            if sel is not None:
                n_sub_sel, kept_idx = sel
                assert n_sub_sel == n_sub
                chunk = int(np.searchsorted(edges, pos, side="right")) - 1
                assert chunk in kept_idx, (
                    f"top-{k} doc {d} posting in dropped range {chunk} "
                    f"of {bkey}"
                )
    # candidate pruning: every top-k doc must be in the list
    if cand is not None:
        cs = set(cand)
        for d in topk:
            assert d in cs, f"top-{k} doc {d} missing from candidates"
