"""Property test for the skip planner's admissibility — driver-side,
no Spark session, hundreds of random cases per run.

The invariant under test is the one every exactness proof in
wand.plan_blocks rests on: for ANY posting data consistent with its
block metadata, every true top-k doc has ALL of its postings inside
kept blocks AND kept sub-ranges (so its computed score is exact), and
the doc-level candidate list (when returned) contains every true top-k
doc. Metadata here is built with the encoder's own formulas (equi-depth
chunks over doc_key-sorted postings, per-chunk maxima, top-N-by-weight
samples), so a drift between encoder chunking and planner/decoder
index mapping would fail this test as well.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from spaghettisearch_spark.config import DEFAULT
from spaghettisearch_spark.operators.compression import (
    BLOCK_SAMPLE_N,
    RANGE_SUB_N,
)
from spaghettisearch_spark.operators.wand import plan_blocks


class _Row(dict):
    """plan_blocks reads rows via __getitem__ — a dict suffices."""

    __getattr__ = dict.__getitem__


def reference_meta_row(term, field, salt, keys, weights):
    """Encoder-faithful metadata of one block from its key-sorted
    ``keys`` and their ``weights``, written out independently of
    compression.block_skip_meta: top-N by weight (stable), equi-depth
    chunk starts plus the last key, per-chunk maxima."""
    n = len(keys)
    top = np.argsort(-weights, kind="stable")[:BLOCK_SAMPLE_N]
    n_sub = int(min(RANGE_SUB_N, n))
    sub_starts = (np.arange(n_sub) * n) // n_sub
    return _Row(
        term=term,
        field=field,
        salt=salt,
        df=n,
        max_weight=float(weights.max()),
        top_doc_keys=[int(keys[i]) for i in top],
        top_weights=[float(weights[i]) for i in top],
        range_bounds=[int(k) for k in keys[sub_starts]] + [int(keys[-1])],
        range_maxw=[
            float(m) for m in np.maximum.reduceat(weights, sub_starts)
        ],
    )


def _meta_rows(rng, n_terms, n_docs, n_salts):
    """Random postings + encoder-faithful metadata. Returns (rows,
    postings) where postings maps (term, field, salt) -> (keys, weights)
    sorted by key."""
    rows = []
    postings = {}
    for t in range(n_terms):
        term = f"t{t}"
        # each term hits a random subset of docs, salted by key mod
        df_total = int(rng.integers(1, n_docs + 1))
        keys_all = rng.choice(n_docs, size=df_total, replace=False)
        for salt in range(n_salts):
            keys = np.sort(keys_all[keys_all % n_salts == salt]).astype(
                np.int64
            )
            if len(keys) == 0:
                continue
            weights = rng.uniform(0.01, 10.0, size=len(keys))
            rows.append(reference_meta_row(term, "body", salt, keys, weights))
            postings[(term, "body", salt)] = (keys, weights)
    return rows, postings


@settings(max_examples=60, deadline=None)
@given(st.integers(0, 10_000), st.integers(1, 4), st.integers(1, 3))
def test_plan_admissibility_random(seed, n_terms, n_salts):
    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(10, 400))
    k = int(rng.integers(1, 20))
    rows, postings = _meta_rows(rng, n_terms, n_docs, n_salts)
    if not rows:
        return
    qtf = {f"t{t}": 1.0 for t in range(n_terms)}
    keep, threshold, cand, keep_ranges = plan_blocks(rows, DEFAULT, qtf, k)

    # brute-force true scores
    factor = DEFAULT.w_body * DEFAULT.blend_scale
    score = np.zeros(n_docs)
    for (term, _f, _s), (keys, weights) in postings.items():
        score[keys] += weights * factor
    order = np.argsort(-score, kind="stable")
    topk = [d for d in order[:k] if score[d] > 0]

    # every top-k doc's every posting is in a kept block and kept range
    for (term, f, salt), (keys, weights) in postings.items():
        bkey = (term, f, salt)
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
