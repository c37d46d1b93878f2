"""Reference document-at-a-time WAND kernel — parity oracle ONLY.

The classic per-row heap/pivot DAAT kernel (per-term cursors, upper-bound
pivoting, a local top-k heap). It is deliberately NOT part of the engine:
the production bucket kernel is the vectorized scatter-add in
operators/wand.py (_score_bucket_vectorized), and per-row Python must not
be reachable from any serving path — the engine has no hook to inject a
kernel. tests/test_wand.py runs this kernel on the driver over a query's
collected shard postings (one bucket holding every doc) and asserts it
equals the exhaustive scorer, as the shard planner's kernel must —
keeping the cross-check without shipping the slow path.

Reference analog: the skipping form of retrieval/main_retrieve.go:50-97's
candidate evaluation (the reference evaluates exhaustively; this is the
classic WAND formulation of the same semantics).
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd


class _InvStr(str):
    """String with reversed ordering — lets the min-heap treat the
    LARGEST doc_id as worst among equal scores, matching the global
    (score desc, doc_id asc) total order."""

    __slots__ = ()

    def __lt__(self, other):  # type: ignore[override]
        return str.__gt__(self, other)

    def __gt__(self, other):  # type: ignore[override]
        return str.__lt__(self, other)


def make_daat_kernel(cfg, k: int):
    """Build the per-bucket kernel. Input pdf columns:
    doc_id, qterm_id (dense 0..m-1), contrib (blended per-field impact),
    title_c, body_c. Emits local top-k rows."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(columns=["doc_id", "title_rank", "body_rank", "score"])
        m = int(pdf["qterm_id"].max()) + 1
        # organize per-term posting arrays sorted by doc_id
        term_docs: list[np.ndarray] = []
        term_scores: list[np.ndarray] = []
        term_title: list[np.ndarray] = []
        term_body: list[np.ndarray] = []
        ubs = np.zeros(m)
        for t in range(m):
            sub = pdf[pdf["qterm_id"] == t]
            if sub.empty:
                term_docs.append(np.array([], dtype=object))
                term_scores.append(np.zeros(0))
                term_title.append(np.zeros(0))
                term_body.append(np.zeros(0))
                continue
            sub = sub.sort_values("doc_id")
            term_docs.append(sub["doc_id"].to_numpy())
            term_scores.append(sub["contrib"].to_numpy(dtype=np.float64))
            term_title.append(sub["title_c"].to_numpy(dtype=np.float64))
            term_body.append(sub["body_c"].to_numpy(dtype=np.float64))
            ubs[t] = term_scores[-1].max()

        ptrs = np.zeros(m, dtype=np.int64)
        lens = np.array([len(d) for d in term_docs], dtype=np.int64)
        # heap entries: (score, _InvStr(doc_id), doc_id, title, body) — the
        # min element is the worst-kept doc under (score desc, doc_id asc)
        heap: list[tuple] = []
        threshold = -np.inf

        def cur_doc(t):
            return term_docs[t][ptrs[t]] if ptrs[t] < lens[t] else None

        while True:
            # order live terms by current doc id (WAND sort step)
            live = [(cur_doc(t), t) for t in range(m) if ptrs[t] < lens[t]]
            if not live:
                break
            live.sort(key=lambda x: x[0])
            # find pivot: smallest prefix whose UB sum can still enter the
            # heap (>= threshold: an exact tie can win on doc_id order)
            acc = 0.0
            pivot_idx = -1
            for i, (_, t) in enumerate(live):
                acc += ubs[t]
                if acc >= threshold or len(heap) < k:
                    pivot_idx = i
                    break
            if pivot_idx < 0:
                break  # no doc can beat the threshold
            pivot_doc = live[pivot_idx][0]
            if live[0][0] == pivot_doc:
                # fully evaluate pivot_doc
                s = tt = bb = 0.0
                for d, t in live:
                    p = ptrs[t]
                    if p < lens[t] and term_docs[t][p] == pivot_doc:
                        s += term_scores[t][p]
                        tt += term_title[t][p]
                        bb += term_body[t][p]
                        ptrs[t] += 1
                entry = (s, _InvStr(pivot_doc), pivot_doc, tt, bb)
                if len(heap) < k:
                    heapq.heappush(heap, entry)
                elif entry[:2] > heap[0][:2]:
                    heapq.heapreplace(heap, entry)
                if len(heap) == k:
                    threshold = heap[0][0]
            else:
                # advance all terms before the pivot to >= pivot_doc
                for d, t in live[:pivot_idx]:
                    arr = term_docs[t]
                    ptrs[t] += int(
                        np.searchsorted(arr[ptrs[t]:], pivot_doc, side="left")
                    )
        rows = [
            {"doc_id": d, "title_rank": tt, "body_rank": bb, "score": s}
            for (s, _inv, d, tt, bb) in heap
        ]
        return pd.DataFrame(rows, columns=["doc_id", "title_rank", "body_rank", "score"])

    return kernel
