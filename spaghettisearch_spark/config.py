"""Engine configuration.

Scoring semantics follow the reference's retrieval pipeline
(/root/reference/retrieval/get_metadata.go:53-69 — field-weighted blend
(0.33*pagerank + 0.38*title + 0.29*body)*100) with BM25 term weighting as
the primary scorer per the north rule; ``tfidf_cosine`` mode reproduces
the reference's normalized tf-idf cosine exactly
(/root/reference/indexer/indexer.go:362, ranking/term_weighting.go:37).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # BM25 parameters (north-rule primary scorer)
    k1: float = 1.2
    b: float = 0.75
    # scorer: "bm25" | "tfidf_cosine" (reference-exact mode)
    scorer: str = "bm25"

    # blend weights, reference get_metadata.go:69: (0.33 PR + 0.38 title + 0.29 body)*100
    w_pagerank: float = 0.33
    w_title: float = 0.38
    w_body: float = 0.29
    blend_scale: float = 100.0

    # top-k (reference main_retrieve.go:99-103)
    top_k: int = 50

    # PageRank (reference cmd/crawl/start_crawl.go:175)
    damping: float = 0.75
    pr_epsilon: float = 1e-8  # reference uses 1e-20; unreachable in float64 at scale
    pr_max_iters: int = 30
    # ranks are tiny next to the corpus; checkpointing every iteration
    # bounds lineage AND feeds the per-iteration convergence check for free
    pr_checkpoint_every: int = 1

    # posting shards
    n_shards: int = 32
    # hot-term salting: terms with df above this fraction of docs split
    # into `n_salts` bounded blocks — weight-QUANTILE buckets (impact-
    # ordered: block maxima decay, so block-max WAND can skip the tail),
    # falling back to doc-hash buckets per group on degenerate tied
    # weights (compression.py build_posting_shards)
    salt_df_threshold: float = 0.10
    n_salts: int = 16
    # ABSOLUTE per-block posting bound: quantile buckets cap a block at
    # ~df/n_salts, which is still unbounded as df grows (a stopword at
    # 10^12 docs would put ~6e10 postings through one collect_list
    # task). Any group — hot-quantile bucket OR cold single block —
    # whose expected size exceeds this target is further doc-hash-split
    # into ceil(size/target) sub-salts, so no encode task ever
    # materializes more than ~this many postings regardless of corpus
    # size. Default is far above the test/bench corpora (which stay
    # byte-identical); production at 10^12 docs would set ~1e6.
    block_target_postings: int = 65536
    # two_phase="auto" threshold: run the exact-floor wave only when the
    # single-phase plan would decode at least this many postings. The
    # wave costs one fixed extra job (scheduler round + key-stream
    # decode, transferring only |samples| rows) and pays off in skipped
    # decode volume (~25% of blocks on the measured hot bag) — so it is
    # profitable exactly when kept posting volume is large. The default
    # keeps auto OFF for the local test/bench corpora (where the job
    # overhead dominates, measured 2.1 s vs 1.3 s) and ON in the
    # long-posting-list regime the operator exists for.
    two_phase_auto_min_postings: int = 200_000
    # scale-adaptive per-task sizing for the shard QUERY path (guide §2):
    # the skip planner already knows the decode volume (kept blocks'
    # summed df after range/candidate pruning), so the decode stage and
    # the bucket-kernel shuffle are sized to ~this many postings per
    # task instead of inheriting corpus-scale partition defaults. A WAND
    # bag whose volume fits ONE task (every WAND bag over the local test
    # and benchmark corpora) runs its top-k as one stage of one task:
    # decode and score in one Python pass, no bucket shuffle. A hot
    # query over 10^9-posting lists fans out to thousands of tasks and
    # keeps the shuffled tail, from the same rule. Phrase queries and
    # use_wand=False term queries keep the shuffled tail at any size.
    # Matches block_target_postings' order of magnitude.
    query_target_postings_per_task: int = 65536

    # stemming on/off (oracle SQL path runs unstemmed)
    stem: bool = True
    remove_stopwords: bool = True


DEFAULT = EngineConfig()
