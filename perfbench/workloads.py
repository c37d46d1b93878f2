"""The benchmark's workloads, driven through the engine's public API.

Each workload function takes a ``Ctx`` (session, tracer, work dirs,
parameters from ``design.json``) and returns a ``Result``: timed records
and measured values that ``run.py`` turns into metrics.
"""

from __future__ import annotations

import contextlib
import math
import os
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

import corpus as gen
import loadgen


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    params: dict
    work: Path
    tracer: object | None  # tracing.Tracer when --trace 1


@dataclass
class Result:
    setup_s: float = 0.0
    build_docs: int = 0
    build_s: float = 0.0
    warehouse_bytes: int = 0
    input_bytes: int = 0
    queries: list = field(default_factory=list)  # open-loop query records
    burst_wall_s: float = 0.0  # closed loop: start to last completion
    batch_s: list = field(default_factory=list)
    batch_docs: int = 0
    batch_attrs: list = field(default_factory=list)
    burst: list = field(default_factory=list)  # closed-loop records
    paused_s: float = 0.0  # open-loop schedule stopped for merge commits
    timed: tuple = (0.0, 0.0)  # perf_counter start and end of the timed region
    attempted: int = 0
    failures: list = field(default_factory=list)  # (what, why)
    oracle_s: float = 0.0


def dir_files(root: Path) -> dict:
    """{relative path: (size, mtime_ns)} of every file under ``root``."""
    out = {}
    for dp, _dn, fns in os.walk(root):
        for fn in fns:
            st = os.stat(os.path.join(dp, fn))
            out[os.path.relpath(os.path.join(dp, fn), root)] = (st.st_size, st.st_mtime_ns)
    return out


def _span(ctx: Ctx, name: str):
    return ctx.tracer.span(name) if ctx.tracer else contextlib.nullcontext({"attrs": {}})


class Gate:
    """Queries share the gate; a merge commit takes it alone. A query
    planned against the warehouse's old file listing fails once
    ``apply_merge`` overwrites those files, so no query may span a commit.
    The open loop lets no request fall due during a commit; one sent just
    as a commit starts waits, and that wait counts in its latency."""

    def __init__(self):
        self._cond = threading.Condition()
        self._readers = 0
        self._writing = False

    @contextlib.contextmanager
    def read(self):
        with self._cond:
            while self._writing:
                self._cond.wait()
            self._readers += 1
        try:
            yield
        finally:
            with self._cond:
                self._readers -= 1
                self._cond.notify_all()

    def wait_idle(self) -> float:
        """Blocks while a writer holds the gate; returns the seconds waited."""
        t = time.perf_counter()
        with self._cond:
            while self._writing:
                self._cond.wait()
        return time.perf_counter() - t

    @contextlib.contextmanager
    def write(self):
        with self._cond:
            self._writing = True  # new queries wait from now on
            while self._readers:
                self._cond.wait()
        try:
            yield
        finally:
            with self._cond:
                self._writing = False
                self._cond.notify_all()


# ---------------------------------------------------------------------------
# shared set-up: corpus, cold engine build, warm-up
# ---------------------------------------------------------------------------

def setup(ctx: Ctx, res: Result, n_docs: int, n_base: int, warm: bool):
    """Corpus of ``n_docs`` documents, cold warehouse build over the first
    ``n_base`` of them and, with ``warm``, one warm-up query on ranks no
    pool query uses."""
    from spaghettisearch_spark.api import SearchEngine

    docs = gen.make_corpus(ctx.spark, n_docs, ctx.seed, planted_from=n_base)
    base = ctx.spark.createDataFrame(docs.slice(0, n_base))
    wh = ctx.work / "warehouse"
    with _span(ctx, "bench.build"):
        t = time.perf_counter()
        eng = SearchEngine.build(ctx.spark, base, warehouse_dir=str(wh))
        res.build_s = time.perf_counter() - t
    res.build_docs = n_base
    if warm:
        eng.query(gen.WARMUP_QUERY, 10, use_wand=True, backend="shards")
    return docs, eng, wh


def make_send(ctx: Ctx, eng, gate: Gate | None = None):
    """One request = one ``SearchEngine.query``; returns the card fields
    the correctness checks need."""

    def query(q, k):
        with gate.read() if gate else contextlib.nullcontext():
            return eng.query(q, k, use_wand=True, backend="shards")

    def send(req, req_id):
        q, k = req
        if ctx.tracer is None:
            cards = query(q, k)
        else:
            ctx.tracer.set_request(req_id)
            with ctx.tracer.span("bench.request") as rec:
                with ctx.tracer.job_group(req_id, rec):
                    cards = query(q, k)
            ctx.tracer.set_request(None)
        return [(c["doc_id"], c["url"], c["content_sha256"], c["final_rank"])
                for c in cards]

    return send


def query_records(ctx: Ctx, send, stream: list, p: dict, seconds: float, gate=None,
                  between=None) -> tuple[list, float]:
    """The open-loop read stream for ``seconds``, or with tracing its
    first ``trace_queries`` requests one at a time, ``between()`` (a
    batch) running after the first half of them."""
    if ctx.tracer is None:
        return loadgen.open_loop(send, stream, p["interval_s"], seconds,
                                 p["clients"], gate=gate)
    half = p["trace_queries"] // 2
    recs = loadgen.sequential(send, stream[:half], "o")
    if between is not None:
        between()
    recs += loadgen.sequential(send, stream[half:p["trace_queries"]], "o", start=half)
    return recs, 0.0


# ---------------------------------------------------------------------------
# correctness checks (run after the timed region)
# ---------------------------------------------------------------------------

def check_cards(res: Result, rec: dict, sha: dict, oracle=None) -> bool:
    """Every card's content hash must match the generated content; with an
    oracle, the ranking must match it up to exact score ties."""
    res.attempted += 1
    if "error" in rec:
        why = rec["error"]
    else:
        cards = rec["result"]
        why = next((f"content_sha256 mismatch for {url}"
                    for _d, url, digest, _s in cards if sha.get(url) != digest), None)
        if why is None and oracle is not None:
            why = oracle.mismatch(rec["req"][0], rec["req"][1], cards)
    if why:
        rec["wrong"] = True
        res.failures.append((f"query {rec['req'][0]!r} k={rec['req'][1]}", why))
    return not why


class Oracle:
    """Expected rankings from the repo's independent pandas oracle over
    the same input rows, blended with the engine's PageRank vector."""

    def __init__(self, docs_pdf, eng):
        from spaghettisearch_spark.oracle.pandas_oracle import build_oracle_index

        self.idx = build_oracle_index(docs_pdf)
        self.pr = {r["doc_id"]: r["rank"] for r in eng.pagerank.collect()}
        self.cache: dict = {}

    def _scores(self, q: str):
        if q not in self.cache:
            from spaghettisearch_spark.oracle.pandas_oracle import oracle_search

            df = oracle_search(self.idx, q, pagerank=self.pr, k=10**9)
            self.cache[q] = (list(df["score"]), dict(zip(df["doc_id"], df["score"])))
        return self.cache[q]

    def mismatch(self, q: str, k: int, cards) -> str | None:
        ranked, by_doc = self._scores(q)
        if len(cards) != min(k, len(ranked)):
            return f"{len(cards)} results, oracle has {min(k, len(ranked))}"
        for i, (did, _url, _sha, _score) in enumerate(cards):
            got = by_doc.get(did)
            if got is None or not math.isclose(got, ranked[i], rel_tol=1e-6, abs_tol=1e-9):
                return f"rank {i + 1}: {did} scores {got}, oracle rank score {ranked[i]}"
        return None


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

# where the burst's requests start in the seeded stream, past any open-loop
# request, so the burst sends the same requests however many the open loop
# sent
BURST_OFFSET = 2048


def serve(ctx: Ctx, t_start: float) -> Result:
    p = ctx.params
    res = Result()
    docs, eng, wh = setup(ctx, res, p["docs"], p["docs"], warm=True)
    res.setup_s = time.perf_counter() - t_start
    res.input_bytes = docs.content_bytes()
    res.warehouse_bytes = sum(s for s, _ in dir_files(wh).values())
    pool = gen.make_query_pool(docs, p["pool"], ctx.seed, p["docs"])
    stream = gen.make_stream(pool, 2 * BURST_OFFSET)
    burst = stream[BURST_OFFSET:]
    send = make_send(ctx, eng)

    # the open loop, then the closed-loop burst, share --seconds
    t0 = time.perf_counter()
    res.queries, _ = query_records(ctx, send, stream[:BURST_OFFSET], p,
                                   ctx.seconds - p["burst_s"])
    if ctx.tracer is None:
        res.burst, res.burst_wall_s = loadgen.closed_loop(send, burst, p["clients"],
                                                          p["burst_s"])
    else:
        res.burst = loadgen.sequential(send, burst[:p["trace_burst"]], "c")
    res.timed = (t0, time.perf_counter())

    t = time.perf_counter()
    oracle = Oracle(docs.docs, eng)
    for rec in res.queries + res.burst:
        check_cards(res, rec, docs.sha, oracle)
    res.oracle_s = time.perf_counter() - t
    return res


def ingest(ctx: Ctx, t_start: float) -> Result:
    p = ctx.params
    res = Result()
    n_base, size = p["base_docs"], p["batch_docs"]
    # no warm-up: the reads run cold beside the batch either way
    docs, eng, wh = setup(ctx, res, n_base + size, n_base, warm=False)
    res.setup_s = time.perf_counter() - t_start
    pool = gen.make_query_pool(docs, p["pool"], ctx.seed, n_base)
    gate = Gate()
    send = make_send(ctx, eng, gate)
    res.batch_docs = size
    lo, hi = n_base, n_base + size

    def writes():
        apply_batch(ctx, res, eng, docs, wh, gate, lo, hi)

    stream = gen.make_stream(pool, BURST_OFFSET)
    t0 = time.perf_counter()
    if ctx.tracer is None:
        writer = threading.Thread(target=writes)
        writer.start()
        try:
            # the reads stop after --seconds; the batch runs on to its commit
            res.queries, res.paused_s = query_records(
                ctx, send, stream, p, ctx.seconds, gate=gate)
        finally:
            writer.join()
    else:
        res.queries, _ = query_records(ctx, send, stream, p, ctx.seconds, between=writes)
    res.timed = (t0, time.perf_counter())

    res.input_bytes = docs.content_bytes(0, hi)
    res.warehouse_bytes = sum(s for s, _ in dir_files(wh).values())
    t = time.perf_counter()
    for rec in res.queries:
        check_cards(res, rec, docs.sha)
    check_merged(ctx, res, eng, docs, pool, lo, hi)
    res.oracle_s = time.perf_counter() - t
    return res


def apply_batch(ctx: Ctx, res: Result, eng, docs, wh: Path, gate: Gate, lo: int, hi: int):
    """One batch through the public LSM path; timed from its arrival until
    its documents are queryable (the merge committed)."""
    from pyspark.sql import functions as F

    from spaghettisearch_spark.operators import compression, index_build
    from spaghettisearch_spark.sources import corpus as sources

    res.attempted += 1
    before = dir_files(wh / "posting_shards") if ctx.tracer else None
    with _span(ctx, "bench.batch") as brec:
        t = time.perf_counter()
        try:
            raw = ctx.spark.createDataFrame(docs.slice(lo, hi))
            nc = sources.ingest(raw).localCheckpoint(eager=True)
            old = eng.doc_map.select("doc_id", F.col("doc_key").alias("doc_idx"))
            ext = compression.extend_doc_dim(old, nc.select("doc_id"))
            ext = ext.localCheckpoint(eager=True)
            ix = index_build.build_index(nc, eng.cfg)
            delta = compression.build_posting_shards(
                ix.postings, eng.n_docs + (hi - lo), eng.cfg,
                doc_dim=ext, weight_col="bm25_weight",
            ).localCheckpoint(eager=True)
            with gate.write():
                eng.apply_merge(delta, new_doc_map=ext, new_corpus=nc)
        except Exception as exc:
            res.failures.append((f"batch {lo}-{hi}", f"{type(exc).__name__}: {exc}"[:300]))
            return
        res.batch_s.append(time.perf_counter() - t)
    if ctx.tracer:
        after = dir_files(wh / "posting_shards")
        changed = [f for f, v in after.items() if before.get(f) != v]
        brec["attrs"].update(
            bytes_written=sum(after[f][0] for f in changed),
            input_bytes=docs.content_bytes(lo, hi),
            partitions=len({f.split(os.sep)[0] for f in changed if f.startswith("shard=")}),
        )
        res.batch_attrs.append(brec["attrs"])


def check_merged(ctx: Ctx, res: Result, eng, docs, pool: list, lo: int, hi: int) -> None:
    """The merged documents' planted terms return exactly those documents,
    and the WAND and exhaustive shard paths agree on a sampled pool query
    widened with some of those terms (old and new documents ranked
    together). The three queries run at once."""
    from concurrent.futures import ThreadPoolExecutor

    planted = " ".join(gen.planted_term(ctx.seed, i) for i in range(lo, hi))
    sample = next(q for q in pool if '"' not in q and " " in q)
    mixed = " ".join([sample] + [gen.planted_term(ctx.seed, i) for i in range(lo, lo + 5)])
    asks = {"planted": (planted, hi - lo, True), "wand": (mixed, 20, True),
            "exhaustive": (mixed, 20, False)}
    with ThreadPoolExecutor(len(asks)) as ex:
        futs = {name: ex.submit(eng.query, q, k, use_wand=w, backend="shards")
                for name, (q, k, w) in asks.items()}
    got = {}
    for name, fut in futs.items():
        res.attempted += 1
        try:
            got[name] = fut.result()
        except Exception as exc:
            res.failures.append((f"merged check {name}", f"{type(exc).__name__}: {exc}"[:300]))
    want = {f"{r.repo}/{r.path}" for r in docs.slice(lo, hi).itertuples()}
    if "planted" in got and {c["url"] for c in got["planted"]} != want:
        res.failures.append(("merged check planted", "planted terms do not return exactly "
                             f"the {len(want)} merged documents"))
    if len(got.keys() & {"wand", "exhaustive"}) == 2 and (
            [c["doc_id"] for c in got["wand"]] != [c["doc_id"] for c in got["exhaustive"]]):
        res.failures.append(("merged check wand", f"WAND and exhaustive paths disagree on {mixed!r}"))
    for cards in got.values():
        bad = next((c["url"] for c in cards if docs.sha.get(c["url"]) != c["content_sha256"]), None)
        if bad:
            res.failures.append(("merged check sha", f"content_sha256 mismatch for {bad}"))


WORKLOADS = {"serve": serve, "ingest": ingest}
