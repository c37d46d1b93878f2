"""Layer tracing from outside the program.

``install_layers`` replaces public functions of the engine's layers with
wrappers, by attribute, in their defining module and in every loaded
``spaghettisearch_spark`` module that imported them by name, so callers
that resolve the name at call time go through the wrapper. Each call
records a span (name, start, end, parent, request id, counts) in memory;
``Tracer.write`` dumps them as JSON lines when the run ends.

Spark is lazy, so a function that only builds a plan returns in
microseconds. The wrappers of such functions persist and count their
result inside the span: the span then holds the work the layer causes,
and later consumers read the persisted rows instead of recomputing them.
That extra action is part of the tracing overhead, which is why the
end-to-end metrics come from untraced runs.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import json
import sys
import threading
import time


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # serializes the two query planners while tracing: their skip
        # statistics live in one module-global dict, and the meta_cache
        # hit count must be read just before the call that fills it
        self.plan_lock = threading.Lock()
        self._restore: list[tuple] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def set_request(self, req: str | None) -> None:
        self._local.req = req

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": st[-1]["id"] if st else None,
            "req": getattr(self._local, "req", None),
            "attrs": attrs,
        }
        st.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def job_group(self, group: str, rec: dict):
        """Counts the Spark jobs and completed tasks started under ``group``
        into ``rec["attrs"]``, then restores the caller's group."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            rec["attrs"]["spark_jobs"], rec["attrs"]["spark_tasks"] = job_counts(
                sc, group
            )

    # -- wrapping ------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None, around=None):
        """Route ``owner.attr`` through a span named ``name``.

        ``around(rec, args, kwargs)`` is a context manager entered inside
        the span around the call; ``after(out, rec, args, kwargs)`` runs
        inside the span once the call returns and may return a replacement
        result (e.g. the persisted frame)."""
        orig = getattr(owner, attr)
        raw = owner.__dict__.get(attr, orig) if inspect.isclass(owner) else orig
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                ctx = around(rec, args, kwargs) if around else contextlib.nullcontext()
                with ctx:
                    out = orig(*args, **kwargs)
                if after is not None:
                    repl = after(out, rec, args, kwargs)
                    out = out if repl is None else repl
                return out

        holders = [owner]
        if inspect.ismodule(owner):
            holders += [
                m for n, m in list(sys.modules.items())
                if n.startswith("spaghettisearch_spark") and m is not owner
                and getattr(m, attr, None) is orig
            ]
        for h in holders:
            self._restore.append((h, attr, raw if h is owner else orig))
            setattr(h, attr, wrapper)

    def uninstall(self) -> None:
        for h, attr, orig in reversed(self._restore):
            setattr(h, attr, orig)
        self._restore.clear()

    def write(self, path) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s, default=str) + "\n")


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) the status tracker holds for ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            tasks += si.numCompletedTasks if si else 0
    return len(jobs), tasks


def install_layers(tracer: Tracer) -> None:
    """Wrap the public layer functions the benchmark's metrics name."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame

    from spaghettisearch_spark import api
    from spaghettisearch_spark.functions.tokenize import parse_query
    from spaghettisearch_spark.operators import (
        bm25, compression, incremental, index_build, links, pagerank, wand,
    )
    from spaghettisearch_spark.sources import corpus

    def persisted(key):
        def after(out, rec, args, kwargs):
            out = out.persist(StorageLevel.MEMORY_AND_DISK)
            rec["attrs"][key] = out.count()
            return out
        return after

    def blocks(out, rec, args, kwargs):
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        row = out.agg(F.count(F.lit(1)).alias("b"), F.sum("df").alias("p")).first()
        rec["attrs"]["blocks"] = int(row["b"])
        rec["attrs"]["postings"] = int(row["p"] or 0)
        return out

    def merged(out, rec, args, kwargs):
        rec["attrs"]["base_blocks"] = args[0].count()
        return blocks(out, rec, args, kwargs)

    def tokens(out, rec, args, kwargs):
        # aggregate the token column itself so the stem UDF is not pruned
        rec["attrs"]["tokens"] = out.agg(F.count("term")).first()[0]

    def postings(out, rec, args, kwargs):
        rec["attrs"]["postings"] = out.postings.count()

    tracer.wrap(corpus, "ingest", "sources.ingest", after=persisted("rows"))
    tracer.wrap(links, "extract_links", "links.extract", after=persisted("edges"))
    tracer.wrap(index_build, "tokenize_fields", "functions.tokenize_stem", after=tokens)
    tracer.wrap(index_build, "build_index", "index_build.build", after=postings)
    tracer.wrap(pagerank, "compute_pagerank", "pagerank.compute",
                around=lambda rec, a, k: tracer.job_group(f"pr{rec['id']}", rec))
    tracer.wrap(compression, "build_doc_dim", "compression.doc_dim",
                after=persisted("rows"))
    tracer.wrap(compression, "build_posting_shards", "compression.encode", after=blocks)
    tracer.wrap(compression, "merge_posting_shards", "compression.merge", after=merged)

    def planner(terms_of, skip_stats: bool):
        @contextlib.contextmanager
        def around(rec, args, kwargs):
            with tracer.plan_lock:
                cache = kwargs.get("meta_cache")
                terms = sorted(set(terms_of(args)))
                rec["attrs"]["terms"] = len(terms)
                rec["attrs"]["meta_hits"] = (
                    sum(t in cache for t in terms) if cache is not None else 0
                )
                yield
                if skip_stats:
                    rec["attrs"]["skip"] = dict(wand.LAST_SKIP_STATS)
        return around

    def phrase_terms(args):
        cfg = args[4]
        terms, phrases = parse_query(args[3], cfg.remove_stopwords, cfg.stem)
        return terms + [t for p in phrases for t in p]

    # positional layout of both planners: (spark, shards, doc_map, q, cfg)
    tracer.wrap(wand, "wand_topk_from_shards", "wand.plan",
                around=planner(lambda a: a[3], True))
    tracer.wrap(bm25, "search_from_shards", "bm25.plan",
                around=planner(phrase_terms, False))

    tracer.wrap(api.SearchEngine, "build", "api.build")
    tracer.wrap(api.SearchEngine, "query", "api.query")
    tracer.wrap(api.SearchEngine, "query_df", "api.query_df")
    tracer.wrap(api.SearchEngine, "apply_merge", "api.apply_merge")
    tracer.wrap(incremental, "family_top5", "api.family_plan")
    tracer.wrap(DataFrame, "collect", "spark.collect")


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it covered by its children."""
    lo, hi = span["start"], span["end"]
    covered, cur = 0.0, None
    for s, e in sorted((max(c["start"], lo), min(c["end"], hi)) for c in children):
        if e <= s:
            continue
        if cur is None or s > cur[1]:
            if cur is not None:
                covered += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur is not None:
        covered += cur[1] - cur[0]
    return (hi - lo) - covered


# ---------------------------------------------------------------------------
# per-layer metrics from the recorded spans
# ---------------------------------------------------------------------------

def _timed(span: dict) -> bool:
    """Spans of requests sent in the timed region (open loop ``o*``,
    closed-loop burst ``c*``), not the correctness checks after it."""
    return (span["req"] or "")[:1] in ("o", "c")


def phase_counts(spans: list[dict], timed: tuple[float, float]) -> dict:
    """Layer span counts in the set-up build and in the timed region
    ``timed`` = (start, end): where each layer's work happens in a
    workload, e.g. no encode or merge span among serve's timed spans and
    no wand span inside the build."""
    from collections import Counter

    build = next((s for s in spans if s["name"] == "bench.build"), None)
    out = {"build": Counter(), "timed": Counter()}
    for s in spans:
        if build is not None and s is not build and build["start"] <= s["start"] <= build["end"]:
            out["build"][s["name"]] += 1
        elif timed[0] <= s["start"] <= timed[1]:
            out["timed"][s["name"]] += 1
    return {k: dict(sorted(v.items())) for k, v in out.items()}


def per_layer(spans: list[dict], res, session_s: float) -> dict:
    from collections import defaultdict

    import numpy as np

    by: dict = defaultdict(list)
    kids: dict = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)
        if s["parent"] is not None:
            kids[s["parent"]].append(s)

    def dur(s):
        return s["end"] - s["start"]

    def self_s(name):
        # a layer's own time: its spans minus nested layer spans (the
        # Spark actions it triggers stay in)
        return sum(
            self_time(s, [c for c in kids[s["id"]] if c["name"] != "spark.collect"])
            for s in by[name]
        )

    def total(name, key):
        return sum(s["attrs"].get(key, 0) for s in by[name])

    def m(value, unit, n, base=None):
        out = {"value": float(value), "unit": unit, "n": n}
        if base is not None:
            out["base"] = base
        return out

    def med_ms(spans_):
        vals = [dur(s) * 1000 for s in spans_]
        return m(np.median(vals) if vals else 0.0, "ms", len(vals))

    def frac(num, den, what):
        return m(num / den if den else 0.0, "frac", len(by[what]), base=f"{den}")

    out = {"session.start_s": m(session_s, "s", 1)}
    for name, key, unit in (
        ("sources.ingest", "rows", "rows"),
        ("functions.tokenize_stem", "tokens", "tokens"),
        ("links.extract", "edges", "edges"),
        ("index_build.build", "postings", "postings"),
    ):
        out[f"{name}_s"] = m(self_s(name), "s", len(by[name]))
        out[f"{name.split('.')[0]}.{key}"] = m(total(name, key), "count", len(by[name]))
    out["pagerank.compute_s"] = m(self_s("pagerank.compute"), "s", len(by["pagerank.compute"]))
    out["pagerank.spark_jobs"] = m(total("pagerank.compute", "spark_jobs"), "count",
                                   len(by["pagerank.compute"]))
    out["compression.doc_dim_s"] = m(self_s("compression.doc_dim"), "s",
                                     len(by["compression.doc_dim"]))
    out["compression.encode_s"] = m(self_s("compression.encode"), "s",
                                    len(by["compression.encode"]))
    blocks = total("compression.encode", "blocks")
    out["compression.blocks"] = m(blocks, "count", len(by["compression.encode"]))
    out["compression.postings_per_block"] = m(
        total("compression.encode", "postings") / blocks if blocks else 0.0, "count",
        len(by["compression.encode"]), base=f"{blocks} blocks")
    out["compression.merge_s"] = m(self_s("compression.merge"), "s", len(by["compression.merge"]))
    out["compression.merge_rows_rewritten_frac"] = frac(
        total("compression.merge", "blocks"), total("compression.merge", "base_blocks"),
        "compression.merge")

    wand_spans = [s for s in by["wand.plan"] if _timed(s)]
    bm25_spans = [s for s in by["bm25.plan"] if _timed(s)]
    out["wand.plan_ms"] = med_ms(wand_spans)
    skip = [s["attrs"].get("skip", {}) for s in wand_spans]
    kept, tot = sum(x.get("kept", 0) for x in skip), sum(x.get("total", 0) for x in skip)
    dec, tot_df = sum(x.get("decoded_df", 0) for x in skip), sum(x.get("total_df", 0) for x in skip)
    nq = len(skip)
    out["wand.blocks_kept_frac"] = m(kept / tot if tot else 0.0, "frac", nq, base=f"{tot} blocks")
    out["wand.decoded_postings_per_query"] = m(dec / nq if nq else 0.0, "count", nq,
                                               base=f"{nq} queries")
    out["wand.decoded_frac"] = m(dec / tot_df if tot_df else 0.0, "frac", nq,
                                 base=f"{tot_df} postings")
    out["wand.floor_cached_frac"] = m(
        sum(x.get("floor_cached", 0) for x in skip) / nq if nq else 0.0, "frac", nq,
        base=f"{nq} queries")
    out["bm25.plan_ms"] = med_ms(bm25_spans)

    queries = [s for s in by["api.query"] if _timed(s)]
    out["api.query_ms"] = med_ms(queries)
    execute, family = [], []
    for q in queries:
        ch = sorted(kids[q["id"]], key=lambda c: c["start"])
        collects = [c for c in ch if c["name"] == "spark.collect"]
        if collects:
            execute.append(dur(collects[0]) * 1000)
        family.append(sum(dur(c) * 1000 for c in ch
                          if c["name"] == "api.family_plan" or c in collects[1:]))
    out["api.execute_ms"] = m(np.median(execute) if execute else 0.0, "ms", len(execute))
    out["api.family_ms"] = m(np.median(family) if family else 0.0, "ms", len(family))
    planned = wand_spans + bm25_spans
    hits = sum(s["attrs"].get("meta_hits", 0) for s in planned)
    terms = sum(s["attrs"].get("terms", 0) for s in planned)
    out["api.meta_cache_hit_frac"] = m(hits / terms if terms else 0.0, "frac", len(planned),
                                       base=f"{terms} term lookups")
    reqs = [s for s in by["bench.request"] if _timed(s)]
    for key in ("spark_jobs", "spark_tasks"):
        vals = [s["attrs"].get(key, 0) for s in reqs]
        out[f"api.{key}_per_query"] = m(np.mean(vals) if vals else 0.0, "count", len(vals),
                                        base=f"{len(vals)} queries")
    out["api.build_self_s"] = m(self_s("api.build"), "s", len(by["api.build"]))
    out["api.apply_merge_self_s"] = m(self_s("api.apply_merge"), "s", len(by["api.apply_merge"]))
    written = sum(a["bytes_written"] for a in res.batch_attrs)
    inp = sum(a["input_bytes"] for a in res.batch_attrs)
    out["api.merge_bytes_written_per_input_byte"] = m(
        written / inp if inp else 0.0, "B/B", len(res.batch_attrs), base=f"{inp} content bytes")
    out["api.merge_partitions_rewritten"] = m(
        sum(a["partitions"] for a in res.batch_attrs), "count", len(res.batch_attrs))
    lags = [r["lag"] * 1000 for r in res.queries if "lag" in r]
    out["loadgen.lag_p90_ms"] = m(np.percentile(lags, 90) if lags else 0.0, "ms", len(lags))
    return out
