"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Builds a seeded corpus, drives the engine through its public API and
prints, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is a ``{"report": ...}`` object with every measured value, its unit,
its sample count and the base of every ratio. Workload parameters and
the design record are in ``perfbench/design.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"


def pin_host_settings(run_dir: Path) -> dict:
    """Host-fit settings, set here through the library's env overrides so
    results never depend on the caller's shell."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    # local mode keeps driver and executors in one JVM; a sixth of the
    # host (at most 2 GiB) holds this corpus with room to spare and leaves
    # the rest of a shared host alone
    heap_gb = max(1, min(2, mem_kb // (6 * 1024 * 1024)))
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_GRAFT_AQE": "0",
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
    }
    os.environ.update(pinned)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = str(tmp)
    return {**pinned, "host_mem_gb": round(mem_kb / 2**20, 1)}


def start_session(run_dir: Path):
    from spaghettisearch_spark.session import get_spark

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    # two shuffle partitions per core, the sizing the session factory
    # recommends for a real cluster (its local default of 32 is for
    # large hosts)
    return get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        line = next(ln for ln in fh if ln.startswith("VmHWM:"))
    return int(line.split()[1]) / 1024.0


def pct(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else 0.0


def metric(value, unit, n=None, base=None) -> dict:
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    if base is not None:
        out["base"] = base
    return out


def end_to_end(res, params: dict, rss_mb: float, workload: str) -> dict:
    qs = res.queries
    lat = [(r["done"] - r["due"]) * 1000 for r in qs]
    sent = qs + res.burst
    slo_miss = sum(1 for r in sent if "error" in r or r.get("wrong")
                   or (r["done"] - r["due"]) * 1000 > params["slo_ms"])
    lags = [r["lag"] * 1000 for r in qs if "lag" in r]
    rep = {
        "setup_s": metric(res.setup_s, "s", 1),
        "build_docs_per_s": metric(res.build_docs / res.build_s, "docs/s", 1,
                                   base=f"{res.build_docs} docs"),
        "query_p50_ms": metric(pct(lat, 50), "ms", len(qs)),
        "query_p90_ms": metric(pct(lat, 90), "ms", len(qs)),
        "query_slo_miss_frac": metric(slo_miss / max(len(sent), 1), "frac", len(sent),
                                      base=f"{len(sent)} queries, limit {params['slo_ms']} ms"),
        "jvm_peak_rss_mb": metric(rss_mb, "MB", 1),
        "warehouse_bytes_per_input_byte": metric(
            res.warehouse_bytes / res.input_bytes, "B/B", 1,
            base=f"{res.input_bytes} content bytes"),
        "failed_frac": metric(len(res.failures) / max(res.attempted, 1), "frac",
                              res.attempted, base=f"{res.attempted} operations"),
        "loadgen.lag_p90_ms": metric(pct(lags, 90), "ms", len(lags)),
    }
    if workload == "serve":
        done = sum("error" not in r for r in res.burst)
        rep["query_peak_qps"] = metric(done / res.burst_wall_s if res.burst_wall_s else 0.0,
                                       "1/s", len(res.burst),
                                       base=f"{done} queries in {res.burst_wall_s:.3f} s")
    if workload == "ingest":
        rep["ingest_batch_p50_s"] = metric(
            statistics.median(res.batch_s) if res.batch_s else 0.0, "s", len(res.batch_s),
            base=f"{res.batch_docs} docs per batch")
        rep["loadgen.paused_s"] = metric(res.paused_s, "s", len(res.batch_s))
    return rep


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    if not (ROOT / "spaghettisearch_spark" / "__init__.py").is_file():
        print(f"no spaghettisearch_spark package under {ROOT}", file=sys.stderr)
        return 2
    design = json.loads((HERE / "design.json").read_text())
    if args.workload not in design["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    params = design["workloads"][args.workload]["params"]

    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    host = pin_host_settings(run_dir)
    sys.path[:0] = [str(ROOT), str(HERE)]

    import workloads
    from tracing import Tracer, install_layers

    t = time.perf_counter()
    spark = start_session(run_dir)
    session_s = time.perf_counter() - t
    try:
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            install_layers(tracer)
        ctx = workloads.Ctx(spark=spark, seed=args.seed, seconds=args.seconds,
                            params=params, work=run_dir, tracer=tracer)
        res = workloads.WORKLOADS[args.workload](ctx, t_start)
        rss = vm_hwm_mb(jvm_pid)
        if tracer is not None:
            tracer.uninstall()
    finally:
        stop_session(spark)

    report = end_to_end(res, params, rss, args.workload)
    report["session.start_s"] = metric(session_s, "s", 1)
    report["bench.oracle_s"] = metric(res.oracle_s, "s", 1)
    extra = {}
    if tracer is not None:
        from tracing import per_layer, phase_counts

        out_dir = WORK / "out"
        out_dir.mkdir(parents=True, exist_ok=True)
        spans_path = out_dir / f"spans-{args.workload}-s{args.seed}.jsonl"
        tracer.write(spans_path)
        report.update(per_layer(tracer.spans, res, session_s))
        extra["span_counts"] = phase_counts(tracer.spans, res.timed)
    print(json.dumps({"report": report, "host": host, **extra,
                      "failures": res.failures[:20]}, default=str))

    gated = [m["name"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())[
        "per_layer" if args.trace else "end_to_end"]]
    failed = len(res.failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res.attempted,
        "failed": failed,
        "metrics": {n: {"value": report[n]["value"], "unit": report[n]["unit"]}
                    for n in gated},
    }))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
