"""Repeatability self-test and tracing overhead.

    python3 perfbench/selftest.py --workload serve --seed 1

Runs the workload once untraced and twice traced with the same seed.
Prints, as one JSON object:

- ``counts``: every work count and count ratio of the traced runs, with
  ``repeats: true`` when both traced runs read exactly the same, else the
  two values and their spread (|a - b| / max(|a|, |b|));
- ``tracing_overhead``: traced minus untraced value of every end-to-end
  metric, as measured in one pair of runs;
- ``span_counts``: the first traced run's layer span counts in the set-up
  build and in the timed region.

Exits 1 when a count does not repeat.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent

# work counts and count ratios; every other per-layer metric is a time
COUNTS = [
    "sources.rows", "functions.tokens", "links.edges", "index_build.postings",
    "pagerank.spark_jobs", "compression.blocks", "compression.postings_per_block",
    "compression.merge_rows_rewritten_frac", "wand.blocks_kept_frac",
    "wand.decoded_postings_per_query", "wand.decoded_frac", "wand.floor_cached_frac",
    "api.meta_cache_hit_frac", "api.spark_jobs_per_query", "api.spark_tasks_per_query",
    "api.merge_partitions_rewritten", "warehouse_bytes_per_input_byte",
]


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=HERE.parent, check=True, stdout=subprocess.PIPE, text=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    args = ap.parse_args()

    plain = run(args.workload, args.seed, args.seconds, 0)["report"]
    traced = run(args.workload, args.seed, args.seconds, 1)
    a = traced["report"]
    b = run(args.workload, args.seed, args.seconds, 1)["report"]

    counts, ok = {}, True
    for name in COUNTS:
        va, vb = a[name]["value"], b[name]["value"]
        if va == vb:
            counts[name] = {"value": va, "repeats": True}
        else:
            ok = False
            counts[name] = {"values": [va, vb], "repeats": False,
                            "spread": abs(va - vb) / max(abs(va), abs(vb))}
    overhead = {
        m["name"]: {"traced_minus_untraced": a[m["name"]]["value"] - plain[m["name"]]["value"],
                    "unit": m["unit"]}
        for m in bench["end_to_end"]
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "counts": counts, "tracing_overhead": overhead,
                      "span_counts": traced["span_counts"]}, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
