"""Where a warehouse's bytes go: per table, per parquet column, footers.

    python tools/warehouse_bytes.py WAREHOUSE_DIR
    python tools/warehouse_bytes.py --docs 3000 --seed 1 [--keep DIR]

Prints, for every table directory of the warehouse, its file bytes split
into parquet column chunks (compressed), parquet footers and other files
(``.crc`` checksums, ``_SUCCESS``); for ``posting_shards`` also the block
count and the share of sample-complete blocks (df <= BLOCK_SAMPLE_N,
whose skip metadata is not stored) and of the postings they hold. The
last stdout line is one JSON object with the same numbers.

With ``--docs N --seed S`` it first builds a warehouse over the first N
documents of the benchmark's corpus generator (``perfbench/corpus.py``,
the same documents as a perfbench run with that seed) in a session sized
like perfbench's (all cores, two shuffle partitions per core), and also
reports warehouse bytes per content byte, the benchmark's
``warehouse_bytes_per_input_byte``. The warehouse is written to a
temporary directory unless ``--keep`` names one.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def build(n_docs: int, seed: int, wh: Path) -> int:
    """Build a warehouse of the generator's first ``n_docs`` documents at
    ``wh``; returns their content bytes."""
    sys.path.insert(0, str(ROOT / "perfbench"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # perfbench's heap cap, so a run leaves a shared host alone
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    import corpus as gen

    from spaghettisearch_spark.api import SearchEngine
    from spaghettisearch_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        "warehouse-bytes", cores=cores, shuffle_partitions=2 * cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    try:
        docs = gen.make_corpus(spark, n_docs, seed, planted_from=n_docs)
        SearchEngine.build(
            spark, spark.createDataFrame(docs.docs), warehouse_dir=str(wh)
        )
        return docs.content_bytes()
    finally:
        spark.stop()


def table_bytes(table_dir: Path) -> dict:
    """File bytes of one table: parquet column chunks by column, parquet
    footers, other files."""
    import pyarrow.parquet as pq

    cols: dict[str, int] = defaultdict(int)
    footer = other = 0
    for dp, _dn, fns in os.walk(table_dir):
        for fn in fns:
            path = os.path.join(dp, fn)
            size = os.path.getsize(path)
            if not fn.endswith(".parquet"):
                other += size
                continue
            md = pq.ParquetFile(path).metadata
            chunks = 0
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    cc = rg.column(c)
                    cols[cc.path_in_schema.split(".")[0]] += cc.total_compressed_size
                    chunks += cc.total_compressed_size
            footer += size - chunks
    total = sum(cols.values()) + footer + other
    return {"total": total, "columns": dict(cols), "footer": footer, "other": other}


def block_census(shards_dir: Path) -> dict:
    """Block count, and the share of sample-complete blocks and of the
    postings they hold."""
    import numpy as np
    import pyarrow.dataset as ds

    from spaghettisearch_spark.operators.compression import BLOCK_SAMPLE_N

    df = (
        ds.dataset(str(shards_dir), format="parquet", partitioning="hive")
        .to_table(columns=["df"])
        .column("df")
        .to_numpy()
    )
    complete = df <= BLOCK_SAMPLE_N
    n = int(df.size)
    postings = int(df.sum())
    return {
        "blocks": n,
        "postings": postings,
        "complete_block_frac": round(float(complete.mean()), 4) if n else 0.0,
        "complete_posting_frac": (
            round(float(df[complete].sum()) / postings, 4) if postings else 0.0
        ),
        "postings_per_block": round(postings / n, 3) if n else 0.0,
        "max_df": int(np.max(df)) if n else 0,
    }


def report(wh: Path, content_bytes: int | None) -> dict:
    tables = {
        d.name: table_bytes(d) for d in sorted(wh.iterdir()) if d.is_dir()
    }
    total = sum(t["total"] for t in tables.values()) + sum(
        f.stat().st_size for f in wh.iterdir() if f.is_file()
    )
    out = {"warehouse_bytes": total, "tables": tables}
    if (wh / "posting_shards").is_dir():
        out["posting_shards_blocks"] = block_census(wh / "posting_shards")
    if content_bytes:
        out["content_bytes"] = content_bytes
        out["warehouse_bytes_per_input_byte"] = round(total / content_bytes, 3)
    return out


def print_table(out: dict) -> None:
    total = out["warehouse_bytes"]
    print(f"warehouse: {total:,} bytes")
    for name, t in out["tables"].items():
        print(f"\n{name}: {t['total']:,} bytes ({t['total'] / total:.1%})")
        rows = sorted(t["columns"].items(), key=lambda kv: -kv[1])
        rows += [("(parquet footers)", t["footer"]), ("(other files)", t["other"])]
        for col, b in rows:
            share = b / t["total"] if t["total"] else 0.0
            print(f"  {col:<20} {b:>12,}  {share:6.1%}")
    if "posting_shards_blocks" in out:
        b = out["posting_shards_blocks"]
        print(
            f"\nposting_shards: {b['blocks']:,} blocks, {b['postings']:,} "
            f"postings ({b['postings_per_block']} a block, max df "
            f"{b['max_df']}); sample-complete: {b['complete_block_frac']:.1%} "
            f"of blocks, {b['complete_posting_frac']:.1%} of postings"
        )
    if "warehouse_bytes_per_input_byte" in out:
        print(
            f"warehouse bytes per content byte: "
            f"{out['warehouse_bytes_per_input_byte']} "
            f"({out['content_bytes']:,} content bytes)"
        )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("warehouse", nargs="?", help="an existing warehouse dir")
    ap.add_argument("--docs", type=int, help="build this many documents first")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--keep", help="build into this dir instead of a temp dir")
    args = ap.parse_args(argv)
    if (args.warehouse is None) == (args.docs is None):
        ap.error("give a warehouse dir or --docs, not both")
    if args.warehouse:
        out = report(Path(args.warehouse), None)
    else:
        with tempfile.TemporaryDirectory() as tmp:
            wh = Path(args.keep) if args.keep else Path(tmp) / "warehouse"
            content = build(args.docs, args.seed, wh)
            out = report(wh, content)
            out.update(docs=args.docs, seed=args.seed)
    print_table(out)
    print(json.dumps(out, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
