"""Driver-side reads of a few rows from the warehouse's parquet files
(and the write of its one-row-per-field statistics table).

A query needs two small reads besides its top-k job: the block-metadata
rows of its first-seen terms (~20-50 rows) and its k result cards. As
Spark jobs each costs ~100-120 ms of scheduling, task launch and py4j
for a handful of rows; ``pyarrow.dataset`` reads the same rows from the
same files in a few milliseconds. This is Iceberg's scan-planning split:
the driver reads metadata and the k result rows itself, and posting
decode, scoring and the top-k stay in Spark.

The file list is the read-back frame's ``inputFiles()``, taken once when
the engine sets the frame (``read_back``): a driver read opens exactly
the files the frame's Spark jobs would. Paths are URIs opened through
``pyarrow.fs``, so the same code reads object storage.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession

_SHARD_DIR = re.compile(r"/shard=(\d+)/")


def read_back(spark: SparkSession, path: str) -> tuple[DataFrame, list[str]]:
    """The parquet table at ``path`` as a frame, and the files it reads."""
    frame = spark.read.parquet(path)
    return frame, list(frame.inputFiles())


def partition_files(files: list[str], shard_ids) -> list[str]:
    """The files of a partitionBy("shard") listing under ``shard_ids``."""
    ids = set(shard_ids)
    out = []
    for f in files:
        m = _SHARD_DIR.search(f)
        if m and int(m.group(1)) in ids:
            out.append(f)
    return out


def read_table(
    files: list[str],
    columns: list[str],
    key: str | None = None,
    values=None,
) -> pa.Table:
    """``columns`` of ``files``, restricted to rows whose ``key`` is in
    ``values`` when a key is given (row groups pruned on statistics)."""
    if not files:
        return pa.table({c: [] for c in columns})
    fs, _ = pafs.FileSystem.from_uri(files[0])
    paths = [pafs.FileSystem.from_uri(f)[1] for f in files]
    flt = None if key is None else ds.field(key).isin(list(values))
    return ds.dataset(paths, format="parquet", filesystem=fs).to_table(
        columns=columns, filter=flt
    )


def read_rows(files: list[str], columns: list[str], key: str, values) -> list[dict]:
    """The rows of ``read_table`` as dicts shaped like Spark's
    ``Row.asDict(recursive=True)``: Arrow gives a map column's value as
    (key, value) pairs, Spark as a dict."""
    table = read_table(files, columns, key, values)
    rows = table.to_pylist()
    maps = [f.name for f in table.schema if pa.types.is_map(f.type)]
    for r in rows:
        for c in maps:
            if r[c] is not None:
                r[c] = dict(r[c])
    return rows


def write_table(path: str, table: pa.Table) -> None:
    """Write ``table`` as the parquet file ``path`` (a URI or an
    absolute path), replacing it: a one-row-per-field table needs no
    Spark job."""
    fs, p = pafs.FileSystem.from_uri(path)
    fs.create_dir(os.path.dirname(p))
    pq.write_table(table, p, filesystem=fs)
