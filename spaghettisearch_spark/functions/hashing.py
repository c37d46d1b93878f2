"""Hash identities shared between Spark and Python.

The reference keys everything by md5 hex digests
(/root/reference/indexer/indexer.go:38-39,366-367); we keep that (Spark
``F.md5`` emits identical hex).

``term_hash60`` is a portable 60-bit integer hash — the first 15 hex
digits of md5 — computable identically in Spark (conv/substring) and
Python. It picks a term's shard bucket and the hash ``doc_key``.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def doc_id_col(repo: Column | str = "repo", path: Column | str = "path") -> Column:
    """doc_id = md5(repo || '/' || path) — reference analog: md5(url)."""
    r = F.col(repo) if isinstance(repo, str) else repo
    p = F.col(path) if isinstance(path, str) else path
    return F.md5(F.concat(r, F.lit("/"), p))


def doc_id_py(repo: str, path: str) -> str:
    return hashlib.md5(f"{repo}/{path}".encode()).hexdigest()


def term_id_col(term: Column | str = "term") -> Column:
    t = F.col(term) if isinstance(term, str) else term
    return F.md5(t)


def term_hash60_col(c: Column | str, salt: str = "") -> Column:
    """60-bit integer hash of a string, identical across Spark and Python."""
    col = F.col(c) if isinstance(c, str) else c
    if salt:
        col = F.concat(F.lit(salt), col)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def term_hash60_py(s: str, salt: str = "") -> int:
    return int(hashlib.md5((salt + s).encode()).hexdigest()[:15], 16)
