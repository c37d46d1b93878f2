"""Package wiring, no Spark session: every module imports, and every
DuckDB mirror in ``__spark_entry__.oracle_sql()`` belongs to a driver
entry — so a dangling import or an orphaned mirror fails here."""

from __future__ import annotations

import importlib
import pkgutil

import spaghettisearch_spark


def test_every_module_imports():
    names = [
        m.name
        for m in pkgutil.walk_packages(
            spaghettisearch_spark.__path__, prefix="spaghettisearch_spark."
        )
    ]
    assert "spaghettisearch_spark.operators.wand" in names
    for name in names:
        importlib.import_module(name)


def test_oracle_mirrors_have_entries():
    import __spark_entry__ as entry_mod

    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())
