"""The session's worker daemon (``spaghettisearch_spark.worker``) keeps
Spark's startup archives from being re-read on every Python task, and
leaves archives that join the path later to CPython's behaviour. Checked
on the mechanism inside a worker, not on timing. The session also
schedules FAIR, with the build phases' pools declared, and captures no
DataFrame call sites."""

from __future__ import annotations

import pandas as pd


def test_worker_keeps_startup_archive_dirs(spark):
    # nested, so cloudpickle ships it by value to a worker that cannot
    # import this test module
    def _probe(batches):
        """Inside a Python worker: note each startup archive's cached zip
        directory, import from a freshly written zip, run the per-task
        ``importlib.invalidate_caches()`` again, and report which directories
        were replaced."""
        import importlib
        import os
        import sys
        import tempfile
        import zipfile
        import zipimport

        for _ in batches:
            pass
        cache = zipimport._zip_directory_cache
        startup = {}
        for entry in sys.path:
            try:
                archive = zipimport.zipimporter(entry).archive
            except (zipimport.ZipImportError, TypeError):
                continue
            startup[archive] = cache[archive]

        tmp = tempfile.mkdtemp()
        late = os.path.join(tmp, "late.zip")
        with zipfile.ZipFile(late, "w") as z:
            z.writestr("sss_late_probe.py", "VALUE = 7\n")
        sys.path.insert(0, late)
        try:
            mod = importlib.import_module("sss_late_probe")
            late_dir = cache[late]
            importlib.invalidate_caches()
            startup_reread = sum(
                cache.get(a) is not d for a, d in startup.items()
            )
            late_reread = cache.get(late) is not late_dir
        finally:
            sys.path.remove(late)
            sys.path_importer_cache.pop(late, None)
            sys.modules.pop("sss_late_probe", None)
            cache.pop(late, None)
            os.remove(late)
            os.rmdir(tmp)
        yield pd.DataFrame(
            {
                "n_startup": [len(startup)],
                "startup_reread": [startup_reread],
                "late_reread": [late_reread],
                "late_value": [mod.VALUE],
            }
        )

    row = (
        spark.range(1)
        .coalesce(1)
        .mapInPandas(
            _probe,
            "n_startup long, startup_reread long, late_reread boolean, "
            "late_value long",
        )
        .collect()[0]
    )
    assert row.n_startup >= 1
    assert row.startup_reread == 0
    assert row.late_reread
    assert row.late_value == 7


def test_session_scheduling_and_call_sites(spark):
    """FAIR scheduling with the build phases' pools declared, and
    DataFrame call-site capture off."""
    from spaghettisearch_spark.session import POOLS_FILE

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.scheduler.mode") == "FAIR"
    assert POOLS_FILE.is_file()
    assert conf.get("spark.scheduler.allocation.file") == POOLS_FILE.as_uri()
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
