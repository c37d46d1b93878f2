"""Python worker daemon entry point: ``pyspark.daemon`` with the zip
directories of the startup archives read once, not once per task.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so Spark starts the executors' Python daemon as
``python -m spaghettisearch_spark.worker pyspark.worker``. Before handing
off to ``pyspark.daemon.manager()``, it swaps the ``zipimporter`` path
hook for a subclass whose ``invalidate_caches`` does nothing for the
archives on ``sys.path`` at startup (``pyspark.zip``, the py4j zip, the
spark-core jar), and drops the importers already cached so they are
rebuilt through it. Workers forked from the daemon inherit the read
directories, so even a worker's first task skips the re-read that
PySpark's per-task ``importlib.invalidate_caches()`` would do (why and
what it costs: the ``session`` module docstring). Archives that join the
path later (``addPyFile`` / ``--py-files`` zips) keep CPython's
behaviour.

Importing this module has no side effect; only running it as
``__main__`` does.
"""

from __future__ import annotations

import sys
import zipimport


def freeze_startup_archives() -> None:
    """Make ``importlib.invalidate_caches()`` skip the zip archives on
    ``sys.path`` now."""
    frozen = set()
    for entry in sys.path:
        try:
            frozen.add(zipimport.zipimporter(entry).archive)
        except (zipimport.ZipImportError, TypeError):
            pass

    class FrozenZipImporter(zipimport.zipimporter):
        def invalidate_caches(self):
            if self.archive not in frozen:
                super().invalidate_caches()

    sys.path_hooks[:] = [
        FrozenZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


if __name__ == "__main__":
    freeze_startup_archives()
    from pyspark.daemon import manager

    manager()
