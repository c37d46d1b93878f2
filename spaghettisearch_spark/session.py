"""SparkSession factory with scale-appropriate defaults.

Tuned for local[N] testing but written for a multi-executor cluster:
Arrow on (every Python crossing is vectorized), shuffle partitions
sized by parallelism rather than the 200 default.

AQE (round 6): OFF by default, parameterised via ``adaptive=`` /
``$SPARK_GRAFT_AQE``. Rationale, measured not assumed: AQE executes
every shuffle as a separate materialized query stage with a replan in
between — pure fixed cost on a workload whose stages are already
explicitly sized. This engine derives its partitioning statically
(query path: decode/kernel stages sized from the skip planner's known
decode volume; build paths: one shared doc_id exchange, term-salt
splitting for hot-term skew; joins: explicit broadcast hints on every
known-small side), so AQE has nothing left to fix and measurably slows
multi-stage operators (dedup pipeline 4.9 s -> 9.2 s with AQE on at
sf0.1; shard queries +15-20%; iterative PageRank/CC rounds likewise).
Set ``SPARK_GRAFT_AQE=1`` (or ``adaptive=True``) on clusters where
stage input sizes are NOT known at plan time — e.g. ad-hoc corpora
with no size statistics — to get runtime coalescing/skew handling
back; every operator is correct under both settings (exactness never
depends on the physical plan).

Python worker daemon: sessions from ``get_spark`` start their Python
workers through ``spaghettisearch_spark.worker``
(``spark.python.daemon.module``). It freezes the zip-import caches of
the archives on the daemon's ``sys.path`` at startup: Spark's
``pyspark.zip``, the py4j zip and the spark-core jar. PySpark calls
``importlib.invalidate_caches()`` at the start of every task, and on
CPython 3.11 that re-reads each archive's whole directory once per
cached importer, in pure Python. Measured inside a warm worker on a
4-core host, that took ~210 ms a task (12 importers over
``pyspark.zip``, 1,328 files, ~11 ms each; 2 over the 5,359-file
spark-core jar, ~48 ms each), and ~0.1 ms with the freeze; a 1-row
``mapInPandas`` job fell from ~350 to ~145 ms median. The cost is fixed
per Python crossing, so small query batches paid it whole. Freezing is
safe because those archives are installed files that do not change
while the application runs; archives added later (``addPyFile``,
``--py-files``) are still re-read as CPython does.

The freeze applies only to sessions built by ``get_spark`` with the
daemon on (Spark's default, ``spark.python.use.daemon``). A session
built elsewhere, such as one a caller passes to ``__spark_entry__``,
pays the per-task re-read. The daemon imports the
package before any task runs, so the executors' Python must find it at
startup: installed, on ``PYTHONPATH``, or in the working directory.

Scheduling: FAIR, with the pools of ``SearchEngine.build``'s phases
declared in ``fairscheduler.xml`` beside this module (``index``,
``pagerank``, ``topic_pagerank``, ``doc_dim``, ``shards``, ``cards``,
each FIFO inside). The build runs its independent phases on driver
threads, each submitting its jobs to its own pool, so one phase's
small jobs do not queue behind another's: at 300 docs most build jobs
cost fixed time, not time per row, and the phases' fixed costs
overlap. Jobs that set no pool (every query, a caller's own threads)
run in ``default``, FIFO within it, as under the FIFO scheduler.

DataFrame call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
PySpark walks the Python stack on every DataFrame call and sends the
call site to the JVM, to name it in error messages. A cold 300-doc
engine build (perfbench serve seed 1's documents, phase by phase, on a
4-core host) made 7,478 py4j round trips with it on and 4,319 with it
off, and used 0.84 s against 0.28 s of driver Python CPU; a process's
first captured call also imports IPython (0.33-0.43 s on that host). Errors
keep their message, only without the Python call site.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# the build phases' FAIR pools (module docstring)
POOLS_FILE = Path(__file__).with_name("fairscheduler.xml")


def driver_memory() -> str:
    """``$SPARK_DRIVER_MEM`` if set, else half of host RAM capped at
    24g: the heap plus the Python workers' memory must fit the host,
    or the kernel kills the JVM mid-run (a fixed 24g did that on a
    16 GB host)."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, min(24 * 1024, ram_mb // 2))}m"


def get_spark(
    app_name: str = "spaghettisearch_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    adaptive: bool | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) else all.
    ``shuffle_partitions`` defaults to max(cores, 32) locally — on a real
    cluster size this to ~2-3x total executor cores.
    ``adaptive`` defaults to ``$SPARK_GRAFT_AQE`` (off — see module
    docstring for the measured rationale and when to turn it back on).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cores or os.cpu_count() or 8, 32)
    if adaptive is None:
        adaptive = os.environ.get("SPARK_GRAFT_AQE", "0") not in ("0", "", "false")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true" if adaptive else "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # local mode runs driver + executors in ONE JVM: the heap holds
        # every cached table AND all concurrent tasks' aggregation and
        # Arrow buffers (guide §5); irrelevant on a real cluster where
        # executors carry the data
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # start Python workers with Spark's archive directories read once,
        # not once per task (module docstring)
        .config("spark.python.daemon.module", "spaghettisearch_spark.worker")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.scheduler.allocation.file", POOLS_FILE.as_uri())
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
