"""SparkSession factory tuned for the tiling workload.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same confs are
what we'd ship on a real cluster via ``spark-submit --py-files``:
AQE (runtime re-plan + skew-join splitting) is load-bearing for the
skewed-cell distributions required by the north rule, and Arrow is the
transport for every pixel kernel.

The Python workers run under the ``rasters_spark.pyworker`` daemon
module (``spark.python.daemon.module``). On Python 3.11 each task's
``importlib.invalidate_caches()`` re-reads every zip archive on the
worker path (``pyspark.zip`` a dozen times, the 5,359-entry spark-core
jar twice), about 0.2 s per task before any kernel runs; the daemon
module installs a guard that re-reads only archives whose inode, size
or mtime changed. Python 3.12 fixed this upstream
(https://github.com/python/cpython/issues/103200). The workers must be
able to import the package at daemon start, which is what the
PYTHONPATH export below (or ``--py-files`` on a cluster) provides.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _export_pythonpath() -> str:
    """Make the package importable in executor Python workers.

    Local mode spawns workers from the driver's environment; on a real
    cluster the same is done by ``spark-submit --py-files rasters_spark``
    — this is the in-process equivalent so library users don't need to
    run from the repo root.
    """
    current = os.environ.get("PYTHONPATH", "")
    if REPO_ROOT not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{REPO_ROOT}{os.pathsep}{current}" if current else REPO_ROOT
    return os.environ["PYTHONPATH"]


def get_spark(
    app_name: str = "rasters_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: match cores, not the 200 default (tiny-file overkill)
        if master == "inherit":
            shuffle_partitions = cpus
        else:
            n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
            shuffle_partitions = cpus if n == "*" else int(n)

    pythonpath = _export_pythonpath()
    builder = SparkSession.builder
    if master != "inherit":  # "inherit" = take --master from spark-submit
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
        # skips the per-task zip directory re-reads (see module docstring)
        .config("spark.python.daemon.module", "rasters_spark.pyworker")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # modest heap ON PURPOSE: oversized heaps (24g+) let the young gen
        # sprawl into untouched pages — with 32 allocating task threads the
        # resulting page-fault zeroing storms made local[32] SLOWER than
        # local[8] (profiled: 2-8× run-to-run swings). 4g keeps the heap
        # hot; binary payloads never accumulate on-heap anyway (index-then-
        # fetch + JVM-side slicing).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # tile rows are KB-sized; default 128MB splits starve parallelism
        .config("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        # scale-adaptive scan-parallelism FLOOR (round-6): a 77 MB tile
        # table under 8 MB splits yields ~10 scan tasks — a third of
        # local[32] idle through every Arrow kernel stage. The floor is
        # derived from the core count (not a constant), so big inputs
        # are still governed by maxPartitionBytes while small ones
        # fan out to the machine.
        .config("spark.sql.files.minPartitionNum", str(2 * cpus))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
