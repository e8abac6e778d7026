"""SparkSession factory.

Local test profile targets ``local[$SPARK_GRAFT_CPUS]`` (driver-only JVM);
the same builder flags are what we would ship on a 1000-executor cluster:
AQE for runtime re-planning (skew joins, partition coalescing), Arrow for
any pandas-UDF boundary, and a UTC session timezone so timestamp semantics
match the DuckDB oracle exactly.

Python workers are forked from ``psy_supabase_spark.daemon`` rather than the
stock ``pyspark.daemon``: PySpark calls ``importlib.invalidate_caches()``
before every Python task, and on 3.11/3.12 that re-reads the directory of
every zip on the worker path (16 reads, ~145 ms of each task's fixed cost);
the engine daemon re-reads an archive only when its stat changed. Workers
must be able to import that module, so the package's parent directory is
put on the executors' ``PYTHONPATH`` too.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
# the directory that holds psy_supabase_spark/, for the worker daemon import
_PACKAGE_PARENT = str(Path(__file__).resolve().parent.parent)


def get_spark(app_name: str = "psy_supabase_spark", *, shuffle_partitions: str | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Cluster-scale notes: ``spark.sql.adaptive.enabled`` lets AQE coalesce
    post-shuffle partitions and split skewed ones at 100 TB;
    ``spark.sql.files.maxPartitionBytes`` keeps scan tasks ~128 MB so a
    1000-executor cluster gets even input splits.

    ``spark.python.daemon.module`` forks Python workers from
    ``psy_supabase_spark.daemon``, which stops every task from re-reading
    the zip directories on the worker path (see the module docstring).
    ``spark.executorEnv.PYTHONPATH`` is what lets a worker import it: a
    driver that imports this package by ``sys.path.insert`` from another
    working directory, with ``PYTHONPATH`` unset (as ``__spark_entry__.py``
    does), otherwise starts workers that cannot find the daemon, and every
    Python task fails.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "psy_supabase_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
