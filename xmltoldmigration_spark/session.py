"""SparkSession factory tuned for this engine.

Local mode is the test stand-in for a multi-executor cluster: shuffle
partitioning, AQE, and Arrow settings are chosen so the same plans scale to a
1000-executor cluster reading 100 TB (see SURVEY.md §3.4 / §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cores() -> int:
    """``$SPARK_GRAFT_CPUS``, or every core this process may use if unset/``*``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))


def export_pythonpath() -> str:
    """Put the repo root on ``$PYTHONPATH`` and return the new value.

    Python workers import this package by module reference (UDFs and
    mapInArrow/mapInPandas functions pickle that way), so they must find
    it whatever the driver's cwd.  Call before the session's JVM starts:
    local-mode workers inherit the JVM's environment, and
    ``spark.executorEnv.PYTHONPATH`` carries the value to executors.
    Under ``spark-submit``, ``--py-files`` ships the package instead."""
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_root + (os.pathsep + pp if pp else "")
    return os.environ["PYTHONPATH"]


# Settings that hold at any cluster size.  get_spark adds the sized ones
# (master, shuffle width, driver memory); jobs/run_pipeline.py applies
# these and leaves sizing to spark-submit.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # mega-records (outlines emit 1e4-1e5 triples) must not blow one
    # Arrow batch: cap batch size in the parse stage (SURVEY.md §7.3)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Spark keeps generated classes in an LRU of 100 by default.  One kg
    # iteration at 5,000 records generates 146 distinct classes and one
    # pass of the headline queries about 245 (one `bench.py headline`
    # session runs both).  At 100 each class is evicted before its plan
    # runs again, so every run pays Janino and C2 for all of them; 1000
    # holds both working sets.  A static conf: the first session in a
    # JVM fixes it.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "xmltoldmigration_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with ``ENGINE_CONF``.

    ``master`` defaults to ``local[local_cores()]`` (driver contract).
    ``shuffle_partitions`` defaults to the same core count so small-scale
    runs aren't over-parallelized; on a real cluster this should be ~2-3x
    total executor cores (set via spark-submit conf).
    """
    cores = local_cores()
    master = master or f"local[{cores}]"
    pythonpath = export_pythonpath()
    if shuffle_partitions is None:
        shuffle_partitions = cores

    conf = {
        **ENGINE_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # AQE can COALESCE shuffle partitions but never split a too-coarse
        # aggregate shuffle: start wide and let it shrink to the advisory
        # size, so a 10x data growth can't spill a fixed partition count
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
            str(max(shuffle_partitions * 8, 64)),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        "spark.executorEnv.PYTHONPATH": pythonpath,
        **(extra_conf or {}),
    }
    spark = SparkSession.builder.master(master).appName(app_name).config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
