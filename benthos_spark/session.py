"""SparkSession factory tuned for the engine.

Local test mode runs ``local[N]`` (one JVM); production is any cluster
master — the configs below are chosen to survive both.  The reference
engine scales by "run more Benthos instances against a partitioned
source" (SURVEY §3.1); here Spark's scheduler + shuffle replace that.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Checkpoint file manager for local sessions.  Spark's default manager
# goes through Hadoop's FileContext, whose local filesystem calls
# `getFileLinkStatus` on every rename and status check; without
# libhadoop that forks a `readlink` process each time (~66 per
# micro-batch across the offset, commit, source and sink logs and the
# state-store deltas).  The FileSystem-based manager does an exists
# check and then a rename.  On the local filesystem that is what
# FileContext's no-overwrite rename does too (Hadoop's
# AbstractFileSystem.renameInternal: link-status both paths, throw if
# the destination exists, then java.io.File.renameTo), so the
# single-writer guarantee is the same.  Cluster masters keep Spark's
# default, which on HDFS is a server-side atomic rename.
_LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager")

# The directory holding this package.  Python workers unpickle kernel
# functions by reference to benthos_spark modules, so they must import
# the copy the driver imported; a local worker otherwise finds the
# package only when the driver's working directory is this directory.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DEFAULTS = {
    # ~cores for local; on a real cluster this is overridden by AQE's
    # coalescing anyway (initialPartitionNum can be raised per-job).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MiB input splits: good balance of task count vs overhead at
    # 100 TB (≈800k tasks) and still parallel enough at sf0.1.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    # testdata events.parquet stores TIMESTAMP(NANOS); Spark reads those
    # as long when this is on (converted back in sources/datamodel)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(app_name: str = "benthos_spark", master: str | None = None,
              **extra_conf: str) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster
    is configured; on a cluster, leave it unset and spark-submit decides.

    A local master also gets Spark's FileSystem-based streaming
    checkpoint file manager instead of the FileContext one, which forks
    a `readlink` per checkpoint rename and status check on a host
    without libhadoop (see `_LOCAL_CHECKPOINT_FILE_MANAGER`), and its
    Python workers get this package's root on PYTHONPATH, so the engine
    runs from any working directory.  Any key passed in ``extra_conf``
    overrides these defaults.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
        if master.startswith("local"):
            builder = builder.config("spark.driver.memory",
                                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
            builder = builder.config(
                "spark.sql.streaming.checkpointFileManagerClass",
                _LOCAL_CHECKPOINT_FILE_MANAGER)
            builder = builder.config("spark.executorEnv.PYTHONPATH",
                                     _PACKAGE_ROOT)
    for k, v in {**_DEFAULTS, **extra_conf}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
