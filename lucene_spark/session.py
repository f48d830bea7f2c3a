"""SparkSession factory with engine defaults (local sandbox + cluster-ready)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lucene_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a SparkSession with the engine's recommended configuration.

    Local sandbox: ``local[$SPARK_GRAFT_CPUS]``. On a real cluster the same
    code runs under spark-submit --py-files and `master` is left to the
    submitter. AQE stays on so skewed shuffles re-plan at runtime.

    Local masters also start Python workers through
    ``lucene_spark.worker_daemon``, which stops each task from re-reading
    ``pyspark.zip`` before its UDF body runs (about 0.2 s of worker CPU
    per task on Python 3.11). Only local masters get it: there the
    workers inherit this process's ``PYTHONPATH``, which holds the
    package. Cluster submits keep Spark's default daemon: this function
    does not control the executors' ``PYTHONPATH`` there.
    """
    # Python workers don't inherit the driver's sys.path — make the package
    # importable executor-side (spark-submit --py-files equivalent for local
    # runs; on a cluster, ship the package with --py-files as documented).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master is not None:
        builder = builder.master(master)
        # local / local[N] / local[N,F] run workers from this process's
        # environment; local-cluster executors are separate launches
        if master == "local" or master.startswith("local["):
            builder = builder.config("spark.python.daemon.module",
                                     "lucene_spark.worker_daemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
