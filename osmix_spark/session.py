"""SparkSession factory tuned for the engine.

Scale stance: these configs are the local-mode projection of what a
1000-executor job would set — AQE on (runtime re-plan + skew-join
splitting), Arrow for every Python exchange, shuffle partitions sized to
cores locally (on a real cluster: 2-3x total cores, or let AQE coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "osmix-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local[N] parallelism; default $SPARK_GRAFT_CPUS or all cores.

    Python workers fork from `osmix_spark.daemon`, which stops them
    re-reading every zip archive on the worker path before each task.

    DataFrame debugging is off: PySpark otherwise captures the Python
    call site of every Column function (four py4j round-trips each),
    which made up to two thirds of the driver's py4j calls while a query
    was built. Error messages then lack the Python call site; pass
    `extra={"spark.python.sql.dataFrameDebugging.enabled": "true"}` to
    bring it back.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # Make the package importable inside executor Python workers (the
    # local-mode analog of `spark-submit --py-files`): workers inherit
    # PYTHONPATH from the environment at JVM start.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pypath}" if pypath else pkg_root
        )
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # broadcast threshold: small dimension layers (gazetteer, polygon
        # sets, tile styles) should always broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "osmix_spark.daemon")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Long-lived drivers (test suites, notebook sessions, streaming
        # jobs) accumulate localCheckpoint/broadcast blocks whose Python
        # references are gone but whose JVM weak refs only get enqueued on
        # a driver GC; the default 30min periodic GC effectively never
        # fires inside a 30min job. 2min keeps block-manager heap flat.
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
