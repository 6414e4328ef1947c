"""Spark session lifecycle for one benchmark run.

Everything the session writes (shuffle and spill files, the event log,
the warehouse directory, temporary files) goes under the run's work
directory, and ``stop`` waits for the driver JVM to exit.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

CORES = max(1, min(4, len(os.sched_getaffinity(0))))
DRIVER_MEMORY = "1g"


def start(work_dir: str, trace: bool, repo_root: str):
    """Start the session through the package's ``get_spark``; returns
    (spark, seconds taken)."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # inherited by the JVM and its Python workers
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = log_dir
        conf["spark.eventLog.compress"] = "false"
    from ubeardw_databricks_lakehouse_spark.core.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="lakebench", shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the first job pays executor start-up
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
