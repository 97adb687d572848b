"""The benchmark's Spark settings, and starting and stopping the JVM.

Every setting the benchmark chooses is passed through
``get_spark(extra_conf=...)`` and recorded in each result. All scratch
space (shuffle files, JVM and Python temp files, checkpoints) lives
under the run directory inside the checkout.
"""

from __future__ import annotations

import os
import subprocess

DRIVER_MEMORY = "8g"
PARTITIONS_PER_CORE = 4
# Each set-up starts a fresh JVM, which alone takes ~10 s to its first
# job on a 4-vCPU host; a crawl set-up takes ~20 s. Two set-ups per run
# keep a run near a minute, so that all the runs of the two workloads
# fit their time limit; set-up time is reported as their median.
SETUP_REPS = 2


def cores() -> int:
    return len(os.sched_getaffinity(0))


def point_scratch_at(run_dir: str, root: str, sidecar_dir: str) -> None:
    """Send every temp file of this process, the JVM and the Python
    workers into ``run_dir``; let the workers import the program."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    # the query registry's oracle sidecars default to /tmp
    os.environ["WORMPY_SPARK_ORACLE_DIR"] = sidecar_dir


def conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        # UsePerfData off: HotSpot would write /tmp/hsperfdata_<user>
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def settings(run_dir: str) -> dict:
    n = cores()
    return {
        "cores": n,
        "master": f"local[{n}]",
        "driver_memory": DRIVER_MEMORY,
        "shuffle_partitions": n * PARTITIONS_PER_CORE,
        "extra_conf": conf(run_dir),
    }


def start(run_dir: str, app: str):
    from wormpy_spark.session import get_spark

    s = settings(run_dir)
    spark = get_spark(app, master=s["master"],
                      shuffle_partitions=s["shuffle_partitions"],
                      extra_conf=s["extra_conf"])
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def versions(spark) -> dict:
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
    }


def shutdown() -> None:
    """Stop the active session and the JVM, and wait for the JVM (and
    with it the Python worker daemon) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
