"""The benchmark's only doorway into the engine: the package import,
the SparkSession it measures, and a shutdown that waits for the JVM."""

from __future__ import annotations

import importlib
import os
import subprocess

PKG = (
    "cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_"
    "over_event_driven_architecture_spark"
)

# Directory for everything a run writes; set by run.py before any
# engine import (Spark scratch, warehouse, spool, fixture, temp files).
WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_work")


def module(name: str):
    """Import ``<engine package>.<name>``."""
    return importlib.import_module(f"{PKG}.{name}")


def start_session(cores: int, driver_mem: str, app_name: str):
    """The engine's own session builder on ``local[cores]`` (its
    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` knobs, which also
    size the shuffle), with every scratch path kept under the work
    directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData",  # no hsperfdata file in the host's /tmp
        "spark.ui.showConsoleProgress": "false",
        # the stream's analysis replays every micro-batch from
        # recentProgress; Spark keeps only the last 100 by default
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    return module("session").build_session(
        app_name=app_name, extra_conf=conf
    )


def stop_session(spark) -> None:
    """Stop Spark, then close the py4j gateway and wait for the driver
    JVM process to exit, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:  # a hung JVM must not outlive us
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
