"""Pinned run environment and the Spark session every benchmark run uses.

Everything a run writes stays under ``<checkout>/.bench_work`` and
``<checkout>/.bench_cache``.
"""

from __future__ import annotations

import os
import sys

CORES = 4
# 15 GB host shared with other jobs: a 3 GB heap holds the ~15k-page
# web's largest shuffle with room to spare. The heap is committed and
# touched in full at JVM start (-Xms = -Xmx, AlwaysPreTouch), so
# peak_pss_mb does not track how much of it the collector happened to
# touch in a run (2.8-3.5 GB from run to run without), and moves with
# off-heap, Arrow and Python-worker memory instead
DRIVER_MEM = "3g"


def work_root(root: str) -> str:
    return os.path.join(root, ".bench_work")


def pin_env(root: str) -> None:
    """Set the variables Spark and its Python workers inherit. Must run
    before the first SparkSession starts its JVM."""
    tmp = os.path.join(work_root(root), "tmp")
    local = os.path.join(work_root(root), "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # workers are launched from the JVM's cwd: without the checkout root on
    # PYTHONPATH they fail with ModuleNotFoundError: siren_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p and p != root])
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SIREN_PARQUET_ZSTD_LEVEL", None)
    if root not in sys.path:
        sys.path.insert(0, root)


def spark_session(root: str, app: str, event_log_dir: str | None = None):
    """local[4] session with the engine's settings (session.get_spark)."""
    from siren_spark.session import get_spark

    tmp = os.path.join(work_root(root), "tmp")
    conf = {
        # ~20 KB page rows: small splits keep all cores on the scan side
        # of fetch+extract (as bench.py)
        "spark.sql.files.maxPartitionBytes": str(3 * 1024 * 1024),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_root(root), "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(f"local[{CORES}]", app_name=app,
                      shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and its JVM. ``spark.stop()`` leaves the JVM
    running until its stdin closes, which otherwise happens only when
    this process exits; the JVM then ends after this process has."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if gateway is not None:
        # disconnects the client, so Java objects Python collects later
        # do not try to reach the JVM that is gone by then
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait()
