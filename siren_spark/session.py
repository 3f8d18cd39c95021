"""SparkSession builder with the engine's recommended configuration.

Local sessions start their Python workers from
``siren_spark.worker_daemon``, which imports pyspark from its install
instead of Spark's ``pyspark.zip``: with the archive on the worker path
every Python task paid ~0.25 s of CPU before its first row (see that
module). Cluster masters and ``--py-files`` deploys keep Spark's daemon
and that cost.
"""

from __future__ import annotations

import os
import re
import site

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

import siren_spark


def _resolve_master(master: str | None, conf: dict[str, str]) -> str:
    """The argument, then ``SPARK_GRAFT_MASTER``, then the launcher's
    master (``spark-submit --master``, ``PYSPARK_SUBMIT_ARGS``,
    spark-defaults), then ``local[SPARK_GRAFT_CPUS or *]``.

    spark-submit fills ``local[*]`` when no master is given, so that
    value counts as unset. Reading the launcher's conf starts (or joins)
    the JVM, so it gets this session's settings as launch options."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master:
        return master
    SparkContext._ensure_initialized(
        conf=SparkConf(loadDefaults=False).setAll(conf.items()))
    launched = SparkConf().get("spark.master", None)
    if launched and launched != "local[*]":
        return launched
    return "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "*")


def _worker_daemon_conf(master: str) -> dict[str, str]:
    """Run local Python workers from ``siren_spark.worker_daemon`` when
    the worker can import this package before any task starts: the
    package is a directory on the worker's path (its cwd, PYTHONPATH or
    site-packages). A ``--py-files`` archive reaches that path only per
    task, after the daemon started; other masters launch workers on
    hosts whose paths the driver cannot see."""
    pkg = os.path.dirname(os.path.abspath(siren_spark.__file__))
    worker_path = {os.path.realpath(p) for p in (
        os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages()) if p}
    if (re.fullmatch(r"local(\[[^\]]*\])?", master) and os.path.isdir(pkg)
            and os.path.realpath(os.path.dirname(pkg)) in worker_path):
        return {"spark.python.daemon.module": "siren_spark.worker_daemon"}
    return {}


def get_spark(
    master: str | None = None,
    *,
    app_name: str = "siren_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the crawl engine.

    AQE on (runtime coalescing + skew-join splitting), Arrow on (every
    Python crossing is Arrow-batched), shuffle partitions sized to cores
    locally — on a cluster leave it to AQE + explicit repartitioning.
    ``master`` resolves as in ``_resolve_master``.
    """
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    conf = {
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # 8000-row Arrow batches: the doc-text Python passes (minhash/
        # simhash/tf) lose ~15% of their wall to per-batch crossings at
        # 2000 rows (measured best-of-4: minhash 1.22->1.04 s, tfidf
        # 1.39->1.07 s at the 50k-doc corpus); wide rows (crawl html,
        # ~20 KB each) are bounded by maxBytesPerBatch instead, so the
        # extract task's in-flight batch stays ~32 MB regardless
        "spark.sql.execution.arrow.maxRecordsPerBatch": "8000",
        "spark.sql.execution.arrow.maxBytesPerBatch": "32m",
        # zstd for every parquet the engine writes (checkpoint round
        # tables, results, compactions): on repetitive web text it is
        # ~11x smaller than snappy (248 MB vs 2.7 GB for the 2.4M-page
        # bench web), and — measured on this host — turns the html scan
        # from memory-bandwidth/kernel-bound (2->8 efficiency 0.64)
        # into CPU-bound (≥1.0) at 2x the 8-core speed. At 100 TB the
        # footprint alone decides this.
        "spark.sql.parquet.compression.codec": "zstd",
        # compression LEVEL 1 (parquet default 3): round tables are
        # write-once-read-once checkpoint state, and at level 1 the
        # staged-extraction + derived writes run ~2 s/round faster at
        # local[8] (bench web, measured round minima 18.6 -> 13-17 s)
        # for a ~10-20% size give-back on ephemeral files. Override
        # with SIREN_PARQUET_ZSTD_LEVEL (e.g. 3+ on storage-bound
        # clusters where long-lived corpus footprint dominates).
        "spark.hadoop.parquet.compression.codec.zstd.level":
            os.environ.get("SIREN_PARQUET_ZSTD_LEVEL", "1"),
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "32g"),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    master = _resolve_master(master, conf)
    # extra_conf may still name its own daemon module
    conf = {**_worker_daemon_conf(master), **conf, "spark.master": master}
    return SparkSession.builder.config(map=conf).getOrCreate()


__all__ = ["get_spark"]
