"""SparkSession builder with the configs the pipeline assumes.

Scale posture (north_rule): AQE on (runtime coalescing + skew-join
splitting), Arrow batches sized for text payloads, shuffle partitions
matched to the core count at local scale (a cluster deploy overrides
via spark-submit --conf; nothing here hard-codes local mode).
Python workers start from ``plans.worker_daemon`` (unpacked PySpark
instead of pyspark.zip) only where the driver can see they will import
it: a local master and the package imported from a directory its
workers inherit on their path; anywhere else PySpark's own daemon runs.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

import ocr_api_spark

_DAEMON_MODULE = "ocr_api_spark.plans.worker_daemon"


def _workers_import_package(master: str) -> bool:
    """Whether Python workers can import ``_DAEMON_MODULE``.  If they
    cannot, every Python task fails, so this asks for what the driver
    can see: a ``local`` master, whose workers are children of the JVM
    and inherit its cwd (first on a ``python -m`` path) and
    ``PYTHONPATH``, and the package imported from a directory (not a
    ``--py-files`` zip) whose parent is one of the two."""
    if not re.fullmatch(r"local(\[.*\])?", master):
        return False
    pkg_dir = os.path.dirname(os.path.abspath(ocr_api_spark.__file__))
    if not os.path.isdir(pkg_dir):  # inside a zip
        return False
    root = os.path.realpath(os.path.dirname(pkg_dir))
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(r and os.path.realpath(r) == root for r in roots)


def build_session(
    app_name: str = "ocr_api_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # text/html payloads are KBs per row: 2k rows/batch keeps Arrow
        # buffers ~tens of MB without starving the Python workers
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # zstd sink: measured equal wall time to snappy on the heavy-page
        # corpus but 1.54x smaller files (390 vs 599 MB for 300k pages) —
        # at 100 TB that is the dominant object-store I/O and downstream
        # scan saving, at no throughput cost
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    extra_conf = extra_conf or {}
    if _workers_import_package(extra_conf.get("spark.master", master)):
        builder = builder.config("spark.python.daemon.module", _DAEMON_MODULE)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
