"""SparkSession factory.

Centralizes the confs that matter for both correctness (UTC session
timezone; ANSI stays at the Spark 4 default of ON — casts and
divisions in engine code are written ANSI-safe, e.g. the
greatest()-guarded integer divisions in ext_sampling) and scale (AQE,
shuffle partitions, Arrow).

Local-mode notes: tests run on ``local[N]`` (single JVM). On a real
cluster the same confs apply; the local-specific knobs are
``spark.driver.memory`` and ``spark.python.daemon.module``.

Python worker daemon: on a ``local``/``local[...]`` master the session
sets ``spark.python.daemon.module`` to ``eventsgateway_spark.worker_daemon``
(unless the caller passes its own). Spark's default daemon makes every
Python worker task re-read ``pyspark.zip`` about 16 times on CPython
< 3.12, 120-200 ms per task before the UDF starts; that is a fixed cost on
every ``run_etl`` micro-batch (its Avro decode is a pandas UDF) and every
UDF query. The engine daemon re-reads a zip only when it changed. Only
local masters get it: there the workers inherit the PYTHONPATH that
``get_spark`` puts the repo root on, while on a cluster master the module
may not be importable before any ``addPyFile``, so those sessions keep
Spark's default daemon, as do sessions not built here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned for the driver's bench box (local[32], 128 GiB). On a cluster,
# spark.sql.shuffle.partitions should scale with executor cores (AQE
# coalesces the excess), so a high-but-not-huge default is safe.
_DEFAULT_CONFS = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Columnar snappy parquet at rest mirrors the reference's snappy-on-Kafka
    # + ORC/Delta-at-rest posture (server/forwarder/kafka.go:42, Makefile:23).
    "spark.sql.parquet.compression.codec": "snappy",
    # 128 MiB scan splits — the sweet spot for large parquet scans; small
    # local test files produce one split regardless.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
}


def get_spark(app_name: str = "eventsgateway_spark", **extra_confs: str) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``spark.driver.memory`` only takes effect on a fresh JVM; callers that
    need a specific memory size must call this before any other session
    exists.
    """
    # Python workers inherit PYTHONPATH from their parent process env,
    # not the driver's sys.path — without this, any pickled function
    # referencing the package (pandas-UDF Avro fallback, UDTFs) fails
    # with ModuleNotFoundError when the caller runs outside the repo
    # root. Local mode: the driver env var reaches the workers (must be
    # set before the first JVM starts). Cluster mode: executors spawn
    # from the executor JVM's env, so spark.executorEnv.PYTHONPATH is
    # set too — on a real deployment prefer shipping the package
    # (pip install / --py-files), which needs neither.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    extra_confs.setdefault(
        "spark.executorEnv.PYTHONPATH", os.environ.get("PYTHONPATH", pkg_root)
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{cpus}]" if cpus else "local[*]"
    )
    if master == "local" or master.startswith("local["):
        # the workers' PYTHONPATH (set above) carries the package here
        extra_confs.setdefault(
            "spark.python.daemon.module", "eventsgateway_spark.worker_daemon"
        )
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in {**_DEFAULT_CONFS, **extra_confs}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
