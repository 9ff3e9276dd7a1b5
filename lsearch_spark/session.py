"""SparkSession builder with the engine's standard configuration.

Local-mode in the sandbox; the same confs apply on a real cluster via
spark-submit --py-files (see bench.py / README).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "lsearch-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    extra_confs: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    cores defaults to $SPARK_GRAFT_CPUS (driver contract) else 32.
    shuffle_partitions defaults to 2x cores — small enough to avoid tiny
    tasks at sandbox scale; at 100 TB this is set to ~2-3x total executor
    cores and AQE coalesces from there.
    """
    cores = int(cores or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # ParallelGC beats G1 ~30% on this shuffle-heavy batch workload
        # (measured; G1 pauses scale badly with local-mode thread counts)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # Spark 4.1 unix-domain-socket python workers: shaves ~15-25ms
        # off every python-eval job's JVM<->worker handshake (measured
        # 172->156 / 173->146 ms on the 1-task identity probe; the
        # handshake is the interactive floor's largest component).
        # LSEARCH_PY_UDS=0 reverts to TCP sockets.
        .config(
            "spark.python.unix.domain.socket.enabled",
            os.environ.get("LSEARCH_PY_UDS", "1") == "1" and "true" or "false",
        )
    )
    # shuffle/spill on tmpfs when available: the sandbox's /tmp is a
    # virtio disk whose IOPS collapse under 32-way concurrent writers
    if os.path.isdir("/dev/shm"):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
