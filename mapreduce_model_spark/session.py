"""SparkSession factory.

The reference engine's only runtime knobs are ``<mapper_threads>
<reducer_threads>`` (main.cc:199-214). In Spark those map onto input-split
parallelism (``spark.sql.files.maxPartitionBytes``) and shuffle parallelism
(``spark.sql.shuffle.partitions``); everything else the reference does with
pthreads (dynamic task queue main.cc:50-59, barriers main.cc:99/129) is the
Spark scheduler's job.

Scale notes (100 TB): these defaults are for the local[32] harness. On a real
cluster the same code runs unchanged; only the session config changes —
shuffle partitions sized so each post-shuffle partition is ~128-200 MB
(100 TB / 150 MB ≈ 700k partitions → rely on AQE coalescing from a high
initial number), AQE handles skew splitting, and executors get the memory/
core ratio. Nothing in the engine hard-codes partition counts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mapreduce-model-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-ready defaults.

    - AQE on (runtime partition coalescing, skew-join splitting) — replaces
      the reference's static equal-range reduce split (main.cc:112-118).
    - UTC session timezone so timestamp semantics match the DuckDB oracle.
    - Arrow on so any Pandas-UDF path is vectorized (never row-at-a-time).
    - File listing on the driver: above the default 32 paths Spark lists
      files with a distributed job on every ``spark.read`` call. The
      manifest reader has already ``os.path.exists``-checked each path on
      the driver, so the threshold sits above any path count read here.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", max(cpus, 8))
        )

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        # not fs.file.impl=RawLocalFileSystem: RocksDB state stores cast to LocalFileSystem
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
