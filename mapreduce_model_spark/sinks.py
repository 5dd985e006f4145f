"""Output maintenance — sized writes, small-file compaction and the
replay-safe microbatch sink.

At 100 TB the write problem is file count, not bytes: a 700k-partition shuffle
written naively produces 700k files per table, and downstream scans drown
in open() calls. These helpers size output files at write time and compact
existing small-file datasets — the end-of-pipeline step every large
ingest/ETL job needs.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_sized(
    df: DataFrame,
    path: str,
    target_rows_per_file: int,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` with ~``target_rows_per_file`` rows per output file.

    Row count comes from one narrow count pass (cheap vs the write itself);
    the repartition is round-robin so files are uniform even when the
    upstream partitioning was skewed. With ``partition_by``, a hash-salt
    splitter bounds files per directory: each task holds whole
    (partition values, salt) groups, so a directory gets ≈
    rows_in_dir / target files instead of one file per task that happens
    to contain the value.
    """
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    if partition_by:
        n_dirs = max(1, df.select(*partition_by).distinct().count())
        files_per_dir = max(1, round(n / n_dirs / target_rows_per_file))
        salt = F.pmod(F.xxhash64(*df.columns), F.lit(files_per_dir))
        (
            df.withColumn("_file_salt", salt)
            .repartition(n_files, *partition_by, "_file_salt")
            .drop("_file_salt")
            .write.mode("overwrite")
            .partitionBy(*partition_by)
            .format(fmt)
            .save(path)
        )
        return
    df.repartition(n_files).write.mode("overwrite").format(fmt).save(path)


def compact(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_rows_per_file: int,
    fmt: str = "parquet",
) -> tuple[int, int]:
    """Compact a small-file dataset: read, round-robin repartition to the
    target file size, rewrite. Returns (rows, files_written). Writing to a
    new path keeps the operation atomic-by-rename for the caller (never
    rewrite in place on object stores)."""
    df = spark.read.format(fmt).load(path)
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    df.repartition(n_files).write.mode("overwrite").format(fmt).save(out_path)
    return n, n_files


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits: int = 8,
    fmt: str = "parquet",
) -> None:
    """Write ``df`` clustered on the Z-order (Morton) curve over ``cols``,
    so parquet min/max footer stats become selective on EVERY clustered
    column at once — the multi-dimensional data-skipping layout (Delta
    OPTIMIZE ZORDER class). A plain sort clusters only its leading column;
    Z-order interleaves the bit-planes of all clustering keys, so a scan
    filtering on any one of them prunes ~``n_files^((d-1)/d)`` of the
    files from footers alone.

    Mechanics (all JVM-side, one extra column):
      1. per column, bucket values to ``2^bits`` cells with ``width_bucket``
         over the observed [min, max] (one tiny agg to the driver — two
         scalars per column, not data; for heavily skewed columns switch
         the scale to sampled quantile boundaries the same way
         ``repartitionByRange`` samples its ranges),
      2. interleave the bucket bits into one z-value
         (bit ``i`` of column ``c`` → bit ``i*d + c``; disjoint targets, so
         the combine is a plain sum),
      3. ``repartitionByRange`` + ``sortWithinPartitions`` on the z-value —
         sampled range boundaries, no global sort, no single-partition
         bottleneck — then drop it and write.
    """
    d = len(cols)
    if not 1 <= d <= 4:
        raise ValueError("zorder_write clusters 1-4 columns")
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).first()
    n_cells = 1 << bits
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        bucket = (
            F.width_bucket(
                F.col(c).cast("double"), F.lit(mn), F.lit(mx + 1e-9), F.lit(n_cells)
            )
            - 1
        ).cast("long")
        for bi in range(bits):
            z = z + F.shiftleft(
                F.shiftright(bucket, bi).bitwiseAND(F.lit(1)), bi * d + ci
            ).cast("long")
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )


def write_observed(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    metric_cols: list[str] | None = None,
) -> dict:
    """Write ``df`` and return write-time metrics from ``df.observe`` —
    rows written, null counts for the requested columns — WITHOUT a second
    scan. The observation rides the write job itself (an accumulator-style
    aggregate on the task path), which is how a 100 TB ingest gets its
    row-count audit for free; a separate ``count()`` would re-read the
    input. Returns {"rows": n, "nulls_<col>": n, ...}."""
    from pyspark.sql import Observation

    metric_cols = metric_cols or []
    aggs = [F.count(F.lit(1)).alias("rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
        for c in metric_cols
    ]
    obs = Observation()
    observed = df.observe(obs, *aggs)
    observed.write.mode(mode).format(fmt).save(path)
    return dict(obs.get)


def write_batch(df: DataFrame, table: str, batch_id: int) -> None:
    """The foreachBatch sinks' one write: ``df`` replaces the directory
    ``<table>/batch_id=<batch_id>`` (parquet).

    Replay contract: Spark re-runs a microbatch under the same
    ``batch_id`` when its output may have landed but its checkpoint commit
    did not, so overwriting that batch's own directory makes the sink
    exactly-once without reading anything back. One table belongs to one
    checkpoint. Read the table whole (``spark.read.parquet(table)`` or any
    parquet dataset reader; Spark adds a ``batch_id`` partition column),
    or as it stood when batch ``n`` started with ``batch_id < n``.
    """
    df.write.mode("overwrite").parquet(os.path.join(table, f"batch_id={batch_id}"))
