"""Query registry — the driver-checkable surface (SURVEY.md §2 Table B).

Every operator the engine implements is declared here as a named query
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) a DuckDB oracle
string over the same parquet tables. The driver hash-matches Spark vs DuckDB
at sf0.01 — so every computed column is aliased identically on both sides,
ordered queries carry total-order tie-breaks, and float aggregates are
rounded identically on both sides (FIXTURES.md §4).

Tables: region nation customer supplier part orders lineitem events
documents embeddings (pre-registered as DuckDB views by the driver; loaded
from ``{sf_dir}/{name}.parquet`` on the Spark side).

Sharing a frame: a subframe that several branches of one query read is
built once with ``localCheckpoint(eager=False)``, never persisted. Spark's
CacheManager keeps a persisted plan and serves any later identical plan
from it, stale after a table is rewritten. A checkpoint is a ``LogicalRDD``
that no later plan matches; ContextCleaner frees its blocks once the frame
is unreferenced. Under AQE the call runs the frame's shuffle stages, before
the caller's action, and lost blocks are not rebuilt from lineage (sessions
are ``local[N]``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for one synthetic table (columnar, pushdown-capable).

    ``events.ts`` has drifted across testdata generations: TIMESTAMP(NANOS)
    (Spark's µs TimestampType refuses it — PARQUET_TYPE_ILLEGAL — so read
    nanos as raw int64 via the legacy conf and rebuild with integral ``div``,
    not ``/``: double division loses precision above 2^53, i.e. on every
    ns-epoch value), TIMESTAMP(MICROS) with a timezone (TimestampType,
    pass-through), and TIMESTAMP(MICROS) without one (TimestampNTZType).
    All three are normalized to TZ-aware TimestampType under a UTC-pinned
    session so ``unix_micros``/``window``/``year`` behave identically to the
    DuckDB oracle regardless of layout.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the normalized ts is TZ-aware (unlike the NTZ ms timestamps of the
        # other tables): pin the session to UTC so year()/hour()/window()
        # match the DuckDB oracle regardless of the caller's session TZ
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        raw = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return normalize_events_ts(raw)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TZ-aware TimestampType whatever the
    parquet layout (see :func:`table`). The SINGLE place both the batch
    scan and the streaming source (streaming/windows.stream_events) route
    through, so the next layout drift is a one-line fix and batch/stream
    timestamp parity holds by construction. Requires the session pinned to
    UTC (the NTZ cast is then a pure type relabel, no instant shift)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def query(name: str, oracle: str | None = None):
    """Register ``fn(spark, sf_dir) -> DataFrame`` under ``name``.

    ``oracle=None`` ⇒ non-SQL-expressible (LSH, sketches, streaming state):
    the driver records the weaker rows-only check.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            # a silent overwrite means one of two queries vanishes from
            # the driver-checkable surface with every gate still green —
            # caught once in r6 (two modules both claiming
            # 'sequence_packing'); fail at import instead
            raise ValueError(f"duplicate query name: {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# Importing the query modules populates the registry. Imports are hard on
# purpose: a broken module must fail loudly, not silently shrink coverage.
def _load() -> None:
    from mapreduce_model_spark import (  # noqa: F401
        queries_dedup,
        queries_multimodal,
        queries_pipeline,
        queries_reference,
        queries_relational,
        queries_similarity,
        queries_streaming,
        queries_text,
        queries_tpch,
    )


_load()
