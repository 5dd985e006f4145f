"""MapReduce programming-model compatibility layer.

The reference's extension surface is a pluggable ``mapper``/``reducer``
function pair wired into its pthread driver (main.cc:44,104,238,241 —
operator A20). This module gives a reference user the same contract on
Spark: write ``map_fn(record) -> iter[(k, v)]`` and ``reduce_fn(key,
values) -> result``, get a distributed run with shuffle, combining, and
fault tolerance from the engine.

Implementation notes (scale):
- ``map_fn`` fan-out runs via ``flatMap`` on the underlying RDD; a
  ``combine_fn`` (optional, defaults to ``reduce_fn`` when associative)
  enables map-side combining — the reference's per-file dedup/merge
  (main.cc:62-63, 85-96) generalized.
- The shuffle is ``reduceByKey``/``groupByKey`` depending on whether a
  combiner exists. ``groupByKey`` materializes a key's full value list on
  one task (exactly the reference's serialized reduce, main.cc:120-127) —
  fine for bounded groups, wrong for hot keys; pass a combiner whenever the
  reduction is associative, same argument as operators/skew.py.
- Prefer the DataFrame operators for anything they can express — this layer
  exists for API parity and for genuinely imperative per-record logic;
  Python functions cost serialization that built-ins don't.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any, TypeVar

from pyspark.sql import DataFrame

K = TypeVar("K")
V = TypeVar("V")
R = TypeVar("R")


def map_reduce(
    records,
    map_fn: Callable[[Any], Iterable[tuple[K, V]]],
    reduce_fn: Callable[[K, list[V]], R],
    combine_fn: Callable[[V, V], V] | None = None,
    num_partitions: int | None = None,
):
    """Run a classic MapReduce job over ``records`` (an RDD or a DataFrame;
    DataFrames are mapped over their ``Row`` objects).

    Returns an RDD of ``(key, reduce_fn(key, values))``.

    ``combine_fn``: associative pre-merge of two values — enables map-side
    combining (reduceByKey) so hot keys never materialize their full value
    list; ``reduce_fn`` then receives a single-element list per key.
    """
    rdd = records.rdd if isinstance(records, DataFrame) else records
    pairs = rdd.flatMap(lambda rec: list(map_fn(rec)))
    if combine_fn is not None:
        combined = (
            pairs.reduceByKey(combine_fn, numPartitions=num_partitions)
            if num_partitions
            else pairs.reduceByKey(combine_fn)
        )
        return combined.map(lambda kv: (kv[0], reduce_fn(kv[0], [kv[1]])))
    grouped = (
        pairs.groupByKey(numPartitions=num_partitions)
        if num_partitions
        else pairs.groupByKey()
    )
    return grouped.map(lambda kv: (kv[0], reduce_fn(kv[0], list(kv[1]))))

