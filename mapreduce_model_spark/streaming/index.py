"""Incremental inverted indexing — the reference's one job, as a stream.

The reference re-runs its whole pipeline when the corpus grows
(main.cc:199-257 — batch-only by construction). Here the SAME logical
plan (word_doc_pairs → group → postings) runs over the streaming face of
the manifest source (sources/pyds.py): new documents arrive in
microbatches, and each batch's pairs are added to a maintained pair
table via foreachBatch — index maintenance cost is delta-sized, not
corpus-sized.

Sink contract: the running state is the (word, doc_id) pair table,
one table per checkpoint, one directory per ``batch_id``
(``sinks.write_batch``). Each microbatch writes its pairs to its own
directory and a replay of the same ``batch_id`` replaces it, so the
table is exactly-once without the batch reading the table back. Batches
never share a pair: doc ids are manifest positions and each batch covers
a disjoint offset range (sources/pyds.py). Within a batch, each row is
one whole document, so ``word_doc_pairs``' per-row ``array_distinct``
already yields distinct pairs: a microbatch is a narrow
scan → tokenize → write with no exchange. The presentation aggregate
(sorted postings arrays) is derived on demand from the pair table;
keeping raw pairs instead of arrays keeps the merge a write, never a
read-modify-write of array cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreduce_model_spark.operators.inverted_index import index_from_pairs, word_doc_pairs
from mapreduce_model_spark.sinks import write_batch


def start_streaming_index(
    spark: SparkSession,
    manifest_path: str,
    pairs_path: str,
    checkpoint_path: str,
    files_per_batch: int = 1,
):
    """Start the incremental indexer; returns the StreamingQuery.

    Requires ``sources.pyds.register(spark)`` to have been called.
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(word_doc_pairs(batch_df), pairs_path, batch_id)

    stream = (
        spark.readStream.format("manifest_corpus")
        .option("path", manifest_path)
        .option("filesPerBatch", str(files_per_batch))
        .load()
    )
    # continuous microbatches, not availableNow: AvailableNow pins the end
    # offset at query start, but this source's admission control reveals
    # the backlog filesPerBatch at a time — the caller watches progress
    # and stops when the backlog drains (drain_streaming_index)
    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(processingTime="0 seconds")
        .start()
    )


def drain_streaming_index(query, n_files: int, timeout_s: float = 120.0) -> None:
    """Run ``query`` until its committed end offset reaches ``n_files``
    (the manifest length — offsets ARE manifest positions), then stop it.
    Offset-watching, not batch-counting: a restart over a fully consumed
    manifest runs no batch and returns at its first progress event, which
    reports the final offset. A failed query raises its exception at once
    (a manifest entry missing on disk, say) instead of waiting out
    ``timeout_s``; a query still short of ``n_files`` at the deadline is
    stopped and raises ``TimeoutError``, so no caller reads a partial
    pair table as a drained one."""
    import ast
    import json
    import time

    deadline = time.time() + timeout_s
    reached = 0
    while time.time() < deadline:
        err = query.exception()
        if err is not None:
            raise err
        p = query.lastProgress
        if p is not None and p["sources"]:
            end = p["sources"][0]["endOffset"]
            if isinstance(end, str):
                try:
                    end = json.loads(end)
                except ValueError:
                    # Python-DataSource offsets round-trip as dict repr
                    # (single quotes), not JSON
                    end = ast.literal_eval(end)
            reached = end.get("index", 0) if end else 0
            if reached >= n_files:
                break
        time.sleep(0.3)
    query.stop()
    query.awaitTermination(30)
    if reached < n_files:
        raise TimeoutError(
            f"stream not drained after {timeout_s} s: end offset {reached}"
            f" of {n_files} files"
        )


def current_index(spark: SparkSession, pairs_path: str) -> DataFrame:
    """Materialize the presentation index (letter, word, docs, n_docs)
    from the maintained pair table — the same ``index_from_pairs`` as
    batch ``invert``, so streaming and batch results are comparable
    row-for-row."""
    return index_from_pairs(spark.read.parquet(pairs_path))
