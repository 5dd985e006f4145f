"""Incremental inverted indexing — the reference's one job, as a stream.

The reference re-runs its whole pipeline when the corpus grows
(main.cc:199-257 — batch-only by construction). Here the SAME logical
plan (word_doc_pairs → group → postings) runs over the streaming face of
the manifest source (sources/pyds.py): new documents arrive in
microbatches, and each batch's pairs are merged into a maintained
postings table via foreachBatch — index maintenance cost is
delta-sized, not corpus-sized.

Merge strategy: the running state is the DISTINCT (word, doc_id) pair
set (exactly the reference's global ``std::set``, main.cc:17) stored as
a parquet table partition-pruned on nothing (it is already the minimal
state — dedup happened). Each microbatch unions its new pairs in with
an anti-join (only unseen pairs append), so replays are idempotent —
the (word, doc_id) pair is the natural idempotency key. The presentation
aggregate (sorted postings arrays) is derived on demand from the pair
table; keeping raw pairs instead of arrays keeps the merge an append,
never a read-modify-write of array cells.

At 100 TB: the pair table is append-only parquet (object-store
friendly), the anti-join broadcasts the delta (a microbatch is small by
definition), and the derived index is either recomputed per consumer
query or maintained as a second incremental rollup (rollup_incremental
pattern).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mapreduce_model_spark.operators.inverted_index import index_from_pairs, word_doc_pairs


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
        pairs = word_doc_pairs(batch_df)
        sess = batch_df.sparkSession
        if os.path.exists(pairs_path):
            seen = sess.read.parquet(pairs_path)
            pairs = pairs.join(seen, ["word", "doc_id"], "left_anti")
        pairs.write.mode("append").parquet(pairs_path)

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
    Offset-watching, not batch-counting: an already-caught-up restart
    reports the final offset in its first progress event and returns
    immediately."""
    import ast
    import json
    import time

    deadline = time.time() + timeout_s
    while time.time() < deadline:
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
            if end and end.get("index", 0) >= n_files:
                break
        time.sleep(0.3)
    query.stop()
    query.awaitTermination(30)


def current_index(spark: SparkSession, pairs_path: str) -> DataFrame:
    """Materialize the presentation index (letter, word, docs, n_docs)
    from the maintained pair table — the same ``index_from_pairs`` as
    batch ``invert``, so streaming and batch results are comparable
    row-for-row."""
    return index_from_pairs(spark.read.parquet(pairs_path))
