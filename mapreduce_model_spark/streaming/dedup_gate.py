"""Streaming near-duplicate admission gate — incremental MinHash-LSH.

The batch near-dedup stack (operators.dedup: signatures → band buckets →
pair join → connected components) answers "which docs in THIS corpus are
near-dups of each other". An ingestion pipeline needs the incremental
question: "is this NEW doc a near-dup of anything already admitted?" —
answered per microbatch, without rescanning history.

Design:

- The maintained state is the **band-key index**: the distinct LSH band
  keys of every admitted doc. Bands are the natural streaming state —
  membership of ONE shared band is exactly the batch pair-join's candidate
  condition, the index is append-only (admitting a doc adds its ≤ ``bands``
  keys), and it is a tiny fraction of corpus size (32 B/key).
- Per microbatch (foreachBatch — full batch semantics inside the trigger):
  signatures are computed **narrowly per row** (``minhash_sig_expr``; a
  streaming plan can't absorb the batch path's groupBy and a microbatch is
  small enough that interpreted HOF cost is irrelevant), band keys via the
  SAME ``band_keys_expr`` as the batch pair join — buckets join by
  construction. Docs sharing any band with the index are quarantined as
  near-dup candidates; the rest are admitted and their bands appended.
- **Contract** (documented recall filter, like the Bloom screen for exact
  dedup): docs are checked against the index as of BATCH START — two
  near-dup docs inside one microbatch are both admitted (their bands land
  in the index, so every LATER copy is caught). Docs too short to shingle
  (< shingle_k words) cannot near-dup and are admitted unconditionally.
  Exactness lives downstream: quarantined candidates go through the exact
  verifier (dedup_ngram_jaccard) in batch.
- **Sink contract**: the three tables belong to one checkpoint and hold
  one directory per ``batch_id`` (``sinks.write_batch``); a replay of a
  batch replaces its own directories. Batch ``n`` reads only the index
  prefix ``batch_id < n`` — never its own outputs — so a replay sees the
  same index and makes the same split. Admitted docs share no band with
  that prefix by definition, so their keys append without a check.

Heritage: the incremental face of SURVEY §2's dedup_near row; the batch
twin is queries_dedup.dedup_near_minhash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_model_spark.operators.dedup import band_keys_expr, minhash_sig_expr
from mapreduce_model_spark.sinks import write_batch

__all__ = ["start_dedup_gate"]


def start_dedup_gate(
    stream_docs: DataFrame,
    spark: SparkSession,
    index_path: str,
    admitted_path: str,
    quarantine_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    rows: int = 4,
    shingle_k: int = 3,
    sig_expr_fn=None,
) -> None:
    """Drain ``stream_docs`` (availableNow) through the admission gate.

    Writes three parquet tables: ``admitted_path`` (docs that shared no
    band with the index), ``quarantine_path`` (near-dup candidates, with
    the count of matched bands as triage signal), and ``index_path`` (the
    self-maintaining band-key state). Safe to re-run with the same
    checkpoint: a replayed batch replaces its own output (see module
    docstring).

    ``sig_expr_fn`` swaps the per-row sketch (default classic
    ``minhash_sig_expr``; pass ``operators.dedup.oph_sig_expr`` to run
    the gate on the k-fold-cheaper one-permutation sketch — band keys
    and geometry are sketch-agnostic, so nothing else changes).
    """
    make_sig = sig_expr_fn or minhash_sig_expr

    def _apply(batch: DataFrame, batch_id: int) -> None:
        sig = batch.withColumn(
            "_sig", make_sig(text_col, k=k, shingle_k=shingle_k)
        )
        keyed = sig.filter(F.col("_sig").isNotNull()).select(
            id_col, F.explode(band_keys_expr("_sig", bands, rows)).alias("band_key")
        )
        # the batch re-enters twice (hit split + index append) and the
        # narrow sig is the expensive expression — compute it once
        keyed = keyed.localCheckpoint(eager=True)

        index = (
            spark.read.schema("band_key string, batch_id long")
            .parquet(index_path)
            .where(F.col("batch_id") < batch_id)
        )
        hits = (
            keyed.join(index, "band_key")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bands_matched"))
        )

        admitted = batch.join(hits, id_col, "left_anti")
        write_batch(admitted, admitted_path, batch_id)
        write_batch(batch.join(hits, id_col, "inner"), quarantine_path, batch_id)
        new_keys = (
            keyed.join(admitted.select(id_col), id_col, "left_semi")
            .select("band_key")
            .distinct()
        )
        write_batch(new_keys, index_path, batch_id)

    # an empty index table, so batch 0 reads it like any later batch
    os.makedirs(index_path, exist_ok=True)
    (
        stream_docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
