"""Streaming near-dup admission gate (streaming/dedup_gate.py): band-key
parity with the batch pair join, cross-batch flagging, the documented
within-batch contract, and re-run and lost-commit replay idempotence."""

import pyspark.sql.functions as F

from mapreduce_model_spark.operators.dedup import (
    band_keys_expr,
    minhash_sig_expr,
    minhash_signatures,
)
from mapreduce_model_spark.registry import table
from mapreduce_model_spark.streaming.dedup_gate import start_dedup_gate

SF = "/root/testdata/sf0.001"

_SCHEMA = "doc_id long, text string"

_LONG_A = (
    "the migratory patterns of arctic terns span every ocean on the planet "
    "and their annual journey covers more distance than any other bird"
)
_LONG_B = (
    "compiler optimization passes reorder independent instructions to hide "
    "memory latency while preserving the observable semantics of the program"
)
_LONG_C = (
    "fermented foods rely on carefully controlled microbial cultures whose "
    "metabolic byproducts develop the acidity and depth of flavor we expect"
)


def test_narrow_band_keys_match_batch_banding(spark):
    """The gate's per-row band keys must equal the batch pair join's keys
    on real corpus docs — otherwise its buckets silently never match."""
    docs = table(spark, SF, "documents").limit(50)
    batch = minhash_signatures(docs).select(
        "doc_id", F.explode(band_keys_expr("sig")).alias("bk")
    )
    narrow = (
        docs.withColumn("_sig", minhash_sig_expr("text"))
        .filter(F.col("_sig").isNotNull())
        .select("doc_id", F.explode(band_keys_expr("_sig")).alias("bk"))
    )
    assert batch.exceptAll(narrow).count() == 0
    assert narrow.exceptAll(batch).count() == 0


def _run_gate(spark, tmp_path, rows):
    src = tmp_path / "src"
    batch_no = len(list(src.glob("batch*"))) if src.exists() else 0
    spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode("append").parquet(
        str(src / f"batch{batch_no}")
    )
    stream = spark.readStream.schema(_SCHEMA).option("basePath", str(src)).parquet(
        str(src / "*")
    )
    start_dedup_gate(
        stream,
        spark,
        index_path=str(tmp_path / "index"),
        admitted_path=str(tmp_path / "admitted"),
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    admitted = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "admitted")).collect()
    }
    try:
        qrows = spark.read.parquet(str(tmp_path / "quarantine")).collect()
    except Exception:
        qrows = []
    return admitted, {r["doc_id"]: r["n_bands_matched"] for r in qrows}


def test_gate_admits_then_flags_cross_batch(spark, tmp_path):
    # batch 0: three distinct docs + one too-short doc (no shingles)
    admitted, quar = _run_gate(
        spark,
        tmp_path,
        [(1, _LONG_A), (2, _LONG_B), (3, _LONG_C), (4, "too short")],
    )
    assert admitted == {1, 2, 3, 4}
    assert quar == {}

    # batch 1: an exact copy of doc 1 (all 8 bands must match), a fresh doc
    admitted, quar = _run_gate(
        spark,
        tmp_path,
        [(10, _LONG_A), (11, "a genuinely new document about glacier caves forming beneath seasonal meltwater channels")],
    )
    assert 11 in admitted and 10 not in admitted
    assert quar == {10: 8}

    # batch 2: a copy of doc 2 (admitted two batches ago) — the index
    # remembers every admitted doc's bands, not just the last batch's
    admitted, quar = _run_gate(spark, tmp_path, [(20, _LONG_B)])
    assert 20 not in admitted
    assert quar[20] == 8


def _gate_tables(spark, tmp_path):
    """Each output table as a sorted multiset of rows."""
    return {
        name: sorted(map(tuple, spark.read.parquet(str(tmp_path / name)).collect()))
        for name in ("admitted", "quarantine", "index")
    }


def test_gate_rerun_is_idempotent(spark, tmp_path):
    """A re-drain with nothing new and a replay of a batch whose write
    landed but whose checkpoint commit was lost both leave every table as
    it was; the replay must not match the batch against its own bands."""
    _run_gate(spark, tmp_path, [(1, _LONG_A), (2, _LONG_B)])
    before = _gate_tables(spark, tmp_path)
    assert {r[0] for r in before["admitted"]} == {1, 2}
    assert before["quarantine"] == []

    def redrain():
        stream = spark.readStream.schema(_SCHEMA).option(
            "basePath", str(tmp_path / "src")
        ).parquet(str(tmp_path / "src" / "*"))
        start_dedup_gate(
            stream,
            spark,
            index_path=str(tmp_path / "index"),
            admitted_path=str(tmp_path / "admitted"),
            quarantine_path=str(tmp_path / "quarantine"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )

    # re-drain with the same checkpoint and no new files: no growth
    redrain()
    assert _gate_tables(spark, tmp_path) == before

    # lose the last commit: Spark replays that batch on the next drain
    commits = tmp_path / "ckpt" / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    (commits / str(last)).unlink()
    (commits / f".{last}.crc").unlink()
    redrain()
    after = _gate_tables(spark, tmp_path)
    assert after == before
    assert not {r[0] for r in after["admitted"]} & {r[0] for r in after["quarantine"]}


def test_gate_catches_within_batch_contract_followup(spark, tmp_path):
    """Two near-dups arriving in the SAME first batch are both admitted
    (checked against an empty index), but their bands enter the index, so
    a third copy in the next batch is quarantined."""
    admitted, quar = _run_gate(spark, tmp_path, [(1, _LONG_A), (2, _LONG_A)])
    assert admitted == {1, 2}
    assert quar == {}
    admitted, quar = _run_gate(spark, tmp_path, [(3, _LONG_A)])
    assert 3 not in admitted
    assert quar[3] == 8


def test_gate_runs_on_oph_sketch(spark, tmp_path):
    """The admission gate is sketch-agnostic: wired to oph_sig_expr it
    must show the same behavior — admit distinct docs, flag an exact copy
    on all 8 bands in a later batch (the index was built with OPH keys,
    so a full-band match proves the swap is end-to-end consistent)."""
    from mapreduce_model_spark.operators.dedup import oph_sig_expr
    from mapreduce_model_spark.streaming.dedup_gate import start_dedup_gate

    def run(rows):
        src = tmp_path / "src"
        batch_no = len(list(src.glob("batch*"))) if src.exists() else 0
        spark.createDataFrame(rows, _SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src / f"batch{batch_no}"))
        stream = (
            spark.readStream.schema(_SCHEMA)
            .option("basePath", str(src))
            .parquet(str(src / "*"))
        )
        start_dedup_gate(
            stream,
            spark,
            index_path=str(tmp_path / "index"),
            admitted_path=str(tmp_path / "admitted"),
            quarantine_path=str(tmp_path / "quarantine"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            sig_expr_fn=oph_sig_expr,
        )
        admitted = {
            r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / "admitted")).collect()
        }
        try:
            qrows = spark.read.parquet(str(tmp_path / "quarantine")).collect()
        except Exception:
            qrows = []
        return admitted, {r["doc_id"]: r["n_bands_matched"] for r in qrows}

    admitted, quar = run([(1, _LONG_A), (2, _LONG_B)])
    assert admitted == {1, 2} and quar == {}
    admitted, quar = run([(10, _LONG_A), (11, _LONG_C)])
    assert 11 in admitted and 10 not in admitted
    assert quar == {10: 8}
