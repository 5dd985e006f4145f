"""CSV / JSON-lines source contracts: schema round-trip, FAILFAST aborts,
PERMISSIVE quarantines (sources/files.py — the generalized A2 scan)."""

import pytest
from pyspark.sql import functions as F

from mapreduce_model_spark.registry import table
from mapreduce_model_spark.sources.files import CORRUPT_COL, read_csv, read_jsonl
from tests.conftest import REFERENCE_SMALL

DDL = "l_orderkey bigint, l_linenumber int, l_quantity double, l_returnflag string"


@pytest.fixture(scope="module")
def sample(spark, sf_dir):
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .limit(200)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_csv_roundtrip(spark, sample, tmp_path):
    p = str(tmp_path / "csv")
    sample.write.option("header", True).csv(p)
    back = read_csv(spark, p, DDL)
    assert back.schema == sample.schema
    assert _rows(back) == _rows(sample)


def test_jsonl_roundtrip(spark, sample, tmp_path):
    p = str(tmp_path / "jsonl")
    sample.write.json(p)
    back = read_jsonl(spark, p, DDL)
    assert back.schema == sample.schema
    assert _rows(back) == _rows(sample)


def test_csv_failfast_aborts_on_malformed(spark, tmp_path):
    f = tmp_path / "bad.csv"
    f.write_text(
        "l_orderkey,l_linenumber,l_quantity,l_returnflag\n"
        "1,1,10.5,A\n"
        "not_a_number,x,y,z\n"
    )
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_csv(spark, str(f), DDL).collect()


def test_csv_permissive_quarantines(spark, tmp_path):
    f = tmp_path / "bad.csv"
    f.write_text(
        "l_orderkey,l_linenumber,l_quantity,l_returnflag\n"
        "1,1,10.5,A\n"
        "not_a_number,x,y,z\n"
        "2,3,4.0,R\n"
    )
    df = read_csv(spark, str(f), DDL, mode="PERMISSIVE").cache()
    good = df.filter(F.col(CORRUPT_COL).isNull())
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    assert good.count() == 2
    assert bad.count() == 1
    assert "not_a_number" in bad.collect()[0][CORRUPT_COL]
    df.unpersist()


def test_jsonl_permissive_quarantines(spark, tmp_path):
    f = tmp_path / "bad.jsonl"
    f.write_text(
        '{"l_orderkey": 1, "l_linenumber": 1, "l_quantity": 10.5, "l_returnflag": "A"}\n'
        "{this is not json}\n"
    )
    df = read_jsonl(spark, str(f), DDL, mode="PERMISSIVE").cache()
    assert df.filter(F.col(CORRUPT_COL).isNull()).count() == 1
    assert df.filter(F.col(CORRUPT_COL).isNotNull()).count() == 1
    df.unpersist()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution on the lake: files written before a column existed
    read back as null under mergeSchema — additive evolution, no rewrite of
    old files (the only evolution that scales to petabyte tables)."""
    base = str(tmp_path / "evolve")
    spark.createDataFrame([(1, "a")], "id bigint, name string").write.parquet(
        base + "/part=old"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, name string, score double"
    ).write.parquet(base + "/part=new")
    df = spark.read.option("mergeSchema", True).parquet(base)
    assert set(df.columns) == {"id", "name", "score", "part"}
    rows = {r.id: (r.name, r.score) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_manifest_datasource_stream_missing_file_fails(spark, tmp_path):
    """A manifest listing a missing file is a hard error (main.cc:66-70):
    the batch read_corpus raises, and the stream face fails the query."""
    from mapreduce_model_spark.sources.manifest import read_corpus
    from mapreduce_model_spark.sources.pyds import register

    bad = tmp_path / "bad_manifest.txt"
    bad.write_text("1\n/nonexistent/file.txt\n")
    with pytest.raises(FileNotFoundError, match="missing on disk"):
        read_corpus(spark, str(bad))
    register(spark)
    q = (
        spark.readStream.format("manifest_corpus")
        .option("path", str(bad))
        .load()
        .writeStream.format("memory")
        .queryName("manifest_stream_missing")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        with pytest.raises(Exception, match="missing on disk"):
            q.awaitTermination(120)
    finally:
        q.stop()


def test_orc_roundtrip_and_pushdown(spark, sample, tmp_path):
    from mapreduce_model_spark.sources.files import read_orc, write_orc

    p = str(tmp_path / "orc")
    write_orc(sample, p)
    back = read_orc(spark, p)
    assert back.schema == sample.schema
    assert _rows(back) == _rows(sample)
    # filters must reach the ORC reader as pushed search arguments, and the
    # projection must prune to the two referenced columns at the stripe level
    plan = (
        back.filter(F.col("l_quantity") > 25)
        .select("l_orderkey", "l_quantity")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,25.0)]" in plan
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_manifest_datasource_streams_incrementally(spark, tmp_path):
    """The streaming face of manifest_corpus: with filesPerBatch=1 the
    3-file small corpus must arrive over ≥3 microbatches (offset-based
    admission control), and the streamed rows must equal the batch read."""
    import time

    from mapreduce_model_spark.sources.manifest import read_corpus
    from mapreduce_model_spark.sources.pyds import register

    manifest = f"{REFERENCE_SMALL}/test_small.txt"
    register(spark)

    stream = (
        spark.readStream.format("manifest_corpus")
        .option("path", manifest)
        .option("filesPerBatch", "1")
        .load()
    )
    assert stream.schema.simpleString() == "struct<doc_id:bigint,text:string>"
    q = (
        stream.writeStream.format("memory")
        .queryName("manifest_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if q.exception() is not None:
                raise q.exception()
            if spark.table("manifest_stream").count() >= 3:
                break
            time.sleep(0.5)
        got = {
            (r.doc_id, r.text)
            for r in spark.table("manifest_stream").collect()
        }
        batch = {(r.doc_id, r.text) for r in read_corpus(spark, manifest).collect()}
        assert got == batch and len(got) == 3
        n_batches = 1 + (q.lastProgress or {}).get("batchId", 0)
        assert n_batches >= 3, f"expected ≥3 microbatches, saw {n_batches}"
    finally:
        q.stop()


def test_manifest_datasource_streams_incrementally_generated(spark, generated_corpus, tmp_path):
    """Generated-corpus sibling of the streaming test above: 41 manifest
    entries at filesPerBatch=16 arrive over 3 microbatches, and the streamed
    documents equal the files on disk."""
    from mapreduce_model_spark.sources.pyds import register
    from mapreduce_model_spark.streaming.index import drain_streaming_index

    manifest, docs = generated_corpus
    register(spark)
    q = (
        spark.readStream.format("manifest_corpus")
        .option("path", manifest)
        .option("filesPerBatch", "16")
        .load()
        .writeStream.format("memory")
        .queryName("manifest_stream_generated")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    drain_streaming_index(q, n_files=len(docs))
    got = {(r.doc_id, r.text) for r in spark.table("manifest_stream_generated").collect()}
    assert got == set(docs.items())
    assert 1 + q.lastProgress["batchId"] >= 3


def test_manifest_stream_reader_resumes_at_planned_offset(generated_corpus):
    """The stream reader keeps no cursor: ``read`` at a restarted query's
    planned offset serves only what lies past it, a fresh reader advances
    filesPerBatch at a time, and ``readBetweenOffsets`` (the replay path)
    re-reads exactly the planned slice."""
    from mapreduce_model_spark.sources.pyds import ManifestStreamReader

    manifest, docs = generated_corpus
    assert len(docs) == 41
    opts = {"path": manifest, "filesPerBatch": "16"}
    restarted = ManifestStreamReader(opts)
    rows, end = restarted.read({"index": 41})
    assert list(rows) == [] and end == {"index": 41}

    fresh = ManifestStreamReader(opts)
    assert fresh.initialOffset() == {"index": 0}
    rows, end = fresh.read({"index": 0})
    assert list(rows) == [(i, docs[i]) for i in range(1, 17)] and end == {"index": 16}
    assert fresh.read({"index": 32})[1] == {"index": 41}
    replay = fresh.readBetweenOffsets({"index": 16}, {"index": 32})
    assert [doc_id for doc_id, _ in replay] == list(range(17, 33))


def test_xml_roundtrip(spark, sample, tmp_path):
    from mapreduce_model_spark.sources.files import read_xml, write_xml

    p = str(tmp_path / "xml")
    write_xml(sample, p, row_tag="item")
    back = read_xml(spark, p, DDL, row_tag="item")
    assert back.schema == sample.schema
    assert _rows(back) == _rows(sample)


def test_binary_files_ingest_to_multimodal(spark, tmp_path):
    """binaryFile source: whole-file bytes + metadata, per-modality glob
    filtering, and the bytes feed the multimodal magic-byte sniffer
    unchanged (ingest → typed asset row in one plan)."""
    from mapreduce_model_spark.sources.files import read_binary_files

    tree = tmp_path / "assets" / "nested"
    tree.mkdir(parents=True)
    png = bytes.fromhex("89504e470d0a1a0a") + b"fakepixels"
    (tree / "a.png").write_bytes(png)
    (tree / "b.wav").write_bytes(b"RIFF1234WAVEfmt fake")
    (tmp_path / "assets" / "notes.txt").write_text("not an asset")

    all_files = read_binary_files(spark, str(tmp_path / "assets"))
    assert {r.path.rsplit("/", 1)[-1] for r in all_files.collect()} == {
        "a.png",
        "b.wav",
        "notes.txt",
    }

    pngs = read_binary_files(spark, str(tmp_path / "assets"), glob="*.png").collect()
    assert len(pngs) == 1
    assert bytes(pngs[0].content) == png
    assert pngs[0].length == len(png)

    from mapreduce_model_spark.operators.multimodal import sniff_format

    typed = read_binary_files(spark, str(tmp_path / "assets"), glob="*.{png,wav}")
    out = {
        r.path.rsplit("/", 1)[-1]: r.fmt
        for r in typed.select("path", sniff_format(F.col("content")).alias("fmt")).collect()
    }
    assert out == {"a.png": "png", "b.wav": "wav"}
