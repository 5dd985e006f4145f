"""Crash-safety pins for the letter sink (``write_letter_files``): the
UNHAPPY paths the round-trip tests don't reach — a failed Spark job, a
publish stopped between its rename and delete phases, and the exact parse
of the job-id field that decides which part files are live.

Crashes at a precise instant of the publish are injected by
making one step of it raise; every assertion is on the real on-disk layout
readers see.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from mapreduce_model_spark.operators import inverted_index
from mapreduce_model_spark.operators.inverted_index import (
    invert,
    published_part_files,
    write_letter_files,
)


def _index(spark, texts: list[str]):
    docs = spark.createDataFrame(list(enumerate(texts, 1)), "doc_id long, text string")
    return invert(docs)


def _visible(out: str) -> dict[str, list[str]]:
    """letter -> concatenated lines of the COMMITTED view."""
    got: dict[str, list[str]] = {}
    for f in published_part_files(out):
        letter = os.path.basename(os.path.dirname(f)).split("=", 1)[1]
        with open(f, encoding="utf-8") as fh:
            got.setdefault(letter, []).extend(fh.read().splitlines())
    return got


def _tree(out: str) -> dict[str, bytes]:
    """Every file outside ``_staging`` with its bytes."""
    snap = {}
    for root, dirs, files in os.walk(out):
        dirs[:] = [d for d in dirs if d != "_staging"]
        for name in files:
            p = os.path.join(root, name)
            with open(p, "rb") as fh:
                snap[os.path.relpath(p, out)] = fh.read()
    return snap


def _live_job(out: str) -> str:
    with open(os.path.join(out, "_SUCCESS"), encoding="utf-8") as fh:
        return json.load(fh)["job_id"]


def test_batch_job_abort_publishes_nothing(spark, tmp_path):
    """A failed write JOB publishes nothing: the previous index stays
    byte-identical on disk, and the next successful write sweeps any
    staging residue a dead job left."""
    out = str(tmp_path / "idx")
    write_letter_files(_index(spark, ["apple ant", "bear apple"]), out)
    before = _tree(out)
    assert _visible(out) == {"a": ["apple:[1 2]", "ant:[1]"], "b": ["bear:[2]"]}

    bad = _index(spark, ["cat"]).withColumn(
        "word",
        F.when(F.col("n_docs") > 0, F.raise_error(F.lit("boom"))).otherwise(F.col("word")),
    )
    with pytest.raises(Exception, match="boom"):
        write_letter_files(bad, out)
    assert _tree(out) == before
    # a process killed mid-job leaves its staged parts behind
    dead = os.path.join(out, "_staging", "deadbeef0000", "letter=c")
    os.makedirs(dead)
    with open(os.path.join(dead, "part-00000-x.c000.txt"), "w") as fh:
        fh.write("cow:[7]\n")
    assert _visible(out) == {"a": ["apple:[1 2]", "ant:[1]"], "b": ["bear:[2]"]}

    write_letter_files(_index(spark, ["cat"]), out)
    assert _visible(out) == {"c": ["cat:[1]"]}
    assert not os.path.exists(os.path.join(out, "_staging"))


def test_overwrite_crash_window_reads_one_dataset(spark, tmp_path, monkeypatch):
    """A publish stopped between rename and delete: both jobs' complete
    part sets coexist on disk, and published_part_files still reads
    exactly one of them — the old index before ``_SUCCESS`` flips, the
    new one after. The next completed write retires both."""
    out = str(tmp_path / "ow")
    write_letter_files(_index(spark, ["apple"]), out)
    job_a = _live_job(out)

    class Crash(Exception):
        pass

    def crash(*_a, **_k):
        raise Crash

    # stopped after the renames, before the manifest flip
    idx_b, idx_c = _index(spark, ["avocado"]), _index(spark, ["apricot"])
    with monkeypatch.context() as m:
        m.setattr(inverted_index.json, "dump", crash)
        with pytest.raises(Crash):
            write_letter_files(idx_b, out)
    assert len(os.listdir(os.path.join(out, "letter=a"))) == 2
    assert _live_job(out) == job_a
    assert _visible(out) == {"a": ["apple:[1]"]}

    # stopped after the manifest flip, before the delete phase
    with monkeypatch.context() as m:
        m.setattr(inverted_index.os, "remove", crash)
        with pytest.raises(Crash):
            write_letter_files(idx_c, out)
    assert len(os.listdir(os.path.join(out, "letter=a"))) == 3
    assert _live_job(out) != job_a
    assert _visible(out) == {"a": ["apricot:[1]"]}

    write_letter_files(_index(spark, ["axe"]), out)
    assert _visible(out) == {"a": ["axe:[1]"]}
    assert os.listdir(os.path.join(out, "letter=a")) == [
        f"part-00000-{_live_job(out)}.txt"
    ]
    assert not os.path.exists(os.path.join(out, "_staging"))


def test_published_parts_job_id_parsed_exactly(spark, tmp_path):
    """The reader matches the job-id FIELD of part-<seq>-<job>.txt, not a
    substring: a live job id appearing inside a longer dead id or a
    malformed name must not make that file visible."""
    out = str(tmp_path / "exact")
    write_letter_files(_index(spark, ["elk"]), out)
    job = _live_job(out)
    d = os.path.join(out, "letter=e")
    # dead job whose id CONTAINS the live id as a substring
    with open(os.path.join(d, f"part-00009-zz{job}.txt"), "w") as fh:
        fh.write("eel:[9]\n")
    # malformed name (extra dash field) carrying the live id
    with open(os.path.join(d, f"part-00008-{job}-x.txt"), "w") as fh:
        fh.write("emu:[8]\n")
    assert _visible(out) == {"e": ["elk:[1]"]}
