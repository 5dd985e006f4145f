"""End-to-end golden parity against the reference's own checker fixtures.

The reference scores correctness by `diff -w` of 26 per-letter files against
committed goldens (checker/checker.sh:22-36). This runs the full Spark
pipeline — manifest source → tokenize/normalize → distinct pairs → postings
→ per-letter ordering → formatted lines — on the reference's real corpora
(read-only under /root/reference) and compares whitespace-insensitively,
line order included, exactly like the checker.

Corpora: test_small.txt (3 docs, goldens test_out_small/) and the full
test.txt (355 Gutenberg chapters, goldens test_out/, 33,262 lines). The
small corpus is also committed under tests/fixtures/reference_small (its
goldens rendered from tests/pymodel.py), so the CLI and parallelism-matrix
checks run without the mount; where the reference is mounted, the copy is
checked against it.
"""

import os
import pathlib
import string

import pytest

from mapreduce_model_spark.operators.inverted_index import format_output, invert
from mapreduce_model_spark.sources.manifest import read_corpus, read_manifest
from tests.conftest import REFERENCE_SMALL
from tests.pymodel import inverted_index, letter_file_rows

CHECKER = "/root/reference/checker"


def _golden_lines(golden_dir: str, letter: str) -> list[str]:
    path = os.path.join(golden_dir, f"{letter}.txt")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [" ".join(line.split()) for line in fh if line.strip()]


def _engine_lines(spark, manifest: str) -> dict[str, list[str]]:
    """letter → ordered formatted lines, as written to <letter>.txt."""
    docs = read_corpus(spark, manifest)
    out = format_output(invert(docs)).collect()  # invert is letter-ordered
    by_letter: dict[str, list[str]] = {}
    for r in out:
        by_letter.setdefault(r.letter, []).append(" ".join(r.line.split()))
    return by_letter


def _assert_parity(spark, manifest: str, golden_dir: str) -> None:
    got = _engine_lines(spark, manifest)
    for letter in string.ascii_lowercase:
        expected = _golden_lines(golden_dir, letter)
        assert got.get(letter, []) == expected, f"{letter}.txt mismatch"


@pytest.mark.skipif(not os.path.isdir(CHECKER), reason="reference not mounted")
def test_small_corpus_matches_reference_goldens(spark):
    _assert_parity(
        spark, f"{CHECKER}/test_small.txt", f"{CHECKER}/test_out_small"
    )


@pytest.mark.skipif(not os.path.isdir(CHECKER), reason="reference not mounted")
def test_full_corpus_matches_reference_goldens(spark):
    """The reference's real grading corpus: 355 files, 33k output lines."""
    _assert_parity(spark, f"{CHECKER}/test.txt", f"{CHECKER}/test_out")


def test_committed_small_goldens_match_model():
    """The committed goldens are the pure-Python model's index of the
    committed documents: all 26 letter files, the empty ones included
    (main.cc:136-138), each line ``word:[d1 d2 ...]`` in letter order."""
    paths = read_manifest(f"{REFERENCE_SMALL}/test_small.txt")
    model = inverted_index(
        {i: pathlib.Path(p).read_text() for i, p in enumerate(paths, start=1)}
    )
    golden_dir = pathlib.Path(REFERENCE_SMALL) / "test_out_small"
    for letter in string.ascii_lowercase:
        expected = "".join(
            f"{w}:[{' '.join(map(str, ids))}]\n"
            for w, ids in letter_file_rows(model, letter)
        )
        assert (golden_dir / f"{letter}.txt").read_text() == expected, letter


@pytest.mark.skipif(not os.path.isdir(CHECKER), reason="reference not mounted")
def test_committed_small_corpus_matches_reference():
    """The committed copy cannot drift from the reference: the same
    documents by manifest position (as token lists) and the same goldens
    line by line, both whitespace-normalized as ``diff -w`` (checker.sh:27)."""

    def documents(checker: str) -> list[list[str]]:
        paths = read_manifest(f"{checker}/test_small.txt")
        return [pathlib.Path(p).read_text().split() for p in paths]

    assert documents(REFERENCE_SMALL) == documents(CHECKER)
    for letter in string.ascii_lowercase:
        assert _golden_lines(
            f"{REFERENCE_SMALL}/test_out_small", letter
        ) == _golden_lines(f"{CHECKER}/test_out_small", letter), letter


def test_cli_matches_reference_goldens(tmp_path):
    """The CLI front door (python -m mapreduce_model_spark M R manifest out)
    must reproduce the reference checker's small-corpus goldens exactly —
    the end-to-end contract of main.cc:199-257 including argument shape."""
    import subprocess
    import sys

    out = tmp_path / "cli_out"
    out.mkdir()
    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "mapreduce_model_spark",
            "2",
            "4",
            f"{REFERENCE_SMALL}/test_small.txt",
            str(out),
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    golden_dir = pathlib.Path(REFERENCE_SMALL) / "test_out_small"
    for letter in "abcdefghijklmnopqrstuvwxyz":
        golden = (golden_dir / f"{letter}.txt").read_text()
        got = (out / f"{letter}.txt").read_text()
        norm = lambda s: [" ".join(l.split()) for l in s.splitlines() if l.strip()]
        assert norm(got) == norm(golden), letter


def test_cli_usage_error():
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-m", "mapreduce_model_spark", "1"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 1
    assert "Usage:" in proc.stderr


def test_parallelism_matrix_matches_goldens():
    """checker.sh:141-164 proves the SAME goldens at every (M,R) in
    {1,2,4}² — the one reference-graded property the port previously
    proved only at a single config. Runs tools/parity_matrix.py in its own
    process (nine sequential sessions; the shared fixture session must not
    be stopped out from under the rest of the suite)."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "tools/parity_matrix.py"],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-2000:]
    assert "MATRIXDONE checked=9 fails=0" in proc.stdout
