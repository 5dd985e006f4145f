import os
import random

import pytest

from mapreduce_model_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"
# Committed copy of the reference checker's small corpus: manifest
# test_small.txt, documents test_in_small/ and goldens test_out_small/
# (FIXTURES.md §3).
REFERENCE_SMALL = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "reference_small"
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="mapreduce-model-spark-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def generated_corpus(tmp_path):
    """A 40-file reference-format corpus: more than the 32 paths above which
    Spark's default lists files with a distributed job, one file listed twice
    (positions 3 and 41 — two documents), mixed case, punctuation, digits,
    multi-line files, a few spaces swapped for ``\\v`` (C whitespace,
    main.cc:73), NBSP or ``\\x1c`` (not whitespace to C, so they join two
    words), and a few ``K`` or ``i`` swapped for the Kelvin sign or U+0130
    (not letters to C ``::tolower``, main.cc:75). Returns
    ``(manifest path, {doc_id: text})``."""
    rng = random.Random(7)
    vocab = ["alpha", "Beta", "GAMMA", "delta!", "don't", "x-ray", "Zeta,", "eta.",
             "2024", "theta", "iota?", "Kappa", "lambda", "mu", "(nu)", "xi;"]
    odd_spaces = {4: "\v", 9: "\xa0", 14: "\x1c", 19: "\v", 24: "\xa0", 29: "\x1c"}
    odd_letters = {5: ("K", "\u212A"), 10: ("i", "\u0130"), 15: ("K", "\u212A"), 20: ("i", "\u0130")}
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    paths = []
    for i in range(40):
        lines = [" ".join(rng.choices(vocab, k=rng.randint(1, 12))) for _ in range(rng.randint(1, 4))]
        text = "\n".join(lines) + "\n"
        if i in odd_spaces:
            text = text.replace(" ", odd_spaces[i], 2)
        if i in odd_letters:
            text = text.replace(*odd_letters[i], 2)
        f = corpus / f"doc{i:02d}.txt"
        f.write_text(text, encoding="utf-8")
        paths.append(f)
    paths.append(paths[2])
    manifest = tmp_path / "manifest.txt"
    manifest.write_text(f"{len(paths)}\n" + "\n".join(str(p) for p in paths) + "\n")
    return str(manifest), {i: p.read_text(encoding="utf-8") for i, p in enumerate(paths, start=1)}
