"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Generator determinism, metric names against BENCHMARK.json, the output
checks catching corrupted outputs, a tiny-size run of every workload, and
the refusal to run without the engine package.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import model  # noqa: E402
import workloads  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_corpus_generator_is_deterministic(tmp_path):
    a = gen.corpus(str(tmp_path / "a"), 7, 6, 150)
    b = gen.corpus(str(tmp_path / "b"), 7, 6, 150)
    c = gen.corpus(str(tmp_path / "c"), 8, 6, 150)
    assert _same_tree(a, b)
    assert not _same_tree(a, c)
    # the cache hands back the finished directory without regenerating
    assert gen.corpus(str(tmp_path / "a"), 7, 6, 150) == a


@pytest.mark.parametrize("make", [lambda w, s: gen.documents(w, s, 20), lambda w, s: gen.embeddings(w, s, 300, 4, 5)])
def test_table_generators_are_deterministic(tmp_path, make):
    a, b, c = make(str(tmp_path / "a"), 7), make(str(tmp_path / "b"), 7), make(str(tmp_path / "c"), 8)
    assert _same_tree(a, b)
    assert not _same_tree(a, c)


def test_planted_roles_match_clusters(tmp_path):
    import pyarrow.parquet as pq

    d = gen.documents(str(tmp_path), 3, 40)
    table = pq.read_table(os.path.join(d, "documents.parquet")).to_pydict()
    cluster = np.load(os.path.join(d, "cluster.npy"))
    assert table["doc_id"] == list(range(1, len(cluster) + 1))
    keepers = {}
    for doc, c in zip(table["doc_id"], cluster):
        keepers.setdefault(c, doc)
    assert [gen.KEEP if keepers[c] == doc else gen.DUP for doc, c in zip(table["doc_id"], cluster)] == table["source"]
    assert table["source"].count(gen.DUP) == 40 // 20 + 40 // 5


def test_metric_names_match_benchmark_json():
    bench = _bench_json()
    assert [w["name"] for w in bench["workloads"]] == list(workloads.GATED)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.PER_LAYER


def _write_letters(out: str, lines: dict[str, list[str]]) -> None:
    for letter, rows in lines.items():
        os.makedirs(os.path.join(out, f"letter={letter}"))
        with open(os.path.join(out, f"letter={letter}", "part-00000.txt"), "w") as fh:
            fh.write("\n".join(rows) + "\n")


def test_corrupted_letter_output_is_caught(tmp_path):
    docs = ["Apple, banana! apple", "Cherry banana 2024 APPLE's", "avocado"]
    expected = model.letter_lines(docs)
    assert expected["a"] == ["apple:[1]", "apples:[2]", "avocado:[3]"]
    assert expected["b"] == ["banana:[1 2]"]
    good = str(tmp_path / "good")
    _write_letters(good, expected)
    assert model.letters_match(good, expected)
    bad = str(tmp_path / "bad")
    _write_letters(bad, {**expected, "b": ["banana:[1]"]})
    assert not model.letters_match(bad, expected)
    swapped = str(tmp_path / "swapped")
    _write_letters(swapped, {**expected, "a": expected["a"][::-1]})
    assert not model.letters_match(swapped, expected)


def test_stream_pair_check_flags_wrong_documents():
    word_sets = [{"a", "b"}, {"c"}, {"d"}]
    good = [("a", 1), ("b", 1), ("c", 2)]
    assert model.bad_docs(good, word_sets, committed=2) == set()
    assert model.bad_docs(good[:2], word_sets, committed=2) == {2}
    # a written-but-uncommitted batch may hold correct pairs, never wrong ones
    assert model.bad_docs(good + [("d", 3)], word_sets, committed=2) == set()
    assert model.bad_docs(good + [("x", 3)], word_sets, committed=2) == {3}


def test_dedup_and_topk_checks_catch_corruption():
    good = [["train", gen.KEEP, 8, 800], ["train", gen.DUP, 1, 90], ["val", gen.KEEP, 2, 200]]
    dup_recall, unique_kept = model.planted_ratios(good, {gen.KEEP: 10, gen.DUP: 4})
    assert (dup_recall, unique_kept) == (0.75, 1.0)
    def rows(pairs):
        return [{"split": a, "source": b, "n_docs": n, "total_chars": c} for a, b, n, c in pairs]

    assert model.manifest_rows(rows(good[::-1])) == sorted(good)
    assert model.manifest_rows(rows([*good[:2], ["val", gen.KEEP, 2, 201]])) != sorted(good)

    rng = np.random.default_rng(0)
    corpus, queries = rng.standard_normal((30, 8)), rng.standard_normal((2, 8))
    cos = queries @ corpus.T / np.outer(np.linalg.norm(queries, axis=1), np.linalg.norm(corpus, axis=1))
    truth = np.argsort(-cos, axis=1)[:, :3]
    hits = [
        {"query_id": 100 + q, "vec_id": int(v), "cosine": float(cos[q, v]), "rank": r + 1}
        for q in range(2) for r, v in enumerate(truth[q])
    ]
    assert model.topk_ok(hits, queries, corpus, 3, 100)
    assert model.recall_at_k(hits, truth, 100) == 1.0
    wrong_score = [dict(h, cosine=h["cosine"] + 1e-3) if i == 1 else h for i, h in enumerate(hits)]
    assert not model.topk_ok(wrong_score, queries, corpus, 3, 100)
    assert not model.topk_ok(hits[:-1], queries, corpus, 3, 100)
    swapped = [dict(h, vec_id=int(truth[0][0])) if i == 1 else h for i, h in enumerate(hits)]
    assert not model.topk_ok(swapped, queries, corpus, 3, 100)


def _run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [(w, t) for w in workloads.GATED for t in (0, 1)] + [(w, 1) for w in workloads.WORKLOADS if w not in workloads.GATED],
)
def test_tiny_run(workload, trace):
    proc = _run(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"])
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = workloads.PER_LAYER if trace else workloads.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == names
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = _run(["--workload", "index_batch", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
