"""Reference outputs computed outside Spark, and the checks against them.

The inverted-index semantics come from the test suite's pure-Python model
(``tests/pymodel.py``); this module adds the sink parser and the
comparisons. The dedup pipeline is checked against its DuckDB oracle
(``registry.ORACLE_SQL``), the ANN search against numpy.
"""

from __future__ import annotations

import json
import os
import string

import numpy as np

from gen import DUP, KEEP
from tests.pymodel import inverted_index, letter_file_rows, normalize


def doc_words(text: str) -> set[str]:
    return {w for w in map(normalize, text.split()) if w}


def word_tokens(text: str) -> int:
    """Tokens that survive normalization (the tokenizer's useful output)."""
    return sum(1 for t in text.split() if normalize(t))


def read_docs(manifest: str) -> list[str]:
    """Document texts in manifest order (doc id = position + 1)."""
    base = os.path.dirname(manifest)
    with open(manifest) as fh:
        tokens = fh.read().split()
    out = []
    for rel in tokens[1 : int(tokens[0]) + 1]:
        with open(os.path.join(base, rel)) as fh:
            out.append(fh.read())
    return out


def letter_lines(docs: list[str]) -> dict[str, list[str]]:
    """``{letter: [word:[d1 d2 ...], ...]}`` in the reference's line order."""
    postings = inverted_index(dict(enumerate(docs, start=1)))
    out = {}
    for letter in string.ascii_lowercase:
        rows = letter_file_rows(postings, letter)
        if rows:
            out[letter] = [f"{w}:[{' '.join(map(str, ids))}]" for w, ids in rows]
    return out


def read_letter_dir(out_dir: str) -> dict[str, list[str]]:
    """Parse the ``letter=<c>/part-*.txt`` sink back into letter lines.
    A letter split over several non-empty files cannot keep the required
    order, so it reads as the concatenation in file-name order."""
    out: dict[str, list[str]] = {}
    for entry in sorted(os.listdir(out_dir)):
        if not entry.startswith("letter="):
            continue
        d = os.path.join(out_dir, entry)
        lines: list[str] = []
        for part in sorted(os.listdir(d)):
            if part.startswith("part-"):
                with open(os.path.join(d, part)) as fh:
                    lines.extend(fh.read().splitlines())
        out[entry[len("letter=") :]] = lines
    return out


def letters_match(out_dir: str, expected: dict[str, list[str]]) -> bool:
    return read_letter_dir(out_dir) == expected


def bad_docs(pairs: list[tuple[str, int]], word_sets: list[set[str]], committed: int) -> set[int]:
    """Doc ids whose indexed words differ from the model. Docs up to
    ``committed`` must match exactly; a later doc (a batch written but not
    yet committed when the stream stopped) may only hold correct pairs."""
    got: dict[int, set[str]] = {}
    for w, d in pairs:
        got.setdefault(d, set()).add(w)
    bad = set()
    for d in range(1, committed + 1):
        if got.get(d, set()) != word_sets[d - 1]:
            bad.add(d)
    for d, words in got.items():
        if d > committed and (d > len(word_sets) or not words <= word_sets[d - 1]):
            bad.add(d)
        elif d < 1:
            bad.add(d)
    return bad


# --- dedup pipeline ---------------------------------------------------------


def oracle_rows(docs_dir: str, sql: str) -> list[list]:
    """The pipeline's DuckDB oracle over ``documents.parquet``, as sorted
    rows; computed once per input directory and cached beside it."""
    cache = os.path.join(docs_dir, "oracle.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads=2")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/documents.parquet')")
        rows = sorted([list(r) for r in con.execute(sql).fetchall()])
    finally:
        con.close()
    with open(cache + ".tmp", "w") as fh:
        json.dump(rows, fh)
    os.replace(cache + ".tmp", cache)
    return rows


def manifest_rows(rows) -> list[list]:
    """Spark rows of the (split, source, n_docs, total_chars) manifest."""
    return sorted([[r["split"], r["source"], int(r["n_docs"]), int(r["total_chars"])] for r in rows])


def planted_ratios(manifest: list[list], roles: dict[str, int]) -> tuple[float, float]:
    """(share of planted duplicates removed, share of cluster keepers kept)
    from the manifest's per-source counts; ``roles`` = documents per role."""
    kept = {KEEP: 0, DUP: 0}
    for _split, source, n, _chars in manifest:
        kept[source] = kept.get(source, 0) + n
    return 1 - kept[DUP] / roles[DUP], kept[KEEP] / roles[KEEP]


# --- ANN search -------------------------------------------------------------


def topk_ok(rows, queries: np.ndarray, corpus: np.ndarray, k: int, qid_base: int) -> bool:
    """Every query has ranks 1..k over distinct corpus ids, cosines equal
    numpy's for those pairs and do not increase with rank."""
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r["query_id"] - qid_base, []).append((r["rank"], r["vec_id"], r["cosine"]))
    if sorted(got) != list(range(len(queries))):
        return False
    for qi, hits in got.items():
        hits.sort()
        ids = [v for _, v, _ in hits]
        if [r for r, _, _ in hits] != list(range(1, k + 1)) or len(set(ids)) != k:
            return False
        c = corpus[ids]
        want = c @ queries[qi] / (np.linalg.norm(c, axis=1) * np.linalg.norm(queries[qi]))
        cos = np.array([s for _, _, s in hits])
        if not np.allclose(cos, want, rtol=0, atol=1e-9) or np.any(np.diff(cos) > 1e-12):
            return False
    return True


def recall_at_k(rows, truth: np.ndarray, qid_base: int) -> float:
    got: dict[int, set] = {}
    for r in rows:
        got.setdefault(r["query_id"] - qid_base, set()).add(r["vec_id"])
    k = truth.shape[1]
    return float(np.mean([len(got.get(i, set()) & set(truth[i].tolist())) / k for i in range(len(truth))]))
