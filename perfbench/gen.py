"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: it draws from
``numpy.random.Generator(PCG64([seed, stream]))`` and writes its files in a
fixed order, so the same seed gives byte-identical inputs. Inputs are
cached under ``<work>/inputs/<name>-s<seed>-n<size>/``; a ``DONE`` marker
is written last, so an interrupted generation is redone, never half-used.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

VOCAB = 50_000
ZIPF_S = 1.1
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
PUNCT = np.array([",", ".", ";", ":", "!", "?", "'s", ")"])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def vocabulary(seed: int, n: int = VOCAB) -> np.ndarray:
    """``n`` distinct lowercase pseudo-words of 2-10 letters, in rank order."""
    rng = _rng(seed, 0)
    words: dict[str, None] = {}
    while len(words) < n:
        lens = rng.integers(2, 11, size=n)
        chars = rng.integers(0, 26, size=(n, 10))
        for ln, row in zip(lens, chars):
            words.setdefault("".join(LETTERS[row[:ln]]), None)
            if len(words) == n:
                break
    return np.array(list(words))


def zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _decorate(rng: np.random.Generator, words: np.ndarray) -> list[str]:
    """Mixed case, punctuation and number tokens, so normalization matters:
    ~10% Capitalized, ~2% UPPER, ~8% trailing punctuation, ~1% digit-only
    tokens (which normalize to nothing)."""
    u = rng.random(len(words))
    v = rng.random(len(words))
    punct = PUNCT[rng.integers(0, len(PUNCT), size=len(words))]
    nums = rng.integers(0, 10_000, size=len(words))
    out = []
    for w, a, b, p, num in zip(words.tolist(), u, v, punct, nums):
        if a < 0.01:
            out.append(str(num))
            continue
        if a < 0.11:
            w = w.capitalize()
        elif a < 0.13:
            w = w.upper()
        if b < 0.08:
            w += p
        out.append(w)
    return out


def _lines(tokens: list[str], per_line: int = 12) -> str:
    return "\n".join(
        " ".join(tokens[i : i + per_line]) for i in range(0, len(tokens), per_line)
    ) + "\n"


def _cached(work: str, name: str, build) -> str:
    """Run ``build(tmpdir)`` once per cache key; return the final directory."""
    final = os.path.join(work, "inputs", name)
    if os.path.exists(os.path.join(final, "DONE")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "DONE"), "w") as fh:
        fh.write("ok\n")
    os.rename(tmp, final)
    return final


def corpus(work: str, seed: int, n_files: int, tokens_per_file: int) -> str:
    """``n_files`` text files of Zipf words plus ``manifest.txt`` (the
    reference format: a count, then one relative path per line). File
    lengths vary uniformly within ±50% of ``tokens_per_file``."""

    def build(d: str) -> None:
        vocab = vocabulary(seed)
        p = zipf_probs(len(vocab))
        rng = _rng(seed, 1)
        lens = rng.integers(tokens_per_file // 2, tokens_per_file * 3 // 2 + 1, size=n_files)
        ranks = rng.choice(len(vocab), size=int(lens.sum()), p=p)
        tokens = _decorate(rng, vocab[ranks])
        os.makedirs(os.path.join(d, "docs"))
        names, at = [], 0
        for i, ln in enumerate(lens):
            rel = f"docs/d{i + 1:06d}.txt"
            with open(os.path.join(d, rel), "w") as fh:
                fh.write(_lines(tokens[at : at + ln]))
            at += ln
            names.append(rel)
        with open(os.path.join(d, "manifest.txt"), "w") as fh:
            fh.write(f"{n_files}\n" + "\n".join(names) + "\n")

    return _cached(work, f"corpus-s{seed}-n{n_files}x{tokens_per_file}", build)


STOPWORDS = "the a an and of to in is it that as for on with at by from or be are".split()
KEEP, DUP = "keep", "dup"  # planted roles, carried in the ``source`` column


def documents(work: str, seed: int, n_base: int) -> str:
    """``documents.parquet`` (doc_id, text, lang, source, n_chars) with
    planted duplicate clusters: ``n_base`` base documents of 80-400 words
    (~20% stopwords, ending in "."), plus 5% exact copies and 20% near
    copies (~3% of words replaced), doc ids shuffled. Every document passes
    the pipeline's quality gates. ``source`` records the planted truth:
    ``keep`` for the lowest doc id of each cluster (the one keep-first
    dedup must keep), ``dup`` for the rest, so the pipeline's
    (split, source) manifest counts what survived of each role;
    ``cluster.npy`` holds each document's cluster (index = doc id - 1)."""

    def build(d: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = _rng(seed, 2)
        vocab = np.concatenate([vocabulary(seed, 5000), np.array(STOPWORDS)])
        p = np.full(len(vocab), 0.8 / 5000)
        p[5000:] = 0.2 / len(STOPWORDS)
        bases = [vocab[rng.choice(len(vocab), size=rng.integers(80, 401), p=p)] for _ in range(n_base)]
        texts, cluster = [" ".join(w) + "." for w in bases], list(range(n_base))
        for b in rng.choice(n_base, size=n_base // 20, replace=False):
            texts.append(texts[b])
            cluster.append(b)
        for b in rng.choice(n_base, size=n_base // 5, replace=False):
            words = bases[b].copy()
            at = rng.choice(len(words), size=max(1, round(0.03 * len(words))), replace=False)
            words[at] = vocab[rng.integers(0, 5000, size=len(at))]
            texts.append(" ".join(words) + ".")
            cluster.append(b)
        ids = rng.permutation(len(texts)) + 1
        first = {}
        for i, c in zip(ids, cluster):
            first[c] = min(first.get(c, i), i)
        order = np.argsort(ids)
        texts = [texts[i] for i in order]
        roles = [KEEP if first[cluster[i]] == ids[i] else DUP for i in order]
        table = pa.table(
            {
                "doc_id": pa.array(ids[order], pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * len(texts), pa.string()),
                "source": pa.array(roles, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int32()),
            }
        )
        pq.write_table(table, os.path.join(d, "documents.parquet"))
        np.save(os.path.join(d, "cluster.npy"), np.array(cluster)[order])

    return _cached(work, f"documents-s{seed}-n{n_base}", build)


QUERY_ID_BASE = 1_000_000_000  # query ids never collide with corpus ids


def embeddings(work: str, seed: int, n: int, n_queries: int, k: int, clusters: int = 64, dim: int = 64) -> str:
    """``corpus.parquet`` and ``queries.parquet`` (vec_id, embedding
    float[dim]) drawn around ``clusters`` random centres, and
    ``truth.npy``: each query's exact top-``k`` corpus ids by cosine
    (rank order), computed in numpy."""

    def build(d: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = _rng(seed, 3)
        centres = rng.standard_normal((clusters, dim))

        def draw(m: int) -> np.ndarray:
            return (centres[rng.integers(0, clusters, size=m)] + 0.6 * rng.standard_normal((m, dim))).astype(np.float32)

        corpus, queries = draw(n), draw(n_queries)
        for name, vecs, base in (("corpus", corpus, 0), ("queries", queries, QUERY_ID_BASE)):
            emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(pa.list_(pa.float32()))
            table = pa.table({"vec_id": pa.array(np.arange(n if base == 0 else n_queries) + base, pa.int64()), "embedding": emb})
            pq.write_table(table, os.path.join(d, f"{name}.parquet"))
        c = corpus.astype(np.float64)
        q = queries.astype(np.float64)
        cos = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))
        np.save(os.path.join(d, "truth.npy"), np.argsort(-cos, axis=1, kind="stable")[:, :k])

    return _cached(work, f"embeddings-s{seed}-n{n}q{n_queries}k{k}", build)
