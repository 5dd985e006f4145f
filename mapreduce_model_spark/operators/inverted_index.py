"""Inverted index — the reference engine's single end-to-end query.

Reproduces the observable semantics of ``/root/reference/src/main.cc`` as one
declarative DataFrame chain (no threads, no mutexes — Catalyst/Tungsten pick
the physical plan):

- one input row is one document (main.cc:62-80 maps one whole file)
- tokenize, normalize and drop empty words with ``functions.text.words_array``:
  whitespace runs (main.cc:73, ``operator>>``), ASCII lowercase (main.cc:75),
  strip every char outside ``[a-z]`` (main.cc:33-42); empty words are
  bucketed under ``'\\0'`` in the reference and never written, since only
  ``a..z`` files are emitted (main.cc:89 vs 132-137)
- distinct (word, doc_id) pairs — ``array_distinct`` per document is the
  per-file ``std::set`` (main.cc:62-63, 78-79): a boolean index, not TF
- postings list = ascending distinct doc ids (main.cc:120-127, sort :143)
- bucket by first letter             (main.cc:132-141)
- within a letter: postings-length DESC, then word ASC (main.cc:148-156)
- render ``word:[d1 d2 ...]`` lines into ``<letter>.txt`` (main.cc:158-172)

Scale notes (100 TB corpus): the single shuffle is on ``word``. Hot stopwords
(``the`` appears in ~every doc — see reference golden test_out/t.txt) make
``word`` skewed, but the per-document ``array_distinct`` (narrow, before the
shuffle) bounds any word's pair count at n_docs, and AQE skew handling splits
oversized post-shuffle partitions. ``collect_set`` postings for a true
stopword are O(n_docs) — at 100 TB emit ``n_docs`` via count and keep
postings only below a doc-frequency cap, or store postings as bucketed
parquet instead of in-memory arrays. No driver-side collects anywhere.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_model_spark.functions.text import words_array

__all__ = [
    "word_doc_pairs",
    "postings",
    "index_from_pairs",
    "invert",
    "invert_df_capped",
    "format_output",
    "write_letter_files",
    "published_part_files",
]


def word_doc_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct normalized ``(word, doc_id)`` pairs — the map-phase output.

    One input row is one document, so each row's ``array_distinct`` of its
    ``words_array`` is the reference's per-file ``std::set`` (main.cc:62-63,
    78-80): the pairs come out distinct with no exchange."""
    return docs.select(
        F.explode(F.array_distinct(words_array(F.col(text_col)))).alias("word"),
        F.col(id_col).alias("doc_id"),
    )


def postings(pairs: DataFrame) -> DataFrame:
    """``(word, doc_id)`` pairs → ``(word, docs)``, ``docs`` = ascending
    distinct doc ids (main.cc:120-127, 143). ``collect_set`` is the merged
    global set (main.cc:17, 96), so a duplicate pair would be harmless;
    ``sort_array`` replaces the reference's explicit post-sort (its
    insertion order is nondeterministic too). One word-keyed exchange."""
    return pairs.groupBy("word").agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))


def index_from_pairs(pairs: DataFrame) -> DataFrame:
    """Presentation index ``(letter, word, docs, n_docs)`` over any pair
    stream — batch ``invert`` and the streaming pair table share it, so
    their results are comparable row-for-row.

    - ``letter`` = first char (main.cc:88-91).
    - Row order: ``letter``, then ``n_docs`` DESC, ``word`` ASC
      (comparator main.cc:148-156).
    """
    return (
        postings(pairs)
        .withColumn("n_docs", F.size("docs"))
        .withColumn("letter", F.substring("word", 1, 1))
        .select("letter", "word", "docs", "n_docs")
        .orderBy("letter", F.col("n_docs").desc(), F.col("word").asc())
    )


def invert(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Full index: ``(letter, word, docs, n_docs)`` over one row per
    document — see ``index_from_pairs``. The pairs are narrow, so the one
    hash-partition shuffle is ``postings``' exchange on ``word``."""
    return index_from_pairs(word_doc_pairs(docs, text_col, id_col))


def invert_df_capped(
    docs: DataFrame,
    df_cap: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The true-stopword-scale index build the module docstring promises:
    words above a document-frequency cap keep their ``n_docs`` count but
    get NO postings array (empty string) — 'the' at 100 TB has an
    O(n_docs) postings list that no single aggregation buffer should hold.

    Two-phase shape, both word-keyed:
    1. df count over distinct pairs — purely algebraic (count, no array),
       so the partial aggregate absorbs stopword volume map-side and the
       hot key costs one long per partition, never a collected set;
    2. postings collect ONLY for under-cap words: the pair stream joins
       the under-cap word set (word-keyed shuffle join — both sides hash
       on word, AQE-managed) and ``collect_set`` runs where the result is
       bounded by df_cap by construction.
    The hot words therefore never materialize arrays anywhere in the plan
    — the cap is enforced BEFORE collection, not by truncating after.
    Output: (letter, word, docs 'd1 d2 ...'-joined, n_docs); capped words
    carry docs = ''."""
    # pairs feeds BOTH phases (df count + postings collect) and cnt feeds
    # both the under-cap filter and the final join — checkpoint so the
    # tokenize/normalize pipeline runs once, not three times
    # (sharing a frame: registry.py docstring)
    pairs = word_doc_pairs(docs, text_col, id_col).localCheckpoint(eager=False)
    cnt = pairs.groupBy("word").agg(F.count(F.lit(1)).alias("n_docs")).localCheckpoint(eager=False)
    under = cnt.filter(F.col("n_docs") <= df_cap).select("word")
    posted = postings(pairs.join(under, "word"))
    return cnt.join(posted, "word", "left").select(
        F.substring("word", 1, 1).alias("letter"),
        "word",
        F.coalesce(
            F.array_join(F.transform("docs", lambda x: x.cast("string")), " "),
            F.lit(""),
        ).alias("docs"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


def format_output(index: DataFrame) -> DataFrame:
    """``(letter, line)`` with ``line = word:[d1 d2 ...]`` — main.cc:160-170."""
    return index.select(
        "letter",
        F.concat(
            F.col("word"), F.lit(":["), F.array_join("docs", " "), F.lit("]")
        ).alias("line"),
    )


# Commit manifest at the sink root naming the LIVE job id. Flipped
# atomically (temp + os.replace) after the new parts are published and
# before the previous job's parts are deleted, so readers that go through
# published_part_files() see exactly one complete index at every instant.
_COMMIT_MANIFEST = "_SUCCESS"
_STAGING = "_staging"


def write_letter_files(index: DataFrame, out_dir: str) -> None:
    """Write ``letter=<c>/part-<seq>-<job>.txt`` mirroring the 26 ``<c>.txt``
    sinks, crash-safely replacing any index already in ``out_dir``.

    ``repartition('letter')`` + ``sortWithinPartitions`` keeps each letter's
    required (n_docs DESC, word ASC) order inside a single output file
    (main.cc:136-172). Letter skew is real ('s' ≫ 'z'); at 100 TB one file
    per letter is wrong by construction — partitioned parquet on ``letter``
    with many files per partition is the scale path.

    Protocol (publish before delete):

    1. Spark's JVM text writer writes into ``<out>/_staging/<job>``; the
       live index is not touched, so a failed job leaves it intact.
    2. The Spark driver renames the staged parts into the final layout. The job
       id is in every name, so nothing collides with the live parts.
    3. ``_SUCCESS`` is atomically flipped to the new job id — the commit
       point for :func:`published_part_files`.
    4. The previous job's parts are deleted and ``_staging`` is swept
       (including the residue of earlier failed jobs and every ``.crc``).

    A crash between 2 and 4 leaves two complete part sets on disk, told
    apart by job id. One writer per ``out_dir`` at a time; the Spark
    driver must see the output directory (local or shared file system).
    """
    job = uuid.uuid4().hex[:12]
    staged = os.path.join(out_dir, _STAGING, job)
    (
        format_output(index.repartition("letter").sortWithinPartitions(
            "letter", F.col("n_docs").desc(), F.col("word").asc()
        ))
        .write.partitionBy("letter")
        .text(staged)
    )
    # 2. publish
    for entry in sorted(os.listdir(staged)):
        if not entry.startswith("letter="):
            continue
        dst = os.path.join(out_dir, entry)
        os.makedirs(dst, exist_ok=True)
        parts = sorted(p for p in os.listdir(os.path.join(staged, entry)) if p.startswith("part-"))
        for seq, part in enumerate(parts):
            os.replace(
                os.path.join(staged, entry, part),
                os.path.join(dst, f"part-{seq:05d}-{job}.txt"),
            )
    # 3. commit
    tmp = os.path.join(out_dir, f".{_COMMIT_MANIFEST}.{job}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"job_id": job}, fh)
    os.replace(tmp, os.path.join(out_dir, _COMMIT_MANIFEST))
    # 4. retire the previous job and sweep staging
    for entry in os.listdir(out_dir):
        if not entry.startswith("letter="):
            continue
        d = os.path.join(out_dir, entry)
        for part in os.listdir(d):
            if _job_of(part) != job:
                os.remove(os.path.join(d, part))
        if not os.listdir(d):
            os.rmdir(d)
    shutil.rmtree(os.path.join(out_dir, _STAGING), ignore_errors=True)


def _job_of(part: str) -> str | None:
    """The job-id FIELD of ``part-<seq>-<job>.txt`` — parsed exactly, so a
    live id appearing inside another name never matches."""
    bits = part[: -len(".txt")].split("-") if part.endswith(".txt") else []
    return bits[2] if len(bits) == 3 and bits[0] == "part" else None


def published_part_files(out_dir: str) -> list[str]:
    """The COMMITTED view of a letter sink: the part files of the job
    ``_SUCCESS`` names, in letter then sequence order — exactly one
    complete index even inside the crash window where two jobs' parts
    coexist, and none before the first commit."""
    try:
        with open(os.path.join(out_dir, _COMMIT_MANIFEST), encoding="utf-8") as fh:
            live = json.load(fh)["job_id"]
    except FileNotFoundError:
        return []
    return [
        os.path.join(out_dir, entry, part)
        for entry in sorted(os.listdir(out_dir))
        if entry.startswith("letter=")
        for part in sorted(os.listdir(os.path.join(out_dir, entry)))
        if _job_of(part) == live
    ]
