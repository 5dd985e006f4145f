"""Manifest-driven text corpus source — reference operators A1/A2.

The reference input format (main.cc:178-197 ``read_input_file``) is a text
file whose first token is a count ``N`` followed by ``N`` file paths. The
**1-based manifest position is the document id** (main.cc:79 inserts
``id_file + 1``) — identity is positional, not path-based: two entries naming
the same file are two documents. A missing listed file is a hard error
(main.cc:66-70; manifest itself main.cc:182-186).

Spark mapping: the manifest is tiny driver-side metadata (a file list), the
corpus is the big data. We read all listed files in one
``spark.read.text(wholetext=True)`` scan — one row per file, so one row per
document, the unit the reference maps (main.cc:62-80) — and attach ids with
a map lookup on ``input_file_name()``: the path→ids map is a plan literal
built from manifest order, so attaching ids costs no join, no broadcast and
no Spark job. ``doc_id`` must be the manifest ordinal — never a path hash
(SURVEY.md §1.1).

Scale: one scan over N files; the literal holds O(N) entries and travels
with the plan, which is fine for manifests of thousands of files. A
whole-text file is one split and one row, so a single document must fit in
one row (under 2 GB). The file listing itself runs on the driver
(``session.get_spark`` sets the parallel-discovery threshold), which has
already checked every path.
"""

from __future__ import annotations

import json
import os
import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["read_manifest", "read_corpus", "read_paths"]


def read_manifest(manifest_path: str) -> list[str]:
    """Parse the ``N\\npath...`` manifest → ordered path list (main.cc:178-197).

    Paths are resolved relative to the manifest's directory (the reference is
    run from the checker dir with relative paths, checker.sh:141-155).
    """
    base = os.path.dirname(os.path.abspath(manifest_path))
    with open(manifest_path) as fh:
        tokens = fh.read().split()
    if not tokens:
        raise ValueError(f"empty manifest: {manifest_path}")
    n = int(tokens[0])
    paths = tokens[1 : n + 1]
    if len(paths) != n:
        raise ValueError(
            f"manifest declares {n} files but lists {len(paths)}: {manifest_path}"
        )
    resolved = []
    for p in paths:
        full = p if os.path.isabs(p) else posixpath.join(base, p)
        if not os.path.exists(full):  # hard error, main.cc:66-70
            raise FileNotFoundError(f"manifest entry missing on disk: {full}")
        resolved.append(full)
    return resolved


def read_corpus(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Manifest → ``DataFrame[doc_id: int, text: string]``, one row per
    manifest position holding its file's whole text.

    ``doc_id`` is the 1-based manifest ordinal. Newlines stay in ``text``;
    tokenization treats them as plain whitespace (main.cc:73).
    """
    return read_paths(spark, read_manifest(manifest_path))


def read_paths(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Ordered path list → ``DataFrame[doc_id, text]`` (1-based positional
    ids). The programmatic front door for callers whose file lists don't
    come from a whitespace-tokenized manifest (which cannot represent
    paths containing spaces — reference ``operator>>`` semantics).

    Each distinct file is read as one whole-text row. Its ids come from a
    literal ``map<path, array<int>>`` holding every manifest position of
    the file; ``explode`` of that array turns the file into one row per
    position, so every row is exactly one document."""
    ids: dict[str, list[int]] = {}
    for i, p in enumerate(paths, start=1):
        ids.setdefault(os.path.abspath(p), []).append(i)
    # One JSON string literal, constant-folded into a map literal at
    # planning: a single plan node whatever the manifest length (one
    # create_map child per path costs seconds of Py4J calls at ~3000 paths).
    path_to_ids = F.from_json(F.lit(json.dumps(ids)), "map<string, array<int>>")
    # Read each distinct file ONCE — a path listed twice is two doc ids
    # (main.cc:79 positional identity), and the explode below fans the
    # file's row out to every id holding that path; passing the duplicate
    # to spark.read.text as well would give each id two rows.
    distinct_paths = list(dict.fromkeys(paths))
    # input_file_name() is a URI: percent-encoded (space → %20) but with
    # literal '+'. url_decode is form-decoding ('+' → ' '), so protect
    # literal plus as %2B first — yields the exact filesystem path.
    uri_path = F.regexp_replace(F.input_file_name(), "^file:(//)?", "")
    decoded = F.url_decode(F.regexp_replace(uri_path, r"\+", "%2B"))
    return spark.read.text(distinct_paths, wholetext=True).select(
        F.explode(F.element_at(path_to_ids, decoded)).alias("doc_id"),
        F.col("value").alias("text"),
    )
