"""Text column functions — tokenization, shingles, portable hashing.

Everything here is built-in-expression-only (JVM-side, whole-stage codegen):
the hot path of a 100 TB text pipeline must not cross into Python per row.

Portable hashing: Spark's ``hash``/``xxhash64`` and DuckDB's ``hash`` are
different algorithms, so oracle-checkable pipelines derive integer hashes
from ``md5`` (identical in both engines): the first 8 hex chars parsed as an
integer give a uniform 32-bit value (``md5_int32``). DuckDB equivalent:
``('0x' || substr(md5(x), 1, 8))::BIGINT``.

Heritage: tokenize/normalize are reference operators A3-A5 (main.cc:73,75,
33-42); shingling generalizes them for near-dup detection (north star).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Shared with the DuckDB oracles; keep both sides in sync.
STOPWORDS = (
    "the a an and of to in is it that as for on with at by from or be are "
    "was this which not have has had but they you we he she"
).split()

# BPE-ish token pattern: letter runs | digit runs | single non-space symbol.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_array(text: Column | str) -> Column:
    """Whitespace tokens (A3). ``split`` on ``\\s+`` after trim: no empty
    leading token. Java's ``\\s`` is C ``isspace``'s six bytes (main.cc:73);
    the DuckDB twin is ``functions.dedup_sql.tokens_sql``."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def words_array(text: Column | str) -> Column:
    """Normalized words (A4+A5): lowercase, strip [^a-z], drop empties."""
    return F.filter(
        F.transform(tokens_array(text), lambda t: F.regexp_replace(F.lower(t), "[^a-z]", "")),
        lambda w: F.length(w) > 0,
    )


def shingles(words: Column, k: int = 3) -> Column:
    """k-gram shingles (space-joined) from a word array; empty array if the
    doc has fewer than k words. Used by MinHash/Jaccard near-dup."""
    n = F.size(words)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def md5_int32(col: Column) -> Column:
    """Uniform 32-bit integer hash derivable identically in DuckDB:
    ``('0x' || substr(md5(x),1,8))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def sql_md5_int32(expr: str) -> str:
    """DuckDB-side twin of ``md5_int32``."""
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"
