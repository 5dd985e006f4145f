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

# C ``isspace``: the six bytes ``fin >> word`` splits on (main.cc:73), one
# class for Spark (Java regex) and DuckDB (RE2). Spelled out because RE2's
# ``\s`` lacks ``\v``, and ``\x0B`` because Java's ``\v`` also matches
# ``\x85``, U+2028 and U+2029.
C_SPACE = r"[ \t\n\x0B\f\r]"
_C_SPACE_CHARS = C_SPACE[1:-1]
# C ``::tolower`` maps only A-Z (main.cc:75); Unicode ``lower`` also maps
# the Kelvin sign to ``k`` and U+0130 to ``i``.
ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
ASCII_LOWER = ASCII_UPPER.lower()
# What ``normalize`` strips (main.cc:33-42): anything but [a-z], sparing
# the separators the split after it needs.
NON_WORD = f"[^a-z{_C_SPACE_CHARS}]"

# A symbol: neither alphanumeric nor C whitespace.
SYMBOL = f"[^A-Za-z0-9{_C_SPACE_CHARS}]"
# BPE-ish token pattern: letter runs | digit runs | single symbol.
BPE_TOKEN_RE = f"[A-Za-z]+|[0-9]+|{SYMBOL}"


def tokens_array(text: Column | str) -> Column:
    """Whitespace tokens (A3): split on runs of ``C_SPACE``, empty tokens
    dropped — what ``fin >> word`` reads (main.cc:73). The DuckDB twin is
    ``functions.dedup_sql.tokens_sql``."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(c, C_SPACE + "+"), "")


def words_array(text: Column | str) -> Column:
    """Normalized words (A3-A5): ASCII-lowercase, strip every character that
    is neither [a-z] nor C whitespace, then split into non-empty tokens.
    Built-in expressions only, so the scan stays in whole-stage codegen."""
    c = F.col(text) if isinstance(text, str) else text
    return tokens_array(
        F.regexp_replace(F.translate(c, ASCII_UPPER, ASCII_LOWER), NON_WORD, "")
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
