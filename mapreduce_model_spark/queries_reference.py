"""Reference-heritage queries: the inverted index pipeline (main.cc:44-176).

Two driver-checkable shapes:
- ``inverted_index``      — exploded distinct ``(word, doc_id)`` pairs (the
  map-phase output, main.cc:17) — maximally stable for value-hashing.
- ``inverted_index_agg``  — full reduce output ``(letter, word, docs,
  n_docs)`` with sorted postings arrays (main.cc:28,143) — exercises the
  groupBy/collect/sort chain and array hashing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_model_spark.functions.dedup_sql import words_sql
from mapreduce_model_spark.operators.inverted_index import (
    invert,
    invert_df_capped,
    word_doc_pairs,
)
from mapreduce_model_spark.operators.skew import salted_collect_set
from mapreduce_model_spark.registry import query, table

_WORDS_CTE = f"""
WITH words AS (
    SELECT doc_id, unnest({words_sql()}) AS word
    FROM documents
)
"""


@query(
    "inverted_index",
    oracle=_WORDS_CTE
    + """
SELECT DISTINCT word, doc_id
FROM words
""",
)
def inverted_index(spark, sf_dir):
    return word_doc_pairs(table(spark, sf_dir, "documents")).select("word", "doc_id")


@query(
    "inverted_index_agg",
    oracle=_WORDS_CTE
    + """
SELECT substr(word, 1, 1) AS letter,
       word,
       array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS docs,
       count(DISTINCT doc_id) AS n_docs
FROM words
GROUP BY word
""",
)
def inverted_index_agg(spark, sf_dir):
    # postings joined to 'd1 d2 d3' (the reference's own wire format,
    # main.cc:160-170) — a flat string value-hashes identically everywhere,
    # where a raw array column depends on the comparer's array handling.
    idx = invert(table(spark, sf_dir, "documents"))
    return idx.select(
        "letter",
        "word",
        F.array_join(F.transform("docs", lambda x: x.cast("string")), " ").alias("docs"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


# Tuned to the synthetic corpus' df distribution (31-word vocabulary, df
# ~25..415): both the capped and the postings path carry several words at
# every test scale, so neither branch is vacuously green.
_DF_CAP = 380


@query(
    "inverted_index_dfcap",
    oracle=_WORDS_CTE
    + f"""
, wd AS (SELECT DISTINCT word, doc_id FROM words),
cnt AS (SELECT word, CAST(count(*) AS BIGINT) AS n_docs FROM wd GROUP BY word)
SELECT substr(cnt.word, 1, 1) AS letter,
       cnt.word AS word,
       coalesce(p.docs, '') AS docs,
       n_docs
FROM cnt LEFT JOIN (
    SELECT wd.word, array_to_string(list_sort(list(doc_id)), ' ') AS docs
    FROM wd JOIN cnt USING (word)
    WHERE n_docs <= {_DF_CAP}
    GROUP BY wd.word
) p ON cnt.word = p.word
""",
)
def inverted_index_dfcap(spark, sf_dir):
    """The 100 TB stopword form of the index (the df-cap strategy the
    operator module docstring names): words with document frequency above
    the cap keep n_docs but carry NO postings list — 'the' never
    materializes an O(n_docs) array in any aggregation buffer. The df
    count is algebraic (map-side combinable); postings collect only after
    joining the under-cap word set, so the cap is enforced BEFORE
    collection. The cap is chosen so both branches carry words at every
    test scale (tests pin that neither is empty)."""
    return invert_df_capped(table(spark, sf_dir, "documents"), df_cap=_DF_CAP)


@query(
    "inverted_index_salted",
    oracle=_WORDS_CTE
    + """
SELECT substr(word, 1, 1) AS letter,
       word,
       array_to_string(list_sort(list(DISTINCT doc_id)), ' ') AS docs,
       count(DISTINCT doc_id) AS n_docs
FROM words
GROUP BY word
""",
)
def inverted_index_salted(spark, sf_dir):
    """The hot-key-safe postings build: stopwords ('the' ∈ ~every doc) are
    collected per (word, salt) then merged, bounding any single task's state
    at 100 TB. Same oracle as inverted_index_agg — salting must be invisible
    in results."""
    pairs = word_doc_pairs(table(spark, sf_dir, "documents"))
    postings = salted_collect_set(pairs, keys=["word"], value="doc_id", n_salts=16)
    return postings.select(
        F.substring("word", 1, 1).alias("letter"),
        "word",
        F.array_join(F.transform("vals", lambda x: x.cast("string")), " ").alias("docs"),
        F.size("vals").cast("long").alias("n_docs"),
    )
