"""Golden + property tests for the inverted index (SURVEY.md §5 port strategy).

The 3-document micro-corpus and expected excerpts come from FIXTURES.md §3
(mirroring the reference's checker/test_in_small + test_out_small goldens).
"""

import pytest
from pyspark.sql import functions as F

from mapreduce_model_spark.functions.dedup_sql import tokens_sql, words_sql
from mapreduce_model_spark.functions.text import BPE_TOKEN_RE, tokens_array, words_array
from mapreduce_model_spark.operators.inverted_index import (
    format_output,
    invert,
    word_doc_pairs,
)
from tests.pymodel import inverted_index as py_invert
from tests.pymodel import letter_file_rows
from tests.pymodel import words as py_words

MICRO_CORPUS = {
    1: "The bright sun shines in the blue sky as birds are singing today.",
    2: "This calm morning, the sky is blue, and gentle clouds float by.",
    3: "In the peaceful evening, the stars shine brightly in the quiet sky.",
}


@pytest.fixture(scope="module")
def micro_docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in MICRO_CORPUS.items()], "doc_id: int, text: string"
    )


def test_words_array_semantics(spark):
    """main.cc:73, 75 then 33-42: split on C whitespace runs, lower first,
    then strip non-letters; empty words are dropped, and leading or
    trailing tabs and newlines yield no word. ``\\v`` and ``\\f`` are C
    whitespace; NBSP and ``\\x1c`` are not, so they join their neighbours.
    C ``::tolower`` maps only A-Z, so the Kelvin sign and U+0130 are not
    letters (Unicode lowering makes them ``k`` and ``i``). Spark's
    ``words_array``, the DuckDB oracles' ``words_sql`` and the Python
    model's ``words`` give the same lists."""
    import duckdb

    cases = [
        ("Don't", ["dont"]), ("end.", ["end"]), ("2024", []), ("The", ["the"]),
        ("bl!ue", ["blue"]), ("---", []), ("\t\nDon't  end.\n\t", ["dont", "end"]),
        ("a\x0bb c", ["a", "b", "c"]), ("a\xa0b", ["ab"]), ("a\x1cb", ["ab"]),
        ("x\fy\rz\tq", ["x", "y", "z", "q"]), ("\u212Aey \u0130t", ["ey", "t"]),
    ]
    texts = [t for t, _ in cases]
    expected = [w for _, w in cases]
    rows = spark.createDataFrame([(t,) for t in texts], "text: string").select(
        words_array("text").alias("w")
    ).collect()
    assert [r.w for r in rows] == expected
    con = duckdb.connect()
    sql = f"SELECT {words_sql()} FROM (SELECT ? AS text)"
    assert [con.execute(sql, [t]).fetchone()[0] for t in texts] == expected
    assert [py_words(t) for t in texts] == expected


def test_token_classes_agree_across_engines(spark):
    """Whitespace tokens are what ``fin >> word`` reads (main.cc:73): a
    tab-edged text gives no empty edge token, and ``\\v`` separates like
    a space — in Spark's ``tokens_array`` and the BPE token pattern, and
    in their DuckDB twins (RE2's ``\\s`` lacks ``\\v``)."""
    import duckdb

    cases = [
        ("\t\nDon't  end.\n\t", ["Don't", "end."], ["Don", "'", "t", "end", "."]),
        ("a\vb", ["a", "b"], ["a", "b"]),
        ("", [], []),
    ]
    texts = [t for t, _, _ in cases]
    expected = [(tok, bpe) for _, tok, bpe in cases]
    rows = spark.createDataFrame([(t,) for t in texts], "text: string").select(
        tokens_array("text").alias("tok"),
        F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), F.lit(0)).alias("bpe"),
    ).collect()
    assert [(r.tok, r.bpe) for r in rows] == expected
    con = duckdb.connect()
    sql = (
        f"SELECT {tokens_sql()}, regexp_extract_all(text, '{BPE_TOKEN_RE}') "
        "FROM (SELECT ? AS text)"
    )
    assert [con.execute(sql, [t]).fetchone() for t in texts] == expected

def test_word_doc_pairs_distinct(spark, micro_docs):
    """'the' appears 3x in doc 3 but yields one (the, 3) pair (main.cc:62-63)."""
    pairs = {(r.word, r.doc_id) for r in word_doc_pairs(micro_docs).collect()}
    assert ("the", 3) in pairs
    assert len([p for p in pairs if p[0] == "the"]) == 3  # docs 1,2,3
    model = py_invert(MICRO_CORPUS)
    expected = {(w, d) for w, ids in model.items() for d in ids}
    assert pairs == expected


def test_invert_golden_micro(spark, micro_docs):
    """Full golden check vs FIXTURES.md §3 / reference test_out_small."""
    result = invert(micro_docs).collect()
    got = {r.word: list(r.docs) for r in result}
    model = py_invert(MICRO_CORPUS)
    assert got == model
    # Spot-check the cited golden lines.
    assert got["the"] == [1, 2, 3]
    assert got["blue"] == [1, 2]
    assert got["sky"] == [1, 2, 3]
    assert got["today"] == [1]  # 'today.' stripped
    assert got["and"] == [2]
    assert "2024" not in got

    # Per-letter row order: n_docs DESC then word ASC (main.cc:148-156).
    for letter in sorted({r.letter for r in result}):
        rows = [(r.word, list(r.docs)) for r in result if r.letter == letter]
        assert rows == letter_file_rows(model, letter)


def test_format_output_lines(spark, micro_docs):
    lines = {r.line for r in format_output(invert(micro_docs)).collect()}
    assert "the:[1 2 3]" in lines
    assert "blue:[1 2]" in lines
    assert "calm:[2]" in lines


def test_invert_on_sf0001_documents(spark, sf_dir):
    """Index the synthetic documents table; verify the set-semantics property:
    (word, doc) in output <=> word occurs (normalized) in doc."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = invert(docs)
    n = idx.count()
    assert n > 0
    # Every letter is a single lowercase a-z char.
    bad = idx.filter(~F.col("letter").rlike("^[a-z]$")).count()
    assert bad == 0
    # Sample property-check 5 docs against the pure-python model.
    sample = {r.doc_id: r.text for r in docs.limit(5).collect()}
    model = py_invert(sample)
    got_pairs = {
        (r.word, r.doc_id)
        for r in word_doc_pairs(docs.limit(5)).collect()
    }
    expected = {(w, d) for w, ids in model.items() for d in ids}
    assert got_pairs == expected
