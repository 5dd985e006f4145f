"""Property tests for dedup operators on synthetic corpora with known
duplicate structure (oracle parity is covered by test_oracle_parity)."""

import pytest
from pyspark.sql import functions as F

from mapreduce_model_spark.operators.dedup import (
    dedup_exact,
    lsh_near_dup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
MUTATED = BASE.replace("warm", "cold")  # one word differs
UNRELATED = (
    "spark executes declarative query plans with catalyst optimizing "
    "joins aggregations and shuffles across many distributed partitions"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),                      # exact dup of 1
        (3, "  " + BASE.upper() + " "), # dup after normalization
        (4, MUTATED),                   # near-dup of 1
        (5, UNRELATED),
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_dedup_exact_keeps_first(spark, corpus):
    out = {r.doc_id: r.group_size for r in dedup_exact(corpus).collect()}
    assert out[1] == 3          # docs 1,2,3 collapse; smallest id survives
    assert 2 not in out and 3 not in out
    assert out[4] == 1 and out[5] == 1


def test_minhash_identical_docs_identical_sigs(spark, corpus):
    sigs = {r.doc_id: tuple(r.sig) for r in minhash_signatures(corpus).collect()}
    assert sigs[1] == sigs[2] == sigs[3]
    # near-dup shares most of the signature, unrelated shares ~none
    near = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    far = sum(a == b for a, b in zip(sigs[1], sigs[5]))
    assert near > 16, f"near-dup only matched {near}/32 minhashes"
    assert far < 8, f"unrelated matched {far}/32 minhashes"


def test_lsh_finds_near_dups(spark, corpus):
    sig = minhash_signatures(corpus)
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in lsh_near_dup_pairs(sig, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs  # the one-word mutation is caught
    assert not any(5 in p for p in pairs)


def test_simhash_properties(spark, corpus):
    out = {r.doc_id: r.simhash for r in simhash(corpus).collect()}
    assert out[1] == out[2] == out[3]
    ham_near = bin(out[1] ^ out[4]).count("1")
    ham_far = bin(out[1] ^ out[5]).count("1")
    assert ham_near < ham_far
    assert ham_near <= 6, f"near-dup hamming {ham_near}"


def test_ngram_jaccard_exact_values(spark, corpus):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(corpus, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs and 0.5 < pairs[(1, 4)] < 1.0
    assert not any(5 in p for p in pairs)


def test_lsh_rejects_mismatched_band_geometry(spark, sf_dir):
    """bands*rows must equal the signature length — a silent prefix read
    skews est_jaccard, so the job must fail instead."""
    import pytest
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    from mapreduce_model_spark.operators.dedup import (
        lsh_near_dup_pairs,
        minhash_signatures,
    )
    from mapreduce_model_spark.registry import table

    sig = minhash_signatures(table(spark, sf_dir, "documents").limit(20), k=32)
    with pytest.raises(Exception, match="signature length"):
        lsh_near_dup_pairs(sig, bands=4, rows=4).collect()


def test_lsh_recall_and_estimate_vs_exact_jaccard(spark, sf_dir):
    """End-to-end retrieval quality on the real corpus: every pair the
    exact (blocked) n-gram Jaccard finds at >= 0.5 must be surfaced by the
    MinHash-LSH pipeline (100% recall on this corpus — the planted
    near-dups are well above the band threshold), with no spurious pairs,
    and the k=32 signature estimate within 0.25 of the exact Jaccard."""
    from mapreduce_model_spark.registry import QUERIES

    lsh = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in QUERIES["dedup_near_minhash"](spark, sf_dir).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    hi = {k for k, j in exact.items() if j >= 0.5}
    assert hi, "corpus must contain planted near-dups"
    assert hi <= set(lsh), f"LSH missed {hi - set(lsh)}"
    assert set(lsh) <= hi, f"LSH false candidates {set(lsh) - hi}"
    for k in hi:
        assert abs(lsh[k] - exact[k]) <= 0.25, (k, lsh[k], exact[k])


def test_oph_signature_properties(spark, corpus):
    """One-permutation hashing: identical docs → identical signatures;
    per-bin agreement tracks Jaccard (near-dup high, unrelated low); and
    rotation densification fills every bin even for short docs."""
    from mapreduce_model_spark.operators.dedup import MERSENNE_P, oph_signatures

    rows = oph_signatures(corpus).collect()
    sigs = {r.doc_id: tuple(r[f"h{i}"] for i in range(32)) for r in rows}
    assert sigs[1] == sigs[2] == sigs[3]
    near = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    far = sum(a == b for a, b in zip(sigs[1], sigs[5]))
    assert near > 16, f"near-dup only matched {near}/32 OPH bins"
    assert far < 8, f"unrelated matched {far}/32 OPH bins"
    # every bin is filled (no nulls survive densification)...
    for did, s in sigs.items():
        assert all(v is not None for v in s), f"doc {did} has an empty bin"
    # ...and a SHORT doc (few shingles << 32 bins) really exercises the
    # borrow path: borrowed values are offset by d*P, so they exceed P
    short = spark.createDataFrame(
        [(9, "alpha beta gamma delta")], "doc_id: long, text: string"
    )
    srow = oph_signatures(short).collect()[0]
    svals = [srow[f"h{i}"] for i in range(32)]
    assert all(v is not None for v in svals)
    assert sum(v >= MERSENNE_P for v in svals) >= 28  # 2 shingles, ≥28 borrowed
    assert sum(v < MERSENNE_P for v in svals) >= 1    # the owned bins remain


def test_oph_sig_expr_matches_batch(spark, corpus):
    """The per-row (streaming-safe) OPH expression produces exactly the
    batch aggregate's signatures doc for doc, and NULL only for docs too
    short to shingle — the same parity contract minhash_sig_expr pins."""
    from mapreduce_model_spark.operators.dedup import oph_sig_expr, oph_signatures

    batch = {
        r.doc_id: tuple(r[f"h{i}"] for i in range(32))
        for r in oph_signatures(corpus).collect()
    }
    perrow = {
        r.doc_id: (tuple(r.sig) if r.sig is not None else None)
        for r in corpus.select(
            "doc_id", oph_sig_expr("text").alias("sig")
        ).collect()
    }
    assert set(batch) <= set(perrow)
    for did, sig in perrow.items():
        if did in batch:
            assert sig == batch[did], did
        else:
            assert sig is None  # too short to shingle in both paths
    short = spark.createDataFrame([(9, "one two")], "doc_id: long, text: string")
    assert short.select(oph_sig_expr("text").alias("s")).collect()[0]["s"] is None


def test_simhash_pairs_find_near_dups(spark, corpus):
    """Exact dups pair at hamming 0; the one-word mutation lands within
    the hamming-3 radius on THIS fixed md5-derived corpus (an empirical
    fixture property, not a theorem — SimHash distance of a one-word edit
    depends on the flipped word's hash bits; the pigeonhole guarantee is
    only that any pair within d shares ≥1 of d+1 blocks); the unrelated
    doc never pairs with the BASE family."""
    from mapreduce_model_spark.operators.dedup import simhash_hamming_pairs

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_hamming_pairs(corpus).collect()
    }
    assert pairs[(1, 2)] == 0          # exact dup
    assert pairs[(1, 3)] == 0          # dup after normalization
    assert (1, 4) in pairs and pairs[(1, 4)] <= 3   # one-word mutation
    assert (1, 5) not in pairs and (4, 5) not in pairs


def test_dedup_queries_follow_a_rewritten_table(spark, sf_dir, tmp_path):
    """A registry query keeps nothing between calls: after
    documents.parquet is rewritten to half its rows, the next call in the
    same session reads the new table. Each face's row count is checked
    against its DuckDB oracle over the same file."""
    import duckdb
    import pyarrow.parquet as pq

    from mapreduce_model_spark.registry import ORACLE_SQL, QUERIES

    names = ["dedup_minhash_sig", "dedup_minhash_oph", "dedup_simhash"]
    path = tmp_path / "documents.parquet"
    full = pq.read_table(f"{sf_dir}/documents.parquet")

    def counts():
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        got = {n: QUERIES[n](spark, str(tmp_path)).count() for n in names}
        want = {
            n: con.execute(f"SELECT count(*) FROM ({ORACLE_SQL[n]})").fetchone()[0]
            for n in names
        }
        return got, want

    pq.write_table(full, path)
    before, want = counts()
    assert before == want
    pq.write_table(full.slice(0, full.num_rows // 2), path)
    after, want = counts()
    assert after == want
    assert all(after[n] < before[n] for n in names), (before, after)
