"""Round-8 pins for the scale-adaptive exemplar faces (r7 verdict asks
#1/#2): the LSH bit-width and IVF stride are now DERIVED from corpus size
on both engines. Correctness rides on the two engines computing the SAME
integer from the same count — these tests sweep the formula-parity over
many decades of N without needing data of that size, plus pin the
monotone scale behavior the adaptivity exists to buy.
"""

import math

import duckdb
import pytest

from mapreduce_model_spark.queries_similarity import (
    _IVF_KC_CAP,
    _KM_K_CAP,
    _LSH_MAX_BITS,
    _LSH_TARGET_BUCKET,
    adaptive_ivf_stride,
    adaptive_kmeans_k,
    adaptive_lsh_bits,
)

# every decade plus the boundary-adjacent values where an off-by-one-ulp
# engine disagreement would flip the result (n = 30·2^b exactly, ±1)
_NS = sorted(
    {10 ** d for d in range(0, 8)}
    | {3 * 10 ** d for d in range(0, 8)}
    | {v + d for b in range(1, 17) for v in [30 * (1 << b)] for d in (-1, 0, 1)}
    | {k * k + d for k in (2, 23, 224, 708, 2237) for d in (-1, 0, 1)}
    | {1, 2, 29, 30, 31, 500, 5000, 50000, 500000}
)


def test_adaptive_lsh_bits_matches_duckdb_cte_everywhere():
    """The Spark side computes bits in Python, the oracle via the nb CTE.
    Both are pure integer comparisons — they must agree at EVERY n,
    including the exact 30·2^b boundaries."""
    con = duckdb.connect()
    for n in _NS:
        got = con.execute(
            f"""
            SELECT coalesce(min(CAST(t.b AS INTEGER)), {_LSH_MAX_BITS})
            FROM range(1, {_LSH_MAX_BITS + 1}) AS t(b)
            WHERE {_LSH_TARGET_BUCKET} * (CAST(1 AS BIGINT) << t.b) >= {n}
            """
        ).fetchone()[0]
        assert got == adaptive_lsh_bits(n), n


def test_adaptive_ivf_stride_matches_duckdb_cte_everywhere():
    con = duckdb.connect()
    for n in _NS:
        got = con.execute(
            f"""
            SELECT (n + kc - 1) // kc
            FROM (SELECT n, greatest(4, least({_IVF_KC_CAP},
                         CAST(ceil(sqrt(n)) AS BIGINT))) AS kc
                  FROM (SELECT CAST({n} AS BIGINT) AS n))
            """
        ).fetchone()[0]
        assert got == adaptive_ivf_stride(n), n


def test_adaptive_bits_bound_expected_bucket_size():
    """The whole point: E[bucket size] = n/2^bits stays ≤ the target (30)
    once n clears the smallest bucket width, at every scale up to the
    16-bit cap — so bucket self-join candidate volume is ~n·30, linear."""
    for n in _NS:
        bits = adaptive_lsh_bits(n)
        if n <= 2 * _LSH_TARGET_BUCKET:
            assert bits == 1
        elif n <= _LSH_TARGET_BUCKET * (1 << _LSH_MAX_BITS):
            assert n / (1 << bits) <= _LSH_TARGET_BUCKET
            # and bits is the SMALLEST such width (don't over-fragment —
            # recall falls with every extra bit)
            assert n / (1 << (bits - 1)) > _LSH_TARGET_BUCKET
        else:
            assert bits == _LSH_MAX_BITS


def test_adaptive_stride_bounds_centroid_count():
    """Centroid count n/stride must stay ≤ kc cap + 1 at any n (the fixed
    stride-25 face grew it with n — the r7-measured N²/25 assignment)."""
    for n in _NS:
        stride = adaptive_ivf_stride(n)
        kc_target = max(4, min(_IVF_KC_CAP, math.ceil(math.sqrt(n))))
        n_cents = math.ceil(n / stride)
        assert n_cents <= kc_target + 1
        # and there IS at least one centroid (vec_id 0 always selected)
        assert stride >= 1


def test_adaptive_kmeans_k_matches_duckdb_cte_everywhere():
    con = duckdb.connect()
    for n in _NS:
        got = con.execute(
            f"""
            SELECT greatest(2, least({_KM_K_CAP},
                   CAST(ceil(sqrt(CAST({n} AS BIGINT))) AS BIGINT)))
            """
        ).fetchone()[0]
        assert got == adaptive_kmeans_k(n), n


@pytest.mark.parametrize("gate", [None, 0], ids=["local-finish", "distributed"])
def test_arrow_kmeans_matches_duckdb_recurrence(spark, sf_dir, gate):
    """kmeans_fit_arrow must reproduce the exact final assignment of the
    DuckDB unrolled Lloyd's recurrence (_kmeans_cte) — same seeding, same
    argmax decisions, same empty-cell handling — at a k (23) and
    iteration count (2) that no registered query uses. This is the
    decision-parity contract every clustering query's hash-check rides
    on, checked against an engine independent of Spark. gate=None
    exercises the single-task local finish; gate=0 forces the
    distributed partial-sums loop (the 100 TB path)."""
    from mapreduce_model_spark.operators.similarity import kmeans_fit_arrow
    from mapreduce_model_spark.queries_similarity import _kmeans_cte

    path = f"{sf_dir}/embeddings.parquet"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    duck_a = dict(
        con.execute(_kmeans_cte(23, 2) + " SELECT vid, cid FROM afin").fetchall()
    )
    arrow_a = {
        r["vid"]: r["cid"]
        for r in kmeans_fit_arrow(
            spark.read.parquet(path), k=23, n_iter=2, small_rows=gate
        ).collect()
    }
    assert len(duck_a) > 23
    assert arrow_a == duck_a


@pytest.mark.parametrize(
    "name",
    [
        "embedding_near_dup",
        "embedding_near_dup_multiprobe",
        "graph_pagerank",
        "similarity_ann_ivf",
        "semantic_dedup_scaled",
    ],
)
def test_adaptive_faces_hash_match_oracle(spark, sf_dir, name):
    """End-to-end: the four de-pinned faces still hash-match DuckDB (the
    adaptive bits/stride derivation agrees across engines on real data)."""
    from tests.oracle_harness import compare_query

    assert compare_query(spark, sf_dir, name) is None
