"""Independent oracles for the round-3 operators: brute-force / pure-Python
reimplementations that share NO construction logic with the SQL oracles
(the oracle-parity suite proves Spark==DuckDB; these prove the algorithm)."""

import hashlib
import math

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapreduce_model_spark.operators.skyline import pareto_frontier
from mapreduce_model_spark.registry import QUERIES
from tests.pymodel import words

points = st.lists(
    st.tuples(st.integers(0, 50), st.integers(0, 50)), min_size=1, max_size=60
)


def _brute_skyline(pts):
    s = set(pts)
    out = set()
    for p in s:
        dominated = any(
            q != p and q[0] >= p[0] and q[1] >= p[1] and (q[0] > p[0] or q[1] > p[1])
            for q in s
        )
        if not dominated:
            out.add(p)
    return out


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pts=points, buckets=st.sampled_from([1, 2, 7, 32]))
def test_skyline_matches_bruteforce(spark, pts, buckets):
    """Two-phase bucketed skyline == O(n²) dominance check, any bucket
    count (buckets=1 degenerates to the single-window form)."""
    df = spark.createDataFrame(pts, "x long, y long")
    got = {(r.x, r.y) for r in pareto_frontier(df, buckets=buckets).collect()}
    assert got == _brute_skyline(pts)


def _md5_int32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_weighted_sample_matches_python_recompute(spark, sf_dir):
    """The selected doc set equals a from-scratch Python recomputation of
    the integer priorities (hashlib md5, floor division) — proves the
    portable-hash contract end-to-end, independent of both engines."""
    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "n_chars"])
    rows = list(zip(tbl["doc_id"].to_pylist(), tbl["n_chars"].to_pylist()))
    pri = sorted(
        (_md5_int32(f"wsample:{d}") * 1000000 // max(n, 1), d) for d, n in rows
    )[:100]
    expected = {(d, p) for p, d in pri}
    got = {
        (r.doc_id, r.priority)
        for r in QUERIES["weighted_sample"](spark, sf_dir).collect()
    }
    assert got == expected


def _morton16(x: int, y: int) -> int:
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(xy=st.lists(st.tuples(st.integers(0, 65535), st.integers(0, 65535)), min_size=1, max_size=20))
def test_morton_sql_matches_bit_interleave(spark, xy):
    """The arithmetic Morton expression (zorder_layout) == classic bitwise
    interleave for arbitrary 16-bit inputs."""
    from mapreduce_model_spark.queries_pipeline import _morton16_sql

    df = spark.createDataFrame(xy, "x long, y long")
    got = df.selectExpr(
        "x", "y", f"cast({_morton16_sql('x', 'y', 'div')} as bigint) as z"
    ).collect()
    for r in got:
        assert r.z == _morton16(r.x, r.y), (r.x, r.y)


def test_bigram_pmi_matches_python_recompute(spark, sf_dir):
    """PMI ranking equals a pure-Python recount over the same corpus
    (collections.Counter, math.log) — tokenization, min-support, and the
    probability algebra all independently reimplemented."""
    from collections import Counter

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
    uni, bi = Counter(), Counter()
    for text in tbl["text"].to_pylist():
        ws = words(text)
        uni.update(ws)
        bi.update(f"{a} {b}" for a, b in zip(ws, ws[1:]))
    tu, tb = float(sum(uni.values())), float(sum(bi.values()))
    exp = {}
    for bg, c in bi.items():
        if c >= 5:
            x, y = bg.split(" ")
            exp[bg] = (
                c,
                math.log(c) - math.log(tb) - math.log(uni[x]) - math.log(uni[y]) + 2 * math.log(tu),
            )
    # replicate the (rounded pmi DESC, bigram ASC) top-100 selection
    ranked = sorted(
        ((round(p + 1e-9, 4), bg) for bg, (c, p) in exp.items()),
        key=lambda t: (-t[0], t[1]),
    )[:100]
    expected_bgs = {bg for _, bg in ranked}
    got = QUERIES["bigram_pmi"](spark, sf_dir).collect()
    assert {r.bg for r in got} == expected_bgs
    for r in got:
        c, pmi = exp[r.bg]
        assert r.c_xy == c
        assert r.pmi == pytest.approx(pmi, abs=1e-3)


def test_token_entropy_matches_python_recompute(spark, sf_dir):
    from collections import Counter, defaultdict

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["source", "text"])
    per = defaultdict(Counter)
    for src, text in zip(tbl["source"].to_pylist(), tbl["text"].to_pylist()):
        per[src].update(words(text))
    got = {r.source: r for r in QUERIES["token_entropy"](spark, sf_dir).collect()}
    assert set(got) == set(per)
    for src, cnt in per.items():
        t = sum(cnt.values())
        h = math.log(t) - sum(c * math.log(c) for c in cnt.values()) / t
        r = got[src]
        assert r.n_words == t
        assert r.n_unique == len(cnt)
        assert r.entropy_nats == pytest.approx(h, abs=1e-3)


def test_stream_dedup_is_exact_inverse_of_redelivery(spark, sf_dir):
    """dropDuplicates over the doubled feed returns exactly the original
    events (every event once, values intact)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = QUERIES["stream_dedup"](spark, sf_dir)
    assert out.count() == ev.count()
    assert out.select("event_id").distinct().count() == ev.count()


def test_corpus_build_near_survivors_match_cluster_recompute(spark, sf_dir):
    """The near-dedup gate inside corpus_build_pipeline_near must keep
    exactly the min-id survivor of each connected LSH component over the
    SAME (quality-kept, exact-deduped) corpus — recomputed here from the
    operator primitives, survivor set compared element-wise."""
    from mapreduce_model_spark.operators.dedup import (
        lsh_near_dup_pairs,
        minhash_signatures,
    )
    from mapreduce_model_spark.queries_dedup import (
        BANDS,
        K,
        LSH_THRESHOLD,
        MAX_BUCKET,
        ROWS,
        SHINGLE_K,
    )
    from mapreduce_model_spark.queries_text import _quality_exact_corpus

    exact = _quality_exact_corpus(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).localCheckpoint()

    pairs = lsh_near_dup_pairs(
        minhash_signatures(exact, k=K, shingle_k=SHINGLE_K),
        bands=BANDS,
        rows=ROWS,
        threshold=LSH_THRESHOLD,
        max_bucket=MAX_BUCKET,
    ).select("id_a", "id_b")

    # driver-side union-find over the pair graph (pairs ≪ corpus)
    parent: dict = {}

    def find(a):
        while parent.get(a, a) != a:
            parent[a] = parent.get(parent[a], parent[a])
            a = parent[a]
        return a

    ids = [r.doc_id for r in exact.select("doc_id").collect()]
    for r in pairs.collect():
        ra, rb = find(r.id_a), find(r.id_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict = {}
    for i in ids:
        comp.setdefault(find(i), set()).add(i)
    expected_survivors = {min(members) for members in comp.values()}

    manifest = QUERIES["corpus_build_pipeline_near"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in manifest) == len(expected_survivors)

    # the exact pipeline (no near gate) must keep at least as many docs
    exact_manifest = QUERIES["corpus_build_pipeline"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in exact_manifest) >= len(expected_survivors)


def test_kmeans_matches_numpy_recompute(spark, sf_dir):
    """kmeans_embeddings against an independent numpy Lloyd's with the same
    deterministic seeding (k lowest ids), cosine assignment, and 5 mean
    updates — member counts exact, centroids to 1e-5."""
    import numpy as np

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.array(tbl["vec_id"].to_pylist())
    X = np.array(tbl["embedding"].to_pylist(), dtype=np.float64)
    order = np.argsort(ids)
    ids, X = ids[order], X[order]
    k = 8
    cents = X[:k].copy()

    def assign(C):
        sims = (X @ C.T) / (
            np.linalg.norm(X, axis=1)[:, None] * np.linalg.norm(C, axis=1)[None, :]
        )
        # ties broken by lowest cid, matching the operator's (score desc, cid)
        return np.argmax(sims, axis=1)

    for _ in range(5):
        a = assign(cents)
        cents = np.stack([X[a == c].mean(axis=0) for c in range(k)])
    a = assign(cents)

    got = {r.cid: r for r in QUERIES["kmeans_embeddings"](spark, sf_dir).collect()}
    assert set(got) == set(range(k))
    for c in range(k):
        assert got[c].n_members == int((a == c).sum())
        assert np.allclose(np.array(got[c].centroid), cents[c], atol=1e-5)


def test_observation_metrics_ride_the_corpus_build(spark, sf_dir):
    """The Observation API attaches accumulator-backed metrics to a job —
    gate counts and payload sums land with the action, no second pass over
    the corpus (the 100 TB way to monitor a pipeline run). Values must
    match an independent recompute."""
    from pyspark.sql import Observation

    from mapreduce_model_spark.queries_text import _quality_exact_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    obs = Observation("gates")
    kept = _quality_exact_corpus(docs).observe(
        obs,
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
        # DISTINCT aggregates are rejected in observed metrics
        # (INVALID_OBSERVED_METRICS) — the sketch version is the scale answer
        F.approx_count_distinct("source").alias("n_sources"),
    )
    n_rows = kept.count()  # the action that populates the observation
    got = obs.get
    assert got["n_kept"] == n_rows
    ref = _quality_exact_corpus(docs).agg(
        F.sum("n_chars").alias("c"), F.countDistinct("source").alias("s")
    ).collect()[0]
    assert got["chars_kept"] == ref.c
    assert got["n_sources"] == ref.s


def test_sql_session_variables_and_scripting(spark, sf_dir):
    """Spark 4 SQL surface: session variables parameterize plain SQL (the
    ops-friendly templating that needs no Python round trip), and SQL
    scripting (BEGIN/DECLARE/SET/IF) runs a data-dependent multi-statement
    block — both checked against direct DataFrame recomputes."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "li_vars"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE qty_cut DOUBLE DEFAULT 10.0")
    spark.sql("SET VAR qty_cut = 25.0")
    got = spark.sql(
        "SELECT count(*) AS n FROM li_vars WHERE l_quantity < qty_cut"
    ).collect()[0].n
    want = (
        spark.table("li_vars").filter(F.col("l_quantity") < 25.0).count()
    )
    assert got == want

    old = spark.conf.get("spark.sql.scripting.enabled", "false")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        rows = spark.sql(
            """
BEGIN
  DECLARE avg_qty DOUBLE;
  SET avg_qty = (SELECT avg(l_quantity) FROM li_vars);
  SELECT count(*) AS n_above FROM li_vars WHERE l_quantity > avg_qty;
END
"""
        ).collect()
        avg = spark.table("li_vars").agg(F.avg("l_quantity")).collect()[0][0]
        exp = spark.table("li_vars").filter(F.col("l_quantity") > avg).count()
        assert rows[0].n_above == exp
    finally:
        spark.conf.set("spark.sql.scripting.enabled", old)
