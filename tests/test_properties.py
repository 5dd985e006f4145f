"""Property-based tests (hypothesis): independent oracles for operators
whose SQL oracle shares construction logic with the implementation."""

import os
import tempfile

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapreduce_model_spark.operators.joins import asof_join
from mapreduce_model_spark.sources.manifest import read_manifest

events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=25
)
quotes = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 1000), st.floats(0, 100)),
    min_size=0,
    max_size=25,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ev=events, qt=quotes, direction=st.sampled_from(["backward", "forward"]))
def test_asof_join_matches_pandas_merge_asof(spark, ev, qt, direction):
    """asof_join == pandas merge_asof (both directions) on arbitrary
    inputs — an oracle with a completely independent implementation."""
    ldf = (
        pd.DataFrame(ev, columns=["key", "ts_s"])
        .drop_duplicates()
        .reset_index(drop=True)
    )
    ldf["event_id"] = ldf.index
    rdf = (
        pd.DataFrame(qt, columns=["key", "ts_s", "price"])
        .drop_duplicates(["key", "ts_s"])
        .astype({"key": "int64", "ts_s": "int64", "price": "float64"})
    )
    ldf = ldf.astype({"key": "int64", "ts_s": "int64", "event_id": "int64"})

    left = spark.createDataFrame(ldf).withColumn("ts", F.timestamp_seconds("ts_s"))
    right = (
        spark.createDataFrame(rdf)
        if len(rdf)
        else spark.createDataFrame([], "key: long, ts_s: long, price: double")
    ).withColumn("ts", F.timestamp_seconds("ts_s"))

    got = {
        r.event_id: r.asof_price
        for r in asof_join(
            left, right, key="key", right_cols=["price"], direction=direction
        ).collect()
    }

    expected_df = pd.merge_asof(
        ldf.sort_values("ts_s"),
        rdf.sort_values("ts_s"),
        on="ts_s",
        by="key",
        direction=direction,
    )
    expected = {
        int(r.event_id): (None if pd.isna(r.price) else float(r.price))
        for r in expected_df.itertuples()
    }
    assert got == expected


def test_read_manifest_errors(tmp_path):
    missing = tmp_path / "m1.txt"
    missing.write_text("2\nnope_a.txt\nnope_b.txt\n")
    with pytest.raises(FileNotFoundError):
        read_manifest(str(missing))

    short = tmp_path / "m2.txt"
    short.write_text("3\nonly_one.txt\n")
    with pytest.raises(ValueError):
        read_manifest(str(short))

    empty = tmp_path / "m3.txt"
    empty.write_text("")
    with pytest.raises(ValueError):
        read_manifest(str(empty))


def test_read_paths_special_chars_and_duplicates(spark, tmp_path):
    """Paths with spaces/plus survive the input_file_name URI round trip
    (a manifest cannot express space paths — operator>> tokenization — so
    this exercises the programmatic read_paths front door), and each
    manifest position is exactly one row holding its file's whole text: a
    path listed twice is two documents, each with the text ONCE."""
    d = tmp_path / "corpus dir"
    d.mkdir()
    (d / "my doc.txt").write_text("alpha beta\ngamma\n")
    (d / "a+b.txt").write_text("delta\n")
    from mapreduce_model_spark.sources.manifest import read_paths

    rows = read_paths(
        spark,
        [str(d / "my doc.txt"), str(d / "a+b.txt"), str(d / "my doc.txt")],
    ).collect()
    assert sorted((r.doc_id, r.text) for r in rows) == [
        (1, "alpha beta\ngamma\n"),  # once, not doubled
        (2, "delta\n"),
        (3, "alpha beta\ngamma\n"),  # dup entry = own doc
    ]


def test_read_corpus_duplicate_manifest_entries(spark, tmp_path):
    """Manifest path: duplicate entries are distinct documents, one row
    each holding the file's exact text once (no read-twice doubling, line
    endings as on disk) — from read_corpus and the manifest_corpus
    stream reader alike."""
    f = tmp_path / "doc.txt"
    f.write_bytes(b"one two\r\nthree\n")
    manifest = tmp_path / "m.txt"
    manifest.write_text(f"2\n{f}\n{f}\n")
    from mapreduce_model_spark.sources.manifest import read_corpus
    from mapreduce_model_spark.sources.pyds import ManifestStreamReader

    expected = [(1, "one two\r\nthree\n"), (2, "one two\r\nthree\n")]
    assert sorted((r.doc_id, r.text) for r in read_corpus(spark, str(manifest)).collect()) == expected
    rows, end = ManifestStreamReader({"path": str(manifest)}).read({"index": 0})
    assert list(rows) == expected and end == {"index": 2}


def test_word_doc_pairs_narrow_generated(spark, generated_corpus):
    """One row is one document, so the per-file word set is a narrow
    per-row array_distinct: over a 1-partition frame (a microbatch's shape)
    the pairs plan has no Exchange, and its rows are already distinct and
    equal the pure-Python model's pairs. read_corpus holds one row per
    manifest position (the file listed twice is documents 3 and 41), and
    the index built on it equals the model's."""
    from collections import Counter

    from mapreduce_model_spark.operators.inverted_index import invert, word_doc_pairs
    from mapreduce_model_spark.sources.manifest import read_corpus
    from tests.pymodel import inverted_index

    manifest, docs = generated_corpus
    corpus = read_corpus(spark, manifest)
    assert sorted(map(tuple, corpus.collect())) == sorted(docs.items())
    model = inverted_index(docs)
    assert any(3 in ids and 41 in ids for ids in model.values())
    index = sorted((r.letter, r.word, tuple(r.docs)) for r in invert(corpus).collect())
    assert index == sorted((w[0], w, tuple(ids)) for w, ids in model.items())

    pairs = word_doc_pairs(corpus.coalesce(1))
    got = Counter((r.word, r.doc_id) for r in pairs.collect())
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert max(got.values()) == 1
    assert set(got) == {(w, d) for w, ids in model.items() for d in ids}


def _jobs_in_group(spark, group, action):
    """Spark job ids ``action()`` launches, counted on its own job group once
    the listener bus has delivered every job-start event."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_corpus_fixed_cost(spark, generated_corpus, tmp_path):
    """The manifest scan's fixed per-job cost stays in the JVM on a corpus
    past the 32-path parallel-listing default: the id map is a plan literal
    (no Python rows, no broadcast, no Python evaluation), building and
    explaining the index plan launches no Spark job (the file listing runs
    on the driver), and the whole paper's job runs in at most 3."""
    from mapreduce_model_spark.operators.inverted_index import invert, write_letter_files
    from mapreduce_model_spark.sources.manifest import read_corpus

    manifest, _ = generated_corpus
    plan = read_corpus(spark, manifest)._jdf.queryExecution().executedPlan().toString()
    for node in ("ExistingRDD", "BroadcastExchange", "EvalPython", "PythonUDF"):
        assert node not in plan, f"{node} in the read_corpus plan:\n{plan}"

    jobs = _jobs_in_group(
        spark, "read-corpus-plan", lambda: invert(read_corpus(spark, manifest)).explain()
    )
    assert jobs == [], f"planning launched Spark jobs {jobs}"

    out = str(tmp_path / "letters")
    jobs = _jobs_in_group(
        spark,
        "read-corpus-write",
        lambda: write_letter_files(invert(read_corpus(spark, manifest)), out),
    )
    assert 1 <= len(jobs) <= 3, f"the index job ran {len(jobs)} Spark jobs"


def test_except_set_semantics_with_duplicates(spark):
    """EXCEPT (set semantics): a left row with ANY right match disappears
    even when the left holds it more times than the right."""
    left = spark.createDataFrame([(1,), (1,), (2,), (3,)], "v: long")
    right = spark.createDataFrame([(1,), (3,)], "v: long")
    got = sorted(r.v for r in left.subtract(right).collect())
    assert got == [2]


graphs = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=0, max_size=60
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=graphs, gate=st.sampled_from([None, 0, 10]))
def test_connected_components_property(spark, edges, gate):
    """CC == driver union-find on arbitrary graphs for ALL three code
    paths: immediate local finish (gate=None), forced-distributed
    (gate=0), and mid-loop local finish (gate=10: small graphs finish
    immediately, larger ones contract first)."""
    from mapreduce_model_spark.operators.graph import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {n for ab in edges for n in ab if ab[0] != ab[1]}
    exp = {n: find(n) for n in touched}

    e = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges] or [(0, 0)],
        "id_a: long, id_b: long",
    )
    got = {
        r.node: r.component
        for r in connected_components(e, small_graph_rows=gate).collect()
    }
    assert {n: got[n] for n in touched} == exp


intervals = st.lists(st.integers(0, 500), min_size=1, max_size=40)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(starts=intervals)
def test_sweep_line_matches_simulation(spark, starts):
    """The sweep-line construction used by max_concurrent_intervals,
    rebuilt on arbitrary second-offsets, must equal a direct sweep
    simulation — including heavy tie pileups hypothesis loves to plant."""
    import datetime as dt

    from pyspark.sql import Window

    base = dt.datetime(2024, 6, 1)
    rows = [(i, base + dt.timedelta(seconds=s)) for i, s in enumerate(starts)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    opens = df.select(F.col("ts").alias("t"), F.lit(1).alias("d"))
    closes = df.select(
        (F.col("ts") + F.expr("INTERVAL 300 SECOND")).alias("t"),
        F.lit(-1).alias("d"),
    )
    w = Window.orderBy("t", "d")
    got = (
        opens.unionAll(closes)
        .withColumn("c", F.sum("d").over(w))
        .agg(F.max("c"))
        .first()[0]
    )

    pts = [(s, 1) for s in starts] + [(s + 300, -1) for s in starts]
    cur = best = 0
    for _, d in sorted(pts):
        cur += d
        best = max(best, cur)
    assert got == best


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.one_of(st.integers(0, 1000), st.none()), min_size=1, max_size=60
    ),
    parts=st.integers(1, 6),
)
def test_global_prefix_sums_property(spark, vals, parts):
    """Two-phase exclusive prefix sum == a plain python running sum, for
    arbitrary values (nulls contribute 0) and partition counts — the
    partition-boundary bases and the Arrow cumsum have completely
    independent recomputation here."""
    from mapreduce_model_spark.operators.ids import global_prefix_sums

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v long"
    )
    got = {
        r["k"]: r["cum_before"]
        for r in global_prefix_sums(
            df, ["k"], "v", num_partitions=parts
        ).collect()
    }
    acc, exp = 0, {}
    for i, v in enumerate(vals):
        exp[i] = acc
        acc += v or 0
    assert got == exp


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vec=st.lists(
        st.floats(-10, 10, allow_nan=False), min_size=6, max_size=6
    ),
    radius=st.integers(1, 2),
)
def test_probe_buckets_is_exact_hamming_ball(spark, vec, radius):
    """probe_buckets must emit EXACTLY the Hamming ball of the vector's
    sign bucket: all distinct, every key within `radius` flips, every
    such key present — checked against an independent itertools
    enumeration."""
    from itertools import combinations

    from mapreduce_model_spark.operators.similarity import (
        probe_buckets,
        sign_bucket,
    )

    bits = 6
    df = spark.createDataFrame([(vec,)], "v array<double>")
    row = df.select(
        sign_bucket(F.col("v"), bits).alias("b"),
        probe_buckets(sign_bucket(F.col("v"), bits), bits, radius=radius).alias(
            "probes"
        ),
    ).first()
    bucket, probes = row["b"], row["probes"]
    expected = {bucket}
    for r in range(1, radius + 1):
        for idxs in combinations(range(bits), r):
            chars = list(bucket)
            for i in idxs:
                chars[i] = "0" if chars[i] == "1" else "1"
            expected.add("".join(chars))
    assert len(probes) == len(set(probes))  # distinct
    assert set(probes) == expected
