"""Operator tests: similarity search recall/exactness, as-of join semantics,
multimodal binary plumbing (mapInPandas stub)."""

import math

import pytest
from pyspark.sql import functions as F

from mapreduce_model_spark.operators.joins import asof_join
from mapreduce_model_spark.operators.multimodal import (
    attach_payload,
    decode_image,
    extract_features,
)
from mapreduce_model_spark.operators.similarity import cosine_topk, lsh_cosine_topk


def test_cosine_topk_exact(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0]),  # opposite
    ]
    emb = spark.createDataFrame(vecs, "vec_id: long, embedding: array<float>")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=4).collect()
    order = [r.vec_id for r in sorted(out, key=lambda r: r.rank)]
    assert order == [0, 1, 2, 3]
    by_id = {r.vec_id: r.cosine for r in out}
    assert by_id[0] == pytest.approx(1.0)
    assert by_id[1] == pytest.approx(0.9 / math.sqrt(0.82), rel=1e-9)
    assert by_id[2] == pytest.approx(0.0, abs=1e-12)
    assert by_id[3] == pytest.approx(-1.0)


def test_lsh_topk_subset_of_exact(spark, sf_dir):
    """Every ANN hit must be a true neighbor with identical cosine (LSH
    prunes candidates but never rescores)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.vec_id): r.cosine
        for r in cosine_topk(emb, queries, k=500).collect()
    }
    ann = lsh_cosine_topk(emb, queries, k=3, bits=6).collect()
    assert len(ann) > 0
    for r in ann:
        assert (r.query_id, r.vec_id) in exact
        assert r.cosine == pytest.approx(exact[(r.query_id, r.vec_id)], rel=1e-12)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 10, 50), (4, 20, 100)],
        "event_id: long, user_id: long, ts_s: long",
    ).withColumn("ts", F.timestamp_seconds("ts_s"))
    right = spark.createDataFrame(
        [(10, 100, 1.0), (10, 200, 2.0), (20, 300, 3.0)],
        "user_id: long, ts_s: long, price: double",
    ).withColumn("ts", F.timestamp_seconds("ts_s"))
    out = {
        r.event_id: (r.asof_ts_us, r.asof_price)
        for r in asof_join(left, right, key="user_id", right_cols=["price"]).collect()
    }
    assert out[1] == (100_000_000, 1.0)   # equal ts matches (<=)
    assert out[2] == (200_000_000, 2.0)   # latest prior
    assert out[3] == (None, None)         # nothing before
    assert out[4] == (None, None)         # user 20's quote is later


def test_multimodal_stub_and_features(spark, sf_dir):
    # JPEG (r10), PNG and GIF (r11) all decode for real now — garbage
    # after a valid PNG signature surfaces the decoder's ValueError
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 8)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    # one zero-length payload: extract_features masks it out of the
    # segmented reduceat, which misreads empty segments
    empty = spark.createDataFrame([(10**6, "", "en", "src0", 0)], docs.schema)
    docs = docs.unionByName(empty)
    media = attach_payload(docs)
    feats = extract_features(media).collect()
    assert len(feats) == 21
    raw = {r.doc_id: r.text for r in docs.collect()}
    for r in feats:
        payload = raw[r.doc_id].encode("utf-8")
        assert r.n_bytes == len(payload)
        assert r.byte_sum_mod == sum(payload) % 997
        assert r.fake_width == int(len(payload) ** 0.5)
        assert r.fake_height == len(payload) // max(r.fake_width, 1)
    assert [r.n_bytes for r in feats if r.doc_id == 10**6] == [0]


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """The IVF contract: probing ALL cells degenerates to exact search —
    candidate generation loses nothing, only cell pruning does. (On these
    near-random synthetic embeddings a fixed recall bar for partial probes
    would be arbitrary; subset + exactness are the invariants.)"""
    from mapreduce_model_spark.operators.similarity import ivf_cosine_topk
    from mapreduce_model_spark.registry import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    # exact top-3 per query after dropping the self-match (IVF excludes it)
    by_q: dict[int, list[int]] = {}
    for r in sorted(
        cosine_topk(emb, queries, k=4).collect(), key=lambda r: (r.query_id, r.rank)
    ):
        if r.vec_id != r.query_id:
            by_q.setdefault(r.query_id, []).append(r.vec_id)
    exact_sans_self = {
        (q, v, i + 1) for q, vs in by_q.items() for i, v in enumerate(vs[:3])
    }
    full = ivf_cosine_topk(emb, queries, k=3, stride=50, nprobe=10_000)
    full_pairs = {(r.query_id, r.vec_id, r.rank) for r in full.collect()}
    assert full_pairs == exact_sans_self
    assert len(full_pairs) == 20 * 3

    # partial probe: strict subset of the full-probe candidate space, with
    # identical cosines for shared (query, vec) pairs
    part = ivf_cosine_topk(emb, queries, k=3, stride=50, nprobe=2)
    part_cos = {(r.query_id, r.vec_id): r.cosine for r in part.collect()}
    full_cos = {(r.query_id, r.vec_id): r.cosine for r in full.collect()}
    shared = set(part_cos) & set(full_cos)
    assert shared, "partial probe found nothing the full probe found"
    assert all(part_cos[p] == full_cos[p] for p in shared)


def test_sample_frames_content(spark, sf_dir):
    """Frame bytes must be the exact payload slices (every 4th 256-byte
    chunk), not just the right geometry."""
    from mapreduce_model_spark.operators.multimodal import attach_payload, sample_frames
    from mapreduce_model_spark.registry import table

    docs = table(spark, sf_dir, "documents").limit(10)
    media = attach_payload(docs)
    got = {}
    for r in sample_frames(media, frame_bytes=256, every_k=4).collect():
        got.setdefault(r.doc_id, {})[r.frame_idx] = bytes(r.frame)
    for r in docs.collect():
        payload = r.text.encode("utf-8")
        expected = {
            j: payload[j * 256 : (j + 1) * 256]
            for j in range(0, -(-len(payload) // 256), 4)
        }
        assert got[r.doc_id] == expected, r.doc_id


def test_resize_media_fixed_size(spark, sf_dir):
    """Resize: every output payload is exactly target_bytes — long inputs
    truncated to a prefix, short inputs zero-padded — and flagged
    accordingly (operators/multimodal.py resize_media)."""
    from mapreduce_model_spark.operators.multimodal import attach_payload, resize_media
    from mapreduce_model_spark.registry import table

    docs = table(spark, sf_dir, "documents").limit(20)
    media = attach_payload(docs)
    out = {r.doc_id: r for r in resize_media(media, target_bytes=128).collect()}
    for r in docs.collect():
        payload = r.text.encode("utf-8")
        got = out[r.doc_id]
        assert got.resized_bytes == 128
        assert len(bytes(got.payload)) == 128
        if len(payload) >= 128:
            assert got.truncated == (len(payload) > 128)
            assert bytes(got.payload) == payload[:128]
        else:
            assert not got.truncated
            assert bytes(got.payload) == payload + b"\x00" * (128 - len(payload))
        assert got.orig_bytes == len(payload)
