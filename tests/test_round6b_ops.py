"""Round-6 second-wave operator pins: duplicated-span merging, DSIR
importance weights, JL projection, and the one-pass covariance matrix.

All four are oracle-checked in the registry sweep; these tests pin the
ALGORITHMIC contracts the SQL hash can't express (span maximality, the
KL-style direction of importance weights, JL norm concentration, agreement
with numpy's covariance).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapreduce_model_spark.registry import QUERIES


def test_dup_spans_contiguous_disjoint_maximal(spark, sf_dir):
    """Every span is a contiguous run (span_chunks == end - start + 1);
    spans of one doc never touch or overlap (maximality: touching spans
    would have been merged); and the total duplicated-chunk mass equals
    chunk_dedup's n_chunks - n_kept accounting exactly."""
    spans = QUERIES["dup_span_merge"](spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in spans:
        assert r["span_chunks"] == r["span_end"] - r["span_start"] + 1
        by_doc.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for doc, ivs in by_doc.items():
        ivs.sort()
        for (s1, e1), (s2, e2) in zip(ivs, ivs[1:]):
            assert e1 + 1 < s2, f"doc {doc}: spans ({s1},{e1}) and ({s2},{e2}) touch"

    dup_total = sum(r["span_chunks"] for r in spans)
    acct = (
        QUERIES["chunk_dedup"](spark, sf_dir)
        .agg(F.sum(F.col("n_chunks") - F.col("n_kept")))
        .first()[0]
    )
    assert dup_total == acct


def test_dsir_scores_target_source_higher(spark, sf_dir):
    """The importance weight is an estimated log-likelihood ratio toward
    the target domain's feature distribution — so the target source's own
    docs must average strictly higher than the rest of the corpus (the
    non-negativity of KL divergence, in planted form). Deterministic data,
    deterministic pin."""
    from mapreduce_model_spark.queries_text import _DSIR_TARGET
    from mapreduce_model_spark.registry import table

    scored = QUERIES["dsir_importance"](spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    means = (
        scored.join(docs, "doc_id")
        .groupBy(F.col("source") == _DSIR_TARGET)
        .agg(F.avg("dsir_logratio"))
        .collect()
    )
    by_is_target = {r[0]: r[1] for r in means}
    assert by_is_target[True] > by_is_target[False]


def test_jl_norm_ratio_concentrates(spark, sf_dir):
    """JL guarantee in aggregate: the projected/original norm ratio is
    positive everywhere and its mean sits near 1 (16 output dims ⇒ sd of
    the ratio ~1/sqrt(2·16) ≈ 0.18; the corpus mean is far tighter)."""
    rows = QUERIES["jl_projection"](spark, sf_dir).collect()
    ratios = [r["norm_ratio"] for r in rows]
    assert all(x > 0 for x in ratios)
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15, mean


def test_embedding_covariance_matches_numpy(spark, sf_dir):
    """The sufficient-statistics assembly equals numpy's population
    covariance on the collected matrix, cell for cell."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").orderBy("vec_id")
    X = np.array(emb.select("embedding").toPandas()["embedding"].tolist(), dtype=np.float64)
    expected = np.cov(X, rowvar=False, bias=True)

    got = QUERIES["embedding_covariance"](spark, sf_dir).collect()
    assert len(got) == 64 * 65 // 2
    for r in got:
        assert abs(r["cov"] - expected[r["i"], r["j"]]) < 2e-6, (r["i"], r["j"])
        if r["i"] == r["j"]:
            assert r["cov"] >= 0


def test_embedding_pca_diagonalizes(spark, sf_dir):
    """End-to-end PCA pin vs numpy: the emitted coordinates' variances
    equal the top eigenvalues of the data covariance (descending), and
    cross-coordinate covariances vanish — i.e. the distributed
    moment-aggregation + driver eigh + literal re-entry pipeline computes
    the same subspace numpy computes from the raw matrix."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").orderBy("vec_id")
    X = np.array(
        emb.select("embedding").toPandas()["embedding"].tolist(), dtype=np.float64
    )
    lam = np.sort(np.linalg.eigvalsh(np.cov(X, rowvar=False, bias=True)))[::-1][:8]

    rows = QUERIES["embedding_pca"](spark, sf_dir).toPandas().sort_values("vec_id")
    P = rows[[f"pc{q}" for q in range(8)]].to_numpy()
    got_cov = np.cov(P, rowvar=False, bias=True)
    # rounding the coords at 1e-4 injects ~1e-8 variance noise; eigenvalues
    # are O(1e-2) here
    assert np.allclose(np.diag(got_cov), lam, atol=5e-4), (np.diag(got_cov), lam)
    off = got_cov - np.diag(np.diag(got_cov))
    assert np.abs(off).max() < 5e-4
    # descending order
    d = np.diag(got_cov)
    assert all(d[k] >= d[k + 1] - 5e-4 for k in range(7))


def test_dedup_cluster_quality_keeps_longest(spark, sf_dir):
    """Exactly one survivor per component, and it is a maximal-n_chars
    member (doc_id-min among ties)."""
    rows = QUERIES["dedup_cluster_quality"](spark, sf_dir).collect()
    by_comp: dict[int, list] = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        surv = [r for r in members if r["is_survivor"]]
        assert len(surv) == 1, comp
        best = min(members, key=lambda r: (-r["n_chars"], r["doc_id"]))
        assert surv[0]["doc_id"] == best["doc_id"]


def test_semantic_dedup_keep_contract(spark, sf_dir):
    """is_kept ⟺ (no lower-id cluster-mate above τ); each cluster's
    minimum-id member has NULL score and is always kept."""
    from mapreduce_model_spark.queries_similarity import _SEM_TAU

    rows = QUERIES["semantic_dedup"](spark, sf_dir).collect()
    by_cid: dict[int, list] = {}
    for r in rows:
        by_cid.setdefault(r["cid"], []).append(r)
        expect = r["sem_score"] is None or r["sem_score"] < _SEM_TAU
        assert r["is_kept"] == expect, r
    for cid, members in by_cid.items():
        first = min(members, key=lambda r: r["vec_id"])
        assert first["sem_score"] is None and first["is_kept"], first


@pytest.mark.parametrize("gate", [None, 0], ids=["local-finish", "distributed"])
def test_quality_classifier_matches_numpy_gd(spark, sf_dir, monkeypatch, gate):
    """Defense in depth behind the unrolled-CTE oracle: rebuild the exact
    features and run the same 10 GD steps in numpy; per-doc probabilities
    must agree to the rounding grain — on both sides of the local-finish
    gate (gate 0 forces the distributed GD loop)."""
    import hashlib

    from mapreduce_model_spark import queries_text
    from mapreduce_model_spark.queries_text import _QC_B, _QC_ITERS, _QC_LR

    if gate is not None:
        monkeypatch.setattr(queries_text, "_QC_LOCAL_DOCS", gate)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    import re

    feats, ys, ids = [], [], []
    for r in docs:
        words = [
            re.sub(r"[^a-z]", "", t.lower()) for t in r["text"].strip().split()
        ]
        words = [w for w in words if w]
        if not words:
            continue
        x = np.zeros(_QC_B + 1)
        for w_ in words:
            b = int(hashlib.md5(w_.encode()).hexdigest()[:8], 16) % _QC_B
            x[b] += 1
        x[:_QC_B] /= len(words)
        x[_QC_B] = 1.0
        feats.append(x)
        ys.append(1.0 if r["source"] == "src0" else 0.0)
        ids.append(r["doc_id"])
    X, Y = np.array(feats), np.array(ys)
    w = np.zeros(_QC_B + 1)
    for _ in range(_QC_ITERS):
        sig = 1 / (1 + np.exp(-X @ w))
        w = w - _QC_LR * (X.T @ (sig - Y)) / len(X)
    probs = dict(zip(ids, 1 / (1 + np.exp(-X @ w))))

    got = QUERIES["quality_classifier"](spark, sf_dir).collect()
    assert len(got) == len(ids)
    for r in got:
        assert abs(r["prob"] - probs[r["doc_id"]]) < 2e-4, r


def test_mahalanobis_matches_numpy(spark, sf_dir):
    """Full-pipeline pin: moment aggregation + ridge inverse + scoring
    equals a straight numpy recompute; the synthetic corpus's clean
    sub-gaussian tails mean zero flags at the χ²(64) 99th percentile —
    asserted so a threshold regression can't hide."""
    from mapreduce_model_spark.queries_similarity import _MAHA_RIDGE

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").orderBy("vec_id")
    X = np.array(
        emb.select("embedding").toPandas()["embedding"].tolist(), dtype=np.float64
    )
    mean = X.mean(0)
    C = np.cov(X, rowvar=False, bias=True)
    Minv = np.linalg.inv(C + _MAHA_RIDGE * np.eye(64))
    Xc = X - mean
    md2 = np.einsum("ij,ij->i", Xc @ Minv, Xc)
    expected = dict(zip(emb.select("vec_id").toPandas()["vec_id"], md2))

    got = QUERIES["mahalanobis_outliers"](spark, sf_dir).collect()
    assert len(got) == len(expected)
    for r in got:
        assert abs(r["md2"] - expected[r["vec_id"]]) < 1e-3, r
        assert not r["is_outlier"]


def _py_bpe(spark, sf_dir):
    """Reference python BPE (greedy left-to-right merge on symbol lists —
    the same semantics the sentinel-space string rewrite implements):
    returns (merge trajectory, final word→symbols segmentation, counts)."""
    import re
    from collections import Counter

    from mapreduce_model_spark.queries_text import _BPE_STEPS

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    wc: Counter = Counter()
    for r in docs:
        for t in r["text"].strip().split():
            w = re.sub(r"[^a-z]", "", t.lower())
            if w:
                wc[w] += 1
    segs = {w: list(w) for w in wc}

    def merge(sym, pair):
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and (sym[i], sym[i + 1]) == pair:
                out.append(sym[i] + sym[i + 1])
                i += 2
            else:
                out.append(sym[i])
                i += 1
        return out

    expected = []
    for step in range(1, _BPE_STEPS + 1):
        pc: Counter = Counter()
        for w, sym in segs.items():
            for a, b in zip(sym, sym[1:]):
                pc[(a, b)] += wc[w]
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        expected.append((step, f"{a} {b}", a + b, cnt))
        segs = {w: merge(sym, (a, b)) for w, sym in segs.items()}
    return expected, segs, wc


@pytest.mark.parametrize("gate", [None, 0], ids=["local-finish", "distributed"])
def test_bpe_train_matches_python_recompute(spark, sf_dir, monkeypatch, gate):
    """The whole greedy training trajectory equals the reference python
    BPE; and the winning-pair count sequence is non-increasing (merges
    only ever shrink pair mass) — on both sides of the local-finish gate
    (gate 0 forces the distributed merge loop)."""
    from mapreduce_model_spark import queries_text

    if gate is not None:
        monkeypatch.setattr(queries_text, "_BPE_LOCAL_VOCAB", gate)
    expected, _, _ = _py_bpe(spark, sf_dir)
    got = sorted(
        QUERIES["bpe_train"](spark, sf_dir).collect(), key=lambda r: r["step"]
    )
    assert [(r["step"], r["pair"], r["merged"], r["cnt"]) for r in got] == expected
    cnts = [r["cnt"] for r in got]
    assert all(x >= y for x, y in zip(cnts, cnts[1:]))


def test_bpe_encode_matches_python_recompute(spark, sf_dir):
    """bpe_encode's final segmented dictionary equals the reference python
    BPE's end state for EVERY word: same symbols, same token counts, same
    corpus frequencies; and concatenating a word's symbols reconstructs
    the word exactly (segmentation never drops or reorders bytes)."""
    _, segs, wc = _py_bpe(spark, sf_dir)
    got = QUERIES["bpe_encode"](spark, sf_dir).collect()
    assert len(got) == len(segs)
    for r in got:
        sym = segs[r["word"]]
        assert r["seg"].split(" ") == sym, r["word"]
        assert r["n_tokens"] == len(sym)
        assert r["c"] == wc[r["word"]]
        assert "".join(sym) == r["word"]


def _np_pq(spark, sf_dir):
    """Independent numpy PQ training (same seeding, same L2 recurrence):
    returns (vids, per-subspace matrix, trained codebook, final dist²
    tensor, final codes)."""
    from mapreduce_model_spark.queries_similarity import _PQ_ITER, _PQ_K, _PQ_M

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").orderBy("vec_id")
    pdf = emb.select("vec_id", "embedding").toPandas()
    vids = pdf["vec_id"].to_numpy()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    n, d = X.shape
    ds = d // _PQ_M
    sub = X.reshape(n, _PQ_M, ds)  # row order == vec_id order
    cents = sub[:_PQ_K].transpose(1, 0, 2).copy()  # (m, k, ds)

    def assign(cents):
        # dist² (n, m, k); argmin ties broken by lowest cid (np argmin does)
        d2 = (
            np.einsum("nmd,nmd->nm", sub, sub)[:, :, None]
            - 2 * np.einsum("nmd,mkd->nmk", sub, cents)
            + np.einsum("mkd,mkd->mk", cents, cents)[None, :, :]
        )
        return d2, d2.argmin(axis=2)

    for _ in range(_PQ_ITER):
        _, a = assign(cents)
        for m in range(_PQ_M):
            for c in range(_PQ_K):
                mask = a[:, m] == c
                if mask.any():
                    cents[m, c] = sub[mask, m].mean(axis=0)
    d2, a = assign(cents)
    return vids, sub, cents, d2, a


def test_embedding_pq_matches_numpy_recompute(spark, sf_dir):
    """PQ codes and MSE equal an independent numpy recompute (same
    seeding, same L2 recurrence), and the final-assignment decision gap
    (runner-up dist² − best dist²) is orders of magnitude above the
    ~1e-16 cross-engine float noise — the hash-stability argument for
    the unrolled oracle, measured."""
    vids, sub, cents, d2, a = _np_pq(spark, sf_dir)
    n, d = len(vids), sub.shape[1] * sub.shape[2]
    srt = np.sort(d2, axis=2)
    gap = float((srt[:, :, 1] - srt[:, :, 0]).min())
    assert gap > 1e-8, f"decision gap {gap} too close to float noise"

    exp_codes = {int(v): ",".join(str(c) for c in row) for v, row in zip(vids, a)}
    exp_mse = {
        int(v): float(np.take_along_axis(d2[i], a[i][:, None], 1).sum() / d)
        for i, v in enumerate(vids)
    }
    got = QUERIES["embedding_pq"](spark, sf_dir).collect()
    assert len(got) == n
    for r in got:
        assert r["codes"] == exp_codes[r["vec_id"]], r["vec_id"]
        assert abs(r["mse"] - exp_mse[r["vec_id"]]) < 1e-5


def test_similarity_pq_adc_matches_numpy(spark, sf_dir):
    """The ADC ranking equals a numpy recompute (train → per-query dist²
    tables → eight lookups per corpus vector → ascending sort with id
    tie-break, self excluded) — pins the table construction AND the
    lookup/ranking plumbing behind the oracle."""
    from mapreduce_model_spark.queries_similarity import _PQ_NQ, _PQ_TOPK

    vids, sub, cents, _, a = _np_pq(spark, sf_dir)
    id2row = {int(v): i for i, v in enumerate(vids)}
    expected = {}
    for qid in sorted(id2row)[:_PQ_NQ]:
        assert qid < _PQ_NQ  # query set is vec_id < _PQ_NQ by definition
        qsub = sub[id2row[qid]]  # (m, ds)
        # tables[s][c] = dist²(q subvector s, codeword c)
        tbl = (
            np.einsum("md,md->m", qsub, qsub)[:, None]
            - 2 * np.einsum("md,mkd->mk", qsub, cents)
            + np.einsum("mkd,mkd->mk", cents, cents)
        )
        scored = [
            (float(tbl[np.arange(tbl.shape[0]), a[i]].sum()), int(v))
            for i, v in enumerate(vids)
            if int(v) != qid
        ]
        scored.sort()
        expected[qid] = scored[:_PQ_TOPK]

    got = QUERIES["similarity_pq_adc"](spark, sf_dir).collect()
    assert len(got) == _PQ_NQ * _PQ_TOPK
    for r in got:
        exp_adc, exp_vid = expected[r["query_id"]][r["rank"] - 1]
        assert r["vec_id"] == exp_vid, (r, expected[r["query_id"]])
        assert abs(r["adc"] - exp_adc) < 1e-5


def test_embedding_drift_matches_numpy(spark, sf_dir):
    """Fréchet-diagonal drift equals numpy's per-label moments; the
    metric is symmetric-by-construction (a<b canonical), non-negative,
    and zero between a group and itself."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pdf = emb.select("label", "embedding").toPandas()
    by_label = {}
    for lbl, grp in pdf.groupby("label"):
        X = np.array(grp["embedding"].tolist(), dtype=np.float64)
        by_label[int(lbl)] = (X.mean(0), X.std(0))  # population std
    got = QUERIES["embedding_drift"](spark, sf_dir).collect()
    labels = sorted(by_label)
    assert len(got) == len(labels) * (len(labels) - 1) // 2
    for r in got:
        mu_a, sd_a = by_label[r["label_a"]]
        mu_b, sd_b = by_label[r["label_b"]]
        md2 = float(((mu_a - mu_b) ** 2).sum())
        fre = md2 + float(((sd_a - sd_b) ** 2).sum())
        assert r["label_a"] < r["label_b"]
        assert abs(r["mean_dist2"] - md2) < 1e-5
        assert abs(r["frechet_diag"] - fre) < 1e-5
        assert r["frechet_diag"] >= r["mean_dist2"] >= 0


def test_negative_sample_uniform_contract(spark, sf_dir):
    """Exactly K negatives per anchor, never sharing the anchor's label,
    no repeats within an anchor, and the draw spreads across the corpus
    (not a prefix artifact: the selected ids aren't simply the smallest)."""
    from mapreduce_model_spark.queries_similarity import _NEG_K, _NEG_NQ

    rows = QUERIES["negative_sample_uniform"](spark, sf_dir).collect()
    by_anchor: dict[int, list] = {}
    for r in rows:
        assert r["label"] != r["anchor_label"]
        by_anchor.setdefault(r["anchor_id"], []).append(r["vec_id"])
    assert len(by_anchor) == _NEG_NQ
    for a, negs in by_anchor.items():
        assert len(negs) == _NEG_K and len(set(negs)) == _NEG_K
    all_ids = [v for negs in by_anchor.values() for v in negs]
    assert max(all_ids) > _NEG_NQ * _NEG_K  # md5 spread, not an id prefix


def test_tokenizer_fertility_bounds(spark, sf_dir):
    """Fertility sits in [1, max word length]; chars/token ≥ 1; and the
    corpus-wide token total shrinks vs character count (merges happened)."""
    rows = QUERIES["tokenizer_fertility"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 1.0 <= r["fertility"], r
        assert r["chars_per_token"] >= 1.0, r
        assert r["n_tokens"] >= r["n_words"]


def test_lexical_topk_matches_python_recompute(spark, sf_dir):
    """The tf-cosine ranking equals an exact-arithmetic python recompute
    (integer dots/norms², float only at the final sqrt/divide), including
    rank order and id tie-breaks; self never appears."""
    import hashlib
    import math
    import re
    from collections import Counter

    from mapreduce_model_spark.queries_text import _LEX_NQ, _LEX_TOPK

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    tfs = {}
    for r in docs:
        words = [re.sub(r"[^a-z]", "", t.lower()) for t in r["text"].strip().split()]
        words = [w for w in words if w]
        if words:
            c = Counter(
                int(hashlib.md5(w.encode()).hexdigest()[:8], 16) for w in words
            )
            tfs[r["doc_id"]] = c
    norms = {d: math.sqrt(float(sum(v * v for v in c.values()))) for d, c in tfs.items()}
    expected = {}
    for q in sorted(tfs):
        if q >= _LEX_NQ:
            continue
        scored = []
        for d, c in tfs.items():
            if d == q:
                continue
            dot = float(sum(v * c[k] for k, v in tfs[q].items() if k in c))
            if dot > 0:
                scored.append((-(dot / (norms[q] * norms[d])), d))
        scored.sort()
        expected[q] = [(d, -neg) for neg, d in scored[:_LEX_TOPK]]

    got = QUERIES["lexical_topk"](spark, sf_dir).collect()
    for r in got:
        assert r["doc_id"] != r["query_id"]
        exp_d, exp_cos = expected[r["query_id"]][r["rank"] - 1]
        assert r["doc_id"] == exp_d, (r, expected[r["query_id"]])
        assert abs(r["cosine"] - exp_cos) < 1e-4


def test_ivfpq_recall_faces_keep_their_own_truth(spark, sf_dir, tmp_path):
    """ivfpq_recall_report queries ``vec_id < 20``; ivfpq_recall_sampled
    queries the 20 lowest ids. On a corpus with id gaps these are
    different query sets, so the sampled face run after the report must
    still score 20 queries × K truth pairs, not reuse the report's
    memoized truth (10 queries here)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_model_spark.queries_similarity import _IVFPQR_K, _IVFPQR_NQ

    emb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = pa.array([2 * v for v in emb.column("vec_id").to_pylist()], pa.int64())
    pq.write_table(emb.set_column(0, "vec_id", ids), str(tmp_path / "embeddings.parquet"))
    gappy = str(tmp_path)

    report = QUERIES["ivfpq_recall_report"](spark, gappy).collect()
    assert {r["n_truth"] for r in report} == {_IVFPQR_NQ // 2 * _IVFPQR_K}
    sampled = QUERIES["ivfpq_recall_sampled"](spark, gappy).collect()
    assert {r["n_truth"] for r in sampled} == {_IVFPQR_NQ * _IVFPQR_K}


def test_similarity_ann_ivfpq_contract(spark, sf_dir):
    """IVF-PQ search contract: ≤ topk results per query ranked 1..n by
    ascending ADC, every result's cell is one of the query's nprobe
    probed cells (recomputed from the coarse codebook), and self never
    appears."""
    from mapreduce_model_spark.queries_similarity import (
        _IVFPQ_CI,
        _IVFPQ_KC,
        _IVFPQ_NPROBE,
        _IVFPQ_NQ,
        _IVFPQ_TOPK,
    )
    from mapreduce_model_spark.operators.similarity import pq_fit, py_ldot as ldot
    from mapreduce_model_spark.registry import table

    emb = table(spark, sf_dir, "embeddings")
    _, cc0 = pq_fit(emb, m=1, k=_IVFPQ_KC, n_iter=_IVFPQ_CI, return_codebook=True)
    cc = cc0[0]
    qrows = {
        r["vec_id"]: list(r["v"])
        for r in emb.filter(F.col("vec_id") < _IVFPQ_NQ)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    }

    probed = {}
    for qid, q in qrows.items():
        qq = ldot(q, q)
        ranked = sorted(
            (qq - 2 * ldot(q, c) + ldot(c, c), ci) for ci, c in enumerate(cc)
        )
        probed[qid] = {ci for _, ci in ranked[:_IVFPQ_NPROBE]}

    rows = QUERIES["similarity_ann_ivfpq"](spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert r["vec_id"] != r["query_id"]
        assert r["cell"] in probed[r["query_id"]], r
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == _IVFPQ_NQ
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert len(rs) <= _IVFPQ_TOPK
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        adcs = [r["adc"] for r in rs]
        assert adcs == sorted(adcs)
