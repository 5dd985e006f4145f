"""Embedding similarity search — brute-force cosine top-k and sign-LSH ANN.

North-star operators (no reference heritage — the reference has no numeric
columns at all): nearest-neighbor retrieval over an ``array<float>`` column.

Everything is built-in expressions (``zip_with`` + ``aggregate`` for the dot
product) — JVM-side, codegen-friendly, no Python UDF in the scoring loop,
and bit-identical to DuckDB's ``list_dot_product`` on ``DOUBLE[]`` (both
multiply-accumulate left to right in double precision), which keeps the
oracle hash-exact without tolerance hacks.

Scale notes (100 TB / billions of vectors):
- Brute force is O(Q·N·d) — correct baseline, and the right choice whenever
  Q is small (the broadcast side) regardless of N: broadcast the queries,
  one pass over the corpus, per-partition top-k via window. No shuffle of
  the corpus.
- The scale path is pruning: sign-LSH buckets (here), or IVF (k-means
  coarse quantizer + per-centroid partitions — same join shape: bucket key
  becomes centroid id). Recall is tunable via bucket bits / multi-probe.
- Never collect() candidates: top-k is a window (or groupBy + max_by) on
  executors end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "dot",
    "l2_norm",
    "cosine_topk",
    "sign_bucket",
    "probe_buckets",
    "lsh_cosine_topk",
    "ivf_cosine_topk",
    "top1_hard_negative",
]


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, left to right (matches DuckDB
    ``list_dot_product`` on ``DOUBLE[]`` bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force baseline).

    ``queries`` is broadcast; the corpus is scanned once. Ranking uses the
    *unrounded* cosine plus id tie-break (total order → deterministic k).
    Output: (query_id, vec_id, cosine, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv")))
    scored = F.broadcast(q).crossJoin(c).withColumn(
        "cosine", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def top1_hard_negative(scored: DataFrame) -> DataFrame:
    """Top-1 different-label candidate per anchor, the shared tail of
    hard_negative_mining and its ANN twin: max(struct(cosine, -vec_id,
    label)) per (query_id, query_label) — highest unrounded cosine, then
    lowest vec_id, as an ALGEBRAIC aggregate (map-side partial collapses
    the candidate fan-out before the exchange; no window). One home for
    the tie-break/rounding so the twins can never drift apart.

    ``scored`` must carry query_id, query_label, vec_id, label, cosine."""
    best = scored.groupBy("query_id", "query_label").agg(
        F.max(
            F.struct(
                F.col("cosine").alias("cosine"),
                (-F.col("vec_id")).alias("neg_id"),
                F.col("label").alias("neg_label"),
            )
        ).alias("b")
    )
    return best.select(
        "query_id",
        "query_label",
        (-F.col("b.neg_id")).cast("long").alias("hard_negative_id"),
        F.col("b.neg_label").alias("neg_label"),
        F.col("b.cosine").alias("cosine"),
    )


def sign_bucket(vec: Column, bits: int = 6) -> Column:
    """Sign-LSH bucket key: '1'/'0' per leading dimension's sign. Random
    hyperplanes degenerate to axis planes here to stay oracle-expressible;
    ``probe_buckets`` (multi-probe) closes the split-pair recall gap."""
    return F.concat_ws(
        "",
        *[
            F.when(F.element_at(vec, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(bits)
        ],
    )


def probe_buckets(bucket: Column, bits: int, radius: int = 1) -> Column:
    """Hamming-ball multi-probe set: the exact bucket plus every key within
    ``radius`` bit flips (radius 1 → ``1 + bits`` keys; radius 2 adds the
    ``C(bits, 2)`` two-flip neighbors — 22 keys for 6 bits).

    Sign-LSH's recall gap is pairs split across buckets — a vector near a
    hyperplane lands on one side, its near-duplicate on the other, and a
    single-probe bucket join never sees the pair. Probing the Hamming ball
    recovers every pair whose buckets differ in ≤ ``radius`` signs; for
    genuinely-near pairs (cosine ≥ ~0.9, per-bit collision ~0.9) radius 2
    captures ≥ 95% of pairs (binomial tail), which is the documented
    recall contract tests pin. Cost model: the QUERY/left side explodes
    ×|ball| before the same bucket equi-join — the corpus side is
    untouched, so the join stays bucket-shaped (never a cross join) and
    candidate volume scales with the probe count, not corpus size."""
    from itertools import combinations

    def flipped(i: int) -> Column:
        ch = F.substring(bucket, i + 1, 1)
        return F.when(ch == "1", F.lit("0")).otherwise(F.lit("1"))

    probes = [bucket]
    for r in range(1, radius + 1):
        for idxs in combinations(range(bits), r):
            parts, prev = [], 0
            for i in idxs:
                parts.append(F.substring(bucket, prev + 1, i - prev))
                parts.append(flipped(i))
                prev = i + 1
            parts.append(F.substring(bucket, prev + 1, bits - prev))
            probes.append(F.concat(*parts))
    return F.array(*probes)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    bits: int = 6,
    probe_radius: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN variant: candidates = corpus vectors in the query's sign bucket
    (excluding self), exact cosine within the bucket, top-k. The bucket
    equi-join replaces the cross join — at a billion vectors the per-bucket
    candidate list is N/2^bits and the join shuffles on the bucket key only.

    ``probe_radius=1`` probes the query's bucket plus all single-bit-flip
    neighbors (``probe_buckets``): the query side explodes ×(bits+1), the
    corpus side and the join shape are unchanged, and each (query,
    candidate) pair still appears exactly once (a corpus vector lives in
    ONE bucket and the probe keys are distinct)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv"))).withColumn(
        "bucket", sign_bucket(F.col("qv"), bits)
    )
    if probe_radius >= 1:
        q = q.withColumn(
            "bucket",
            F.explode(probe_buckets(F.col("bucket"), bits, radius=probe_radius)),
        )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double(vec_col).alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv"))).withColumn(
        "bucket", sign_bucket(F.col("cv"), bits)
    )
    scored = (
        q.join(c, on="bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def _rank_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    max_rank: int,
) -> DataFrame:
    """Score every vector against every (broadcast) centroid, keep the
    ``max_rank`` nearest cells. Output adds ``cid`` (and ``crank`` when
    ``max_rank`` > 1). Tie-break is (score desc, cid asc) in both paths.

    Only the multi-probe (query-side, small) path pays a window; rank-1 —
    IVF's CORPUS-side assignment — is a ``min_by`` aggregate whose
    map-side partial collapses the ×centroids fan-out before the
    exchange. The window formulation would shuffle corpus × n_centroids
    rows (1B vectors × 1000 cells = 1T rows); the aggregate shuffles one
    combined row per vector, and AQE coalesces from there."""
    scored = vectors.crossJoin(F.broadcast(centroids)).withColumn(
        "_cscore", dot(F.col("v"), F.col("ce")) / (F.col("n") * F.col("cn"))
    )
    if max_rank == 1:
        passthrough = [c for c in vectors.columns if c != "vid"]
        # ordering key replicates the window's `desc` semantics exactly for
        # degenerate scores too: NaN sorts ABOVE every real (wins), null
        # sorts below (loses). A bare -_cscore struct would invert both
        # (struct asc puts null first, NaN last). Cosines live in [-1, 1],
        # so the ±inf sentinels cannot collide with real scores.
        order_key = (
            F.when(F.isnan("_cscore"), F.lit(float("-inf")))
            .when(F.col("_cscore").isNull(), F.lit(float("inf")))
            .otherwise(-F.col("_cscore"))
        )
        # the argmin carries only cid and the payload joins back by vid: a
        # vector inside the min_by buffer weighs down every aggregate row
        best = scored.groupBy("vid").agg(
            F.min_by(
                F.col("cid"), F.struct(order_key.alias("neg"), F.col("cid"))
            ).alias("cid")
        )
        return vectors.join(best, "vid").select("vid", *passthrough, "cid")
    w = Window.partitionBy("vid").orderBy(F.col("_cscore").desc(), F.col("cid"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= max_rank)
        .drop("_cscore", "ce", "cn")
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    stride: int = 25,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: a coarse quantizer partitions the corpus into cells; each
    query probes only its ``nprobe`` nearest cells, exact cosine within.

    The centroid set is the deterministic slice ``vec_id % stride == 0`` —
    a data-dependent quantizer without an iterative k-means (one training
    pass is the production upgrade; the join shape is identical). Corpus
    vectors are assigned to their single nearest cell (crank = 1); the cell
    id is the shuffle key, so at a billion vectors each cell is one
    partition-local candidate list, and multi-probe trades recall for
    ``nprobe`` × the candidate volume. Output: (query_id, vec_id, cosine,
    rank) — recall vs the brute-force baseline is the quality metric.
    """
    v = corpus.select(
        F.col(id_col).alias("vid"), _as_double(vec_col).alias("v")
    ).withColumn("n", l2_norm(F.col("v")))
    cents = v.filter(F.col("vid") % stride == 0).select(
        F.col("vid").alias("cid"), F.col("v").alias("ce"), F.col("n").alias("cn")
    )
    cells = _rank_centroids(v, cents, 1).select(
        F.col("vid").alias("vec_id"), F.col("v").alias("cv"), F.col("n").alias("cnm"), "cid"
    )
    q = queries.select(
        F.col(id_col).alias("vid"), _as_double(vec_col).alias("v")
    ).withColumn("n", l2_norm(F.col("v")))
    probes = _rank_centroids(q, cents, nprobe).select(
        F.col("vid").alias("query_id"), F.col("v").alias("qv"), F.col("n").alias("qn"), "cid"
    )
    scored = (
        probes.join(cells, on="cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cnm"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    bits: int = 6,
    probe_radius: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Near-duplicate vectors: same sign bucket AND cosine ≥ threshold.
    The bucket join is the blocker. Single-probe misses pairs split across
    buckets; ``probe_radius=1`` explodes ONE side into the Hamming-1 probe
    set (``probe_buckets``) and recovers every pair whose buckets differ
    in a single sign — each pair still emitted once, because side b keeps
    its exact bucket and the probe keys of side a are distinct, so exactly
    one probe of a matches b's bucket."""
    v = emb.select(
        F.col(id_col), _as_double(vec_col).alias("v")
    ).withColumn("n", l2_norm(F.col("v"))).withColumn(
        "bucket", sign_bucket(F.col("v"), bits)
    )
    a, b = v.alias("a"), v.alias("b")
    if probe_radius >= 1:
        a = a.withColumn(
            "bucket",
            F.explode(probe_buckets(F.col("bucket"), bits, radius=probe_radius)),
        )
    return (
        a.join(b, on="bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .withColumn(
            "cosine", dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(F.col("cosine") + 1e-9, 6).alias("cosine"),
        )
    )


def py_ldot(a, b):
    """Driver-side dot product with the SAME left-to-right association as
    pq_fit's udot fold and DuckDB's list_dot_product — load-bearing for
    cross-engine bit parity wherever driver-built tables (ADC lookup
    tables, probe rankings) re-enter plans as literals. Never replace
    with sum()/math.fsum: both reassociate and silently break the
    hash-check."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _assign_arrow(v: DataFrame, cents, payload: bool = False) -> DataFrame:
    """(vid → cid) against a NUMPY centroid matrix, one BLAS matmul per
    Arrow batch — the fast-path twin of ``_rank_centroids``'s rank-1 mode.
    ``payload=True`` additionally carries (v, n) through the batch so the
    caller gets the full assignment frame without a join back to the
    corpus (r11: kmeans_fit_arrow's final step).

    The JVM expression dot (zip_with + aggregate fold) measures ~3M
    64-dim dots/s on 32 cores (PLANS.md r8 microbench; the unrolled MAC
    form is 7.5× slower still — codegen blowup), so an N×k assign pass at
    k = √N dominates wall-clock from ~50k vectors. ``M @ C.T`` is the
    same arithmetic at BLAS rate (~10⁹ MACs/s/core). Decision parity with
    the exact-MAC oracle: BLAS reorders the 64-term sums (ulp-level,
    ~1e-15) while measured assignment decision gaps are ≥1e-4 — the same
    argument _kmeans_cte documents for per-dimension means. Tie-break
    parity: np.argmax takes the FIRST maximum = lowest cid, identical to
    min_by(struct(-score, cid)). Row norms divide out of a per-row argmax
    and are skipped; centroid norms are applied to the matrix once."""
    import numpy as np

    cn = np.linalg.norm(cents, axis=1, keepdims=True)
    cn[cn == 0.0] = 1.0
    cnorm = (cents / cn).astype(np.float64)

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            vid = b.column("vid").to_numpy(zero_copy_only=False)
            col = b.column("v")
            flat = np.asarray(col.flatten(), dtype=np.float64)
            mat = flat.reshape(len(vid), -1)
            cid = np.argmax(mat @ cnorm.T, axis=1).astype(np.int32)
            if payload:
                # the batch already holds v and n — emitting them here
                # makes the final (vid -> cid) attachment join-free: one
                # checkpointed-corpus pass instead of a corpus-sized join (the
                # join re-derived what this function had in hand)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(vid), b.column("v"), b.column("n"), pa.array(cid)],
                    ["vid", "v", "n", "cid"],
                )
            else:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(vid), pa.array(cid)], ["vid", "cid"]
                )

    if payload:
        return v.select("vid", "v", "n").mapInArrow(
            fn, "vid long, v array<double>, n double, cid int"
        )
    return v.select("vid", "v").mapInArrow(fn, "vid long, cid int")


def _partial_sums_arrow(v: DataFrame, cents) -> DataFrame:
    """Per-batch (cid, pcnt, psum[dim]) partial sums under the argmax
    assignment — the map-side combine of Lloyd's update step fused INTO
    the assign pass, so an iteration's only exchange carries ≤ k rows per
    batch (never the corpus, never a per-row assignment)."""
    import numpy as np

    cn = np.linalg.norm(cents, axis=1, keepdims=True)
    cn[cn == 0.0] = 1.0
    cnorm = (cents / cn).astype(np.float64)

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            flat = np.asarray(b.column("v").flatten(), dtype=np.float64)
            mat = flat.reshape(b.num_rows, -1)
            cid = np.argmax(mat @ cnorm.T, axis=1)
            cells, inv = np.unique(cid, return_inverse=True)
            sums = np.zeros((len(cells), mat.shape[1]))
            np.add.at(sums, inv, mat)
            cnt = np.bincount(inv, minlength=len(cells))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cells.astype(np.int32)),
                    pa.array(cnt.astype(np.int64)),
                    pa.array(list(sums)),
                ],
                ["cid", "pcnt", "psum"],
            )

    return v.select("vid", "v").mapInArrow(fn, "cid int, pcnt long, psum array<double>")


# Local-finish gate for kmeans_fit_arrow: below these bounds the whole
# Lloyd's loop runs in ONE executor task (the operators/graph.py
# SMALL_GRAPH_ROWS endgame applied to clustering) instead of n_iter
# driver-collected partial-sum jobs. Both bounds matter: row count caps the
# single-task memory (200k × 64 doubles ≈ 100 MB), and rows×k caps the
# single-task BLAS work (2e7 × dim ≈ 1.3 GFLOP ≈ sub-second); a gen-sf1
# run (500k vectors, k=√N≈707) exceeds both and keeps the distributed loop.
SMALL_KMEANS_ROWS = 200_000
SMALL_KMEANS_ROWS_X_K = 20_000_000


def _local_lloyd(k: int, n_iter: int):
    """Single-task spherical k-means over a corpus that fits one partition
    — replays kmeans_fit_arrow's recurrence EXACTLY: k lowest-vid seeds in
    vid order, argmax cosine against norm-scaled centroids with
    first-maximum (= lowest-cid) ties, per-cell per-dimension means,
    empty-cell carry-forward. Float parity: BLAS matmul and np.mean
    reassociate sums at ~1e-16, the same magnitude the _kmeans_cte /
    _assign_arrow docstrings already budget against the ≥1e-4 assignment
    decision gaps and the 1e-6 centroid rounding. Emits a mixed frame:
    assignment rows (ccid NULL) + final centroid rows (vid NULL)."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        vids, xs, ns = [], [], []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vids.append(pdf["vid"].to_numpy())
            xs.append(np.array(pdf["v"].tolist(), dtype=np.float64))
            ns.append(pdf["n"].to_numpy(dtype=np.float64))
        vid = np.concatenate(vids)
        X = np.vstack(xs)
        nrm = np.concatenate(ns)
        order = np.argsort(vid, kind="stable")
        cents = X[order[:k]].copy()
        cid = None
        for it in range(n_iter + 1):  # the extra pass is the final assign
            cn = np.linalg.norm(cents, axis=1, keepdims=True)
            cn[cn == 0.0] = 1.0
            cid = np.argmax(X @ (cents / cn).T, axis=1)
            if it == n_iter:
                break
            new = cents.copy()  # empty-cell carry-forward
            for c in range(k):
                members = X[cid == c]
                if len(members):
                    new[c] = members.mean(axis=0)
            cents = new
        yield pd.DataFrame(
            {
                "vid": vid,
                "v": list(X),
                "n": nrm,
                "cid": cid.astype("int32"),
                "ccid": [None] * len(vid),
                "ce": [None] * len(vid),
            }
        )
        yield pd.DataFrame(
            {
                "vid": [None] * k,
                "v": [None] * k,
                "n": [None] * k,
                "cid": [None] * k,
                "ccid": list(range(k)),
                "ce": list(cents),
            }
        )

    return fn


def kmeans_fit_arrow(
    vectors: DataFrame,
    k: int,
    n_iter: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    return_centroids: bool = False,
    small_rows: int | None = None,
):
    """Spherical k-means (Lloyd's) with both corpus-sized inner products
    in Arrow/BLAS; the engine's one k-means. Returns the final assignment
    (vid long, v array<double>, n double, cid int).

    Deterministic, so it is checkable term for term against the unrolled
    DuckDB oracle ``queries_similarity._kmeans_cte``: the k lowest-id
    vectors seed the centroids (no RNG), each pass takes the argmax
    cosine with lowest-cid ties, each update is a per-cell per-dimension
    mean, and an emptied cell carries its previous centroid forward (see
    _assign_arrow on ulp parity). Driver traffic per iteration is the
    k×dim mean matrix (≤4096×64 doubles = 2 MB at the cap); the
    centroids re-enter each pass as a numpy closure constant, never a
    join side. Scale: per iteration ONE narrow checkpointed-corpus pass
    whose exchange is ≤ k rows per batch. Payload mode carries each
    row's payload through the final assign pass, so no (vid → cid)
    join-back follows and the corpus needs no repartition.
    ``return_centroids=True`` additionally returns the final centroid
    frame (cid int, centroid array<double>) — the kmeans_embeddings
    report face consumes it. ``small_rows`` overrides the local-finish
    row gate (default ``SMALL_KMEANS_ROWS``); tests pass 0 to force the
    distributed loop — the graph operators' override contract."""
    import numpy as np

    v = (
        vectors.select(F.col(id_col).alias("vid"), _as_double(vec_col).alias("v"))
        .withColumn("n", l2_norm(F.col("v")))
        .localCheckpoint(eager=False)
    )
    # one count: materializes the checkpoint AND gates the local finish
    n_rows = v.count()
    if n_rows < k:
        raise ValueError(f"kmeans_fit_arrow: k={k} > corpus size {n_rows}")
    gate = SMALL_KMEANS_ROWS if small_rows is None else small_rows
    if n_rows <= gate and n_rows * k <= SMALL_KMEANS_ROWS_X_K:
        mixed = v.coalesce(1).mapInPandas(
            _local_lloyd(k, n_iter),
            "vid long, v array<double>, n double, cid int,"
            " ccid int, ce array<double>",
        )
        if return_centroids:
            # both faces filter the one mixed task output — checkpoint it so
            # the Lloyd task runs once, not once per face
            mixed = mixed.localCheckpoint(eager=False)
        assign = mixed.where(F.col("vid").isNotNull()).select(
            "vid", "v", "n", "cid"
        )
        if not return_centroids:
            return assign
        cents_df = mixed.where(F.col("ccid").isNotNull()).select(
            F.col("ccid").alias("cid"), F.col("ce").alias("centroid")
        )
        return assign, cents_df
    seed_rows = v.orderBy("vid").limit(k).collect()
    cents = np.array([list(r["v"]) for r in seed_rows], dtype=np.float64)
    for _ in range(n_iter):
        upd = (
            _partial_sums_arrow(v, cents)
            .select("cid", "pcnt", F.posexplode("psum").alias("pos", "s"))
            .groupBy("cid", "pos")
            .agg(F.sum("s").alias("s"), F.sum("pcnt").alias("c"))
            .collect()
        )
        # for a fixed pos each batch-partial contributes exactly one row,
        # so Σpcnt at (cid, pos) is that cell's total member count and the
        # per-dimension mean is simply s / c
        new = cents.copy()  # empty-cell carry-forward
        for r in upd:
            new[r["cid"], r["pos"]] = r["s"] / r["c"]
        cents = new
    # payload mode: the final assignment rides out of the SAME checkpointed-corpus
    # mapInArrow pass that computes it — no corpus-sized join (r11; the old
    # v ⋈ _assign_arrow(v) shape re-read the shared corpus on both join
    # sides and exchanged the narrow side)
    assign = _assign_arrow(v, cents, payload=True)
    if return_centroids:
        cents_df = v.sparkSession.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
            "cid int, centroid array<double>",
        )
        return assign, cents_df
    return assign


def semantic_max_cosine_arrow(assign: DataFrame) -> DataFrame:
    """Per vector, max cosine to any LOWER-id member of its cluster —
    SemDeDup's election, grouped by cid through applyInPandas and scored
    blockwise in numpy (the Σ|cluster|² inner products at BLAS rate; the
    cid shuffle this grouping pays is the algorithm's one unavoidable
    corpus exchange). Emits ONE row per member — (vid, cid, mc), mc NULL
    for each cluster's lowest-id member — so the caller needs NO join
    back onto the assignment frame (r11: the old (vid_a, mc)-only shape
    forced assign ⋈ mc, which re-ran the whole assign pass for the second
    consumer). Row blocks bound peak memory at ~block × |cluster|
    doubles."""

    def score(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vid")
        m = len(pdf)
        mcs: list[float | None] = [None] * m
        if m >= 2:
            mat = np.stack(pdf["v"].to_numpy()) / pdf["n"].to_numpy()[:, None]
            block = 1024
            for i0 in range(1, m, block):
                i1 = min(i0 + block, m)
                s = mat[i0:i1] @ mat[:i1].T
                for r in range(i0, i1):
                    mcs[r] = float(s[r - i0, :r].max())
        return pd.DataFrame(
            {
                "vid": pdf["vid"].to_numpy(),
                "cid": pdf["cid"].to_numpy(),
                "mc": pd.Series(mcs, dtype="object"),
            }
        )

    return assign.groupBy("cid").applyInPandas(
        score, "vid long, cid int, mc double"
    )


def pq_fit(
    vectors: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    return_codebook: bool = False,
) -> DataFrame:
    """Product quantization (Jégou et al. 2011): split each vector into
    ``m`` subspaces of ``dim/m`` dims, train a k-codeword L2 codebook per
    subspace (Lloyd's, deterministic lowest-id seeding), and emit every
    vector's code tuple + reconstruction MSE — the 8-byte-per-vector ANN
    compression (vs 64 for int8 ``embedding_quantize``, 256 for floats).

    All ``m`` sub-quantizers train in ONE plan per iteration: subspace is
    a key, not a loop. Assignment: the m×k×(dim/m) codebook re-enters as
    a nested literal (~8 KB, no join), each (vector, subspace) row
    explodes its k candidates and an ALGEBRAIC min(struct(rk, cid))
    collapses them map-side, so the only exchange per pass carries one
    partial-min row per (vector, subspace); the update is a
    (s, cid, pos)-keyed mean whose map-side partials collapse the fan-out
    to m·k·(dim/m)=1024 rows per exchange, and only those 1024 doubles
    reach the driver per iteration (kmeans_fit_arrow's loop discipline with
    quality_classifier's literal re-entry). The argmin key rk =
    c·c − 2·v·c drops the per-row constant v·v (winner unchanged; full
    dist² is reassembled as v·v + rk where MSE needs it), with the same
    left-to-right MACs as DuckDB's list_dot_product, so the whole
    recurrence is hash-checkable; empty cells carry forward (Lloyd's
    degeneracy).

    Returns (vec_id, codes array<int> length m, mse double); with
    ``return_codebook`` also the trained ``cents[s][cid] -> d_sub floats``
    (similarity_pq_adc turns it into per-query ADC lookup tables).
    """
    d_sub = dim // m
    ve = _as_double(vec_col)
    chunks = F.array(*[F.slice(ve, s * d_sub + 1, d_sub) for s in range(m)])
    sub = vectors.select(
        F.col(id_col).alias("vid"), F.posexplode(chunks).alias("s", "sve")
    ).localCheckpoint(eager=False)

    seed_rows = vectors.select(id_col, ve.alias("v")).orderBy(id_col).limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(
            f"pq_fit needs at least k={k} vectors to seed the codebook; "
            f"got {len(seed_rows)} — lower k or supply more vectors"
        )
    # cents[s][cid] -> list of d_sub floats
    cents = [
        [list(r["v"][s * d_sub : (s + 1) * d_sub]) for r in seed_rows]
        for s in range(m)
    ]

    def udot(a, b):
        # dot unrolled over the d_sub dims as explicit left-associated
        # multiply-adds: bit-identical to the F.aggregate fold (and to
        # DuckDB's list_dot_product) but stays inside whole-stage codegen
        expr = F.lit(0.0)
        for p in range(d_sub):
            expr = expr + F.element_at(a, p + 1) * F.element_at(b, p + 1)
        return expr

    def assign_best(cents):
        # Explode the k candidate codewords per (vector, subspace) row and
        # take the ALGEBRAIC min(struct(rk, cid)) — map-side partials
        # collapse the ×k fan-out before the (vid, s) exchange, every
        # expression stays k-independent and tiny (a k-wide array_min
        # candidate expression measured 3-8× slower here: past ~16
        # candidates the generated method overflows codegen limits and the
        # whole projection falls back to interpreted eval). The comparison
        # key drops the per-row constant v·v (argmin unchanged, ONE
        # parenthesization shared with the oracle); the winner's full
        # dist² is reassembled as v·v + rk only where mse needs it.
        clit = F.lit(cents)  # array<array<array<double>>>, indexed [s+1][cid+1]
        cc = [[sum(x * x for x in ce) for ce in row] for row in cents]
        cclit = F.lit(cc)
        ex = sub.select(
            "vid",
            "s",
            "sve",
            F.posexplode(F.element_at(clit, F.col("s") + 1)).alias("cid", "ce"),
        )
        rk = (
            F.element_at(F.element_at(cclit, F.col("s") + 1), F.col("cid") + 1)
            - F.lit(2.0) * udot(F.col("sve"), F.col("ce"))
        )
        return (
            ex.select(
                "vid",
                "s",
                "sve",
                F.struct(rk.alias("rk"), F.col("cid").alias("cid")).alias("cand"),
            )
            .groupBy("vid", "s")
            .agg(F.min("cand").alias("best"), F.min("sve").alias("sve"))
        )

    for _ in range(n_iter):
        means = (
            assign_best(cents)
            .select("s", F.col("best.cid").alias("cid"), F.posexplode("sve").alias("pos", "x"))
            .groupBy("s", "cid", "pos")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        new = {}
        for r in means:
            new.setdefault((r["s"], r["cid"]), [0.0] * d_sub)[r["pos"]] = r["mu"]
        cents = [
            [new.get((s, c), cents[s][c]) for c in range(k)] for s in range(m)
        ]

    fin = assign_best(cents).withColumn(
        "d", udot(F.col("sve"), F.col("sve")) + F.col("best.rk")
    )
    out = (
        fin.groupBy("vid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", F.col("best.cid").alias("cid")))),
                lambda t: t["cid"],
            ).alias("codes"),
            (F.sum("d") / F.lit(float(dim))).alias("mse"),
        )
        .select(F.col("vid").alias(id_col), "codes", "mse")
    )
    return (out, cents) if return_codebook else out
