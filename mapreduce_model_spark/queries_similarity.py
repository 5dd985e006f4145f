"""Similarity-search queries over the embeddings table (north-star ops).

Dot products are computed in double precision, multiply-accumulate left to
right, in BOTH engines (Spark ``zip_with``+``aggregate`` vs DuckDB
``list_dot_product`` on ``DOUBLE[]``) — identical bits, so ranking on the
raw cosine is deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_model_spark.functions.rounding import rnd
from mapreduce_model_spark.functions.sampling import (
    SEM_SAMPLE_CAP,
    duck_sample_pred,
    sample_frame,
)
from mapreduce_model_spark.functions.text import sql_md5_int32
from mapreduce_model_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    ivf_cosine_topk,
    lsh_cosine_topk,
)
from mapreduce_model_spark.registry import query, table

N_QUERIES = 20
TOPK = 10
ANN_QUERIES = 50
ANN_K = 3
ANN_BITS = 6
NEAR_DUP_THRESHOLD = 0.3

# Adaptive sign-LSH blocking (round 8 — the r7 verdict's top ask): the
# corpus-self-join faces (embedding_near_dup, its multi-probe twin, and
# graph_pagerank's pair input) derive their bucket width from N instead of
# pinning ANN_BITS=6. With fixed bits the bucket self-join generates
# ~(N/2^bits)²·2^bits candidate pairs — measured quadratic (pagerank
# >480 s at 500k vectors; bits=14 cuts pair-gen to 9.2 s, PLANS.md r7).
# Growing bits with log2(N) holds E[bucket size] ≤ _LSH_TARGET_BUCKET, so
# candidate volume stays ~linear in N at any scale. ANN_BITS=6 remains for
# the bounded-query ANN faces (50 query vectors — already linear).
_LSH_TARGET_BUCKET = 30
_LSH_MAX_BITS = 16

# The hash-sampled embeddings relation (functions/sampling contract) as a
# DuckDB subquery — the oracle-side twin of sample_frame(emb, "vec_id"),
# shared by every *_sampled query in this module. Full corpus below the
# 64k cap, pinned ~62.5k-vector sample at gen-sf1, where the unrolled
# Lloyd oracles of the full-corpus parents blow the sweep budget.
_EMB_SAMPLED = (
    "(SELECT t.* FROM embeddings t WHERE "
    + duck_sample_pred("embeddings", "t.vec_id")
    + ")"
)
# SemDeDup's ~N^1.5 oracle needs the smaller cap (see functions/sampling)
_EMB_SEM_SAMPLED = (
    "(SELECT t.* FROM embeddings t WHERE "
    + duck_sample_pred("embeddings", "t.vec_id", cap=SEM_SAMPLE_CAP)
    + ")"
)


def adaptive_lsh_bits(n_vectors: int) -> int:
    """Smallest b in [1, 16] with 30·2^b ≥ N — i.e. ceil(log2(N/30))
    clamped, but PURE-INTEGER, so the DuckDB twin (_nb_cte) computes the
    identical value with no libm log2 boundary risk."""
    return next(
        (
            b
            for b in range(1, _LSH_MAX_BITS + 1)
            if _LSH_TARGET_BUCKET * (1 << b) >= n_vectors
        ),
        _LSH_MAX_BITS,
    )


def _nb_cte() -> str:
    """DuckDB twin of adaptive_lsh_bits as a 1-row CTE ``nb(bits)`` —
    the same integer comparison over the same count(*)."""
    return f"""
, nb AS (
    SELECT coalesce(min(CAST(t.b AS INTEGER)), {_LSH_MAX_BITS}) AS bits
    FROM range(1, {_LSH_MAX_BITS + 1}) AS t(b),
         (SELECT count(*) AS n FROM embeddings) c
    WHERE {_LSH_TARGET_BUCKET} * (CAST(1 AS BIGINT) << t.b) >= c.n
)"""

def _v_cte(src: str = "embeddings") -> str:
    """The normalized-vector CTE over ``src`` — parameterized on the
    source relation (like _kmeans_cte/_pq_chain) so the sampled twins
    swap relations structurally instead of via str.replace string
    surgery on the rendered SQL (r9 ADVICE)."""
    return f"""
WITH v AS (
    SELECT vec_id,
           embedding::DOUBLE[] AS ve,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM {src}
)
"""


_V = _v_cte()


def _bucket_sql(col: str, bits: int) -> str:
    parts = ", ".join(
        f"CASE WHEN {col}[{i + 1}] >= 0 THEN '1' ELSE '0' END" for i in range(bits)
    )
    return f"concat({parts})"


@query(
    "similarity_topk",
    oracle=_V
    + f"""
, scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           list_dot_product(q.ve, c.ve) / (q.nrm * c.nrm) AS cosine
    FROM v q CROSS JOIN v c
    WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, vec_id, round(1e-9 + cosine, 6) AS cosine, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
WHERE rank <= {TOPK}
""",
)
def similarity_topk(spark, sf_dir):
    """Exact brute-force cosine top-10 for the first 20 query vectors —
    the correctness baseline every ANN variant is judged against."""
    emb = table(spark, sf_dir, "embeddings")
    res = cosine_topk(emb, emb.filter(F.col("vec_id") < N_QUERIES), k=TOPK)
    return res.select(
        "query_id", "vec_id", rnd(F.col("cosine"), 6).alias("cosine"), "rank"
    )


@query(
    "similarity_ann_lsh",
    oracle=_V
    + f"""
, vb AS (
    SELECT vec_id, ve, nrm, {_bucket_sql('ve', ANN_BITS)} AS bucket FROM v
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           list_dot_product(q.ve, c.ve) / (q.nrm * c.nrm) AS cosine
    FROM vb q JOIN vb c USING (bucket)
    WHERE q.vec_id < {ANN_QUERIES} AND c.vec_id <> q.vec_id
)
SELECT query_id, vec_id, round(1e-9 + cosine, 6) AS cosine, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
WHERE rank <= {ANN_K}
""",
)
def similarity_ann_lsh(spark, sf_dir):
    """Sign-LSH ANN: candidates share the 6-bit sign bucket; exact cosine
    within the bucket. The scale path — the bucket equi-join replaces the
    cross join (N/2^bits candidates per query at any N)."""
    emb = table(spark, sf_dir, "embeddings")
    res = lsh_cosine_topk(
        emb, emb.filter(F.col("vec_id") < ANN_QUERIES), k=ANN_K, bits=ANN_BITS
    )
    return res.select(
        "query_id", "vec_id", rnd(F.col("cosine"), 6).alias("cosine"), "rank"
    )


# DuckDB twin of operators.similarity.probe_buckets: the exact bucket plus
# all single-bit-flip neighbors (Hamming radius 1), as an unnest-able list.
def _probe_sql(bits: int) -> str:
    return f"""[bucket] || list_transform(range({bits}),
        j -> substr(bucket, 1, j)
             || (CASE WHEN substr(bucket, j + 1, 1) = '1' THEN '0' ELSE '1' END)
             || substr(bucket, j + 2, {bits}))"""


def _probe_sql_adaptive() -> str:
    """_probe_sql with the flip count read from the row's own ``bits``
    column (vb carries it) — the tail-length 16 is safe, substr clamps."""
    return f"""[bucket] || list_transform(range(bits),
        j -> substr(bucket, 1, CAST(j AS INTEGER))
             || (CASE WHEN substr(bucket, CAST(j AS INTEGER) + 1, 1) = '1'
                 THEN '0' ELSE '1' END)
             || substr(bucket, CAST(j AS INTEGER) + 2, {_LSH_MAX_BITS}))"""


def _near_dup_pairs_cte(probe: bool = False) -> str:
    """Sign-bucket near-dup candidate pairs (id_a < id_b, cosine ≥
    threshold) as a CTE fragment ending at ``prs`` — the ONE place the
    blocking rule and threshold live for embedding_near_dup, its
    multi-probe twin, and the pagerank oracle (r6 review: three hand-kept
    copies risked silently checking different graphs).

    Round 8: the bucket is ADAPTIVE — the leading ``nb.bits`` characters
    of the static 16-bit sign string, bits derived from count(*) (the
    Spark faces compute the identical integer via adaptive_lsh_bits).
    ``nb`` is one row, so the cross joins below are scalar fan-ins, not
    data-sized products."""
    frag = _nb_cte() + f"""
, vb AS (
    SELECT vec_id, ve, nrm, nb.bits,
           substr({_bucket_sql('ve', _LSH_MAX_BITS)}, 1, nb.bits) AS bucket
    FROM v, nb
)"""
    if probe:
        frag += f""", pr AS (
    SELECT vec_id, ve, nrm, unnest({_probe_sql_adaptive()}) AS bucket FROM vb
)"""
    left = "pr" if probe else "vb"
    return frag + f""", prs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) AS cosine
    FROM {left} a JOIN vb b ON a.bucket = b.bucket
    WHERE a.vec_id < b.vec_id
      AND list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm) >= {NEAR_DUP_THRESHOLD}
)"""


@query(
    "similarity_ann_lsh_multiprobe",
    oracle=_V
    + f"""
, vb AS (
    SELECT vec_id, ve, nrm, {_bucket_sql('ve', ANN_BITS)} AS bucket FROM v
), pr AS (
    SELECT vec_id, ve, nrm, unnest({_probe_sql(ANN_BITS)}) AS bucket
    FROM vb WHERE vec_id < {ANN_QUERIES}
), scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           list_dot_product(q.ve, c.ve) / (q.nrm * c.nrm) AS cosine
    FROM pr q JOIN vb c USING (bucket)
    WHERE c.vec_id <> q.vec_id
)
SELECT query_id, vec_id, round(1e-9 + cosine, 6) AS cosine, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
WHERE rank <= {ANN_K}
""",
)
def similarity_ann_lsh_multiprobe(spark, sf_dir):
    """Sign-LSH ANN with Hamming-radius-1 multi-probe: each query probes
    its own bucket plus all single-bit-flip neighbors, closing the
    split-pair recall gap single-probe sign-LSH documents. The query side
    explodes ×(bits+1); the corpus side and the bucket equi-join shape are
    unchanged (no cross join — plan-pinned), so candidate volume grows
    linearly with probes, not with corpus size. Recall contract (pinned in
    tests/test_round6_ops.py): on genuinely-near pairs (cosine ≥ 0.9 —
    the near-dup workload) radius-1 reaches ≥0.9 recall vs brute force;
    on this table's near-RANDOM vectors any few-probe LSH is intrinsically
    low-recall (per-bit collision ~0.6 at ~70° neighbor angles — measured
    0.04 single / 0.29 radius-1 at sf0.01), which is a property of the
    data, not the operator."""
    emb = table(spark, sf_dir, "embeddings")
    res = lsh_cosine_topk(
        emb,
        emb.filter(F.col("vec_id") < ANN_QUERIES),
        k=ANN_K,
        bits=ANN_BITS,
        probe_radius=1,
    )
    return res.select(
        "query_id", "vec_id", rnd(F.col("cosine"), 6).alias("cosine"), "rank"
    )


@query(
    "embedding_near_dup_multiprobe",
    oracle=_V + _near_dup_pairs_cte(probe=True) + """
SELECT id_a, id_b, round(1e-9 + cosine, 6) AS cosine FROM prs
""",
)
def q_embedding_near_dup_multiprobe(spark, sf_dir):
    """embedding_near_dup with Hamming-radius-1 probing on one join side —
    recovers every near-dup pair whose sign buckets differ in exactly one
    bit (the dominant split mode). Each pair still appears once: side b
    keeps its exact bucket and side a's probe keys are distinct. Bucket
    width is adaptive (adaptive_lsh_bits — the count() is the documented
    1-long driver-metadata pattern); the probe fan-out grows with bits,
    i.e. log-linearly with N, while per-bucket size stays bounded."""
    emb = table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb,
        threshold=NEAR_DUP_THRESHOLD,
        bits=adaptive_lsh_bits(emb.count()),
        probe_radius=1,
    )


IVF_STRIDE = 25  # operator-level doc example; the registered face is adaptive
IVF_NPROBE = 2
_IVF_KC_CAP = 256


def adaptive_ivf_stride(n_vectors: int) -> int:
    """Centroid stride for similarity_ann_ivf's deterministic quantizer,
    derived from N (round 8 — r7 verdict ask #2): kc = clamp(⌈√N⌉, 4, 256)
    cells, stride = ⌈N/kc⌉. The fixed stride-25 face grew centroid count
    with N (assignment cost N²/25 — measured 37.5 s at 50k vectors, timeout
    at 500k); capping kc makes assignment ≤ N·256 dot products, linear in
    N past the cap. ceil(sqrt) in DOUBLE on both engines — IEEE sqrt is
    correctly rounded, so the integers agree; everything after is integer
    arithmetic."""
    import math

    kc = max(4, min(_IVF_KC_CAP, math.ceil(math.sqrt(n_vectors))))
    return max(1, (n_vectors + kc - 1) // kc)


def _ss_cte(src: str = "embeddings") -> str:
    """Adaptive-stride CTE over ``src`` (parameterized like _v_cte)."""
    return f"""
, ss AS (
    SELECT (n + kc - 1) // kc AS stride
    FROM (SELECT n, greatest(4, least({_IVF_KC_CAP},
                 CAST(ceil(sqrt(n)) AS BIGINT))) AS kc
          FROM (SELECT count(*) AS n FROM {src}))
)"""


_SS_CTE = _ss_cte()


@query(
    "similarity_ann_ivf",
    oracle=_V
    + _SS_CTE
    + f"""
, cents AS (
    SELECT vec_id AS cid, ve AS ce, nrm AS cn
    FROM v, ss WHERE vec_id % ss.stride = 0
), arank AS (
    -- rank centroids on a slim (vec_id, cid, dot) frame and join the
    -- vector payload back AFTERWARDS: carrying the 64-double list through
    -- a N*kc-row window sort is the same payload-in-buffer blowup the
    -- engine's _rank_centroids reshape removed (~70 GB at 500k vectors;
    -- ~3 GB slim) — identical rows, the dots and tie-break are unchanged
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cd DESC, cid) AS crank
    FROM (SELECT v.vec_id, cid,
                 list_dot_product(ve, ce) / (nrm * cn) AS cd
          FROM v CROSS JOIN cents)
), cells AS (
    SELECT a.vec_id, v.ve AS cv, v.nrm AS cnm, a.cid
    FROM arank a JOIN v USING (vec_id) WHERE a.crank = 1
), probes AS (
    SELECT a.vec_id AS query_id, v.ve AS qv, v.nrm AS qn, a.cid
    FROM arank a JOIN v USING (vec_id)
    WHERE a.vec_id < {ANN_QUERIES} AND a.crank <= {IVF_NPROBE}
), scored AS (
    SELECT query_id, cells.vec_id,
           list_dot_product(qv, cv) / (qn * cnm) AS cosine
    FROM probes JOIN cells USING (cid)
    WHERE cells.vec_id <> query_id
)
SELECT query_id, vec_id, round(1e-9 + cosine, 6) AS cosine, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
WHERE rank <= {ANN_K}
""",
)
def similarity_ann_ivf(spark, sf_dir):
    """IVF ANN: deterministic coarse quantizer (every stride-th vector),
    single-cell corpus assignment, 2-probe query search — the partitioned
    index layout for billion-vector corpora. The stride is adaptive
    (adaptive_ivf_stride: kc = clamp(⌈√N⌉, 4, 256) cells) so centroid
    count — and with it the N×kc assignment cost — stays bounded at any
    corpus size; the oracle derives the identical stride from count(*)."""
    emb = table(spark, sf_dir, "embeddings")
    res = ivf_cosine_topk(
        emb,
        emb.filter(F.col("vec_id") < ANN_QUERIES),
        k=ANN_K,
        stride=adaptive_ivf_stride(emb.count()),
        nprobe=IVF_NPROBE,
    )
    return res.select(
        "query_id", "vec_id", rnd(F.col("cosine"), 6).alias("cosine"), "rank"
    )


def _lowest_ids_frame(emb, n: int):
    """The n lowest vec_ids IN the (sampled) corpus as a query frame.
    Materializes the id list driver-side first (TakeOrderedAndProject of
    n longs — the root-level form of sort+limit, no data-row exchange)
    and re-enters it as an IN filter: embedding ``orderBy().limit()`` as
    an INTERMEDIATE operator instead compiles to LocalLimit →
    single-partition exchange → GlobalLimit, the global-funnel shape the
    plan guard (test_plan_shape) rightly rejects."""
    ids = [
        r[0]
        for r in emb.select("vec_id").orderBy("vec_id").limit(n).collect()
    ]
    return emb.where(F.col("vec_id").isin(ids))


def _ivf_sampled_oracle() -> str:
    """similarity_ann_ivf's oracle over the hash-sampled relation: same v
    / stride / rank / probe chain with the corpus CTE swapped and the
    query set = the ANN_QUERIES lowest vec_ids IN the sample (equals the
    parent's ``vec_id < ANN_QUERIES`` below the cap, where ids are
    0-based and the sample is the full corpus)."""
    body = _v_cte(f"{_EMB_SAMPLED} se")
    ss = _ss_cte(f"{_EMB_SAMPLED} sc")
    return (
        body
        + ss
        + f"""
, qids AS (SELECT vec_id FROM v ORDER BY vec_id LIMIT {ANN_QUERIES})
, cents AS (
    SELECT vec_id AS cid, ve AS ce, nrm AS cn
    FROM v, ss WHERE vec_id % ss.stride = 0
), arank AS (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cd DESC, cid) AS crank
    FROM (SELECT v.vec_id, cid,
                 list_dot_product(ve, ce) / (nrm * cn) AS cd
          FROM v CROSS JOIN cents)
), cells AS (
    SELECT a.vec_id, v.ve AS cv, v.nrm AS cnm, a.cid
    FROM arank a JOIN v USING (vec_id) WHERE a.crank = 1
), probes AS (
    SELECT a.vec_id AS query_id, v.ve AS qv, v.nrm AS qn, a.cid
    FROM arank a JOIN v USING (vec_id)
    WHERE a.vec_id IN (SELECT vec_id FROM qids) AND a.crank <= {IVF_NPROBE}
), scored AS (
    SELECT query_id, cells.vec_id,
           list_dot_product(qv, cv) / (qn * cnm) AS cosine
    FROM probes JOIN cells USING (cid)
    WHERE cells.vec_id <> query_id
)
SELECT query_id, vec_id, round(1e-9 + cosine, 6) AS cosine, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM scored)
WHERE rank <= {ANN_K}
"""
    )


@query("ivf_sampled", oracle=_ivf_sampled_oracle())
def ivf_sampled(spark, sf_dir):
    """similarity_ann_ivf over the deterministic hash-sampled sub-corpus
    — the IVF face whose N×kc centroid-ranking oracle window stays
    inside the sweep budget at gen-sf1 (62.5k × ⌈√62.5k⌉ ≈ 1.6e7 rows vs
    the parent's 1.3e8; the parent oracle was a standing gen-sf1
    SWEEP_SKIP since round 7). Same adaptive stride law applied to the
    SAMPLED count on both engines; queries are the lowest ANN_QUERIES
    ids in the sample."""
    emb = sample_frame(table(spark, sf_dir, "embeddings"), "vec_id")
    res = ivf_cosine_topk(
        emb,
        _lowest_ids_frame(emb, ANN_QUERIES),
        k=ANN_K,
        stride=adaptive_ivf_stride(emb.count()),
        nprobe=IVF_NPROBE,
    )
    return res.select(
        "query_id", "vec_id", rnd(F.col("cosine"), 6).alias("cosine"), "rank"
    )


@query(
    "embedding_near_dup",
    oracle=_V + _near_dup_pairs_cte() + """
SELECT id_a, id_b, round(1e-9 + cosine, 6) AS cosine FROM prs
""",
)
def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs within sign buckets (blocked —
    the embedding analogue of MinHash-LSH for semantic dedup). Bucket
    width grows with log2(N) (adaptive_lsh_bits) so the bucket self-join
    stays ~linear in N — the r7-measured fix for the fixed-6-bit face's
    (N/64)² blowup. Hash-checked: the oracle derives the same bits from
    the same count(*)."""
    emb = table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb,
        threshold=NEAR_DUP_THRESHOLD,
        bits=adaptive_lsh_bits(emb.count()),
    )


_PR_ITER, _PR_DAMPING = 8, 0.85


def _pagerank_oracle(n_iter: int = _PR_ITER, damping: float = _PR_DAMPING) -> str:
    """Fixed-iteration PageRank unrolled into chained CTEs (r0..rN) — the
    SQL twin of operators.graph.pagerank on the symmetrized embedding
    near-dup graph. Symmetrization means every node has out-edges, so the
    dangling-mass term is identically zero and each iteration is exactly
    rank' = (1-d)/n + d·Σ rank/outdeg — the same double-precision
    expression Spark evaluates. Oracle scale only; the Spark side is the
    checkpointed one-job-per-iteration loop."""
    head = _V + _near_dup_pairs_cte() + f"""
, e AS (
    SELECT DISTINCT u, v FROM (
        SELECT id_a AS u, id_b AS v FROM prs
        UNION ALL SELECT id_b, id_a FROM prs
    ) WHERE u <> v
), nodes AS (SELECT DISTINCT u AS node FROM e),
deg AS (SELECT u AS node, count(*) AS outdeg FROM e GROUP BY u),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    iters = []
    for i in range(1, n_iter + 1):
        iters.append(f"""
, r{i} AS (
    SELECT nd.node,
           (1.0 - {damping}) / (SELECT n FROM nn)
           + {damping} * coalesce(c.contrib, 0.0) AS rank
    FROM nodes nd LEFT JOIN (
        SELECT e.v AS node, sum(r.rank / d.outdeg) AS contrib
        FROM e JOIN r{i - 1} r ON e.u = r.node JOIN deg d ON e.u = d.node
        GROUP BY e.v
    ) c ON nd.node = c.node
)""")
    tail = f"""
SELECT node AS vec_id, round(rank + 1e-12, 8) AS rank
FROM r{n_iter}
ORDER BY round(rank + 1e-12, 8) DESC, node
LIMIT 50"""
    return head + "".join(iters) + tail


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark, sf_dir):
    """PageRank centrality over the embedding near-dup graph (each
    cosine-near pair is an undirected edge ⇒ both directed edges): ranks
    surface the hub vectors of semantic-duplicate clusters. Chains two
    custom operators — LSH-blocked pair generation and the iterative
    power-method fixpoint (operators.graph.pagerank; deterministic:
    fixed 8 iterations, fixed damping). Hash-checked against an
    8-iteration unrolled-CTE DuckDB oracle (the graph is symmetric ⇒ no
    dangling mass ⇒ both engines evaluate the same double-precision
    recurrence; 8-decimal rounding absorbs summation-order noise).
    Top-50 by rank keeps the output small; rank/vec_id tie-break gives a
    total order."""
    from pyspark.sql import functions as F

    from mapreduce_model_spark.operators.graph import pagerank

    emb = table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(
        emb,
        threshold=NEAR_DUP_THRESHOLD,
        bits=adaptive_lsh_bits(emb.count()),
    ).select("id_a", "id_b")
    both = pairs.unionByName(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    ranks = pagerank(both, n_iter=_PR_ITER, damping=_PR_DAMPING)
    return (
        ranks.select(
            F.col("node").alias("vec_id"),
            F.round(F.col("rank") + 1e-12, 8).alias("rank"),
        )
        .orderBy(F.col("rank").desc(), "vec_id")
        .limit(50)
    )


@query(
    "embedding_centroids",
    oracle="""
WITH p AS (
    -- zipped unnests: see embedding_quantize's oracle for why the list
    -- payload must not ride along with every exploded position
    SELECT label, unnest(range(0, len(embedding))) AS pos,
           unnest(embedding) AS ev
    FROM embeddings
), pv AS (
    SELECT label, pos, CAST(ev AS DOUBLE) AS v FROM p
), cent AS (
    SELECT label, pos, avg(v) AS c FROM pv GROUP BY label, pos
)
SELECT label, list(round(1e-9 + c, 6) ORDER BY pos) AS centroid,
       CAST(count(*) AS BIGINT) AS dim
FROM cent GROUP BY label
""",
)
def embedding_centroids(spark, sf_dir):
    """Per-label mean embedding — one k-means/IVF training step (the
    learned counterpart of similarity_ann_ivf's deterministic quantizer)
    and the class-prototype vector for centroid classifiers.

    Scale: collect_list of whole vectors per label would hold every vector
    of a label in one aggregation buffer (OOM at corpus scale) — instead
    posexplode to (label, dimension, value) and run a TWO-LEVEL aggregate:
    partial sums absorb the dim-fold fan-out map-side, the shuffle carries
    (label x dim) keys, and the centroid reassembles from the tiny
    per-dimension means via a sorted collect. Same pattern scales to any
    dim and any label cardinality."""
    emb = table(spark, sf_dir, "embeddings")
    p = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = p.groupBy("label", "pos").agg(
        F.avg(F.col("v").cast("double")).alias("c")
    )
    return cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: rnd(s["c"], 6),
        ).alias("centroid"),
        F.count(F.lit(1)).alias("dim"),
    )


@query(
    "embedding_quantize",
    oracle="""
WITH p AS (
    -- parallel unnests zip: carrying the whole list alongside each of its
    -- 64 exploded positions (e[pos+1] on a duplicated `embedding AS e`)
    -- multiplied the exploded frame by the 520-byte list payload — the
    -- allocation that killed the gen-sf1 sweep process (round 8)
    SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
           unnest(embedding) AS ev
    FROM embeddings
), pv AS (
    SELECT vec_id, pos, CAST(ev AS DOUBLE) AS v FROM p
), dims AS (
    SELECT pos, min(v) AS lo, max(v) AS hi, (max(v) - min(v)) / 255 AS sc
    FROM pv GROUP BY pos
), coded AS (
    SELECT vec_id, pos, v, lo, sc,
           CASE WHEN sc = 0 THEN 0
                ELSE CAST(floor((v - lo) / sc + 0.5) AS INTEGER) - 128 END AS code
    FROM pv JOIN dims USING (pos)
), recon AS (
    SELECT vec_id, pos, v, code,
           CASE WHEN sc = 0 THEN lo
                ELSE lo + (code + 128) * sc END AS r
    FROM coded
)
SELECT vec_id, list(code ORDER BY pos) AS codes,
       round(1e-9 + sum((v - r) * (v - r)) / count(*), 9) AS mse
FROM recon GROUP BY vec_id
""",
)
def embedding_quantize(spark, sf_dir):
    """Scalar int8 quantization of the embedding column — the 4x memory /
    bandwidth lever for ANN at scale (float32[64] → int8[64] + per-dim
    scales). Per-dimension min/max come from ONE tiny two-level aggregate
    (the shuffle carries dim × partition partials); the dim-sized stats
    land on the driver (bounded: 64 doubles here, ≤ a few thousand for any
    real embedding) and re-enter the plan as LITERAL arrays, so the
    quantization itself is a fully NARROW ``transform`` over the corpus —
    no explode, no join, no shuffle of vector data. Per-vector MSE is the
    quality metric, computed in the same narrow pass.

    floor(x + 0.5) instead of round() so both engines use identical IEEE
    ops (round's half-even/half-away conventions differ)."""
    emb = table(spark, sf_dir, "embeddings")
    p = emb.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"))
    stats = sorted(
        (r["pos"], r["lo"], r["hi"])
        for r in p.groupBy("pos")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    )
    lo_arr = F.lit([lo for _, lo, _ in stats])
    sc_arr = F.lit([(hi - lo) / 255 for _, lo, hi in stats])
    ve = F.col("embedding").cast("array<double>")
    codes = F.transform(
        ve,
        lambda x, i: F.when(F.element_at(sc_arr, i + 1) == 0, F.lit(0)).otherwise(
            F.floor(
                (x - F.element_at(lo_arr, i + 1)) / F.element_at(sc_arr, i + 1) + 0.5
            ).cast("int")
            - 128
        ),
    )
    # reconstruct FROM the emitted codes (mirrors the oracle's recon CTE) —
    # one rounding expression in the plan, no risk of code/recon drift
    recon = F.transform(
        codes,
        lambda c, i: F.when(
            F.element_at(sc_arr, i + 1) == 0, F.element_at(lo_arr, i + 1)
        ).otherwise(
            F.element_at(lo_arr, i + 1) + (c + 128) * F.element_at(sc_arr, i + 1)
        ),
    )
    sq = F.zip_with(ve, recon, lambda a, b: (a - b) * (a - b))
    mse = F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x) / F.size(ve)
    return emb.select(
        "vec_id",
        codes.alias("codes"),
        F.round(mse + F.lit(1e-9), 9).alias("mse"),
    )


_KM_K, _KM_ITER = 8, 5


def _kmeans_cte(
    k: int | str = _KM_K,
    n_iter: int = _KM_ITER,
    extra_cte: str = "",
    src: str = "embeddings",
) -> str:
    """Lloyd's unrolled into chained CTEs (c0 → a1/m1/c1 → … → cN → afin),
    the pagerank-oracle move applied to k-means. Deterministic throughout:
    lowest-id seeding, cosine argmax with (score DESC, cid) tie-break,
    per-dimension means, empty-cell carry-forward via LEFT JOIN +
    coalesce — each step the exact SQL twin of kmeans_fit_arrow's
    iteration.
    Dot products are bit-identical across engines (left-to-right double
    MAC); per-dimension means can differ by summation order at ~1e-16,
    far below the 1e-6 output rounding and the measured ≥1e-4 assignment
    decision gaps, so the unrolled recurrence stays hash-stable.

    Ends at ``afin`` (final per-vector assignment) + ``c{n_iter}`` (final
    centroids) so both the kmeans_embeddings and semantic_dedup oracles
    share one source of truth for the whole recurrence.

    ``k`` may be a SQL string (e.g. ``"(SELECT kk FROM ks)"`` with the ks
    CTE passed via ``extra_cte``) — DuckDB accepts scalar-subquery LIMITs,
    which is what lets semantic_dedup_scaled derive k from count(*) while
    staying fully hash-checked (round 8)."""
    sql = """
WITH v AS (
    SELECT vec_id AS vid,
           embedding::DOUBLE[] AS ve,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM """ + src + """
)""" + extra_cte + """
, seeds AS (
    SELECT vid, ve, nrm FROM v ORDER BY vid LIMIT {k}
), c0 AS (
    SELECT CAST(row_number() OVER (ORDER BY vid) - 1 AS INTEGER) AS cid,
           ve AS ce, nrm AS cn
    FROM seeds
)""".format(k=k)
    for i in range(1, n_iter + 1):
        sql += """
, a{i} AS (
    SELECT vid, ve, cid FROM (
        SELECT v.vid, v.ve, c.cid,
               row_number() OVER (PARTITION BY v.vid
                   ORDER BY list_dot_product(v.ve, c.ce) / (v.nrm * c.cn) DESC,
                            c.cid) AS rn
        FROM v CROSS JOIN c{p} c) t
    WHERE rn = 1
), p{i} AS (
    SELECT cid, unnest(range(0, len(ve))) AS pos, ve FROM a{i}
), m{i} AS (
    SELECT cid, pos, avg(ve[pos + 1]) AS m FROM p{i} GROUP BY cid, pos
), n{i} AS (
    SELECT cid, list(m ORDER BY pos) AS ce FROM m{i} GROUP BY cid
), c{i} AS (
    SELECT c{p}.cid,
           coalesce(n{i}.ce, c{p}.ce) AS ce,
           sqrt(list_dot_product(coalesce(n{i}.ce, c{p}.ce),
                                 coalesce(n{i}.ce, c{p}.ce))) AS cn
    FROM c{p} LEFT JOIN n{i} USING (cid)
)""".format(i=i, p=i - 1)
    sql += """
, afin AS (
    SELECT vid, cid FROM (
        SELECT v.vid, c.cid,
               row_number() OVER (PARTITION BY v.vid
                   ORDER BY list_dot_product(v.ve, c.ce) / (v.nrm * c.cn) DESC,
                            c.cid) AS rn
        FROM v CROSS JOIN c{n} c) t
    WHERE rn = 1
)""".format(n=n_iter)
    return sql


def _kmeans_oracle(
    k: int = _KM_K, n_iter: int = _KM_ITER, src: str = "embeddings"
) -> str:
    """Final-centroid + member-count face of the shared recurrence."""
    return _kmeans_cte(k, n_iter, src=src) + """
, members AS (
    SELECT cid, CAST(count(*) AS BIGINT) AS n_members FROM afin GROUP BY cid
)
SELECT c{n}.cid,
       list_transform(c{n}.ce, x -> round(x + 1e-9, 6)) AS centroid,
       coalesce(members.n_members, 0) AS n_members
FROM c{n} LEFT JOIN members USING (cid)
""".format(n=n_iter)


def _kmeans_report_frame(spark, emb):
    """Shared (cid, centroid, n_members) report body of kmeans_embeddings
    and its sampled twin, on kmeans_fit_arrow. Same recurrence and
    decision sequence as the DuckDB oracle _kmeans_cte (pinned by
    test_arrow_kmeans_matches_duckdb_recurrence); per-dimension means
    reassociate at ~1e-16, far below the 1e-6 centroid rounding — the
    same argument _kmeans_cte documents for cross-engine parity. Per
    iteration: ONE narrow checkpointed-corpus mapInArrow pass whose
    exchange is ≤ k rows per batch. Final centroids re-enter as a k-row
    driver frame; member counts come off the payload-mode assignment —
    zero corpus-sized joins."""
    from mapreduce_model_spark.operators.similarity import kmeans_fit_arrow

    assign, cdf = kmeans_fit_arrow(
        emb, k=_KM_K, n_iter=_KM_ITER, return_centroids=True
    )
    counts = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_members"))
    return cdf.join(counts, "cid", "left").select(
        "cid",
        F.transform("centroid", lambda c: rnd(c, 6)).alias("centroid"),
        F.coalesce("n_members", F.lit(0)).alias("n_members"),
    )


@query("kmeans_embeddings", oracle=_kmeans_oracle())
def kmeans_embeddings(spark, sf_dir):
    """Spherical k-means over the embedding corpus: deterministic
    lowest-id seeding, 5 iterations of assign + per-dimension mean on
    kmeans_fit_arrow (see _kmeans_report_frame). Hash-checked (r6)
    against a 5-iteration unrolled-CTE DuckDB oracle (see _kmeans_cte on
    why the float recurrence is hash-stable); the numpy
    recompute in tests/test_round3_ops.py stays as defense in depth.
    Centroids rounded for stable cross-run comparison."""
    return _kmeans_report_frame(spark, table(spark, sf_dir, "embeddings"))


@query(
    "kmeans_sampled",
    oracle=_kmeans_oracle(src=_EMB_SAMPLED + " se"),
)
def kmeans_sampled(spark, sf_dir):
    """kmeans_embeddings over the deterministic hash-sampled sub-corpus
    (functions/sampling) — the face that stays HASH-CHECKED at gen-sf1:
    the parent's 5-iteration unrolled-Lloyd oracle builds N×k-row windows
    per iteration (3.5e8 rows at 500k vectors, >900 s), while the sampled
    recurrence stays at the proven gen-sf0.1 cost. Identical operator and
    k/iteration geometry; only the vector relation differs, identically
    on both engines. Full corpus below the 64k cap, so small-scale
    results equal the parent's."""
    emb = sample_frame(table(spark, sf_dir, "embeddings"), "vec_id")
    return _kmeans_report_frame(spark, emb)


def _copurchase_edges(spark, sf_dir):
    """Support>=2 co-purchase edge list (u, v) with u < v — the ONE edge
    definition shared by graph_triangles and graph_bfs_depths (a threshold
    change must hit both queries or they silently measure different
    graphs). Pair generation is blocked BY ORDER (per-order-bounded
    quadratic); the support filter is the hub guard."""
    li = table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = items.alias("ia"), items.alias("ib")
    return (
        a.join(b, (F.col("ia.o") == F.col("ib.o")) & (F.col("ia.p") < F.col("ib.p")))
        .groupBy(F.col("ia.p").alias("u"), F.col("ib.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= 2)
        .select("u", "v")
    )


@query(
    "graph_triangles",
    oracle="""
WITH items AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), pairs AS (
    SELECT a.p AS u, b.p AS v, count(*) AS sup
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    GROUP BY 1, 2
), edges AS (
    SELECT u, v FROM pairs WHERE sup >= 2
)
SELECT e1.u AS a, e1.v AS b, e2.v AS c
FROM edges e1 JOIN edges e2 ON e1.v = e2.u
              JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
""",
)
def graph_triangles(spark, sf_dir):
    """Triangle enumeration on the co-purchase graph (parts sharing an
    order, support ≥ 2) — the non-iterative graph primitive (clustering
    coefficients, community seeds) next to the iterative
    connected_components/pagerank.

    Scale design: the pair generation is blocked BY ORDER (an order has a
    handful of parts — the quadratic is per-order-bounded, never
    all-parts); the support filter is the hub guard, collapsing the edge
    list ~300x before any edge-edge join (same move as LSH's max_bucket
    and ngram's max_shingle_df); and the triangle join itself uses the
    u<v<w orientation so each wedge is probed once and each triangle
    counted exactly once. Every join is an equi-join on node keys —
    shuffle-partitioned, AQE-managed, no cartesian anywhere."""
    # three consumers below — checkpoint the (tiny, post-support) edge
    # list so the order-blocked pair generation runs once, not thrice
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .select(
            F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c")
        )
    )


# BFS as a DuckDB recursive CTE: `walk` enumerates every (node, length)
# walk from the source up to the Spark side's max_depth cap (30); UNION
# dedups (node, depth) pairs so the recursion terminates (≤ |V|·31 rows at
# oracle scale), and min(depth) is the BFS layer. Shares the exact edge
# definition with graph_triangles' oracle.
_BFS_MAX_DEPTH = 30
_BFS_ORACLE = f"""
WITH RECURSIVE items AS (
    SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), cop AS (
    SELECT a.p AS u, b.p AS v, count(*) AS sup
    FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    GROUP BY 1, 2
), edges AS (SELECT u, v FROM cop WHERE sup >= 2),
sym AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
walk(node, depth) AS (
    SELECT u, 0 FROM (SELECT min(u) AS u FROM sym) WHERE u IS NOT NULL
    UNION
    SELECT s.v, w.depth + 1 FROM walk w JOIN sym s ON s.u = w.node
    WHERE w.depth < {_BFS_MAX_DEPTH}
)
SELECT node, CAST(min(depth) AS BIGINT) AS depth FROM walk GROUP BY node
"""


@query("graph_bfs_depths", oracle=_BFS_ORACLE)
def graph_bfs_depths(spark, sf_dir):
    """BFS shortest-path depths from the minimum part id over the
    co-purchase graph (same support>=2 edge list as graph_triangles) —
    the reachability/hop-distance primitive (recommendation radius,
    blast-radius analysis) beside components, PageRank, and triangles.
    Depth labels are traversal-order independent => deterministic output;
    hash-checked against a DuckDB recursive-CTE walk oracle (min walk
    length == BFS depth) and pinned against a driver-side BFS recompute
    in tests."""
    from mapreduce_model_spark.operators.graph import bfs_depths

    return bfs_depths(
        _copurchase_edges(spark, sf_dir), src="u", dst="v",
        max_depth=_BFS_MAX_DEPTH,
    )


# Shared oracle tail for the hard-negative twins: top-1 different-label
# candidate per anchor (cosine DESC, vec_id ASC) over a `scored` CTE with
# (query_id, query_label, vec_id, neg_label, cosine) — one home for the
# tie-break/rounding, mirroring operators.similarity.top1_hard_negative.
_HARD_NEG_SQL_TAIL = """
SELECT query_id, query_label,
       vec_id AS hard_negative_id, neg_label,
       round(1e-9 + cosine, 6) AS cosine
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM scored)
WHERE rk = 1
"""


@query(
    "hard_negative_mining",
    oracle=f"""
WITH v AS (
    SELECT vec_id, label,
           embedding::DOUBLE[] AS ve,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
), scored AS (
    SELECT q.vec_id AS query_id, q.label AS query_label,
           c.vec_id AS vec_id, c.label AS neg_label,
           list_dot_product(q.ve, c.ve) / (q.nrm * c.nrm) AS cosine
    FROM v q CROSS JOIN v c
    WHERE q.vec_id < {N_QUERIES} AND c.label <> q.label
)"""
    + _HARD_NEG_SQL_TAIL,
)
def hard_negative_mining(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each anchor
    vector, the single most-similar vector carrying a DIFFERENT label —
    the near-miss that makes the best training negative. Ranking uses the
    unrounded cosine with a vec_id tie-break (total order, deterministic).

    Scale shape: anchors broadcast, corpus scanned once; top-1 per anchor
    is an algebraic max(struct(cosine, -vec_id, label)) aggregate — the
    map-side partial collapses the anchors×corpus fan-out BEFORE any
    exchange, and no window ever funnels corpus-sized data through
    |anchors| partitions. The 100 TB variant — the sign-LSH bucket join
    with the label-mismatch filter applied inside the bucket — ships as
    hard_negative_mining_ann; this brute face is its recall baseline."""
    from mapreduce_model_spark.operators.similarity import (
        _as_double,
        dot,
        l2_norm,
        top1_hard_negative,
    )

    emb = table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "label", _as_double("embedding").alias("ve")).withColumn(
        "nrm", l2_norm(F.col("ve"))
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("ve").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(v)
        .filter(F.col("label") != F.col("query_label"))
        .withColumn(
            "cosine", dot(F.col("qv"), F.col("ve")) / (F.col("qn") * F.col("nrm"))
        )
    )
    return top1_hard_negative(scored).withColumn(
        "cosine", rnd(F.col("cosine"), 6)
    )


@query(
    "hard_negative_mining_ann",
    oracle=f"""
WITH v AS (
    SELECT vec_id, label,
           embedding::DOUBLE[] AS ve,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
), vb AS (
    SELECT vec_id, label, ve, nrm, {_bucket_sql('ve', ANN_BITS)} AS bucket FROM v
), pr AS (
    SELECT vec_id, label, ve, nrm, unnest({_probe_sql(ANN_BITS)}) AS bucket
    FROM vb WHERE vec_id < {N_QUERIES}
), scored AS (
    SELECT q.vec_id AS query_id, q.label AS query_label,
           c.vec_id AS vec_id, c.label AS neg_label,
           list_dot_product(q.ve, c.ve) / (q.nrm * c.nrm) AS cosine
    FROM pr q JOIN vb c USING (bucket)
    WHERE c.label <> q.label
)"""
    + _HARD_NEG_SQL_TAIL,
)
def hard_negative_mining_ann(spark, sf_dir):
    """hard_negative_mining's 100 TB formulation, shipped (not just
    documented): candidates come from the anchor's sign-LSH Hamming-ball
    (radius-1 multi-probe) bucket join instead of a broadcast corpus scan,
    with the label-mismatch filter applied inside the bucket and the same
    algebraic max(struct) top-1 — no window, no cross join. An anchor
    whose probe ball holds no different-label vector is absent from the
    output (the brute twin always finds one); at near-dup-grade similarity
    the radius-1 recall contract is the one similarity_ann_lsh_multiprobe
    pins. Candidate volume scales with probes × bucket occupancy, never
    corpus size."""
    from mapreduce_model_spark.operators.similarity import (
        _as_double,
        dot,
        l2_norm,
        probe_buckets,
        sign_bucket,
        top1_hard_negative,
    )

    emb = table(spark, sf_dir, "embeddings")
    v = (
        emb.select("vec_id", "label", _as_double("embedding").alias("ve"))
        .withColumn("nrm", l2_norm(F.col("ve")))
        .withColumn("bucket", sign_bucket(F.col("ve"), ANN_BITS))
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("ve").alias("qv"),
        F.col("nrm").alias("qn"),
        F.explode(probe_buckets(F.col("bucket"), ANN_BITS, radius=1)).alias("bucket"),
    )
    scored = (
        q.join(v, on="bucket")
        .filter(F.col("label") != F.col("query_label"))
        .withColumn(
            "cosine", dot(F.col("qv"), F.col("ve")) / (F.col("qn") * F.col("nrm"))
        )
    )
    return top1_hard_negative(scored).withColumn(
        "cosine", rnd(F.col("cosine"), 6)
    )


@query(
    "contrastive_triplets",
    oracle=f"""
WITH v AS (
    SELECT vec_id, label,
           embedding::DOUBLE[] AS ve,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
    FROM embeddings
), scored AS (
    SELECT q.vec_id AS query_id, q.label AS query_label,
           c.vec_id AS vec_id, c.label AS c_label,
           list_dot_product(q.ve, c.ve) / (q.nrm * c.nrm) AS cosine
    FROM v q CROSS JOIN v c
    WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
), pos AS (
    SELECT query_id, query_label, vec_id AS pos_id, cosine AS pos_cos
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS rk
          FROM scored WHERE c_label = query_label)
    WHERE rk = 1
), neg AS (
    SELECT query_id, vec_id AS neg_id, cosine AS neg_cos
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, vec_id) AS rk
          FROM scored WHERE c_label <> query_label)
    WHERE rk = 1
)
SELECT p.query_id, p.query_label, pos_id,
       round(1e-9 + pos_cos, 6) AS pos_cosine,
       neg_id,
       round(1e-9 + neg_cos, 6) AS neg_cosine,
       round(1e-9 + pos_cos - neg_cos, 6) AS margin
FROM pos p JOIN neg n USING (query_id)
""",
)
def contrastive_triplets(spark, sf_dir):
    """Training triplets for contrastive embedding fine-tuning: per anchor,
    the hardest POSITIVE (most-similar same-label vector, self excluded)
    and the hardest NEGATIVE (most-similar different-label vector), plus
    the margin pos−neg — margin ≤ 0 marks the hard cases a curriculum
    samples first. Anchors lacking either side are dropped (inner join —
    a triplet needs all three legs).

    Scale shape: ONE broadcast corpus scan and ONE aggregate — both picks
    are conditional max(struct(cosine, -vec_id)) branches of the same
    groupBy (max skips nulls, so the same-/different-label WHEN filters
    select the branch), halving the passes a naive two-query composition
    would make. No window; map-side partials collapse the anchors×corpus
    fan-out pre-exchange. The 100 TB candidate source swaps the broadcast
    scan for the multi-probe bucket join (hard_negative_mining_ann's
    shape) on both legs."""
    from mapreduce_model_spark.operators.similarity import _as_double, dot, l2_norm

    emb = table(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", "label", _as_double("embedding").alias("ve")).withColumn(
        "nrm", l2_norm(F.col("ve"))
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("ve").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(v)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "cosine", dot(F.col("qv"), F.col("ve")) / (F.col("qn") * F.col("nrm"))
        )
    )
    pick = F.struct(
        F.col("cosine").alias("cosine"), (-F.col("vec_id")).alias("nid")
    )
    same = F.col("label") == F.col("query_label")
    best = scored.groupBy("query_id", "query_label").agg(
        F.max(F.when(same, pick)).alias("p"),
        F.max(F.when(~same, pick)).alias("n"),
    )
    return (
        best.filter(F.col("p").isNotNull() & F.col("n").isNotNull())
        .select(
            "query_id",
            "query_label",
            (-F.col("p.nid")).cast("long").alias("pos_id"),
            rnd(F.col("p.cosine"), 6).alias("pos_cosine"),
            (-F.col("n.nid")).cast("long").alias("neg_id"),
            rnd(F.col("n.cosine"), 6).alias("neg_cosine"),
            rnd(F.col("p.cosine") - F.col("n.cosine"), 6).alias("margin"),
        )
    )


def _jl_signs(k_out: int = 16, d_in: int = 64) -> list[list[float]]:
    """Deterministic ±1 projection matrix: sign(j,i) from md5("jl:j:i") —
    reproducible in any engine / language with no RNG state, so the Spark
    expression and the DuckDB oracle share it as a literal."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1.0
            for i in range(d_in)
        ]
        for j in range(k_out)
    ]


_JL_K = 16
_JL_S = _jl_signs(_JL_K, 64)
_JL_S_SQL = (
    "[" + ", ".join("[" + ", ".join(str(v) for v in row) + "]" for row in _JL_S) + "]"
)


@query(
    "jl_projection",
    oracle=f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS ve,
           {_JL_S_SQL}::DOUBLE[][] AS S
    FROM embeddings
), p AS (
    SELECT vec_id,
           sqrt(list_dot_product(ve, ve)) AS orig_norm,
           list_transform(S, s -> list_dot_product(ve, s) / 4) AS pr
    FROM v
)
SELECT vec_id,
       round(orig_norm + 1e-9, 4) AS orig_norm,
       round(sqrt(list_dot_product(pr, pr)) + 1e-9, 4) AS proj_norm,
       round(sqrt(list_dot_product(pr, pr)) / orig_norm + 1e-9, 4) AS norm_ratio
FROM p
""",
)
def jl_projection(spark, sf_dir):
    """Johnson-Lindenstrauss sign random projection 64→16 dims — the
    dimensionality-reduction front end for ANN indexing and clustering at
    corpus scale (Achlioptas 2003: ±1 entries scaled by 1/√k preserve
    norms and pairwise distances in expectation). The matrix is
    md5-derived, so executors rebuild it as a literal — no broadcast of
    RNG state, no driver round trip. Emits per-vector original norm,
    projected norm, and their ratio (the distortion audit; concentration
    around 1.0 is the JL guarantee and is property-pinned in tests).

    Scale: entirely NARROW — 16 fused multiply-accumulate expressions per
    row inside whole-stage codegen, zero exchanges, zero UDFs. At 100 TB
    this is a map-only pass writing 4× smaller vectors; the projected
    column feeds sign-LSH bucketing (operators/similarity.py:sign_bucket)
    with 4× cheaper dot products."""
    from mapreduce_model_spark.operators.similarity import dot, l2_norm

    emb = table(spark, sf_dir, "embeddings")
    ve = F.col("embedding").cast("array<double>")
    pr = F.array(
        *[
            (dot(ve, F.lit(row).cast("array<double>")) / F.lit(4.0))
            for row in _JL_S
        ]
    )
    out = emb.select(
        "vec_id", l2_norm(ve).alias("orig_norm"), F.sqrt(dot(pr, pr)).alias("pn")
    )
    return out.select(
        "vec_id",
        rnd("orig_norm", 4).alias("orig_norm"),
        rnd("pn", 4).alias("proj_norm"),
        rnd(F.col("pn") / F.col("orig_norm"), 4).alias("norm_ratio"),
    )


_D = 64
_TRIU = [(i, j) for i in range(_D) for j in range(i, _D)]  # np.triu_indices order


def _moment_frames(spark, sf_dir):
    """Covariance sufficient statistics via Arrow-batched BLAS: one
    mapInArrow pass emits per-batch partials (upper-triangle of Xᵀ X as a
    2080-vector, column sums, row count — numpy matmul, ~µs per batch),
    and two tiny element-wise aggregations reduce the per-batch rows to
    the global statistics. Returns (cells(k, sxy), dims(d, sx), n) — 2080
    + 64 + 1 rows regardless of corpus size.

    Why not pure SQL: the d(d+1)/2 per-row products ARE expressible as a
    nested transform + explode (the r6 first cut), but Catalyst evaluates
    the nested lambda interpreted — measured 9.2 s for 2000×64 at sf0.1,
    ~2 µs per cell, and the cost is per-ROW so it scales with the corpus.
    Dense linear algebra is the textbook Arrow escape hatch (north-star
    rule: vectorized Pandas/Arrow UDFs where built-ins genuinely can't
    express the computation efficiently); the BLAS pass is >100× cheaper
    per row and the exchange still carries only per-batch partial rows."""
    emb = table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )

    def fn(it):
        import numpy as np
        import pyarrow as pa

        iu = np.triu_indices(_D)
        for batch in it:
            col = batch.column(0)
            if len(col) == 0:
                continue
            X = col.flatten().to_numpy(zero_copy_only=False).reshape(len(col), _D)
            S = X.T @ X
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([S[iu].tolist()], type=pa.list_(pa.float64())),
                    pa.array([X.sum(0).tolist()], type=pa.list_(pa.float64())),
                    pa.array([len(col)], type=pa.int64()),
                ],
                names=["sxy", "sx", "n"],
            )

    parts = emb.mapInArrow(fn, "sxy array<double>, sx array<double>, n bigint").localCheckpoint(eager=False)
    cells = (
        parts.select(F.posexplode("sxy").alias("k", "x"))
        .groupBy("k")
        .agg(F.sum("x").alias("sxy"))
    )
    dims = (
        parts.select(F.posexplode("sx").alias("d", "x"))
        .groupBy("d")
        .agg(F.sum("x").alias("sx"))
    )
    n = parts.agg(F.sum("n").alias("n"))
    return cells, dims, n


def _cov_stats(spark, sf_dir):
    """UNrounded covariance cells (i, j, cov) assembled from
    _moment_frames — shared by embedding_covariance (rounded,
    oracle-checked) and embedding_pca (driver-side eigendecomposition)."""
    cells, dims, n = _moment_frames(spark, sf_dir)
    mapping = spark.createDataFrame(
        [(k, i, j) for k, (i, j) in enumerate(_TRIU)], "k int, i int, j int"
    )
    mi = dims.select(F.col("d").alias("i"), F.col("sx").alias("sx_i"))
    mj = dims.select(F.col("d").alias("j"), F.col("sx").alias("sx_j"))
    return (
        cells.join(F.broadcast(mapping), "k")
        .join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (
                F.col("sxy") / F.col("n")
                - (F.col("sx_i") / F.col("n")) * (F.col("sx_j") / F.col("n"))
            ).alias("cov"),
        )
    )


@query(
    "embedding_covariance",
    oracle="""
WITH x AS (
    SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS xi
    FROM embeddings, unnest(range(1, 65)) AS t(i)
)
SELECT CAST(a.i - 1 AS INTEGER) AS i, CAST(b.i - 1 AS INTEGER) AS j,
       round(covar_pop(a.xi, b.xi) + 1e-9, 6) AS cov
FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
""",
)
def embedding_covariance(spark, sf_dir):
    """One-pass covariance matrix of the embedding dimensions (64×64 upper
    triangle = 2080 cells) — the moment matrix PCA / whitening / ZCA and
    Mahalanobis outlier screens start from. cov(i,j) is assembled from
    algebraic sufficient statistics (Σxᵢxⱼ, Σxᵢ, n), never from centering
    the data, so the whole matrix costs ONE corpus pass however large the
    corpus.

    Scale: the moment partials come from an Arrow-batched BLAS pass
    (_moment_frames: Xᵀ X per batch — no vec_id self-join, no per-cell
    expression fan-out; see its docstring for the measured 100× over the
    pure-SQL formulation), so the only exchanged rows are one 2-KB
    partial per Arrow batch, reduced by two tiny element-wise aggregates.
    The 2080-cell assembly is all-broadcast joins on driver-made
    mini-frames. The DuckDB oracle's covar_pop runs the textbook
    two-sided formula; values agree to well under the 1e-6 rounding
    grain."""
    cells = _cov_stats(spark, sf_dir)
    return cells.select("i", "j", rnd("cov", 6).alias("cov"))


_PCA_Q = 8  # retained components


@query("embedding_pca")  # driver-side eigh of the 64×64 moment matrix — rows-only
def embedding_pca(spark, sf_dir):
    """Two-phase distributed PCA — the standard shape at corpus scale:
    phase 1 aggregates the covariance sufficient statistics (ONE pass,
    exchange carries ≤2080 cells per task — _cov_stats); phase 2
    eigendecomposes the 64×64 matrix DRIVER-SIDE (numpy eigh on 32 KB —
    the only data that ever reaches the driver) and re-enters the top-8
    principal axes as LITERALS, so the projection pass is as narrow as
    jl_projection: fused multiply-accumulates in the scan stage, zero
    exchanges, no broadcast variable, no UDF.

    Eigenvector sign is canonicalized (largest-|loading| entry positive) so
    reruns are bit-stable. Rows-only by design — no SQL engine exposes an
    eigendecomposition; correctness is pinned vs numpy end to end in
    tests/test_round6b_ops.py (per-coordinate variance == eigenvalue,
    cross-coordinate covariance == 0, eigenvalues sorted)."""
    import numpy as np

    from mapreduce_model_spark.operators.similarity import dot

    # ONE stats job: 2080 product sums + 64 column sums + n (all tiny)
    cells_df, dims_df, n_df = _moment_frames(spark, sf_dir)
    sxy = {r["k"]: r["sxy"] for r in cells_df.collect()}
    sx = np.zeros(_D)
    for r in dims_df.collect():
        sx[r["d"]] = r["sx"]
    n = n_df.first()["n"]
    mean = sx / n
    C = np.zeros((_D, _D))
    for k, (i, j) in enumerate(_TRIU):
        C[i, j] = C[j, i] = sxy[k] / n - mean[i] * mean[j]
    vals, vecs = np.linalg.eigh(C)  # ascending
    order = np.argsort(vals)[::-1][:_PCA_Q]
    axes = []
    for q in order:
        v = vecs[:, q]
        if v[np.argmax(np.abs(v))] < 0:  # canonical sign
            v = -v
        axes.append([float(x) for x in v])

    emb = table(spark, sf_dir, "embeddings")
    ve = F.col("embedding").cast("array<double>")
    mu = F.lit([float(m) for m in mean]).cast("array<double>")
    centered = F.zip_with(ve, mu, lambda x, m: x - m)
    coords = [
        F.round(dot(centered, F.lit(a).cast("array<double>")) + 1e-9, 4).alias(f"pc{q}")
        for q, a in enumerate(axes)
    ]
    return emb.select("vec_id", *coords)


_SEM_TAU = 0.40


@query(
    "semantic_dedup",
    oracle=_kmeans_cte()
    + f"""
, sem AS (
    SELECT a.vid, max(list_dot_product(va.ve, vb.ve) / (va.nrm * vb.nrm)) AS mc
    FROM afin a JOIN v va ON va.vid = a.vid
    JOIN afin b ON b.cid = a.cid AND b.vid < a.vid
    JOIN v vb ON vb.vid = b.vid
    GROUP BY a.vid
)
SELECT f.vid AS vec_id, f.cid,
       round(sem.mc + 1e-9, 6) AS sem_score,
       coalesce(sem.mc < {_SEM_TAU}, TRUE) AS is_kept
FROM afin f LEFT JOIN sem ON sem.vid = f.vid
""",
)
def semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic deduplication in embedding
    space — k-means clusters the corpus, then WITHIN each cluster a vector
    is dropped when some lower-id member sits above cosine 0.40 (_SEM_TAU)
    (paraphrases, re-renders, and templated rewrites that no lexical
    near-dup pass catches). Emits per-vector cluster id, max cosine to any
    lower-id cluster-mate (the semantic-novelty score; NULL for the
    cluster's first member), and the keep flag. Fully hash-checked: the
    oracle replays the SAME unrolled Lloyd's recurrence (_kmeans_cte) and
    the same pair scoring; BLAS reassociation moves scores by ~1e-16, far
    below the assignment decision gaps and the 1e-6 score rounding.

    EXEMPLAR-ONLY (r11): this face pins k=8 so the oracle can replay the
    unrolled Lloyd recurrence term-for-term — a fixed geometry whose
    Σ|cluster|² candidate volume grows superlinearly with N. It exists as
    the fully-hash-checked pedagogical face and is EXCLUDED from scale
    claims; the production default is ``semantic_dedup_scaled`` (same
    shared body, k=⌈√N⌉ adaptive in both engine and oracle via _ks_cte),
    which is registered and hash-checked beside it. See PLANS.md
    "Cross-scale scaling evidence" exclusion note.

    Scale: clustering is kmeans_fit_arrow; pairs are scored only within
    a cluster, so candidate volume is Σ|cluster|² — SemDeDup's own recipe
    is k ∝ √N to bound cluster sizes (at 100 TB: ~100k clusters).
    Assignments come straight out of the training loop's own final
    assign pass — no re-assignment pass, no extra shuffle."""
    return _semantic_dedup_frame(spark, sf_dir, k=_KM_K, n_iter=_KM_ITER)


def _semantic_dedup_frame(spark, sf_dir, k: int, n_iter: int, emb=None):
    """Shared SemDeDup body: kmeans_fit_arrow assign → per-cluster
    lower-id max-cosine election (semantic_max_cosine_arrow) → keep flag.
    Parameterized so the k=8 exemplar face and the k∝√N scaled faces
    cannot drift apart; all three are hash-checked against oracles built
    on the same _kmeans_cte recurrence (see operators.similarity
    kmeans_fit_arrow / _assign_arrow on ulp parity)."""
    from mapreduce_model_spark.operators.similarity import (
        kmeans_fit_arrow,
        semantic_max_cosine_arrow,
    )

    if emb is None:
        emb = table(spark, sf_dir, "embeddings")
    assign = kmeans_fit_arrow(emb, k=k, n_iter=n_iter)
    # the election emits one row per member (mc NULL for each cluster's
    # first) — the output IS the result frame, no join back onto assign
    mc = semantic_max_cosine_arrow(assign)
    return mc.select(
        F.col("vid").alias("vec_id"),
        "cid",
        rnd("mc", 6).alias("sem_score"),
        F.coalesce(F.col("mc") < _SEM_TAU, F.lit(True)).alias("is_kept"),
    )


_SEM_SCALED_ITER = 2
_KM_K_CAP = 4096


def adaptive_kmeans_k(n_vectors: int) -> int:
    """SemDeDup's own recipe, k ∝ √N: balances the two costs that bound
    the pipeline — Lloyd assignment is O(N·k), the within-cluster pair
    join is O(N²/k); k = ⌈√N⌉ makes both ~N^1.5, and the 4096 cap keeps
    the broadcast centroid table tiny (4096×64 doubles = 2 MB). Integer
    parity with the oracle's ks CTE: IEEE sqrt is correctly rounded."""
    import math

    return max(2, min(_KM_K_CAP, math.ceil(math.sqrt(n_vectors))))


def _ks_cte(src: str = "embeddings") -> str:
    """DuckDB twin of adaptive_kmeans_k as a 1-row CTE ``ks(kk)``,
    parameterized on the vector relation (the sampled twin counts the
    SAMPLED corpus)."""
    return f"""
, ks AS (
    SELECT greatest(2, least({_KM_K_CAP},
           CAST(ceil(sqrt(count(*))) AS BIGINT))) AS kk
    FROM {src}
)"""


_KS_CTE = _ks_cte()


@query(
    "semantic_dedup_scaled",
    oracle=_kmeans_cte(
        k="(SELECT kk FROM ks)", n_iter=_SEM_SCALED_ITER, extra_cte=_KS_CTE
    )
    + f"""
, sem AS (
    SELECT a.vid, max(list_dot_product(va.ve, vb.ve) / (va.nrm * vb.nrm)) AS mc
    FROM afin a JOIN v va ON va.vid = a.vid
    JOIN afin b ON b.cid = a.cid AND b.vid < a.vid
    JOIN v vb ON vb.vid = b.vid
    GROUP BY a.vid
)
SELECT f.vid AS vec_id, f.cid,
       round(sem.mc + 1e-9, 6) AS sem_score,
       coalesce(sem.mc < {_SEM_TAU}, TRUE) AS is_kept
FROM afin f LEFT JOIN sem ON sem.vid = f.vid
""",
)
def semantic_dedup_scaled(spark, sf_dir):
    """semantic_dedup at its SCALE configuration (r7 verdict ask #3):
    k = ⌈√N⌉ clusters (adaptive_kmeans_k) instead of the k=8 exemplar, so
    Σ|cluster|² — the within-cluster pair-join volume — is ~N^1.5 at any
    corpus size rather than N²/8 (measured r7: the k=8 face's oracle
    filled 79 GB of DuckDB spill at 50k vectors). Two Lloyd iterations:
    the cluster geometry that BOUNDS the pair join converges in the first
    couple of sweeps, and each extra iteration is a full O(N·k) assign
    pass — the exemplar face keeps the 5-iteration recurrence. STILL
    FULLY hash-checked: the oracle derives the identical k from count(*)
    via a scalar-subquery LIMIT on the seed scan and replays the same
    unrolled recurrence."""
    emb_n = table(spark, sf_dir, "embeddings").count()
    return _semantic_dedup_frame(
        spark, sf_dir, k=adaptive_kmeans_k(emb_n), n_iter=_SEM_SCALED_ITER
    )


@query(
    "semantic_dedup_sampled",
    oracle=_kmeans_cte(
        k="(SELECT kk FROM ks)",
        n_iter=_SEM_SCALED_ITER,
        extra_cte=_ks_cte(_EMB_SEM_SAMPLED + " t"),
        src=_EMB_SEM_SAMPLED + " se",
    )
    + f"""
, sem AS (
    SELECT a.vid, max(list_dot_product(va.ve, vb.ve) / (va.nrm * vb.nrm)) AS mc
    FROM afin a JOIN v va ON va.vid = a.vid
    JOIN afin b ON b.cid = a.cid AND b.vid < a.vid
    JOIN v vb ON vb.vid = b.vid
    GROUP BY a.vid
)
SELECT f.vid AS vec_id, f.cid,
       round(sem.mc + 1e-9, 6) AS sem_score,
       coalesce(sem.mc < {_SEM_TAU}, TRUE) AS is_kept
FROM afin f LEFT JOIN sem ON sem.vid = f.vid
""",
)
def semantic_dedup_sampled(spark, sf_dir):
    """SemDeDup over the deterministic hash-sampled sub-corpus at the
    SCALED geometry (k = ⌈√N_sample⌉, 2 iterations) — the family face
    whose unrolled-Lloyd + Σ|cluster|² pair-join oracle stays inside the
    sweep budget at gen-sf1 (62.5k sampled vectors, ~250 clusters →
    ~1.6e7 candidate pairs, vs the parents' oracle spilling tens of GB
    at 500k). Below the 64k cap the sample is the full corpus, so this
    face equals semantic_dedup_scaled's geometry at small scale."""
    emb = sample_frame(
        table(spark, sf_dir, "embeddings"), "vec_id", cap=SEM_SAMPLE_CAP
    )
    return _semantic_dedup_frame(
        spark,
        sf_dir,
        k=adaptive_kmeans_k(emb.count()),
        n_iter=_SEM_SCALED_ITER,
        emb=emb,
    )


_MAHA_CHI2_99 = 93.2169  # chi²(df=64) 99th percentile — flag threshold
_MAHA_RIDGE = 1e-6


@query("mahalanobis_outliers")  # driver-side matrix inverse — rows-only
def mahalanobis_outliers(spark, sf_dir):
    """Embedding-space outlier screen: squared Mahalanobis distance
    (x-μ)ᵀ Σ⁻¹ (x-μ) per vector, flagged above the χ²(64) 99th
    percentile — the covariance-aware complement of per-feature z-scores
    (catches points that are unremarkable per-dimension but sit off the
    data's correlation structure: encoder glitches, wrong-modality rows,
    corrupted embeddings). Composes the covariance sufficient statistics
    (_moment_frames — one Arrow/BLAS pass) with a DRIVER-SIDE ridge-
    regularized inverse (64×64, numpy — no SQL engine inverts matrices,
    hence rows-only; the whole pipeline is pinned vs a numpy recompute in
    tests), and scores with a second Arrow/BLAS pass: X Σ⁻¹ ∘ X row-sums
    per batch, the precision matrix riding the closure as 32 KB.

    Scale: two map-shaped corpus passes + tiny-row aggregates; nothing
    data-sized ever shuffles, the driver sees 2145 statistics and emits
    one matrix."""
    import numpy as np

    cells_df, dims_df, n_df = _moment_frames(spark, sf_dir)
    sxy = {r["k"]: r["sxy"] for r in cells_df.collect()}
    sx = np.zeros(_D)
    for r in dims_df.collect():
        sx[r["d"]] = r["sx"]
    n = n_df.first()["n"]
    mean = sx / n
    C = np.zeros((_D, _D))
    for k, (i, j) in enumerate(_TRIU):
        C[i, j] = C[j, i] = sxy[k] / n - mean[i] * mean[j]
    Minv = np.linalg.inv(C + _MAHA_RIDGE * np.eye(_D))

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def score(it):
        import numpy as np
        import pyarrow as pa

        for batch in it:
            ids = batch.column(0)
            col = batch.column(1)
            if len(col) == 0:
                continue
            X = col.flatten().to_numpy(zero_copy_only=False).reshape(len(col), _D)
            Xc = X - mean
            md2 = np.einsum("ij,ij->i", Xc @ Minv, Xc)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(np.round(md2 + 1e-9, 4))],
                names=["vec_id", "md2"],
            )

    out = emb.mapInArrow(score, "vec_id bigint, md2 double")
    return out.select(
        "vec_id", "md2", (F.col("md2") > _MAHA_CHI2_99).alias("is_outlier")
    )


@query(
    "ann_recall_report",
    oracle=_V
    + f"""
, vb AS (
    SELECT vec_id, ve, nrm, {_bucket_sql('ve', ANN_BITS)} AS bucket FROM v
), bt AS (
    SELECT query_id, vec_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.ve, c.ve) / (q.nrm * c.nrm) DESC,
                            c.vec_id) AS rank
        FROM v q CROSS JOIN v c
        WHERE q.vec_id < {ANN_QUERIES} AND c.vec_id <> q.vec_id) t
    WHERE rank <= {ANN_K}
), ls AS (
    SELECT query_id, vec_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.ve, c.ve) / (q.nrm * c.nrm) DESC,
                            c.vec_id) AS rank
        FROM vb q JOIN vb c USING (bucket)
        WHERE q.vec_id < {ANN_QUERIES} AND c.vec_id <> q.vec_id) t
    WHERE rank <= {ANN_K}
), pr AS (
    SELECT vec_id, ve, nrm, unnest({_probe_sql(ANN_BITS)}) AS bucket
    FROM vb WHERE vec_id < {ANN_QUERIES}
), lm AS (
    SELECT query_id, vec_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.ve, c.ve) / (q.nrm * c.nrm) DESC,
                            c.vec_id) AS rank
        FROM pr q JOIN vb c USING (bucket)
        WHERE c.vec_id <> q.vec_id) t
    WHERE rank <= {ANN_K}
)
SELECT b.query_id,
       CAST(count(*) AS BIGINT) AS n_brute,
       CAST(count(ls.vec_id) AS BIGINT) AS n_hit_single,
       CAST(count(lm.vec_id) AS BIGINT) AS n_hit_multi,
       round(count(ls.vec_id)::DOUBLE / count(*) + 1e-9, 4) AS recall_single,
       round(count(lm.vec_id)::DOUBLE / count(*) + 1e-9, 4) AS recall_multi
FROM bt b
LEFT JOIN ls ON ls.query_id = b.query_id AND ls.vec_id = b.vec_id
LEFT JOIN lm ON lm.query_id = b.query_id AND lm.vec_id = b.vec_id
GROUP BY b.query_id
""",
)
def ann_recall_report(spark, sf_dir):
    """Measure, don't guess — the ANN quality audit AS a query: per-query
    recall@3 of single-probe and radius-1 multi-probe sign-LSH
    against the brute-force ground truth (self excluded on all sides).
    This is the report that justifies — with numbers, continuously — the
    bucket-pruned 100 TB path over the exact scan, and it hash-checks
    end to end because ranking uses unrounded bit-identical cosines.

    Scale: ground truth is the broadcast-queries brute pass (small Q × corpus,
    no corpus shuffle); both ANN sides are bucket equi-joins; the recall
    join runs on Q×k rows. On a real corpus you run this on a sampled
    query set — the shape is already that."""
    from pyspark.sql import Window

    from mapreduce_model_spark.operators.similarity import (
        cosine_topk,
        lsh_cosine_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < ANN_QUERIES)
    # top-k excluding self: take k+1, drop self, re-rank the ≤(k+1) rows
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    brute = (
        cosine_topk(emb, q, k=ANN_K + 1)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("r2", F.row_number().over(w))
        .filter(F.col("r2") <= ANN_K)
        .select("query_id", "vec_id")
    )
    single = lsh_cosine_topk(emb, q, k=ANN_K, bits=ANN_BITS).select(
        "query_id", "vec_id", F.lit(1).alias("hit_s")
    )
    multi = lsh_cosine_topk(emb, q, k=ANN_K, bits=ANN_BITS, probe_radius=1).select(
        "query_id", "vec_id", F.lit(1).alias("hit_m")
    )
    joined = (
        brute.join(single, ["query_id", "vec_id"], "left")
        .join(multi, ["query_id", "vec_id"], "left")
    )
    n_hit_s = F.sum(F.coalesce("hit_s", F.lit(0)))
    n_hit_m = F.sum(F.coalesce("hit_m", F.lit(0)))
    n = F.count(F.lit(1))
    return joined.groupBy("query_id").agg(
        n.alias("n_brute"),
        n_hit_s.cast("long").alias("n_hit_single"),
        n_hit_m.cast("long").alias("n_hit_multi"),
        rnd(n_hit_s / n, 4).alias("recall_single"),
        rnd(n_hit_m / n, 4).alias("recall_multi"),
    )


_PQ_M, _PQ_K, _PQ_ITER, _PQ_D = 8, 16, 3, 64


def _pq_chain(
    m: int = _PQ_M,
    k: int = _PQ_K,
    n_iter: int = _PQ_ITER,
    sfx: str = "",
    src: str = "(SELECT vec_id AS vid, embedding::DOUBLE[] AS vec FROM embeddings)",
    dim: int = _PQ_D,
) -> str:
    """Per-subspace Lloyd's unrolled into chained CTEs — _kmeans_cte's
    move with subspace as a key (one recurrence covers all m codebooks).
    dist² = v·v − 2·v·c + c·c with left-to-right MACs in both engines;
    empty-cell carry-forward via LEFT JOIN + coalesce. Ends at
    ``afin{sfx}`` (final per-(vector, subspace) code + its dist²) +
    ``c{n_iter}{sfx}`` (final codebook) — the ONE recurrence shared by the
    embedding_pq, similarity_pq_adc, and similarity_ann_ivfpq oracles
    (the last composes TWO instances: ``src``/``sfx`` parameterize the
    vector relation and the CTE namespace; the caller prepends WITH)."""
    d_sub = dim // m
    # the argmin key drops the per-(vector, subspace) constant v·v — same
    # reduced expression (ONE parenthesization) as the engine's rk; the
    # winner's full dist² is reassembled as v·v + rk exactly like pq_fit
    rk = (
        "list_dot_product(c.ce, c.ce) - 2 * list_dot_product(v.sve, c.ce)"
    )
    dist = f"list_dot_product(v.sve, v.sve) + ({rk})"
    sql = f"""v{sfx} AS (
    SELECT base.vid, t.s::INTEGER AS s,
           (base.vec)[t.s*{d_sub}+1 : t.s*{d_sub}+{d_sub}] AS sve
    FROM {src} base CROSS JOIN range(0, {m}) t(s)
), sv{sfx} AS (
    SELECT vid FROM {src} base ORDER BY vid LIMIT {k}
), c0{sfx} AS (
    SELECT v.s,
           CAST(row_number() OVER (PARTITION BY v.s ORDER BY v.vid) - 1
                AS INTEGER) AS cid,
           v.sve AS ce
    FROM v{sfx} v JOIN sv{sfx} USING (vid)
)"""
    for t in range(1, n_iter + 1):
        p = t - 1
        sql += f"""
, a{t}{sfx} AS (
    SELECT vid, s, sve, cid FROM (
        SELECT v.vid, v.s, v.sve, c.cid,
               row_number() OVER (PARTITION BY v.vid, v.s
                   ORDER BY {rk} ASC, c.cid) AS rn
        FROM v{sfx} v JOIN c{p}{sfx} c ON v.s = c.s) t
    WHERE rn = 1
), p{t}{sfx} AS (
    SELECT s, cid, unnest(range(0, {d_sub})) AS pos, sve FROM a{t}{sfx}
), m{t}{sfx} AS (
    SELECT s, cid, pos, avg(sve[pos + 1]) AS mu FROM p{t}{sfx} GROUP BY s, cid, pos
), n{t}{sfx} AS (
    SELECT s, cid, list(mu ORDER BY pos) AS ce FROM m{t}{sfx} GROUP BY s, cid
), c{t}{sfx} AS (
    SELECT cp.s, cp.cid, coalesce(n.ce, cp.ce) AS ce
    FROM c{p}{sfx} cp LEFT JOIN n{t}{sfx} n USING (s, cid)
)"""
    sql += f"""
, afin{sfx} AS (
    SELECT vid, s, cid, d FROM (
        SELECT v.vid, v.s, c.cid, {dist} AS d,
               row_number() OVER (PARTITION BY v.vid, v.s
                   ORDER BY {rk} ASC, c.cid) AS rn
        FROM v{sfx} v JOIN c{n_iter}{sfx} c ON v.s = c.s) t
    WHERE rn = 1
)"""
    return sql


def _pq_oracle(
    m: int = _PQ_M,
    k: int = _PQ_K,
    n_iter: int = _PQ_ITER,
    src: str | None = None,
) -> str:
    """Code-tuple + reconstruction-MSE face of the shared recurrence."""
    kw = {} if src is None else {"src": src}
    return "\nWITH " + _pq_chain(m, k, n_iter, **kw) + """
SELECT vid AS vec_id,
       array_to_string(list(cid ORDER BY s), ',') AS codes,
       round(sum(d) / 64.0 + 1e-9, 6) AS mse
FROM afin GROUP BY vid
"""


def _pq_train(spark, sf_dir, sampled: bool = False):
    """(codes_df, cents) for pq_fit(embeddings, 8, 16, 3).
    ``sampled=True`` trains over the hash-sampled sub-corpus instead
    (functions/sampling) — the *_sampled PQ twins' build. Below the cap
    sample_frame returns the corpus itself, so both builds coincide."""
    from mapreduce_model_spark.operators.similarity import pq_fit

    emb = table(spark, sf_dir, "embeddings")
    if sampled:
        emb = sample_frame(emb, "vec_id")
    return pq_fit(emb, m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER, return_codebook=True)


def _ivfpq_train(spark, sf_dir, sampled: bool = False):
    """The IVF-PQ index build of similarity_ann_ivfpq and
    ivfpq_recall_report: an L2 coarse quantizer (1-subspace pq_fit run)
    assigns every vector a cell; each vector's RESIDUAL from its cell
    centroid is product-quantized (8×16, 2 iterations). Returns
    (cand — vec_id, codes, cell —, cc coarse centroids, pcents residual
    codebooks). ``sampled=True`` builds the index over the hash-sampled
    sub-corpus (the *_sampled twins' build)."""
    from mapreduce_model_spark.operators.similarity import pq_fit

    emb = table(spark, sf_dir, "embeddings")
    if sampled:
        emb = sample_frame(emb, "vec_id")
    coarse_df, ccents = pq_fit(
        emb, m=1, k=_IVFPQ_KC, n_iter=_IVFPQ_CI, return_codebook=True
    )
    cc = ccents[0]

    ve = F.col("embedding").cast("array<double>")
    cells = coarse_df.select("vec_id", F.element_at("codes", 1).alias("cell"))
    celit = F.lit(cc)
    ce = F.element_at(celit, F.col("cell") + 1)
    resid = F.array(
        *[F.element_at(ve, p + 1) - F.element_at(ce, p + 1) for p in range(_PQ_D)]
    )
    rdf = (
        emb.join(cells, "vec_id")
        .select("vec_id", "cell", resid.alias("vec"))
        # read by the residual-PQ training loop (4 passes) and the final
        # cell lookup — checkpoint or the coarse plan re-executes each time
        .localCheckpoint(eager=False)
    )
    codes_df, pcents = pq_fit(
        rdf,
        m=_PQ_M,
        k=_PQ_K,
        n_iter=_IVFPQ_PI,
        vec_col="vec",
        return_codebook=True,
    )
    cand = codes_df.join(rdf.select("vec_id", "cell"), "vec_id")
    return cand, cc, pcents


@query("embedding_pq", oracle=_pq_oracle())
def embedding_pq(spark, sf_dir):
    """Product quantization (operators/similarity.py pq_fit): 8 subspaces
    × 16 codewords × 3 Lloyd iterations → every vector as 8 one-byte
    codes + reconstruction MSE. The 32× ANN memory lever beyond
    embedding_quantize's int8 (8 B vs 256 B per vector), and the codebook
    layout IVF-PQ engines build on. FULLY hash-checked against the
    unrolled per-subspace-Lloyd's oracle (_pq_oracle; the _kmeans_cte
    float-stability argument applies — decision gaps are measured orders
    of magnitude above cross-engine 1e-16 mean noise, pinned in tests
    with a numpy recompute).

    Scale: all 8 sub-quantizers train in ONE plan per iteration —
    subspace is a key, not a loop; the 8 KB codebook re-enters as a
    literal (no join), the candidate fan-out collapses map-side into an
    algebraic min so each assign exchange carries one row per (vector,
    subspace), each update exchange carries 1024 map-side-combined
    partial means, and 1024 doubles reach the driver per iteration.
    Training is _pq_train, the build similarity_pq_adc also runs."""
    out, _ = _pq_train(spark, sf_dir)
    return out.select(
        "vec_id",
        F.array_join(
            F.transform("codes", lambda c: c.cast("string")), ","
        ).alias("codes"),
        rnd(F.col("mse"), 6).alias("mse"),
    )


@query(
    "embedding_pq_sampled",
    oracle=_pq_oracle(
        src=f"(SELECT vec_id AS vid, embedding::DOUBLE[] AS vec "
        f"FROM {_EMB_SAMPLED} s)"
    ),
)
def embedding_pq_sampled(spark, sf_dir):
    """embedding_pq over the deterministic hash-sampled sub-corpus
    (functions/sampling; see kmeans_sampled) — keeps the PQ code/MSE
    face hash-checked at gen-sf1, where the parent's per-subspace
    unrolled-Lloyd oracle exceeds the sweep's 900 s budget at 500k
    vectors. Training is _pq_train's sampled build, as in
    pq_adc_sampled. Full corpus below the 64k cap."""
    out, _ = _pq_train(spark, sf_dir, sampled=True)
    return out.select(
        "vec_id",
        F.array_join(
            F.transform("codes", lambda c: c.cast("string")), ","
        ).alias("codes"),
        rnd(F.col("mse"), 6).alias("mse"),
    )


_PQ_NQ, _PQ_TOPK = 5, 3


def _pq_adc_oracle(src: str | None = None, qsel: str | None = None) -> str:
    """ADC face of the shared PQ recurrence: per (query, subspace) the
    dist² table row is the SAME v·v − 2·v·c + c·c expression, summed over
    the stored codes — the oracle scores codes exactly like the engine.
    ``src`` parameterizes the trained/encoded corpus relation, ``qsel``
    the query-vector selection (both default to the full-corpus parent
    forms; the sampled twin passes the hash-sampled relation and a
    lowest-N-ids-in-sample selection)."""
    d_sub = _PQ_D // _PQ_M
    kw = {} if src is None else {"src": src}
    if qsel is None:
        qsel = f"SELECT * FROM embeddings WHERE vec_id < {_PQ_NQ}"
    return "\nWITH " + _pq_chain(**kw) + f"""
, qv AS (
    SELECT vec_id AS query_id, t.s::INTEGER AS s,
           (embedding::DOUBLE[])[t.s*{d_sub}+1 : t.s*{d_sub}+{d_sub}] AS qsve
    FROM ({qsel}) qq CROSS JOIN range(0, {_PQ_M}) t(s)
), adc AS (
    SELECT q.query_id, a.vid AS vec_id,
           sum(list_dot_product(q.qsve, q.qsve)
               - 2 * list_dot_product(q.qsve, c.ce)
               + list_dot_product(c.ce, c.ce)) AS adc
    FROM afin a
    JOIN c{_PQ_ITER} c ON c.s = a.s AND c.cid = a.cid
    JOIN qv q ON q.s = a.s
    WHERE a.vid <> q.query_id
    GROUP BY q.query_id, a.vid
)
SELECT query_id, vec_id, round(adc + 1e-9, 6) AS adc, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc ASC, vec_id) AS rank
      FROM adc)
WHERE rank <= {_PQ_TOPK}
"""


@query("similarity_pq_adc", oracle=_pq_adc_oracle())
def similarity_pq_adc(spark, sf_dir):
    """Asymmetric-distance top-k over the PQ-compressed corpus (the IVF-PQ
    search half): each query precomputes an 8×16 lookup table of dist²(q
    subvector, codeword), and every corpus vector is scored from its
    8-byte code by EIGHT TABLE LOOKUPS — the corpus embeddings are never
    touched again after encoding. Self excluded; ascending ADC with id
    tie-break. Hash-checked end to end via the shared _pq_chain recurrence
    (training AND scoring reproduced in SQL).

    Scale: the scored frame is codes-only (8 B/vector — a 32× smaller
    scan than the float corpus); the per-query tables re-enter as a
    broadcast |Q|-row frame, scoring is fully narrow, and the only
    exchange is the per-query top-k window keyed by query_id. This is the
    memory-bound regime ADC exists for: at 100 TB of vectors the float
    corpus doesn't fit the cluster's RAM, the code table does.
    Training is _pq_train, the build embedding_pq also runs."""
    emb = table(spark, sf_dir, "embeddings")
    codes_df, cents = _pq_train(spark, sf_dir)
    return _pq_adc_frame(spark, emb.filter(F.col("vec_id") < _PQ_NQ),
                         codes_df, cents)


@query(
    "pq_adc_sampled",
    oracle=_pq_adc_oracle(
        src=f"(SELECT vec_id AS vid, embedding::DOUBLE[] AS vec "
        f"FROM {_EMB_SAMPLED} s)",
        qsel=f"SELECT * FROM {_EMB_SAMPLED} s "
        f"ORDER BY vec_id LIMIT {_PQ_NQ}",
    ),
)
def pq_adc_sampled(spark, sf_dir):
    """similarity_pq_adc over the hash-sampled sub-corpus — the ADC
    search face that stays hash-checked at gen-sf1 (see kmeans_sampled
    for the oracle-cost rationale). Queries are the _PQ_NQ lowest vec_ids
    IN the sample (identical ORDER BY/LIMIT selection in the oracle), so
    below the 64k cap — where the sample is the full corpus and ids are
    0-based — the query set equals the parent's vec_id < N filter."""
    emb = sample_frame(table(spark, sf_dir, "embeddings"), "vec_id")
    codes_df, cents = _pq_train(spark, sf_dir, sampled=True)
    return _pq_adc_frame(spark, emb.orderBy("vec_id").limit(_PQ_NQ),
                         codes_df, cents)


def _pq_adc_frame(spark, qemb, codes_df, cents):
    """Shared engine tail of similarity_pq_adc and its sampled twin:
    per-query ADC lookup tables from the query frame, broadcast, 8
    unrolled lookups per corpus code, per-query top-k."""
    from mapreduce_model_spark.operators.similarity import py_ldot as ldot

    d_sub = _PQ_D // _PQ_M
    qrows = (
        qemb
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    tbl_rows = []
    for r in qrows:
        tbl = []
        for s in range(_PQ_M):
            qs = list(r["v"][s * d_sub : (s + 1) * d_sub])
            qq = ldot(qs, qs)
            tbl.append(
                [qq - 2 * ldot(qs, ce) + ldot(ce, ce) for ce in cents[s]]
            )
        tbl_rows.append((r["vec_id"], tbl))
    q = spark.createDataFrame(tbl_rows, "query_id long, tbl array<array<double>>")

    # the 8 lookups unrolled as explicit left-associated adds — same IEEE
    # order as the HOF fold but inside whole-stage codegen (HOFs are
    # CodegenFallback; this is the per-(query, corpus-vector) hot path)
    adc = F.lit(0.0)
    for s in range(_PQ_M):
        adc = adc + F.element_at(
            F.element_at("tbl", s + 1), F.element_at("codes", s + 1) + 1
        )
    scored = (
        codes_df.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc.alias("adc"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select(
            "query_id",
            "vec_id",
            rnd(F.col("adc"), 6).alias("adc"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


@query(
    "embedding_drift",
    oracle="""
WITH p AS (
    SELECT label, t.pos::INTEGER AS pos,
           (embedding::DOUBLE[])[t.pos + 1] AS x
    FROM embeddings CROSS JOIN range(0, 64) t(pos)
), stats AS (
    SELECT label, pos, avg(x) AS mu, sqrt(var_pop(x)) AS sigma
    FROM p GROUP BY label, pos
)
SELECT a.label AS label_a, b.label AS label_b,
       round(sum((a.mu - b.mu) * (a.mu - b.mu)) + 1e-9, 6) AS mean_dist2,
       round(sum((a.mu - b.mu) * (a.mu - b.mu)
                 + (a.sigma - b.sigma) * (a.sigma - b.sigma)) + 1e-9, 6)
           AS frechet_diag
FROM stats a JOIN stats b ON a.pos = b.pos AND a.label < b.label
GROUP BY a.label, b.label
""",
)
def embedding_drift(spark, sf_dir):
    """Distribution drift between embedding groups — the
    Fréchet/FID-style distance with diagonal covariance: for every label
    pair, ‖μ_a − μ_b‖² plus the per-dimension (σ_a − σ_b)² term. The
    monitor a pipeline runs when a new crawl snapshot / encoder version
    lands: "did the embedding distribution move?", per group, as a
    number. Hash-checked (means/variances are algebraic; both engines
    round at 1e-6, far above cross-engine 1e-15 summation noise).

    Scale: ONE fact pass (posexplode → (label, pos)-keyed avg/var_pop
    whose map-side partials collapse the ×64 fan-out); everything after
    runs on the |labels|×64 stats frame — the pair join is
    |labels|²-bounded and never touches vector data again."""
    emb = table(spark, sf_dir, "embeddings")
    stats = (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
        )
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("mu"), F.sqrt(F.var_pop("x")).alias("sigma"))
        # both sides of the self-join read this |labels|×64 frame — checkpoint
        # or the fact aggregation (and the parquet scan under it) runs 4×
        .localCheckpoint(eager=False)
    )
    a, b = stats.alias("a"), stats.alias("b")
    dmu = F.col("a.mu") - F.col("b.mu")
    dsig = F.col("a.sigma") - F.col("b.sigma")
    return (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(
            rnd(F.sum(dmu * dmu), 6).alias("mean_dist2"),
            rnd(F.sum(dmu * dmu + dsig * dsig), 6).alias("frechet_diag"),
        )
    )


_NEG_NQ, _NEG_K = 10, 4
# DuckDB twin of the engine's md5_int32 priority — via the shared helper so
# a hash-derivation change can never silently diverge this oracle
_NEG_PRI_SQL = sql_md5_int32("a.anchor_id::VARCHAR || ':' || e.vec_id::VARCHAR")


@query(
    "negative_sample_uniform",
    oracle=f"""
WITH anchors AS (
    SELECT vec_id AS anchor_id, label AS anchor_label
    FROM embeddings WHERE vec_id < {_NEG_NQ}
), cand AS (
    SELECT a.anchor_id, a.anchor_label, e.vec_id, e.label,
           {_NEG_PRI_SQL} AS pri
    FROM anchors a JOIN embeddings e ON e.label <> a.anchor_label
)
SELECT anchor_id, anchor_label, vec_id, label, rank
FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                   ORDER BY pri, vec_id) AS rank
      FROM cand)
WHERE rank <= {_NEG_K}
""",
)
def negative_sample_uniform(spark, sf_dir):
    """Uniform negative sampling for contrastive training — per anchor,
    four different-label negatives drawn pseudo-randomly but
    DETERMINISTICALLY: candidates ranked by md5(anchor:candidate), so the
    sample is uniform-ish over the negative pool yet identical on every
    run/engine (the reproducibility contract RNG-based samplers break;
    same move as weighted_sample/train_val_split). Complements
    hard_negative_mining: real batches mix uniform and hard negatives.

    Scale: the anchor set broadcasts; the corpus is scanned once and only
    (anchor, candidate-id, 8-byte priority) rows flow into the per-anchor
    top-k — no embedding payload moves, and the per-anchor window is
    keyed by anchor_id (no single-partition funnel)."""
    from mapreduce_model_spark.functions.text import md5_int32

    emb = table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < _NEG_NQ).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label")
    )
    pri = md5_int32(
        F.concat(
            F.col("anchor_id").cast("string"),
            F.lit(":"),
            F.col("vec_id").cast("string"),
        )
    )
    cand = (
        F.broadcast(anchors)
        .join(emb, F.col("label") != F.col("anchor_label"))
        .select("anchor_id", "anchor_label", "vec_id", "label", pri.alias("pri"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("anchor_id").orderBy("pri", "vec_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _NEG_K)
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            "label",
            F.col("rank").cast("long").alias("rank"),
        )
    )


_IVFPQ_KC, _IVFPQ_CI = 4, 1      # coarse cells, coarse Lloyd iterations
_IVFPQ_PI = 2                    # residual-PQ Lloyd iterations
_IVFPQ_NPROBE, _IVFPQ_NQ, _IVFPQ_TOPK = 2, 5, 3


def _ivfpq_oracle(emb: str = "embeddings", qsel: str | None = None) -> str:
    """The full IVF-PQ recurrence composed from TWO _pq_chain instances:
    a 1-subspace chain (= plain L2 Lloyd's) for the coarse quantizer and
    an 8-subspace chain over the RESIDUAL relation, then probe-ranked
    cells and the ADC tail — every engine float op mirrored. ``emb``
    parameterizes the corpus relation and ``qsel`` the query selection
    (defaults = the full-corpus parent; the sampled twin passes the
    hash-sampled relation and lowest-N-ids-in-sample)."""
    if qsel is None:
        qsel = f"FROM {emb} e WHERE vec_id < {_IVFPQ_NQ}"
    dsub = _PQ_D // _PQ_M
    coarse = _pq_chain(
        m=1,
        k=_IVFPQ_KC,
        n_iter=_IVFPQ_CI,
        sfx="cq",
        dim=_PQ_D,
        src=f"(SELECT vec_id AS vid, embedding::DOUBLE[] AS vec FROM {emb} e)",
    )
    pq = _pq_chain(
        m=_PQ_M,
        k=_PQ_K,
        n_iter=_IVFPQ_PI,
        sfx="pq",
        src="(SELECT vid, vec FROM residbase)",
        dim=_PQ_D,
    )
    cdist = (
        "list_dot_product(q.qv, q.qv) - 2 * list_dot_product(q.qv, c.ce) "
        "+ list_dot_product(c.ce, c.ce)"
    )
    return f"""
WITH {coarse}
, cells AS (
    SELECT vid, cid AS cell FROM afincq
), residbase AS (
    SELECT e.vec_id AS vid,
           list_transform(range(1, {_PQ_D + 1}),
                          i -> (e.embedding::DOUBLE[])[i] - c.ce[i]) AS vec
    FROM {emb} e
    JOIN cells ON cells.vid = e.vec_id
    JOIN c{_IVFPQ_CI}cq c ON c.cid = cells.cell AND c.s = 0
)
, {pq}
, qsel AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    {qsel}
), qcell AS (
    SELECT query_id, cell, qv FROM (
        SELECT q.query_id, c.cid AS cell, q.qv,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY {cdist} ASC, c.cid) AS rn
        FROM qsel q JOIN c{_IVFPQ_CI}cq c ON c.s = 0) t
    WHERE rn <= {_IVFPQ_NPROBE}
), qres AS (
    SELECT query_id, cell,
           list_transform(range(1, {_PQ_D + 1}),
                          i -> qv[i] - c.ce[i]) AS qrv
    FROM qcell JOIN c{_IVFPQ_CI}cq c ON c.cid = qcell.cell AND c.s = 0
), adc AS (
    SELECT q.query_id, a.vid AS vec_id, cells.cell,
           sum(list_dot_product(q.qrv[a.s*{dsub}+1 : a.s*{dsub}+{dsub}],
                                q.qrv[a.s*{dsub}+1 : a.s*{dsub}+{dsub}])
               - 2 * list_dot_product(q.qrv[a.s*{dsub}+1 : a.s*{dsub}+{dsub}],
                                      pc.ce)
               + list_dot_product(pc.ce, pc.ce)) AS adc
    FROM afinpq a
    JOIN cells ON cells.vid = a.vid
    JOIN qres q ON q.cell = cells.cell
    JOIN c{_IVFPQ_PI}pq pc ON pc.s = a.s AND pc.cid = a.cid
    WHERE a.vid <> q.query_id
    GROUP BY q.query_id, a.vid, cells.cell
)
SELECT query_id, vec_id, cell, round(adc + 1e-9, 6) AS adc, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc ASC, vec_id) AS rank
      FROM adc)
WHERE rank <= {_IVFPQ_TOPK}
"""


@query("similarity_ann_ivfpq", oracle=_ivfpq_oracle())
def similarity_ann_ivfpq(spark, sf_dir):
    """IVF-PQ — the production ANN architecture assembled end to end:
    an L2 coarse quantizer (a 1-subspace run of the SAME pq_fit loop)
    partitions the corpus into cells; each vector's RESIDUAL from its
    cell centroid is product-quantized (8×16, 2 iterations); a query
    probes its nprobe=2 nearest cells and scores ONLY those cells'
    candidates from their 8-byte codes via per-(query, cell) ADC tables
    built on the residuals. Residual encoding is why IVF-PQ beats plain
    PQ: residual magnitudes are a fraction of vector magnitudes, so the
    same 8 bytes quantize far finer. FULLY hash-checked: the oracle
    composes two instances of the unrolled PQ recurrence (coarse +
    residual) and mirrors probe ranking and the ADC tail.

    Scale: both training loops are the pq_fit shape (explode +
    algebraic-min assign, k×dim-key mean updates, literal re-entry); the
    residual pass is one narrow map over the corpus; search touches
    candidates of nprobe cells only (~nprobe/kc of the corpus) and
    carries 8-byte codes, not vectors. The only search exchange is the
    query-keyed top-k window. Measured floor: ~9 s FLAT across
    sf0.001/0.01/0.1 (the vector table is 2000 rows at every sf) — the
    wall time is whole-stage-codegen compilation of the wide unrolled
    expressions plus ~7 job launches, zero of it data-dependent; at real
    scale those fixed costs amortize to nothing while the per-row work
    stays codegen. Index build is _ivfpq_train, as in
    ivfpq_recall_report."""
    emb = table(spark, sf_dir, "embeddings")
    return _ivfpq_search_frame(
        spark,
        emb.filter(F.col("vec_id") < _IVFPQ_NQ),
        *_ivfpq_train(spark, sf_dir),
    )


@query(
    "ivfpq_sampled",
    oracle=_ivfpq_oracle(
        emb=_EMB_SAMPLED,
        qsel=f"FROM {_EMB_SAMPLED} s ORDER BY vec_id LIMIT {_IVFPQ_NQ}",
    ),
)
def ivfpq_sampled(spark, sf_dir):
    """similarity_ann_ivfpq over the hash-sampled sub-corpus — the
    IVF-PQ search face that stays hash-checked at gen-sf1, where the
    parent's composed coarse+residual unrolled-Lloyd oracle exceeds the
    sweep budget at 500k vectors (see kmeans_sampled). Queries are the
    lowest vec_ids IN the sample; below the 64k cap the twin equals the
    parent exactly. Index build is _ivfpq_train's sampled build, as in
    ivfpq_recall_sampled."""
    emb = sample_frame(table(spark, sf_dir, "embeddings"), "vec_id")
    return _ivfpq_search_frame(
        spark,
        emb.orderBy("vec_id").limit(_IVFPQ_NQ),
        *_ivfpq_train(spark, sf_dir, sampled=True),
    )


def _ivfpq_search_frame(spark, qemb, cand, cc, pcents):
    """Shared engine tail of similarity_ann_ivfpq and its sampled twin:
    probe-ranked cells + per-(query, cell) residual ADC tables from the
    query frame, broadcast join on cell, per-query top-k."""
    from mapreduce_model_spark.operators.similarity import py_ldot as ldot

    ve = F.col("embedding").cast("array<double>")
    d_sub = _PQ_D // _PQ_M
    qrows = qemb.select("vec_id", ve.alias("v")).collect()
    probe_rows = []
    for r in qrows:
        q = list(r["v"])
        qq = ldot(q, q)
        ranked = sorted(
            (qq - 2 * ldot(q, c) + ldot(c, c), ci) for ci, c in enumerate(cc)
        )
        for _, ci in ranked[:_IVFPQ_NPROBE]:
            qr = [q[p] - cc[ci][p] for p in range(_PQ_D)]
            tbl = []
            for s in range(_PQ_M):
                qs = qr[s * d_sub : (s + 1) * d_sub]
                qsqs = ldot(qs, qs)
                tbl.append(
                    [
                        qsqs - 2 * ldot(qs, pce) + ldot(pce, pce)
                        for pce in pcents[s]
                    ]
                )
            probe_rows.append((r["vec_id"], ci, tbl))
    qdf = spark.createDataFrame(
        probe_rows, "query_id long, cell int, tbl array<array<double>>"
    )

    adc = F.lit(0.0)
    for s in range(_PQ_M):
        adc = adc + F.element_at(
            F.element_at("tbl", s + 1), F.element_at("codes", s + 1) + 1
        )
    scored = (
        cand.join(F.broadcast(qdf), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "cell", adc.alias("adc"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IVFPQ_TOPK)
        .select(
            "query_id",
            "vec_id",
            "cell",
            rnd(F.col("adc"), 6).alias("adc"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


_IVFPQR_NQ, _IVFPQR_K = 20, 10   # recall-report queries, recall@K


def _ivfpq_recall_oracle(
    emb: str = "embeddings", qsel: str | None = None
) -> str:
    """Recall face of the IVF-PQ recurrence: the SAME two composed
    _pq_chain instances as _ivfpq_oracle, but every query ranks ALL kc
    cells (cell_rank), ADC candidates carry the rank of their own cell in
    the query's probe order, and hits are re-ranked per (query, nprobe)
    for every nprobe in 1..kc against the exact-L2 cross-join truth.
    ``emb``/``qsel`` parameterize corpus and query selection exactly as
    in _ivfpq_oracle."""
    if qsel is None:
        qsel = f"FROM {emb} e WHERE vec_id < {_IVFPQR_NQ}"
    dsub = _PQ_D // _PQ_M
    coarse = _pq_chain(
        m=1,
        k=_IVFPQ_KC,
        n_iter=_IVFPQ_CI,
        sfx="cq",
        dim=_PQ_D,
        src=f"(SELECT vec_id AS vid, embedding::DOUBLE[] AS vec FROM {emb} e)",
    )
    pq = _pq_chain(
        m=_PQ_M,
        k=_PQ_K,
        n_iter=_IVFPQ_PI,
        sfx="pq",
        src="(SELECT vid, vec FROM residbase)",
        dim=_PQ_D,
    )
    cdist = (
        "list_dot_product(q.qv, q.qv) - 2 * list_dot_product(q.qv, c.ce) "
        "+ list_dot_product(c.ce, c.ce)"
    )
    sl = f"q.qrv[a.s*{dsub}+1 : a.s*{dsub}+{dsub}]"
    return f"""
WITH {coarse}
, cells AS (
    SELECT vid, cid AS cell FROM afincq
), residbase AS (
    SELECT e.vec_id AS vid,
           list_transform(range(1, {_PQ_D + 1}),
                          i -> (e.embedding::DOUBLE[])[i] - c.ce[i]) AS vec
    FROM {emb} e
    JOIN cells ON cells.vid = e.vec_id
    JOIN c{_IVFPQ_CI}cq c ON c.cid = cells.cell AND c.s = 0
)
, {pq}
, qsel AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
    {qsel}
), qcell AS (
    SELECT q.query_id, c.cid AS cell, q.qv,
           row_number() OVER (PARTITION BY q.query_id
               ORDER BY {cdist} ASC, c.cid) AS cell_rank
    FROM qsel q JOIN c{_IVFPQ_CI}cq c ON c.s = 0
), qres AS (
    SELECT query_id, cell, cell_rank,
           list_transform(range(1, {_PQ_D + 1}),
                          i -> qv[i] - c.ce[i]) AS qrv
    FROM qcell JOIN c{_IVFPQ_CI}cq c ON c.cid = qcell.cell AND c.s = 0
), adcall AS (
    SELECT q.query_id, a.vid AS vec_id, q.cell_rank,
           sum(list_dot_product({sl}, {sl})
               - 2 * list_dot_product({sl}, pc.ce)
               + list_dot_product(pc.ce, pc.ce)) AS adc
    FROM afinpq a
    JOIN cells ON cells.vid = a.vid
    JOIN qres q ON q.cell = cells.cell
    JOIN c{_IVFPQ_PI}pq pc ON pc.s = a.s AND pc.cid = a.cid
    WHERE a.vid <> q.query_id
    GROUP BY q.query_id, a.vid, q.cell_rank
), probes AS (
    SELECT unnest(range(1, {_IVFPQ_KC + 1})) AS nprobe
), hits AS (
    SELECT nprobe, query_id, vec_id FROM (
        SELECT p.nprobe, a.query_id, a.vec_id,
               row_number() OVER (PARTITION BY a.query_id, p.nprobe
                   ORDER BY a.adc ASC, a.vec_id) AS rn
        FROM adcall a JOIN probes p ON a.cell_rank <= p.nprobe) t
    WHERE rn <= {_IVFPQR_K}
), ev AS (
    SELECT vec_id, embedding::DOUBLE[] AS ve FROM {emb} e
), truth AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, c.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                   ORDER BY list_dot_product(c.ve, c.ve)
                            - 2 * list_dot_product(q.qv, c.ve) ASC,
                            c.vec_id) AS rn
        FROM qsel q CROSS JOIN ev c WHERE c.vec_id <> q.query_id) t
    WHERE rn <= {_IVFPQR_K}
)
SELECT p.nprobe,
       CAST(count(*) AS BIGINT) AS n_truth,
       CAST(count(h.vec_id) AS BIGINT) AS n_hit,
       CAST(sum(CASE WHEN a.cell_rank <= p.nprobe THEN 1 ELSE 0 END)
            AS BIGINT) AS n_cov,
       round(count(h.vec_id)::DOUBLE / count(*) + 1e-9, 4) AS recall,
       round(sum(CASE WHEN a.cell_rank <= p.nprobe THEN 1 ELSE 0 END)::DOUBLE
             / count(*) + 1e-9, 4) AS coverage
FROM truth t CROSS JOIN probes p
LEFT JOIN hits h ON h.nprobe = p.nprobe AND h.query_id = t.query_id
                AND h.vec_id = t.vec_id
LEFT JOIN adcall a ON a.query_id = t.query_id AND a.vec_id = t.vec_id
GROUP BY p.nprobe
"""


@query("ivfpq_recall_report", oracle=_ivfpq_recall_oracle())
def ivfpq_recall_report(spark, sf_dir):
    """The production ANN path's quality audit AS a query (the last gate
    that lacked one — sign-LSH has ann_recall_report, the dedup gates have
    per-decile recall reports): recall@10 of IVF-PQ search at EVERY
    nprobe in 1..kc against the exact-L2 brute-force truth, aggregated
    over 20 queries. One row per nprobe — the curve a user reads to tune
    nprobe. Two losses are SEPARATED: ``coverage`` (fraction of true
    neighbors whose cell is among the probed cells — monotone in nprobe
    by construction, exactly 1.0 at nprobe=kc) is the probe-miss loss
    alone; ``recall`` adds quantization loss on top (NOT necessarily
    monotone: widening the candidate set can displace true neighbors
    from the approximate-ADC top-k — measured 62→60 hits from nprobe
    3→4 at sf0.01). A user reads coverage≈1 but recall≪1 as "increase
    m/k, not nprobe". FULLY hash-checked: the oracle
    composes the same two unrolled PQ recurrences as similarity_ann_ivfpq
    plus an exact cross-join truth; ONE ADC pass covers all nprobe values
    because a candidate's score is nprobe-independent — only the
    candidate SET grows with nprobe (cell_rank ≤ nprobe).

    Scale: index build is similarity_ann_ivfpq's _ivfpq_train; the
    query side (20 × kc probe tables) broadcasts; the scored frame
    carries 8-byte codes; truth is the broadcast-queries brute pass (no
    corpus shuffle); the per-(query, nprobe) top-k windows are keyed, no
    single-partition funnel. On a real corpus this runs on a sampled
    query set — the shape is already that."""
    emb = table(spark, sf_dir, "embeddings")
    return _ivfpq_recall_frame(
        spark,
        emb,
        emb.filter(F.col("vec_id") < _IVFPQR_NQ),
        *_ivfpq_train(spark, sf_dir),
    )


@query(
    "ivfpq_recall_sampled",
    oracle=_ivfpq_recall_oracle(
        emb=_EMB_SAMPLED,
        qsel=f"FROM {_EMB_SAMPLED} s ORDER BY vec_id LIMIT {_IVFPQR_NQ}",
    ),
)
def ivfpq_recall_sampled(spark, sf_dir):
    """ivfpq_recall_report over the hash-sampled sub-corpus — the
    recall@10-vs-nprobe curve that stays hash-checked at gen-sf1
    (truth, index, and query set all restricted to the SAME
    deterministic sample on both engines; see kmeans_sampled). Below
    the 64k cap, on gap-free 0-based ids, the twin equals the parent
    exactly. Index build is _ivfpq_train's sampled build, as in
    ivfpq_sampled."""
    emb = sample_frame(table(spark, sf_dir, "embeddings"), "vec_id")
    return _ivfpq_recall_frame(
        spark,
        emb,
        _lowest_ids_frame(emb, _IVFPQR_NQ),
        *_ivfpq_train(spark, sf_dir, sampled=True),
    )


def _ivfpq_recall_frame(spark, emb, qemb, cand, cc, pcents):
    """Shared engine tail of ivfpq_recall_report and its sampled twin:
    all-cells probe tables per query, nprobe-expanded top-k hits, and the
    exact-L2 broadcast-queries truth of ``qemb`` over ``emb``."""
    from mapreduce_model_spark.operators.similarity import dot, py_ldot as ldot
    from pyspark.sql import Window

    ve = F.col("embedding").cast("array<double>")
    d_sub = _PQ_D // _PQ_M
    qrows = qemb.select("vec_id", ve.alias("v")).collect()
    probe_rows = []
    for r in qrows:
        q = list(r["v"])
        qq = ldot(q, q)
        ranked = sorted(
            (qq - 2 * ldot(q, c) + ldot(c, c), ci) for ci, c in enumerate(cc)
        )
        for rank0, (_, ci) in enumerate(ranked):
            qr = [q[p] - cc[ci][p] for p in range(_PQ_D)]
            tbl = []
            for s in range(_PQ_M):
                qs = qr[s * d_sub : (s + 1) * d_sub]
                qsqs = ldot(qs, qs)
                tbl.append(
                    [
                        qsqs - 2 * ldot(qs, pce) + ldot(pce, pce)
                        for pce in pcents[s]
                    ]
                )
            probe_rows.append((r["vec_id"], ci, rank0 + 1, tbl))
    qdf = spark.createDataFrame(
        probe_rows,
        "query_id long, cell int, cell_rank int, tbl array<array<double>>",
    )

    adc = F.lit(0.0)
    for s in range(_PQ_M):
        adc = adc + F.element_at(
            F.element_at("tbl", s + 1), F.element_at("codes", s + 1) + 1
        )
    scored = (
        cand.join(F.broadcast(qdf), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "cell_rank", adc.alias("adc"))
    )
    probes = spark.range(1, _IVFPQ_KC + 1).select(F.col("id").alias("nprobe"))
    w = Window.partitionBy("query_id", "nprobe").orderBy(
        F.col("adc").asc(), "vec_id"
    )
    hits = (
        scored.join(F.broadcast(probes), F.col("cell_rank") <= F.col("nprobe"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _IVFPQR_K)
        .select("nprobe", "query_id", "vec_id", F.lit(1).alias("hit"))
    )

    # exact-L2 truth: queries broadcast, corpus scanned once; the ranking
    # key drops the per-query constant q·q (argmin unchanged) — the SAME
    # reduced expression as the oracle's ORDER BY
    qfr = qemb.select(F.col("vec_id").alias("query_id"), ve.alias("qv"))
    cfr = emb.select("vec_id", ve.alias("cv"))
    d = dot(F.col("cv"), F.col("cv")) - F.lit(2.0) * dot(F.col("qv"), F.col("cv"))
    wt = Window.partitionBy("query_id").orderBy(F.col("d").asc(), "vec_id")
    truth = (
        F.broadcast(qfr)
        .crossJoin(cfr)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", d.alias("d"))
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= _IVFPQR_K)
        .select("query_id", "vec_id")
    )

    # coverage side: one row per (query, candidate) with the rank of the
    # candidate's cell in the query's probe order — a true neighbor is
    # "covered" at nprobe n iff that rank ≤ n (every truth pair has a row:
    # all kc cells carry probe entries)
    cov = scored.select("query_id", "vec_id", "cell_rank")
    joined = (
        truth.crossJoin(F.broadcast(probes))
        .join(hits, ["nprobe", "query_id", "vec_id"], "left")
        .join(cov, ["query_id", "vec_id"], "left")
    )
    n_hit = F.sum(F.coalesce("hit", F.lit(0)))
    n_cov = F.sum(
        F.when(F.col("cell_rank") <= F.col("nprobe"), 1).otherwise(0)
    )
    n = F.count(F.lit(1))
    return joined.groupBy("nprobe").agg(
        n.alias("n_truth"),
        n_hit.cast("long").alias("n_hit"),
        n_cov.cast("long").alias("n_cov"),
        rnd(n_hit / n, 4).alias("recall"),
        rnd(n_cov / n, 4).alias("coverage"),
    )
