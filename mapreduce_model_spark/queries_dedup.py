"""Deduplication queries — exact, MinHash signatures, MinHash-LSH near-dup
pairs, SimHash, exact n-gram Jaccard. All oracle-checkable: every hash is
md5-derived so DuckDB reproduces the identical integers (functions.text).

The oracle SQL is generated from the same constants (permutation params,
band geometry, thresholds) as the Spark plans — one source of truth.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_model_spark.functions.dedup_sql import (  # noqa: F401 — constants + SQL factories re-exported for tests and siblings
    BANDS,
    JACCARD_THRESHOLD,
    K,
    LSH_THRESHOLD,
    MAX_BUCKET,
    MAX_SHINGLE_DF,
    OPH_SIG_SQL,
    ROWS,
    SHINGLE_K,
    SIMHASH_BITS,
    SIG_SQL as _SIG_SQL,
    banding_cte,
    components_cte,
    lsh_cte,
    shingle_cte,
    words_sql,
)
from mapreduce_model_spark.operators.dedup import (
    dedup_exact,
    jaccard_decile_pairs,
    lsh_near_dup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    oph_signatures,
    oph_signatures_array,
    simhash,
)
from mapreduce_model_spark.functions.sampling import (
    LSH_RECALL_SAMPLE_CAP,
    RECALL_SAMPLE_CAP,
    duck_sample_cte,
    duck_sample_cte_fine,
    sample_frame,
    sample_frame_fine,
)
from mapreduce_model_spark.functions.text import C_SPACE
from mapreduce_model_spark.registry import query, table

# Unsuffixed instances over the raw documents table — the shapes every
# dedup oracle below builds on.
_SHX = "\nWITH " + shingle_cte() + "\n"


@query(
    "dedup_exact",
    oracle=f"""
WITH h AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '{C_SPACE}+', ' ', 'g'))) AS text_hash
    FROM documents
), ranked AS (
    SELECT doc_id, text_hash,
           row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn,
           count(*)     OVER (PARTITION BY text_hash)                 AS group_size
    FROM h
)
SELECT doc_id, text_hash, group_size FROM ranked WHERE rn = 1
""",
)
def q_dedup_exact(spark, sf_dir):
    return dedup_exact(table(spark, sf_dir, "documents"))


@query(
    "dedup_minhash_sig",
    oracle=_SHX + f"""
SELECT doc_id, array_to_string({_SIG_SQL}, ',') AS sig
FROM shx GROUP BY doc_id
""",
)
def q_minhash_sig(spark, sf_dir):
    """Per-doc MinHash signature (k=32, md5-derived — byte-identical in
    DuckDB, a fully checkable sketch). Joined to a comma string so the
    driver's value hash never touches an array column."""
    sig = minhash_signatures(
        table(spark, sf_dir, "documents"), k=K, shingle_k=SHINGLE_K
    )
    return sig.select(
        "doc_id",
        F.array_join(F.transform("sig", lambda x: x.cast("string")), ",").alias("sig"),
    )


_LSH_CORE = "\nWITH " + lsh_cte() + "\n"


@query(
    "dedup_near_minhash",
    oracle=_LSH_CORE + f"""
SELECT id_a, id_b, round(1e-9 + est_jaccard, 4) AS est_jaccard
FROM est WHERE est_jaccard >= {LSH_THRESHOLD}
""",
)
def q_near_minhash(spark, sf_dir):
    """MinHash-LSH near-duplicate pairs (8 bands × 4 rows, est-J ≥ 0.5)."""
    return _mh_pairs(table(spark, sf_dir, "documents"))


def _mh_pairs(docs):
    """The MinHash-LSH pair frame at the family constants — the pair
    build of dedup_near_minhash, dedup_clusters, split_leakage,
    dedup_cross_source and dedup_cluster_quality."""
    return lsh_near_dup_pairs(
        minhash_signatures(docs, k=K, shingle_k=SHINGLE_K),
        bands=BANDS,
        rows=ROWS,
        threshold=LSH_THRESHOLD,
        max_bucket=MAX_BUCKET,
    )


def _oph_oracle() -> str:
    """Closed-form bin-min + rotation densification as generated SQL
    (functions.dedup_sql.OPH_SIG_SQL — the same constants as
    operators.dedup.oph_signatures, one source of truth; see its
    docstring for why the min IS the densification)."""
    return _SHX + f"""SELECT doc_id, array_to_string({OPH_SIG_SQL}, ',') AS sig
FROM shx GROUP BY doc_id
"""


@query("dedup_minhash_oph", oracle=_oph_oracle())
def q_minhash_oph(spark, sf_dir):
    """One-permutation-hashing MinHash signature (k=32 bins, rotation
    densification) — the production-scale MinHash: ONE md5 per shingle
    instead of k=32 linear congruences, cutting the map-side hash CPU
    k-fold while keeping the same explode+groupBy plan shape and the same
    per-bin collision estimator (agreement ≈ Jaccard, pinned in tests).
    Fully hash-checked — every densified value is md5-derived arithmetic
    DuckDB reproduces bit-identically, empty-bin borrowing included."""
    sig = oph_signatures(
        table(spark, sf_dir, "documents"), k=K, shingle_k=SHINGLE_K
    )
    return sig.select(
        "doc_id",
        F.concat_ws(
            ",", *[F.col(f"h{i}").cast("string") for i in range(K)]
        ).alias("sig"),
    )


@query(
    "dedup_near_oph",
    oracle="\nWITH "
    + shingle_cte()
    + f"""
, osig AS (
    SELECT doc_id, {OPH_SIG_SQL} AS sig FROM shx GROUP BY doc_id
), """
    + banding_cte("osig")
    + f"""
SELECT id_a, id_b, round(1e-9 + est_jaccard, 4) AS est_jaccard
FROM est WHERE est_jaccard >= {LSH_THRESHOLD}
""",
)
def q_near_oph(spark, sf_dir):
    """The full near-dup pair pipeline running on ONE-PERMUTATION
    signatures — proof the k-fold-cheaper sketch is a drop-in for the
    banded-LSH machinery: same band geometry, same hot-bucket cap, same
    estimator (bin agreement ≈ Jaccard), via the same lsh_near_dup_pairs
    operator and the shared banding_cte SQL tail. At 100 TB this is the
    configuration you'd actually run: OPH signatures upstream, identical
    candidate generation downstream."""
    sig_arr = oph_signatures_array(
        table(spark, sf_dir, "documents"), k=K, shingle_k=SHINGLE_K
    )
    return lsh_near_dup_pairs(
        sig_arr, bands=BANDS, rows=ROWS, threshold=LSH_THRESHOLD, max_bucket=MAX_BUCKET
    )


# Blocked exact-Jaccard ground truth with the INTEGER-EXACT decile label —
# the single SQL source of truth shared by lsh_recall_report and
# simhash_recall_report (twin of operators.dedup.jaccard_decile_pairs).
_TRUTH_CTES = f"""
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM shx GROUP BY doc_id),
dfq AS (SELECT x, count(*) AS dfx FROM shx GROUP BY x),
rare AS (SELECT shx.doc_id, shx.x FROM shx JOIN dfq USING (x) WHERE dfx <= {MAX_SHINGLE_DF}),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM rare a JOIN rare b USING (x) WHERE a.doc_id < b.doc_id
), inter AS (
    -- candidate-driven (identical rows: truth inner-joins cand, and every
    -- cand pair shares >= 1 rare shingle so it always has an inter row);
    -- the unconditioned shx self-join on x is Sigma df^2 rows — quadratic
    -- in corpus size once shingle DF grows, unrunnable at 500k docs —
    -- while this form is |cand| x shingles-per-doc, mirroring the
    -- engine's array_intersect-over-candidates shape
    SELECT cand.id_a, cand.id_b, count(*) AS n_inter
    FROM cand
    JOIN shx a ON a.doc_id = cand.id_a
    JOIN shx b ON b.doc_id = cand.id_b AND b.x = a.x
    GROUP BY 1, 2
), truth AS (
    SELECT cand.id_a, cand.id_b,
           (10 * n_inter) // (sa.n_sh + sb.n_sh - n_inter) AS j_decile
    FROM cand
    JOIN inter USING (id_a, id_b)
    JOIN sizes sa ON sa.doc_id = cand.id_a
    JOIN sizes sb ON sb.doc_id = cand.id_b
    WHERE 2 * n_inter >= sa.n_sh + sb.n_sh - n_inter
)"""

def _recall_oracle(pre: str = "", src: str = "documents") -> str:
    """The lsh_recall_report oracle, parameterized on the doc relation so
    the full-corpus parent and the hash-sampled twin (functions/sampling)
    share one WITH chain — ``pre`` prepends the sampled-relation CTE."""
    return (
        "\nWITH "
        + pre
        + shingle_cte(src)
        + _TRUTH_CTES
        + f"""
, sig AS (
    SELECT doc_id, {_SIG_SQL} AS sig FROM shx GROUP BY doc_id
), """
        + banding_cte("sig")
        + f"""
, mh AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= {LSH_THRESHOLD}),
osig AS (SELECT doc_id, {OPH_SIG_SQL} AS sig FROM shx GROUP BY doc_id),
"""
        + banding_cte("osig", "o")
        + f"""
SELECT t.j_decile,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(count(mh.id_a) AS BIGINT) AS n_hit_minhash,
       CAST(count(oph.id_a) AS BIGINT) AS n_hit_oph,
       round(count(mh.id_a)::DOUBLE / count(*) + 1e-9, 4) AS recall_minhash,
       round(count(oph.id_a)::DOUBLE / count(*) + 1e-9, 4) AS recall_oph
FROM truth t
LEFT JOIN mh ON mh.id_a = t.id_a AND mh.id_b = t.id_b
LEFT JOIN (SELECT id_a, id_b FROM esto WHERE est_jaccard >= {LSH_THRESHOLD}) oph
       ON oph.id_a = t.id_a AND oph.id_b = t.id_b
GROUP BY t.j_decile
"""
    )


def _lsh_recall_frame(docs):
    """Shared engine body of lsh_recall_report and its sampled twin —
    identical pipeline, parameterized only on the doc frame.

    r12: hash the corpus ONCE. All three pipelines (truth, MinHash, OPH)
    derive from the same per-doc shingle-hash SETS, so the tokenize +
    shingle + md5 front end — previously run once per pipeline — is built
    once, persisted as the per-doc ARRAY frame (|docs| rows, the frame
    _blocked_pair_intersections persisted anyway), and the signature
    aggregates re-explode the cached integer arrays. Values are identical
    by construction: both signature forms are set-based mins over the
    same distinct hashes (operators/dedup.py docstrings). This is NOT the
    rejected r-earlier experiment, which persisted the EXPLODED
    |docs|×|shingles| row frame and lost to the cache write."""
    from mapreduce_model_spark.operators.dedup import shingle_set_arrays

    # read by the truth's pair engine and both signature pipelines
    sets = shingle_set_arrays(docs, k=SHINGLE_K).persist()
    truth = jaccard_decile_pairs(
        docs, shingle_k=SHINGLE_K, max_shingle_df=MAX_SHINGLE_DF, sets=sets
    )
    shx = sets.select("doc_id", F.explode("xs").alias("x"))
    mh = lsh_near_dup_pairs(
        minhash_signatures(docs, k=K, shingle_k=SHINGLE_K, shingle_hashes=shx),
        bands=BANDS,
        rows=ROWS,
        threshold=LSH_THRESHOLD,
        max_bucket=MAX_BUCKET,
    ).select("id_a", "id_b", F.lit(1).alias("hit_mh"))
    oph = lsh_near_dup_pairs(
        oph_signatures_array(
            docs, k=K, shingle_k=SHINGLE_K, shingle_hashes=shx
        ),
        bands=BANDS,
        rows=ROWS,
        threshold=LSH_THRESHOLD,
        max_bucket=MAX_BUCKET,
    ).select("id_a", "id_b", F.lit(1).alias("hit_oph"))
    joined = truth.join(mh, ["id_a", "id_b"], "left").join(
        oph, ["id_a", "id_b"], "left"
    )
    n = F.count(F.lit(1))
    hm = F.sum(F.coalesce("hit_mh", F.lit(0)))
    ho = F.sum(F.coalesce("hit_oph", F.lit(0)))
    return joined.groupBy("j_decile").agg(
        n.cast("long").alias("n_true"),
        hm.cast("long").alias("n_hit_minhash"),
        ho.cast("long").alias("n_hit_oph"),
        F.round(hm / n + 1e-9, 4).alias("recall_minhash"),
        F.round(ho / n + 1e-9, 4).alias("recall_oph"),
    )


@query("lsh_recall_report", oracle=_recall_oracle())
def q_lsh_recall_report(spark, sf_dir):
    """Measure, don't guess — the DEDUP quality audit AS a query (the
    minhash-side sibling of ann_recall_report): per-Jaccard-decile recall
    of BOTH banded-LSH pair generators (classic 32-permutation MinHash
    and one-permutation OPH) against the blocked exact-Jaccard ground
    truth. This is the continuously-computed S-curve every dedup tuner
    reasons from — it shows, with numbers, that recall climbs with true
    Jaccard (the banding S-curve) and that the k-fold-cheaper OPH sketch
    buys its CPU saving at measurable, bounded recall cost.

    Hash-checked end to end because every input is integer-exact: the
    truth-side threshold (2·|A∩B| ≥ |A∪B|) and decile label
    ((10·|A∩B|) div |A∪B|) are integer arithmetic (operators.dedup.
    jaccard_decile_pairs), both estimators are md5-derived integers, and
    the recalls are count ratios.

    Ground-truth contract: "exact" = rare-shingle-blocked exact Jaccard
    (same recall caveat as dedup_ngram_jaccard — pairs sharing no rare
    shingle are invisible to the truth side too, documented there).

    Scale: all three pair generators are the bucket equi-joins audited
    elsewhere (never all-pairs); the recall join runs on pair-table rows.
    On a 100 TB corpus this runs over a sampled partition of the corpus —
    the shape is already that."""
    # Measured alternative, rejected: persisting ONE shared shingle-hash
    # frame (doc_shingle_hashes) across the three pipelines benches 5.8 s
    # vs 4.8 s for the independent form at sf0.1 — the cache write of the
    # exploded |docs|×|shingles| frame costs more than the three
    # codegen-fused tokenize+md5 scan stages it saves (same codegen-beats-
    # sharing economics as minhash_signatures' rejected narrow form). The
    # report deliberately costs the sum of its three audited parts.
    return _lsh_recall_frame(table(spark, sf_dir, "documents"))


@query(
    "lsh_recall_sampled",
    oracle=_recall_oracle(
        pre=duck_sample_cte_fine(
            "documents", "doc_id", "docsample", cap=LSH_RECALL_SAMPLE_CAP
        )
        + ",\n",
        src="docsample",
    ),
)
def q_lsh_recall_sampled(spark, sf_dir):
    """lsh_recall_report over the deterministic hash-sampled sub-corpus
    (functions/sampling — full corpus below 64k docs, pinned-size sample
    above). This is the face that stays HASH-CHECKED at gen-sf1: the
    parent's blocked exact-Jaccard truth oracle spills >37 GiB at 500k
    docs, while the sampled truth stays at the proven gen-sf0.1 cost.
    Identical pipeline (shared _lsh_recall_frame / _recall_oracle) —
    only the doc relation differs, and it differs identically on both
    engines. At 100 TB the sampled audit IS the production audit; the
    parent is the exhaustive small-scale exemplar."""
    docs = table(spark, sf_dir, "documents")
    return _lsh_recall_frame(
        sample_frame_fine(docs, "doc_id", cap=LSH_RECALL_SAMPLE_CAP)
    )


def _simhash_sql(src: str = "documents") -> str:
    vs = ",\n           ".join(
        f"sum(tf * (2 * ((x >> {i}) & 1) - 1)) AS v{i}" for i in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    return rf"""
WITH wbase AS (
    SELECT doc_id,
           {words_sql()} AS words
    FROM {src}
), w AS (SELECT doc_id, unnest(words) AS word FROM wbase),
tf AS (
    SELECT doc_id, word, count(*) AS tf,
           ('0x' || substr(md5(word), 1, 8))::BIGINT AS x
    FROM w GROUP BY doc_id, word
), vs AS (
    SELECT doc_id,
           {vs}
    FROM tf GROUP BY doc_id
)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM vs
"""


@query("dedup_simhash", oracle=_simhash_sql())
def q_simhash(spark, sf_dir):
    """TF-weighted 32-bit SimHash per doc — no pair join, the cheapest
    near-dup signal at scale; hamming-distance pairing is done downstream
    (tests cover the property: identical docs → identical hash)."""
    return simhash(table(spark, sf_dir, "documents"), bits=SIMHASH_BITS)


_SIMHASH_MAX_HAM, _SIMHASH_MAX_BLOCK = 3, 500


def _simhash_pairs_oracle() -> str:
    """Pigeonhole block join + exact popcount over the nested simhash
    CTE — every predicate is integer arithmetic, so even the SELECTION
    hash-checks (no float anywhere)."""
    nb = _SIMHASH_MAX_HAM + 1
    width = SIMHASH_BITS // nb
    mask = (1 << width) - 1
    return f"""
WITH sh AS ({_simhash_sql()}), blocks AS (
    SELECT doc_id, simhash, t.i::INTEGER AS bi,
           (simhash >> ({width} * t.i)) & {mask} AS bv
    FROM sh CROSS JOIN range(0, {nb}) t(i)
), sizes AS (
    SELECT bi, bv, count(*) AS n FROM blocks GROUP BY bi, bv
), capped AS (
    SELECT b.* FROM blocks b JOIN sizes USING (bi, bv)
    WHERE n <= {_SIMHASH_MAX_BLOCK}
), pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.simhash AS h_a, b.simhash AS h_b
    FROM capped a JOIN capped b USING (bi, bv)
    WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(h_a, h_b)) <= {_SIMHASH_MAX_HAM}
"""


@query("dedup_simhash_pairs", oracle=_simhash_pairs_oracle())
def q_simhash_pairs(spark, sf_dir):
    """The pairing step dedup_simhash's docstring defers — near-dup pairs
    within hamming ≤ 3 of the 32-bit SimHash, candidates from the
    pigeonhole byte-block equi-join (two hashes within d bits MUST agree
    on one of d+1 blocks, so the block join is lossless; Manku et al.'s
    web-dedup recipe). Every predicate is exact integer arithmetic
    (shift/xor/popcount) — selection AND values hash-check.

    Scale: no pair exists outside a shared (block index, value) key, so
    the pairwise work is per-block-bounded and hot degenerate blocks are
    dropped (max_block — the LSH max_bucket argument); the hash frame is
    |docs|-sized, the join carries (id, 8-byte hash) only."""
    from mapreduce_model_spark.operators.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(
        table(spark, sf_dir, "documents"),
        bits=SIMHASH_BITS,
        max_hamming=_SIMHASH_MAX_HAM,
        max_block=_SIMHASH_MAX_BLOCK,
    )


def _simhash_recall_oracle(pre: str = "", src: str = "documents") -> str:
    """Truth CTEs + the pigeonhole SimHash pairing (same constants as
    _simhash_pairs_oracle, block CTEs renamed to avoid colliding with the
    truth chain's names) + the per-decile recall roll-up. Parameterized
    on the doc relation so the parent and the hash-sampled twin share
    one WITH chain."""
    nb = _SIMHASH_MAX_HAM + 1
    width = SIMHASH_BITS // nb
    mask = (1 << width) - 1
    return (
        "\nWITH "
        + pre
        + shingle_cte(src)
        + _TRUTH_CTES
        + f"""
, sh2 AS ({_simhash_sql(src)}), blk AS (
    SELECT doc_id, simhash, t.i::INTEGER AS bi,
           (simhash >> ({width} * t.i)) & {mask} AS bv
    FROM sh2 CROSS JOIN range(0, {nb}) t(i)
), bsz AS (
    SELECT bi, bv, count(*) AS n FROM blk GROUP BY bi, bv
), bcap AS (
    SELECT b.* FROM blk b JOIN bsz USING (bi, bv) WHERE n <= {_SIMHASH_MAX_BLOCK}
), spairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.simhash AS h_a, b.simhash AS h_b
    FROM bcap a JOIN bcap b USING (bi, bv) WHERE a.doc_id < b.doc_id
), hits AS (
    SELECT id_a, id_b FROM spairs
    WHERE bit_count(xor(h_a, h_b)) <= {_SIMHASH_MAX_HAM}
)
SELECT t.j_decile,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(count(h.id_a) AS BIGINT) AS n_hit_simhash,
       round(count(h.id_a)::DOUBLE / count(*) + 1e-9, 4) AS recall_simhash
FROM truth t
LEFT JOIN hits h ON h.id_a = t.id_a AND h.id_b = t.id_b
GROUP BY t.j_decile
"""
    )


def _simhash_recall_frame(docs):
    """Shared engine body of simhash_recall_report and its sampled twin:
    the blocked exact-Jaccard truth of lsh_recall_report against the
    hamming ≤ 3 SimHash gate."""
    from mapreduce_model_spark.operators.dedup import simhash_hamming_pairs

    truth = jaccard_decile_pairs(
        docs, shingle_k=SHINGLE_K, max_shingle_df=MAX_SHINGLE_DF
    )
    hits = simhash_hamming_pairs(
        docs,
        bits=SIMHASH_BITS,
        max_hamming=_SIMHASH_MAX_HAM,
        max_block=_SIMHASH_MAX_BLOCK,
    ).select("id_a", "id_b", F.lit(1).alias("hit"))
    joined = truth.join(hits, ["id_a", "id_b"], "left")
    n = F.count(F.lit(1))
    h = F.sum(F.coalesce("hit", F.lit(0)))
    return joined.groupBy("j_decile").agg(
        n.cast("long").alias("n_true"),
        h.cast("long").alias("n_hit_simhash"),
        F.round(h / n + 1e-9, 4).alias("recall_simhash"),
    )


@query("simhash_recall_report", oracle=_simhash_recall_oracle())
def q_simhash_recall_report(spark, sf_dir):
    """Completes the recall-audit family (ann_recall_report for
    embeddings, lsh_recall_report for MinHash/OPH): what fraction of
    TRUE Jaccard near-dups does the hamming ≤ 3 SimHash gate recover,
    per Jaccard decile? SimHash approximates COSINE over tf-weighted
    token vectors — a different geometry than set Jaccard — so its
    recall against Jaccard truth is the number a pipeline that uses
    SimHash as its cheap first gate (it is the cheapest sketch: pure
    aggregation, no shingle explosion) must actually measure rather
    than assume. Hash-checked end to end: truth is integer arithmetic
    (jaccard_decile_pairs), the gate is shift/xor/popcount.

    Scale: same shapes as the parents — blocked truth join, pigeonhole
    block equi-join, recall join on pair-table rows; run over a sampled
    partition at 100 TB."""
    return _simhash_recall_frame(table(spark, sf_dir, "documents"))


@query(
    "simhash_recall_sampled",
    oracle=_simhash_recall_oracle(
        pre=duck_sample_cte(
            "documents", "doc_id", "docsample", cap=RECALL_SAMPLE_CAP
        )
        + ",\n",
        src="docsample",
    ),
)
def q_simhash_recall_sampled(spark, sf_dir):
    """simhash_recall_report over the deterministic hash-sampled
    sub-corpus (functions/sampling; see lsh_recall_sampled) — the face
    whose blocked-Jaccard truth oracle stays inside the sweep budget at
    gen-sf1, keeping the SimHash recall S-curve hash-checked at 500k
    docs. Full corpus below the 64k cap, so sf0.01 results equal the
    parent's."""
    docs = table(spark, sf_dir, "documents")
    return _simhash_recall_frame(
        sample_frame(docs, "doc_id", cap=RECALL_SAMPLE_CAP)
    )



# Component labeling comes from the shared components_cte factory
# (functions/dedup_sql.py) — oracle-scale only; the Spark side is the
# O(log n)-phase forest contraction that survives 100 TB.
_CLUSTERS_ORACLE = (
    _LSH_CORE
    + ", "
    + components_cte()
    + """
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS component,
       d.doc_id = coalesce(c.component, d.doc_id) AS is_survivor
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""
).replace("WITH wbase", "WITH RECURSIVE wbase", 1)


@query("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def q_dedup_clusters(spark, sf_dir):
    """End-to-end near-dup clustering: MinHash-LSH pairs → distributed
    connected components (forest contraction) → keep-first survivor flags.
    Hash-checked against a DuckDB recursive-CTE transitive-closure oracle
    (min reachable label == min-id component); the union-find property
    test (tests/test_graph.py) additionally pins all three code paths."""
    from mapreduce_model_spark.operators.graph import dedup_survivors

    docs = table(spark, sf_dir, "documents")
    pairs = _mh_pairs(docs).select("id_a", "id_b")
    return dedup_survivors(docs, pairs)


@query(
    "dedup_ngram_jaccard",
    oracle=_SHX + f"""
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM shx GROUP BY doc_id),
dfq AS (SELECT x, count(*) AS dfx FROM shx GROUP BY x),
rare AS (SELECT shx.doc_id, shx.x FROM shx JOIN dfq USING (x) WHERE dfx <= {MAX_SHINGLE_DF}),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM rare a JOIN rare b USING (x) WHERE a.doc_id < b.doc_id
), inter AS (
    -- candidate-driven; see lsh_recall_report's _TRUTH_CTES for why
    SELECT cand.id_a, cand.id_b, count(*) AS n_inter
    FROM cand
    JOIN shx a ON a.doc_id = cand.id_a
    JOIN shx b ON b.doc_id = cand.id_b AND b.x = a.x
    GROUP BY 1, 2
), j AS (
    SELECT cand.id_a, cand.id_b,
           CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
    FROM cand
    JOIN inter USING (id_a, id_b)
    JOIN sizes sa ON sa.doc_id = cand.id_a
    JOIN sizes sb ON sb.doc_id = cand.id_b
)
SELECT id_a, id_b, round(1e-9 + jaccard, 4) AS jaccard
FROM j WHERE jaccard >= {JACCARD_THRESHOLD}
""",
)
def q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs ≥ 0.5, blocked on shared rare shingles
    (df ≤ 50) — the exact-verification stage behind MinHash candidates.
    The pre-threshold candidate engine is the one dedup_containment and
    the recall truth run."""
    return ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"),
        shingle_k=SHINGLE_K,
        threshold=JACCARD_THRESHOLD,
        max_shingle_df=MAX_SHINGLE_DF,
    )


CONTAINMENT_THRESHOLD = 0.6


@query(
    "dedup_containment",
    oracle=_SHX + f"""
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM shx GROUP BY doc_id),
dfq AS (SELECT x, count(*) AS dfx FROM shx GROUP BY x),
rare AS (SELECT shx.doc_id, shx.x FROM shx JOIN dfq USING (x) WHERE dfx <= {MAX_SHINGLE_DF}),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM rare a JOIN rare b USING (x) WHERE a.doc_id < b.doc_id
), inter AS (
    -- candidate-driven; see lsh_recall_report's _TRUTH_CTES for why
    SELECT cand.id_a, cand.id_b, count(*) AS n_inter
    FROM cand
    JOIN shx a ON a.doc_id = cand.id_a
    JOIN shx b ON b.doc_id = cand.id_b AND b.x = a.x
    GROUP BY 1, 2
), c AS (
    SELECT cand.id_a, cand.id_b,
           CAST(n_inter AS DOUBLE) / sa.n_sh AS c_ab,
           CAST(n_inter AS DOUBLE) / sb.n_sh AS c_ba
    FROM cand
    JOIN inter USING (id_a, id_b)
    JOIN sizes sa ON sa.doc_id = cand.id_a
    JOIN sizes sb ON sb.doc_id = cand.id_b
)
SELECT id_a, id_b,
       round(1e-9 + c_ab, 4) AS cont_a_in_b,
       round(1e-9 + c_ba, 4) AS cont_b_in_a
FROM c WHERE greatest(c_ab, c_ba) >= {CONTAINMENT_THRESHOLD}
""",
)
def q_containment(spark, sf_dir):
    """Asymmetric shingle containment ≥ 0.6 in either direction — the
    doc-inside-doc (quote / partial-scrape) detector symmetric Jaccard
    misses; same rare-shingle blocking and candidate engine as
    dedup_ngram_jaccard."""
    from mapreduce_model_spark.operators.dedup import containment_pairs

    return containment_pairs(
        table(spark, sf_dir, "documents"),
        shingle_k=SHINGLE_K,
        threshold=CONTAINMENT_THRESHOLD,
        max_shingle_df=MAX_SHINGLE_DF,
    )


from mapreduce_model_spark.registry import ORACLE_SQL as _ORACLE_SQL  # noqa: E402


_SPLIT_SQL = """CASE WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
                WHEN ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
                ELSE 'test' END"""


@query(
    "split_leakage",
    oracle=f"""
WITH asg AS (
    SELECT doc_id, {_SPLIT_SQL} AS split FROM documents
)
SELECT least(sa.split, sb.split)    AS split_lo,
       greatest(sa.split, sb.split) AS split_hi,
       least(sa.split, sb.split) <> greatest(sa.split, sb.split) AS leaks,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM ({_ORACLE_SQL["dedup_near_minhash"]}) m
JOIN asg sa ON sa.doc_id = m.id_a
JOIN asg sb ON sb.doc_id = m.id_b
GROUP BY 1, 2, 3
""",
)
def q_split_leakage(spark, sf_dir):
    """Split-leakage audit: how many NEAR-duplicate pairs straddle the
    train/val/test assignment (`train_val_split`'s md5 bucketing, same
    salt) — the QA gate that catches eval leakage exact decontamination
    misses, because a near-copy of a val doc in train is still leakage.
    All split-pair cells are reported (leaks = the off-diagonal ones) so
    the audit shows the full picture, not just violations.

    Scale shape: reuses the bucketed LSH pair generation (never all-pairs),
    attaches split labels with two doc_id-keyed joins, and aggregates to a
    ≤6-cell matrix. The split label is derived, not stored — auditing any
    PROPOSED split costs only this query, no rewrite of the corpus."""
    from mapreduce_model_spark.functions.text import md5_int32

    docs = table(spark, sf_dir, "documents")
    bucket = md5_int32(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    asg = docs.select(
        "doc_id",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )
    pairs = _mh_pairs(docs).select("id_a", "id_b")
    sa = asg.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = asg.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    lo, hi = F.least("split_a", "split_b"), F.greatest("split_a", "split_b")
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy(lo.alias("split_lo"), hi.alias("split_hi"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "split_lo",
            "split_hi",
            (F.col("split_lo") != F.col("split_hi")).alias("leaks"),
            "n_pairs",
        )
    )


@query(
    "dedup_cross_source",
    oracle=f"""
SELECT da.source AS source_a, db.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM ({_ORACLE_SQL["dedup_near_minhash"]}) m
JOIN documents da ON da.doc_id = m.id_a
JOIN documents db ON db.doc_id = m.id_b
GROUP BY 1, 2
""",
)
def q_dedup_cross_source(spark, sf_dir):
    """Cross-source contamination matrix: how many near-duplicate pairs
    link each (source, source) cell — the corpus-governance view that tells
    a data curriculum which feeds overlap (same crawl behind two vendors,
    mirrored sites, benchmark leakage between collections). Reuses the
    exact LSH pair generation of dedup_near_minhash (oracle included — the
    pair CTE nests as a derived table), then two doc_id-keyed joins attach
    source labels (the corpus is NOT broadcastable; the pair list usually
    is, but stays a key join for the worst case) and a tiny
    |sources|² aggregate."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = _mh_pairs(table(spark, sf_dir, "documents")).select("id_a", "id_b")
    da = docs.select(F.col("doc_id").alias("id_a"), F.col("source").alias("source_a"))
    db = docs.select(F.col("doc_id").alias("id_b"), F.col("source").alias("source_b"))
    return (
        pairs.join(da, "id_a")
        .join(db, "id_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


CHUNK_WORDS = 16

# Shared CTE fragment for the chunk-dedup family (chunk_dedup and
# chunk_dedup_rebuild): normalized words + 16-word chunk hashes — one home
# for the chunking rule so the report and the rebuild can never disagree
# about what a chunk is.
_CHUNKS_CTE = rf"""
WITH wbase AS (
    SELECT doc_id,
           {words_sql()} AS words
    FROM documents
), chunks AS (
    SELECT doc_id, i - 1 AS chunk_idx,
           md5(array_to_string(
               words[(i - 1) * {CHUNK_WORDS} + 1 : i * {CHUNK_WORDS}], ' ')) AS h
    FROM (SELECT doc_id, words,
                 unnest(range(1, 1 + CAST(ceil(len(words) / {CHUNK_WORDS}.0) AS INT))) AS i
          FROM wbase WHERE len(words) > 0)
)"""

# First-writer election shared by both chunk oracles: which duplicate of a
# chunk hash survives is defined by this ORDER BY and nowhere else.
_RANKED_CTE = """
, ranked AS (
    SELECT doc_id, chunk_idx,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
    FROM chunks
)"""


def _chunk_hashes(docs):
    """(doc_id, chunk_idx 0-based, h) for every CHUNK_WORDS-word chunk of
    the normalized word array — the Spark twin of _CHUNKS_CTE. Chunking +
    hashing are NARROW (transform over a sequence in the scan stage);
    downstream exchanges carry only (doc_id, chunk_idx, md5)."""
    n = F.ceil(F.size("words") / CHUNK_WORDS).cast("int")
    return docs.where(F.size("words") > 0).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.md5(
                    F.array_join(
                        F.slice("words", (i - 1) * CHUNK_WORDS + 1, F.lit(CHUNK_WORDS)),
                        " ",
                    )
                ),
            )
        ).alias("chunk_idx", "h"),
    )


@query(
    "chunk_dedup",
    oracle=_CHUNKS_CTE
    + _RANKED_CTE
    + """
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) + 1e-9, 4)
           AS kept_frac
FROM ranked GROUP BY doc_id
""",
)
def q_chunk_dedup(spark, sf_dir):
    """Sub-document duplicate removal at chunk granularity — the C4 rule
    ("discard duplicated paragraphs/lines corpus-wide, keep the rest of the
    page") adapted to fixed 16-word chunks, since the synthetic docs carry
    no newlines. First writer wins: a chunk survives only in the lowest
    (doc_id, chunk_idx) that contains its exact text. Output is the per-doc
    retention report (n_chunks / n_kept / kept_frac) a curriculum build
    uses to drop gutted docs.

    Scale: chunking + hashing are NARROW (transform over sequence in the
    scan stage — no explode of raw text before hashing); the two exchanges
    carry only (doc_id, chunk_idx, 32-char md5), never chunk text. The
    window on h is a hash-keyed shuffle (same cardinality discipline as
    dedup_exact, operators/dedup.py:57); the final doc_id agg is the
    second. Generalizes reference per-file distinct→global merge
    (main.cc:62-96) from words to chunk hashes."""
    from pyspark.sql import Window

    from mapreduce_model_spark.functions.partitioning import spread_for_fanout
    from mapreduce_model_spark.functions.text import words_array

    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", words_array("text").alias("words")
    )
    chunks = _chunk_hashes(docs)
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    kept = F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        kept.alias("n_kept"),
        F.round(kept / F.count(F.lit(1)) + 1e-9, 4).alias("kept_frac"),
    )


@query(
    "chunk_dedup_rebuild",
    oracle=_CHUNKS_CTE
    + _RANKED_CTE
    + f"""
, kept AS (
    SELECT doc_id, chunk_idx FROM ranked WHERE rn = 1
), idxs AS (
    SELECT doc_id, list_sort(list(chunk_idx)) AS idxs FROM kept GROUP BY doc_id
), rebuilt AS (
    SELECT w.doc_id,
           flatten(list_transform(coalesce(i.idxs, CAST([] AS BIGINT[])),
                   c -> w.words[c * {CHUNK_WORDS} + 1 : (c + 1) * {CHUNK_WORDS}]))
               AS kw
    FROM wbase w LEFT JOIN idxs i USING (doc_id)
)
SELECT doc_id, CAST(len(kw) AS BIGINT) AS n_kept_words,
       -- array_to_string([]) is NULL in DuckDB but '' in Spark's
       -- array_join: normalize so fully-gutted docs hash identically
       md5(coalesce(array_to_string(kw, ' '), '')) AS rebuilt_md5
FROM rebuilt
""",
)
def q_chunk_dedup_rebuild(spark, sf_dir):
    """chunk_dedup's actual OUTPUT, not just its report: each document's
    normalized text rebuilt from only its surviving chunks (first-writer-
    wins corpus-wide, the C4 'discard duplicated spans, keep the rest of
    the page' rule), emitted as (kept word count, md5 of the rebuilt
    text) so the driver's value hash pins the full reconstruction without
    hauling document bodies through the compare.

    Scale shape: chunk hashing is narrow (shared _chunk_hashes); the
    first-writer election is an ALGEBRAIC min(struct(doc_id, chunk_idx))
    per hash — no window, map-side partial — and the kept positions
    aggregate back to one int-array row per doc. Only the final doc_id
    join co-locates each doc's words with its kept indices; every prior
    exchange carries ids + 16-byte hashes + int arrays, never text. The
    rebuild then SLICES the doc's own word array positionally — surviving
    chunk text is re-derived locally, not shuffled."""
    from mapreduce_model_spark.functions.partitioning import spread_for_fanout
    from mapreduce_model_spark.functions.text import words_array

    docs_all = table(spark, sf_dir, "documents").select(
        "doc_id", words_array("text").alias("words")
    )
    chunks = _chunk_hashes(spread_for_fanout(docs_all, "doc_id"))
    kept = chunks.groupBy("h").agg(
        F.min(F.struct(F.col("doc_id"), F.col("chunk_idx"))).alias("m")
    )
    idxs = kept.select("m.doc_id", "m.chunk_idx").groupBy("doc_id").agg(
        F.sort_array(F.collect_list("chunk_idx")).alias("idxs")
    )
    kw = F.flatten(
        F.transform(
            F.coalesce("idxs", F.array().cast("array<int>")),
            lambda c: F.slice("words", c * CHUNK_WORDS + 1, F.lit(CHUNK_WORDS)),
        )
    )
    return (
        docs_all.join(idxs, "doc_id", "left")
        .select("doc_id", kw.alias("kw"))
        .select(
            "doc_id",
            F.size("kw").cast("long").alias("n_kept_words"),
            F.md5(F.array_join("kw", " ")).alias("rebuilt_md5"),
        )
    )


@query(
    "entity_match_names",
    oracle="""
WITH names AS (
    SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
           split_part(p_name, ' ', 1) AS tok1,
           split_part(p_name, ' ', 2) AS tok2
    FROM part GROUP BY p_name
), cand AS (
    -- empty block keys (single-token names ⇒ tok2 = '') would funnel
    -- every such name into ONE shared block and pair quadratically —
    -- drop them before the self-join (review-caught hot-block hazard)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b
      ON a.tok2 = b.tok2 AND a.p_name < b.p_name
    WHERE a.tok2 <> ''
    UNION
    SELECT a.p_name, b.p_name, a.n_parts, b.n_parts
    FROM names a JOIN names b
      ON a.tok1 = b.tok1 AND a.p_name < b.p_name
    WHERE a.tok1 <> ''
)
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist,
       n_parts_a, n_parts_b
FROM cand
WHERE levenshtein(name_a, name_b) BETWEEN 1 AND 3
""",
)
def entity_match_names(spark, sf_dir):
    """Entity resolution with multi-pass blocking: find name-dictionary
    pairs within edit distance 3 — the vendor-file / catalog-merge fuzzy
    matcher. Two blocking passes (same first token, same last token)
    generate candidates, so a typo in EITHER word still meets its match;
    only candidates pay the levenshtein.

    Scale: resolution runs on the DISTINCT-name dictionary, not the fact
    rows — the 2000-part table collapses to 64 names here, and a 100 TB
    catalog collapses to its name cardinality, with per-name instance
    counts carried along. Candidate generation is two equi-joins on block
    keys (never a cross join); the quadratic term is bounded by the
    largest block, the standard ER blocking contract (cap hot blocks like
    lsh_near_dup_pairs' max_bucket if a stop-word token dominates)."""
    names = (
        table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("tok1", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)))
        .withColumn("tok2", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)))
    )

    def block(key):
        # single-token names make tok2 = '' — an empty key is not a block,
        # it's a catch-all bucket that pairs quadratically; drop it before
        # the self-join (same hot-block discipline as lsh max_bucket)
        keyed = names.where(F.col(key) != "")
        a = keyed.select(
            F.col(key).alias("k"),
            F.col("p_name").alias("name_a"),
            F.col("n_parts").alias("n_parts_a"),
        )
        b = keyed.select(
            F.col(key).alias("k"),
            F.col("p_name").alias("name_b"),
            F.col("n_parts").alias("n_parts_b"),
        )
        return (
            a.join(b, "k")
            .where(F.col("name_a") < F.col("name_b"))
            .drop("k")
        )

    cand = block("tok2").unionAll(block("tok1")).distinct()
    dist = F.levenshtein("name_a", "name_b")
    return cand.where(dist.between(1, 3)).select(
        "name_a",
        "name_b",
        dist.cast("long").alias("dist"),
        "n_parts_a",
        "n_parts_b",
    )


@query(
    "dup_span_merge",
    oracle=_CHUNKS_CTE
    + _RANKED_CTE
    + """
, dup AS (
    SELECT doc_id, chunk_idx FROM ranked WHERE rn > 1
), g AS (
    SELECT doc_id, chunk_idx,
           chunk_idx - row_number() OVER (PARTITION BY doc_id
                                          ORDER BY chunk_idx) AS grp
    FROM dup
)
SELECT doc_id,
       CAST(min(chunk_idx) AS BIGINT) AS span_start,
       CAST(max(chunk_idx) AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS span_chunks
FROM g GROUP BY doc_id, grp
""",
)
def q_dup_span_merge(spark, sf_dir):
    """Maximal duplicated-SPAN detection — the substring-dedup report shape
    (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): chunk_dedup marks individual 16-word chunks as corpus-wide
    duplicates; this query merges RUNS of adjacent duplicated chunks into
    maximal spans per document (gaps-and-islands on chunk_idx), because the
    curation decision — cut the span, or drop the whole page — depends on
    span LENGTH, not on isolated chunk hits. A doc whose duplicated chunks
    are one long contiguous span is a near-clone; scattered singleton hits
    are boilerplate.

    Scale: reuses _chunk_hashes (narrow hashing, exchanges carry only
    ids + 16-byte md5). The duplicate election is the same h-keyed window
    as chunk_dedup; the islands window then runs doc_id-keyed over ONLY
    the duplicated subset (a small fraction of the corpus by construction),
    and span assembly is an algebraic min/max/count per (doc, island) —
    map-side combinable, no text ever shuffled."""
    from pyspark.sql import Window

    from mapreduce_model_spark.functions.partitioning import spread_for_fanout
    from mapreduce_model_spark.functions.text import words_array

    docs = spread_for_fanout(table(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", words_array("text").alias("words")
    )
    chunks = _chunk_hashes(docs)
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    dup = (
        chunks.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select("doc_id", "chunk_idx")
    )
    wi = Window.partitionBy("doc_id").orderBy("chunk_idx")
    g = dup.withColumn("grp", F.col("chunk_idx") - F.row_number().over(wi))
    return g.groupBy("doc_id", "grp").agg(
        F.min("chunk_idx").cast("long").alias("span_start"),
        F.max("chunk_idx").cast("long").alias("span_end"),
        F.count(F.lit(1)).alias("span_chunks"),
    ).drop("grp")


_CLUSTER_QUALITY_ORACLE = (
    _LSH_CORE
    + ", "
    + components_cte()
    + """
, lab AS (
    SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, d.n_chars
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
), ranked AS (
    SELECT doc_id, component, n_chars,
           row_number() OVER (PARTITION BY component
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM lab
)
SELECT doc_id, component, n_chars, rn = 1 AS is_survivor FROM ranked
"""
).replace("WITH wbase", "WITH RECURSIVE wbase", 1)


@query("dedup_cluster_quality", oracle=_CLUSTER_QUALITY_ORACLE)
def q_dedup_cluster_quality(spark, sf_dir):
    """Quality-aware survivor selection: same MinHash-LSH → connected
    components clustering as dedup_clusters, but each cluster keeps its
    LONGEST member (n_chars DESC, doc_id tie-break) instead of the lowest
    id — the real curation rule (near-dup clusters usually contain one
    complete page and several truncated scrapes; keep-first would keep
    whichever was crawled first). Hash-checked against the same
    recursive-CTE transitive-closure oracle.

    Scale: component labels come from the O(log n)-phase forest
    contraction (operators/graph.py); the election is an ALGEBRAIC
    min(struct(-n_chars, doc_id)) per component — map-side combinable, no
    window over the corpus — and the winner table joins back keyed on
    component (co-partitioned with the label join's output, and NOT
    broadcast: at 100 TB there are ~|docs| components)."""
    from mapreduce_model_spark.operators.graph import connected_components

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pairs = _mh_pairs(table(spark, sf_dir, "documents")).select("id_a", "id_b")
    comp = connected_components(pairs)
    # lab feeds BOTH the winner election and the final join: persist, or the
    # entire upstream (MinHash-LSH pair generation + connected components)
    # executes once per branch (r11 plan audit: the union-find MapInPandas
    # appeared twice; measured ~2x the dedup_clusters cost for the same
    # pipeline). (doc_id, component, n_chars) rows — tiny at any scale.
    lab = docs.join(comp, docs["doc_id"] == comp["node"], "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        "n_chars",
    ).persist()
    winner = lab.groupBy("component").agg(
        F.min(F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id").alias("d")))
        .alias("w")
    )
    return lab.join(winner, "component").select(
        "doc_id",
        "component",
        "n_chars",
        (F.col("doc_id") == F.col("w.d")).alias("is_survivor"),
    )
