"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

Generalizes the reference's set-based dedup (per-file ``std::set`` insert,
main.cc:62-63,78-79 — operator A7) from (word, doc) pairs to whole-document
identity and near-identity, the core of an LLM training-data pipeline.

All hashing is md5-derived (``functions.text.md5_int32``) so every stage is
reproducible in DuckDB for the oracle — no engine-private hash functions in
any checkable path.

Scale notes (100 TB):
- ``dedup_exact``: one shuffle on the 128-bit text hash. Hash first, never
  group on raw text (shuffle payload is 16 bytes + id per row).
- MinHash: signatures are k·8 bytes per doc (k=32 → 256 B); the shuffle that
  matters is the LSH band self-join. Band keys distribute uniformly unless
  boilerplate documents create hot buckets — cap bucket size (drop buckets
  with > N docs; they are boilerplate by definition and handled by exact
  dedup) before the pair join to bound the quadratic blowup.
- SimHash: pure aggregation (no pair join until the final hamming check) —
  the cheapest near-dup signal at scale.
- n-gram Jaccard: exact pairwise — only viable behind blocking. Here the
  blocker is shingle-sharing with a document-frequency cap on shingles
  (``max_shingle_df``): a shingle in thousands of docs contributes pairs
  quadratically but no discrimination, so it is dropped, exactly the hot-key
  salting argument from SURVEY.md §4.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_model_spark.functions.partitioning import spread_for_fanout
from mapreduce_model_spark.functions.text import (
    C_SPACE,
    md5_int32,
    shingles,
    words_array,
)

MERSENNE_P = 2147483647  # 2^31 - 1


def perm_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) for the k MinHash permutations
    h_i(x) = (a_i * x + b_i) mod P. Embedded verbatim in the DuckDB oracle —
    same constants, same signatures."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
        for _ in range(k)
    ]


def normalize_text(col):
    """Canonical form for exact dedup: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), C_SPACE + "+", " "))


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep-first exact dedup on normalized text hash.

    Returns one row per distinct content: ``(id, text_hash, group_size)``,
    keeping the smallest id (deterministic). One groupBy on the hash —
    min/count are algebraic, so the shuffle carries map-side partials and
    nothing is SORTED (a row_number window would sort every group; keep-
    "first" by min id needs no order at all).
    """
    h = F.md5(normalize_text(F.col(text_col))).alias("text_hash")
    # Hash in the scan stage; the ONLY exchange is the groupBy's, carrying
    # (16-byte hash, id) partials. No spread_for_fanout here: spreading raw
    # text before hashing ships the expensive direction (measured 2.2x
    # slower at sf0.1 than hashing in place), and spreading the narrow
    # (id, hash) after is redundant — the groupBy exchange already
    # redistributes. If a scan is ever under-split for the normalize+md5
    # CPU, the scale-correct lever is the scan split count
    # (spark.sql.files.maxPartitionBytes), not a raw-text shuffle.
    return (
        df.select(F.col(id_col), h)
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("group_size"),
        )
        .select(id_col, "text_hash", "group_size")
    )


def doc_shingle_hashes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, shingle_hash) — distinct md5-int32 hashes (mod P) of word
    k-gram shingles. The shared front end of MinHash and Jaccard.

    The shingle explosion multiplies each doc into ~|words| rows of string
    hashing; spread the narrow (id, text) input first so that CPU uses the
    whole cluster even when the scan had few splits."""
    df = spread_for_fanout(df, id_col)
    return df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(words_array(text_col), k))).alias("sh"),
    ).select(id_col, (md5_int32(F.col("sh")) % MERSENNE_P).alias("x"))


def shingle_set_arrays(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, xs: array) — each doc's DISTINCT shingle-hash set as one array
    row. The per-doc-array form of :func:`doc_shingle_hashes`: hash the
    text once, then any consumer that needs (id, x) rows re-explodes the
    cheap integer arrays instead of re-tokenizing and re-hashing the
    corpus. Callers that fan out into several signature/truth pipelines
    checkpoint this frame and share it (r12: the recall-report family)."""
    return (
        doc_shingle_hashes(df, text_col, id_col, k)
        .groupBy(id_col)
        .agg(F.collect_set("x").alias("xs"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    shingle_k: int = 3,
    seed: int = 42,
    shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """(id, sig: array<bigint> length k). One explode + one groupBy — the
    k permutations are k expressions inside a single aggregate, not k jobs.

    Measured alternative, rejected: since min(multiset) == min(set) the
    signature is expressible fully narrow — k ``array_min(transform(...))``
    passes over a per-doc shingle-hash array, zero exchanges. It benches
    ~10x SLOWER at sf0.1 (2.3 s → 27 s): higher-order array functions are
    CodegenFallback, so the k passes run as interpreted per-element lambda
    evals with no whole-stage codegen and no common-subexpression reuse,
    while the explode+groupBy keeps every expression inside codegen and
    ships only (id, 8-byte hash) partials with map-side combine. The
    shuffle is the cheap part; losing codegen is the expensive part.

    ``shingle_hashes``: a precomputed (id, x) frame (e.g. re-exploded from
    a shared checkpointed :func:`shingle_set_arrays` frame) — the min
    aggregates are set-based, so values are identical by construction."""
    params = perm_params(k, seed)
    sh = (
        doc_shingle_hashes(df, text_col, id_col, shingle_k)
        if shingle_hashes is None
        else shingle_hashes
    )
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % MERSENNE_P).alias(f"h{i}")
        for i, (a, b) in enumerate(params)
    ]
    return (
        sh.groupBy(id_col)
        .agg(*aggs)
        .select(F.col(id_col), F.array(*[f"h{i}" for i in range(k)]).alias("sig"))
    )


def minhash_sig_expr(
    text_col="text", k: int = 32, shingle_k: int = 3, seed: int = 42
):
    """Per-ROW MinHash signature (array<bigint> length k) — no explode, no
    groupBy. The streaming-safe twin of :func:`minhash_signatures`: a
    readStream plan cannot absorb a stateful aggregation just to compute a
    per-doc value, and a microbatch is small enough that the interpreted
    higher-order-function cost (the reason the batch path keeps its
    codegen'd explode+groupBy — see minhash_signatures' docstring) doesn't
    matter. NULL for docs with < shingle_k words (no shingles ⇒ no
    signature), matching the batch function's absent-row semantics.
    Identical values to the batch path by construction: same shingles, same
    md5-derived hashes, same permutation constants."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    params = perm_params(k, seed)
    xs = F.transform(
        shingles(words_array(c), shingle_k), lambda s: md5_int32(s) % MERSENNE_P
    )

    def perm(a, b):
        # closure factory: pyspark counts lambda params, so default-arg
        # binding would read as a 3-arg HOF lambda
        return lambda x: (F.lit(a) * x + F.lit(b)) % MERSENNE_P

    sig = F.array(*[F.array_min(F.transform(xs, perm(a, b))) for a, b in params])
    return F.when(F.size(xs) > 0, sig)


def oph_signatures_array(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    shingle_k: int = 3,
    shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """:func:`oph_signatures` with the k bin columns packed into one
    ``sig`` array — the (id, sig) shape lsh_near_dup_pairs and
    band_keys_expr consume, so the OPH sketch drops into every consumer
    of the classic-signature frame."""
    sig = oph_signatures(df, text_col, id_col, k, shingle_k, shingle_hashes)
    return sig.select(
        F.col(id_col), F.array(*[f"h{i}" for i in range(k)]).alias("sig")
    )


def oph_sig_expr(text_col="text", k: int = 32, shingle_k: int = 3):
    """Per-ROW one-permutation MinHash signature (array<bigint> length k)
    — the streaming-safe twin of :func:`oph_signatures`, mirroring
    minhash_sig_expr's contract: no explode, no groupBy (a readStream
    plan can't absorb the aggregation), NULL for docs with < shingle_k
    words, and identical values to the batch path by construction (the
    same closed-form densification min — see oph_signatures — evaluated
    per row instead of inside the aggregate; min over the multiset ==
    min over the set, so the batch path's distinct is immaterial).
    Interpreted HOF cost is fine at microbatch size; the batch path
    keeps the codegen'd aggregate. Feed the result to band_keys_expr to
    run the streaming admission gate on the k-fold-cheaper sketch."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    xs = F.transform(
        shingles(words_array(c), shingle_k), lambda s: md5_int32(s) % MERSENNE_P
    )

    def dens(i):
        return lambda x: x + ((x % k - i + k) % k) * F.lit(MERSENNE_P)

    sig = F.array(*[F.array_min(F.transform(xs, dens(i))) for i in range(k)])
    return F.when(F.size(xs) > 0, sig)


def band_keys_expr(sig_col, bands: int = 8, rows: int = 4):
    """array<string> of LSH band keys for a signature column — md5 of
    ``"{band_index},{comma-joined band slice}"``. The ONE definition of the
    band key, shared by the batch pair join (lsh_near_dup_pairs) and the
    streaming admission gate (streaming/dedup_gate.py), so their buckets
    join by construction."""
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.md5(
            F.concat_ws(
                ",",
                j.cast("string"),
                F.array_join(F.slice(sig, j * rows + 1, rows), ","),
            )
        ),
    )


def lsh_near_dup_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 200,
) -> DataFrame:
    """MinHash-LSH candidate pairs with estimated Jaccard.

    Explode each signature into ``bands`` band-keys (md5 of the band slice),
    self-join on the key, dedup pairs, estimate J as the fraction of equal
    signature components. ``max_bucket`` drops boilerplate hot buckets before
    the quadratic pair join (scale guard).
    """
    k = bands * rows
    # Guard the geometry: matches are counted over the whole signature and
    # divided by bands*rows — a shorter/longer sig silently skews est_jaccard
    # (slice() would just read a prefix). assert_true fails the job instead.
    sig = sig.withColumn(
        "sig",
        F.when(
            F.assert_true(
                F.size("sig") == k,
                F.concat(
                    F.lit(f"signature length must equal bands*rows={k}, got "),
                    F.size("sig").cast("string"),
                ),
            ).isNull(),
            F.col("sig"),
        ),
    )
    # The signature frame feeds three consumers (bucket counts + both sides
    # of the band self-join); without materialization each consumer re-runs
    # the whole shingle→md5→32-way-min pipeline. Checkpoint it — k×8-byte
    # rows, ~256 B/doc.
    sig = sig.localCheckpoint(eager=False)
    banded = sig.select(
        F.col(id_col),
        "sig",
        F.explode(band_keys_expr("sig", bands, rows)).alias("band_key"),
    )
    # bucket-size cap via groupBy+join (no per-occurrence sort); the banded
    # side's exchange on band_key is shared with the pair self-join below
    bucket_n = banded.groupBy("band_key").agg(F.count(F.lit(1)).alias("bn"))
    banded = banded.join(bucket_n.filter(F.col("bn") <= max_bucket), "band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, on="band_key")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    return (
        pairs.withColumn("est_jaccard", matches / F.lit(float(k)))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round(F.col("est_jaccard") + 1e-9, 4).alias("est_jaccard"))
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """(id, simhash) — term-frequency-weighted SimHash over md5-int32 word
    hashes. Identical docs → identical simhash; near-identical → small
    hamming distance. Pure two-level aggregation, no pair join."""
    tf = (
        spread_for_fanout(df, id_col)
        .select(F.col(id_col), F.explode(words_array(text_col)).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("x", md5_int32(F.col("w")))
    )
    vs = [
        F.sum(
            F.col("tf") * (F.shiftright("x", i).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agged = tf.groupBy(id_col).agg(*vs)
    sh = None
    for i in range(bits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sh = bit if sh is None else sh + bit
    return agged.select(F.col(id_col), sh.cast("long").alias("simhash"))


def _blocked_pair_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    max_shingle_df: int,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs blocked by shared rare shingles, with exact shingle
    set sizes: (id_a, id_b, n_inter, n_a, n_b). The shared engine under
    Jaccard (symmetric) and containment (asymmetric) verification.

    Scale shape: the only pairwise work is the rare-shingle self-join, which
    is ≤ max_shingle_df²/2 pairs per shingle by construction. Intersection
    sizes come from ``array_intersect`` over per-doc shingle-set arrays
    joined onto the candidates — never from a self-join of all shingle
    occurrences, whose hot keys (boilerplate 3-grams in ~every doc) are
    quadratic no matter how many executors you have.
    """
    # Hash the text ONCE: per-doc shingle-set arrays are the only artifact
    # derived from raw text; the blocking branch re-explodes the (cheap)
    # integer arrays instead of re-scanning and re-hashing the corpus.
    # ``sets``: a caller-provided (already checkpointed) shingle_set_arrays
    # frame, shared with sibling signature pipelines (r12 recall family).
    if sets is None:
        sets = (
            shingle_set_arrays(df, text_col, id_col, shingle_k)
            # five consumers (df counts, both blocking sides, both measure
            # sides) — checkpoint or the corpus is re-hashed for each
            .localCheckpoint(eager=False)
        )
    exploded = sets.select(id_col, F.explode("xs").alias("x"))
    # document frequency via groupBy (partial-agg + tiny result) rather than
    # a count-over-window (which must SORT every shingle occurrence); the
    # exploded side's hash exchange on x is shared with the join below
    dfq = exploded.groupBy("x").agg(F.count(F.lit(1)).alias("df"))
    rare = exploded.join(dfq.filter(F.col("df") <= max_shingle_df), "x")
    cand = (
        rare.alias("ra")
        .join(rare.alias("rb"), on="x")
        .filter(F.col(f"ra.{id_col}") < F.col(f"rb.{id_col}"))
        .select(
            F.col(f"ra.{id_col}").alias("id_a"), F.col(f"rb.{id_col}").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("xs").alias("xs_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("xs").alias("xs_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("xs_a", "xs_b")).alias("n_inter"),
            F.size("xs_a").alias("n_a"),
            F.size("xs_b").alias("n_b"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 50,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs blocked by shared rare shingles.

    Shingles with document frequency > ``max_shingle_df`` are used for
    *blocking only* (all shingles still count in the Jaccard), bounding the
    pair join. Output: (id_a, id_b, jaccard) for pairs ≥ threshold **that
    share at least one rare shingle** — the documented recall contract.
    Pair engine: :func:`_blocked_pair_intersections`.
    """
    pairs = _blocked_pair_intersections(
        df, text_col, id_col, shingle_k, max_shingle_df
    )
    return (
        pairs.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round(F.col("jaccard") + 1e-9, 4).alias("jaccard"))
    )


def jaccard_decile_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    max_shingle_df: int = 50,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard pairs ≥ 0.5 with an INTEGER-EXACT decile label:
    ``j_decile = (10·|A∩B|) div |A∪B|`` (5..10), pairs kept iff
    ``2·|A∩B| ≥ |A∪B|``. Both the threshold and the bucket are pure
    integer arithmetic on the shingle-set sufficient statistics — no
    float division anywhere near a bucket boundary, so the label is
    bit-free-deterministic and any SQL engine reproduces it exactly.
    This is the ground-truth side of the LSH recall audit
    (``lsh_recall_report``); same rare-shingle blocking (recall contract)
    and pair engine as :func:`ngram_jaccard_pairs`. ``sets`` forwards a
    shared checkpointed :func:`shingle_set_arrays` frame to the pair engine.
    """
    pairs = _blocked_pair_intersections(
        df, text_col, id_col, shingle_k, max_shingle_df, sets=sets
    )
    u = F.col("n_a").cast("long") + F.col("n_b") - F.col("n_inter")
    return (
        pairs.withColumn("u", u)
        .filter(2 * F.col("n_inter") >= F.col("u"))
        .select(
            "id_a",
            "id_b",
            F.expr("(10 * CAST(n_inter AS BIGINT)) div u").alias("j_decile"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int = 50,
) -> DataFrame:
    """Asymmetric shingle containment C(a→b) = |A∩B| / |A| over the same
    rare-shingle-blocked candidates as :func:`ngram_jaccard_pairs`.

    Containment is the doc-IN-doc signal Jaccard misses: a paragraph quoted
    inside a much longer article has high C(quote→article) but tiny Jaccard
    (the union is dominated by the article). That's the quote / boilerplate-
    wrapping / partial-scrape case a dedup pass built only on Jaccard keeps
    shipping twice. Pairs kept when either direction ≥ threshold; both
    directions reported so the CONTAINED side (the smaller doc) is
    identifiable downstream.
    """
    pairs = _blocked_pair_intersections(
        df, text_col, id_col, shingle_k, max_shingle_df
    )
    c_ab = F.col("n_inter") / F.col("n_a")
    c_ba = F.col("n_inter") / F.col("n_b")
    return (
        pairs.withColumn("c_ab", c_ab)
        .withColumn("c_ba", c_ba)
        .filter(F.greatest("c_ab", "c_ba") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("c_ab") + 1e-9, 4).alias("cont_a_in_b"),
            F.round(F.col("c_ba") + 1e-9, 4).alias("cont_b_in_a"),
        )
    )


def oph_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 32,
    shingle_k: int = 3,
    shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """One-permutation-hashing MinHash (Li et al. 2012) with rotation
    densification (Shrivastava & Li 2014): ``(id, h0..h{k-1})``.

    The 100 TB refinement of :func:`minhash_signatures`: instead of k
    permutations (k multiply-mod expressions per shingle), each shingle is
    hashed ONCE and routed to bin ``x % k``; the signature is the per-bin
    min. Empty bins (short docs) are densified by borrowing from the next
    non-empty bin clockwise, offset by ``d * P`` so borrowed values never
    collide with owned ones — without densification two docs would spuriously
    "agree" on every mutually-empty bin. Same one-explode + one-groupBy
    plan shape as minhash_signatures but the per-shingle CPU drops k-fold
    (one md5 instead of k linear congruences feeding the aggregate): at
    100 TB the map-side hash work is the dominant cost and this is the
    standard production trick for it. Collision behavior per bin is the
    same min-hash estimator (agreement rate ≈ Jaccard), pinned in tests.

    Every value is md5-derived; DuckDB reproduces the identical integers,
    so unlike classic sketches this one is fully hash-checkable.

    Implementation: densification has a closed form INSIDE the aggregate —
    for target bin i, a shingle in bin j is a candidate at offset
    d = (j − i) mod k, worth ``x + d·P``; since every x < P, a smaller d
    always wins, so ``min(x + ((x % k − i) mod k)·P)`` IS "owned min,
    else nearest non-empty bin clockwise + d·P". One plain min per bin —
    same aggregate shape as classic MinHash's k congruence mins, fully
    codegen — instead of a k×k coalesce chain after the groupBy (the
    naive two-pass form measured 1.8× slower at sf0.1 and shipped a 1 MB
    task binary).

    ``shingle_hashes``: precomputed (id, x) rows — see
    :func:`minhash_signatures`; per-bin mins are set-based, so values are
    identical by construction.
    """
    sh = (
        doc_shingle_hashes(df, text_col, id_col, shingle_k)
        if shingle_hashes is None
        else shingle_hashes
    )
    dens = [
        F.min(
            F.col("x")
            + ((F.col("x") % k - i + k) % k) * F.lit(MERSENNE_P)
        ).alias(f"h{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*dens)


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    max_block: int = 500,
) -> DataFrame:
    """Near-dup pairs from SimHash — the downstream pairing step
    :func:`simhash`'s docstring defers: ``(id_a, id_b, hamming)`` for all
    pairs within ``max_hamming`` bits. Candidate generation is the
    classic pigeonhole block join (Manku et al. 2007): split the hash
    into ``max_hamming + 1`` byte blocks — two hashes within distance d
    MUST agree on at least one block, so the equi-join on (block index,
    block value) loses nothing while reducing the pairwise work to
    same-block candidates. ``max_block`` drops degenerate hot blocks (the
    LSH max_bucket argument) before the join. Every predicate is exact
    integer arithmetic (shifts, xor, popcount) — no float anywhere, fully
    hash-checkable including the selection."""
    nb = max_hamming + 1
    width = bits // nb
    mask = (1 << width) - 1
    blocks = simhash(df, text_col, id_col, bits).select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("bi"),
                        F.shiftright(F.col("simhash"), width * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for i in range(nb)
                ]
            )
        ).alias("blk"),
    ).select(id_col, "simhash", F.col("blk.bi").alias("bi"), F.col("blk.bv").alias("bv"))
    # sizes + both self-join sides read the blocks frame — checkpoint or the
    # corpus-wide explode+TF+simhash aggregation re-runs 4x (same reason
    # lsh_near_dup_pairs checkpoints its signature frame)
    blocks = blocks.localCheckpoint(eager=False)
    sizes = blocks.groupBy("bi", "bv").agg(F.count(F.lit(1)).alias("n"))
    capped = blocks.join(sizes.filter(F.col("n") <= max_block), ["bi", "bv"])
    a, b = capped.alias("ba"), capped.alias("bb")
    pairs = (
        a.join(
            b,
            (F.col("ba.bi") == F.col("bb.bi"))
            & (F.col("ba.bv") == F.col("bb.bv"))
            & (F.col(f"ba.{id_col}") < F.col(f"bb.{id_col}")),
        )
        .select(
            F.col(f"ba.{id_col}").alias("id_a"),
            F.col(f"bb.{id_col}").alias("id_b"),
            F.col("ba.simhash").alias("h_a"),
            F.col("bb.simhash").alias("h_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long")
    return pairs.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )
