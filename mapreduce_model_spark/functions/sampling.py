"""Deterministic hash-sampled sub-corpus — the sampled-truth contract.

Seven audit/PQ queries have oracles whose DuckDB replay cost explodes at
gen-sf1 (500k docs/vectors): the blocked exact-Jaccard truth spills >37 GiB
and the unrolled-Lloyd recurrences exceed any sane time budget, while the
engine faces complete fine. "The oracle can't falsify it at this scale" is
weaker evidence than a green hash row — so each of those queries ships a
``*_sampled`` twin that runs the IDENTICAL pipeline over a deterministic
hash-selected sub-corpus, with the selection applied identically on the
Spark side and inside the oracle SQL. The sample is scale-ADAPTIVE: below
``SAMPLE_CAP`` rows the twin covers the FULL corpus (so the driver's
sf0.01 hash check exercises exactly the parent semantics and stays
non-trivial), above it the kept fraction shrinks so the sampled corpus —
and therefore the oracle's quadratic/iterative cost — stays pinned near
the gen-sf0.1 size the oracles are PROVEN to handle inside the sweep's
900 s / 40 GB budget.

Selection contract (one source of truth, both engines):
    keep row  ⇔  index of first hex digit of md5(CAST(id AS STRING))
                 in "0123456789abcdef"  ≤  thr
    thr = clamp((16 * SAMPLE_CAP) // N, 1, 16)      (N = full corpus count)

md5 of the decimal string renders identically in Spark and DuckDB
(lowercase hex, same integer-to-string form), hex-digit order is ASCII
order, and thr is integer arithmetic — so the kept set is bit-identical
across engines at every scale. thr granularity is 1/16; at gen-sf1
(N = 500 000, cap 65 536) thr = 2 → a 62.5k-row sub-corpus, ~1.25× the
proven gen-sf0.1 size.

Scale note (100 TB): sampled-truth audits are the SHAPE production quality
audits take — nobody exact-Jaccards 100 TB; you audit a deterministic
sample whose selection is reproducible by any other engine. The twin is
the production face, the full-corpus parent is the small-scale exemplar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SAMPLE_CAP = 65536
# The recall audits' ground truth (blocked exact Jaccard) is QUADRATIC in
# sampled-corpus size — measured at gen-sf1: a 62.8k-doc truth exceeds the
# 900 s oracle budget (the 50k gen-sf0.1 truth was already near it), while
# the linear/unrolled-iterative vector oracles clear 62.5k comfortably. So
# the recall twins use their own smaller cap: thr = 1 at 500k docs →
# ~31.3k-doc truth (~0.4× the proven 50k cost). Still the full corpus
# below ~32k docs, so the driver-gate scales are unaffected.
RECALL_SAMPLE_CAP = 32768
# SemDeDup's oracle cost is N·k·iters window rows with k = ⌈√N⌉, i.e.
# ~N^1.5: measured at gen-sf1, the 62.5k-vector sample (k=251 → 3.1e7
# window rows) exceeds 900 s while kmeans_sampled's 62.5k×8 (2.5e6 rows)
# takes 308 s. A 16k cap → ~15.6k vectors, k=126 → 3.9e6 rows, inside
# budget with margin. Full corpus below ~16k vectors (every driver scale).
SEM_SAMPLE_CAP = 16384
# The LSH recall audit runs THREE corpus pipelines in one oracle (blocked
# truth + classic-MinHash banding + OPH banding) where the SimHash audit
# runs two — measured at gen-sf1: simhash at the 32k cap passes in 421 s,
# lsh at the same cap exceeds 900 s (the two 32-permutation signature
# aggregates + two band self-joins are the delta). Half the corpus again
# for the lsh twin only.
LSH_RECALL_SAMPLE_CAP = 16384
_HEX = "0123456789abcdef"


def sample_thr(n: int, cap: int | None = None) -> int:
    """Hex-digit threshold (1..16): kept fraction = thr/16, full corpus
    below the cap. Integer arithmetic — bit-identical to the oracle's
    ``greatest(1, least(16, (16 * CAP) // count(*)))``."""
    cap = SAMPLE_CAP if cap is None else cap
    return max(1, min(16, (16 * cap) // max(n, 1)))


def sample_frame(df: DataFrame, id_col: str, cap: int | None = None) -> DataFrame:
    """The Spark face of the selection contract. One count() job to size
    the corpus (the same documented pattern as the round-8 adaptive
    geometry faces — the count is the price of scale-adaptive semantics),
    then a codegen-able filter; full frame returned untouched below the
    cap so small-scale results equal the unsampled parent's.

    When sampling actually applies (thr < 16, i.e. only at generated
    scales), the filtered frame is CHECKPOINTED before returning: every
    twin immediately re-consumes it 2-3 times (adaptive-k/stride count,
    lowest-id query collect, then the pipeline itself), and without the
    checkpoint each consumer re-ran the full-corpus scan + md5 filter
    (sharing a frame: registry.py docstring)."""
    from pyspark.sql import functions as F

    thr = sample_thr(df.count(), cap)
    if thr >= 16:
        return df
    return df.where(
        F.expr(
            f"locate(substr(md5(cast({id_col} as string)), 1, 1), "
            f"'{_HEX}') <= {thr}"
        )
    ).localCheckpoint(eager=False)


def duck_sample_pred(tbl: str, id_col: str, cap: int | None = None) -> str:
    """DuckDB WHERE predicate twin of sample_frame's filter. ``tbl`` is
    the FULL relation (the scalar count subquery must see every row);
    ``id_col`` may be qualified with the outer alias."""
    cap = SAMPLE_CAP if cap is None else cap
    return (
        f"strpos('{_HEX}', substr(md5({id_col}::VARCHAR), 1, 1)) <= "
        f"(SELECT greatest(1, least(16, (16 * {cap}) // count(*))) "
        f"FROM {tbl})"
    )


def duck_sample_cte(
    tbl: str, id_col: str, alias: str, cap: int | None = None
) -> str:
    """``alias AS (SELECT * FROM tbl WHERE <contract>)`` — the sampled
    relation as a named CTE fragment for composition into WITH chains."""
    return (
        f"{alias} AS (SELECT t.* FROM {tbl} t "
        f"WHERE {duck_sample_pred(tbl, 't.' + id_col, cap)})"
    )


# ---- fine-grained (two-hex-digit, 1/256-step) variant -------------------
# The one-digit contract floors at 1/16 of the corpus — measured at
# gen-sf1: the 3-pipeline LSH recall oracle exceeds 900 s even at that
# floor (31.6k docs), so it needs a sample the coarse contract cannot
# express. Two md5 hex digits give 256 buckets: keep iff
# int(md5[0:2], 16) < thr, thr = clamp((256·cap)//N, 1, 256). Same
# determinism argument; the hex-pair parses to the same integer via
# Spark's conv(…,16,10) and DuckDB's ('0x'||…)::INTEGER (the shingle_cte
# precedent).


def sample_thr_fine(n: int, cap: int | None = None) -> int:
    cap = SAMPLE_CAP if cap is None else cap
    return max(1, min(256, (256 * cap) // max(n, 1)))


def sample_frame_fine(
    df: DataFrame, id_col: str, cap: int | None = None
) -> DataFrame:
    """Spark face of the fine contract (see sample_frame for the count()
    rationale and the checkpoint-on-sample rule)."""
    from pyspark.sql import functions as F

    thr = sample_thr_fine(df.count(), cap)
    if thr >= 256:
        return df
    return df.where(
        F.expr(
            f"CAST(conv(substr(md5(cast({id_col} as string)), 1, 2), 16, 10)"
            f" AS INT) < {thr}"
        )
    ).localCheckpoint(eager=False)


def duck_sample_pred_fine(tbl: str, id_col: str, cap: int | None = None) -> str:
    cap = SAMPLE_CAP if cap is None else cap
    return (
        f"('0x' || substr(md5({id_col}::VARCHAR), 1, 2))::INTEGER < "
        f"(SELECT greatest(1, least(256, (256 * {cap}) // count(*))) "
        f"FROM {tbl})"
    )


def duck_sample_cte_fine(
    tbl: str, id_col: str, alias: str, cap: int | None = None
) -> str:
    return (
        f"{alias} AS (SELECT t.* FROM {tbl} t "
        f"WHERE {duck_sample_pred_fine(tbl, 't.' + id_col, cap)})"
    )
