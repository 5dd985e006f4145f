"""Shared MinHash-LSH constants + DuckDB SQL fragments.

Lives OUTSIDE the registered-query modules on purpose: both queries_dedup
and queries_text need these at @query-decoration time, and a cross-import
between two registry-loaded modules deadlocks at import (registry._load()
imports them in a fixed order, so whichever loads first is still
partially-initialized when the other asks for its constants — caught in
the r6 review as a live circular-import crash). This module imports only
functions.text and operators.dedup, never the registry.

The oracle SQL is generated from the same constants (permutation params,
band geometry, thresholds) as the Spark plans — one source of truth.
"""

from __future__ import annotations

from mapreduce_model_spark.functions.text import (
    ASCII_LOWER,
    ASCII_UPPER,
    C_SPACE,
    NON_WORD,
)
from mapreduce_model_spark.operators.dedup import MERSENNE_P, perm_params

K = 32
BANDS, ROWS = 8, 4
SHINGLE_K = 3
LSH_THRESHOLD = 0.5
JACCARD_THRESHOLD = 0.5
MAX_SHINGLE_DF = 50
MAX_BUCKET = 200
SIMHASH_BITS = 32

_PERMS = perm_params(K)
SIG_SQL = (
    "["
    + ", ".join(f"min(({a} * x + {b}) % {MERSENNE_P})" for a, b in _PERMS)
    + "]"
)


def tokens_sql(src: str = "text", var: str = "w") -> str:
    """DuckDB twin of ``functions.text.tokens_array``: split ``src`` on runs
    of ``C_SPACE`` (main.cc:73), empty tokens dropped. ``var`` names the
    lambda parameter."""
    return (
        f"list_filter(regexp_split_to_array({src}, '{C_SPACE}+'), "
        f"{var} -> {var} <> '')"
    )


def words_sql(var: str = "t") -> str:
    """DuckDB twin of ``functions.text.words_array("text")``: the same
    ASCII lowercase and strip, then ``tokens_sql`` — the one oracle
    words-array expression. ``var`` names the lambda parameter."""
    letters = (
        f"regexp_replace(translate(text, '{ASCII_UPPER}', '{ASCII_LOWER}'), "
        f"'{NON_WORD}', '', 'g')"
    )
    return tokens_sql(letters, var)


def shingle_cte(src: str = "documents", sfx: str = "") -> str:
    """Words + distinct 3-gram shingle hashes (mod P) as a CTE fragment —
    twin of operators.dedup.doc_shingle_hashes, parameterized on the
    source relation (any CTE providing (doc_id, text)) and a name suffix
    so it composes into larger WITH chains without collisions."""
    return rf"""wbase{sfx} AS (
    SELECT doc_id,
           {words_sql()} AS words
    FROM {src}
), sh{sfx} AS (
    SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, len(words) - {SHINGLE_K - 2}),
                       i -> array_to_string(words[i:i+{SHINGLE_K - 1}], ' ')))) AS s
    FROM wbase{sfx}
    WHERE len(words) >= {SHINGLE_K}
), shx{sfx} AS (
    SELECT DISTINCT doc_id,
           ('0x' || substr(md5(s), 1, 8))::BIGINT % {MERSENNE_P} AS x
    FROM sh{sfx}
)"""


OPH_SIG_SQL = (
    "["
    + ", ".join(
        f"min(x + ((x % {K} - {i} + {K}) % {K}) * {MERSENNE_P})" for i in range(K)
    )
    + "]"
)


def banding_cte(sig_src: str, sfx: str = "") -> str:
    """Band keys → hot-bucket cap → same-band pairs → estimated Jaccard,
    from ANY signature relation exposing (doc_id, sig array) — the
    banding tail shared by the classic-MinHash pipeline (lsh_cte) and the
    OPH pipeline (dedup_near_oph), so both run one band geometry by
    construction. Ends at ``est{sfx}``."""
    return f"""banded{sfx} AS (
    SELECT doc_id, sig,
           md5(concat(j::VARCHAR, ',',
               array_to_string(sig[j*{ROWS}+1 : j*{ROWS}+{ROWS}], ','))) AS band_key
    FROM {sig_src} CROSS JOIN range(0, {BANDS}) t(j)
), capped{sfx} AS (
    SELECT *, count(*) OVER (PARTITION BY band_key) AS bn FROM banded{sfx}
    QUALIFY bn <= {MAX_BUCKET}
), pairs{sfx} AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.sig AS sig_a, b.sig AS sig_b
    FROM capped{sfx} a JOIN capped{sfx} b USING (band_key)
    WHERE a.doc_id < b.doc_id
), est{sfx} AS (
    SELECT id_a, id_b,
           CAST(len(list_filter(range(1, {K + 1}), i -> sig_a[i] = sig_b[i])) AS DOUBLE)
           / {K}.0 AS est_jaccard
    FROM pairs{sfx}
)"""


def lsh_cte(src: str = "documents", sfx: str = "") -> str:
    """The full MinHash-LSH candidate-pair pipeline (signatures → band
    keys → hot-bucket cap → same-band pairs → estimated Jaccard) as a
    parameterized CTE fragment ending at ``est{sfx}`` — the single SQL
    source of truth shared by dedup_near_minhash, the dedup_clusters
    oracle, and the corpus_build_pipeline_near oracle (which runs it over
    the quality+exact-dedup survivor subset, not the raw table)."""
    return shingle_cte(src, sfx) + f"""
, sig{sfx} AS (
    SELECT doc_id, {SIG_SQL} AS sig FROM shx{sfx} GROUP BY doc_id
), """ + banding_cte(f"sig{sfx}", sfx)


def components_cte(sfx: str = "") -> str:
    """Recursive-CTE connected components over ``est{sfx}``'s near-dup
    pairs (threshold filter → symmetrized edges → transitive closure →
    min reachable label per node, ending at ``comp{sfx}``) — the single
    SQL source of truth for component labeling, shared by the
    dedup_clusters and corpus_build_pipeline_near oracles (hand-kept
    copies would risk silently checking different graphs; same rationale
    as lsh_cte). The enclosing WITH must be RECURSIVE. ``min(lbl)`` per
    node is exactly the min-id component the distributed
    forest-contraction loop computes; UNION-dedup terminates (≤ |V|²
    pairs, tiny at oracle scale)."""
    return f"""near{sfx} AS (SELECT id_a, id_b FROM est{sfx} WHERE est_jaccard >= {LSH_THRESHOLD}),
sym{sfx} AS (SELECT id_a AS u, id_b AS v FROM near{sfx}
        UNION SELECT id_b, id_a FROM near{sfx}),
reach{sfx}(node, lbl) AS (
    SELECT u, u FROM sym{sfx}
    UNION
    SELECT s.v, r.lbl FROM reach{sfx} r JOIN sym{sfx} s ON s.u = r.node
),
comp{sfx} AS (SELECT node, min(lbl) AS component FROM reach{sfx} GROUP BY node)"""
