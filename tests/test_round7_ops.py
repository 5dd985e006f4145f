"""Round-7 pins: the IVF-PQ recall report's invariants, the shared-training
memoization contract, and pq_fit's small-corpus guard.

The recall report itself is hash-checked vs the composed DuckDB recurrence
(tests/test_oracle_parity.py covers every registered query); these pins
assert the SEMANTIC properties a hash can't: coverage monotonicity, the
coverage/recall ordering, and quality floors at the shipped nprobe.
"""

import pytest
from pyspark.sql import functions as F

from mapreduce_model_spark.registry import QUERIES


def _report_rows(spark, sf_dir):
    return {
        r["nprobe"]: r
        for r in QUERIES["ivfpq_recall_report"](spark, sf_dir)
        .orderBy("nprobe")
        .collect()
    }


def test_ivfpq_coverage_monotone_and_complete(spark, sf_dir):
    """Coverage (fraction of true neighbors in PROBED cells) must be
    monotone in nprobe by construction and exactly 1.0 when every cell is
    probed — the structural halves of the probe-miss story. Recall can
    legitimately dip as nprobe grows (approximate ADC scores displace true
    neighbors), so recall is floor-pinned, not monotone-pinned."""
    from mapreduce_model_spark.queries_similarity import _IVFPQ_KC

    rows = _report_rows(spark, sf_dir)
    assert sorted(rows) == list(range(1, _IVFPQ_KC + 1))
    covs = [rows[n]["coverage"] for n in sorted(rows)]
    assert covs == sorted(covs), f"coverage not monotone: {covs}"
    assert rows[_IVFPQ_KC]["coverage"] == 1.0
    assert rows[_IVFPQ_KC]["n_cov"] == rows[_IVFPQ_KC]["n_truth"]


def test_ivfpq_recall_bounded_by_coverage(spark, sf_dir):
    """A true neighbor can only be retrieved if its cell was probed:
    n_hit ≤ n_cov at every nprobe."""
    rows = _report_rows(spark, sf_dir)
    for n, r in rows.items():
        assert r["n_hit"] <= r["n_cov"], (n, r)


def test_ivfpq_recall_floor_at_shipped_nprobe(spark, sf_dir):
    """Quality floors at the shipped nprobe=2 (similarity_ann_ivfpq's
    setting), measured 2026-08-15: recall@10 0.29 (sf0.001) / 0.31
    (sf0.01), coverage 0.715 / 0.765 on the synthetic unclustered
    embeddings (quantization-bound regime: 32-bit codes on 64-dim noise).
    Pinned with headroom against seed/testdata drift."""
    rows = _report_rows(spark, sf_dir)
    assert rows[2]["recall"] >= 0.2, rows[2]
    assert rows[2]["coverage"] >= 0.6, rows[2]


def test_pq_fit_rejects_undersized_corpus(spark, sf_dir):
    """pq_fit must fail loudly (not IndexError deep in the Lloyd loop)
    when the corpus has fewer vectors than codewords."""
    from mapreduce_model_spark.operators.similarity import pq_fit
    from mapreduce_model_spark.registry import table

    tiny = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="at least k=16"):
        pq_fit(tiny, m=8, k=16, n_iter=1)
