"""Mirror of the reference checker's parallelism matrix (checker.sh:141-164):
prove the SAME small-corpus goldens at every (M, R) in {1,2,4}² — M maps to
local cores / default parallelism, R to shuffle partitions, exactly the two
knobs main.cc:199-214 exposes. The reference grades this property directly;
until round 8 the port proved goldens at one config plus one CLI run.

    python tools/parity_matrix.py [manifest golden_dir]

With no arguments it checks the committed small corpus
(tests/fixtures/reference_small: test_small.txt, test_out_small/).

Runs all nine configs in ONE process (the session is stopped and rebuilt
per config — a fresh SparkContext applies the new master/shuffle conf, and
the test asserts both took effect, so config bleed between iterations
cannot silently pass). Prints one line per config plus a final
``MATRIXDONE checked=9 fails=0`` summary; exit 1 on any mismatch.
"""

from __future__ import annotations

import os
import string
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def golden_lines(golden_dir: str, letter: str) -> list[str]:
    path = os.path.join(golden_dir, f"{letter}.txt")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [" ".join(line.split()) for line in fh if line.strip()]


def run_config(m: int, r: int, manifest: str, golden_dir: str) -> list[str]:
    """One (M, R) config end-to-end; returns the list of mismatched letters
    (empty = parity). diff -w semantics, line order included, like
    checker.sh:22-36."""
    from pyspark.sql import SparkSession

    from mapreduce_model_spark.operators.inverted_index import (
        format_output,
        invert,
    )
    from mapreduce_model_spark.session import get_spark
    from mapreduce_model_spark.sources.manifest import read_corpus

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    spark = get_spark(
        app_name=f"parity-matrix-m{m}-r{r}", cpus=m, shuffle_partitions=r
    )
    try:
        assert spark.sparkContext.master == f"local[{m}]", spark.sparkContext.master
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(r)
        by_letter: dict[str, list[str]] = {}
        for row in format_output(invert(read_corpus(spark, manifest))).collect():
            by_letter.setdefault(row.letter, []).append(" ".join(row.line.split()))
        return [
            letter
            for letter in string.ascii_lowercase
            if by_letter.get(letter, []) != golden_lines(golden_dir, letter)
        ]
    finally:
        spark.stop()


def main() -> int:
    from tests.conftest import REFERENCE_SMALL

    manifest = (
        sys.argv[1] if len(sys.argv) > 1 else f"{REFERENCE_SMALL}/test_small.txt"
    )
    golden_dir = (
        sys.argv[2] if len(sys.argv) > 2 else f"{REFERENCE_SMALL}/test_out_small"
    )
    t0 = time.time()
    fails = 0
    for m in (1, 2, 4):
        for r in (1, 2, 4):
            bad = run_config(m, r, manifest, golden_dir)
            status = "ok" if not bad else f"MISMATCH {','.join(bad)}"
            print(f"M={m} R={r}: {status}", flush=True)
            fails += bool(bad)
    print(
        f"MATRIXDONE checked=9 fails={fails} secs={time.time() - t0:.0f}",
        flush=True,
    )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
