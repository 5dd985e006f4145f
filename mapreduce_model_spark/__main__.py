"""CLI — drop-in for the reference's entry point (main.cc:199-214).

    python -m mapreduce_model_spark <mapper_threads> <reducer_threads> <input_manifest> [out_dir]

Same three positional arguments as ``./tema1 <M> <R> <input>``: M maps to
scan/default parallelism, R to shuffle partitions (SURVEY.md §3 E1 — the
reference's only runtime knobs), the manifest is the reference's
count-plus-paths format, and the output is the reference's 26 per-letter
files ``a.txt`` … ``z.txt`` (``word:[d1 d2 ...]`` lines, postings-length
DESC then word ASC). ``out_dir`` defaults to the current directory, which
is where the reference writes.
"""

from __future__ import annotations

import os
import string
import sys
import tempfile

from mapreduce_model_spark.operators.inverted_index import (
    invert,
    published_part_files,
    write_letter_files,
)
from mapreduce_model_spark.session import get_spark
from mapreduce_model_spark.sources.manifest import read_corpus


def _materialize_letter_files(scratch: str, out_dir: str) -> None:
    """Flatten the sink's published ``letter=<c>/part-*.txt`` layout into
    the reference's literal ``<c>.txt`` files — all 26, empty included
    (main.cc:136-138 opens every letter's file unconditionally). Each letter
    is one shuffle partition, so its directory holds one ordered part file;
    the loop is a driver-side rename, not a data pass."""
    parts = published_part_files(scratch)
    for letter in string.ascii_lowercase:
        with open(os.path.join(out_dir, f"{letter}.txt"), "w") as out:
            for p in parts:
                if os.path.basename(os.path.dirname(p)) == f"letter={letter}":
                    with open(p) as fh:
                        out.write(fh.read())


def main(argv: list[str]) -> int:
    if len(argv) < 3 or len(argv) > 4:
        # usage contract mirrors main.cc:201-204
        print(
            "Usage: python -m mapreduce_model_spark "
            "<mapper_threads> <reducer_threads> <input_manifest> [out_dir]",
            file=sys.stderr,
        )
        return 1
    mappers, reducers = int(argv[0]), int(argv[1])
    manifest, out_dir = argv[2], (argv[3] if len(argv) == 4 else ".")
    spark = get_spark(
        app_name="mapreduce-model-spark-cli",
        cpus=max(mappers, reducers),
        shuffle_partitions=max(reducers, 1),
    )
    index = invert(read_corpus(spark, manifest))
    with tempfile.TemporaryDirectory(prefix="mrs-letters-") as scratch:
        write_letter_files(index, scratch)
        os.makedirs(out_dir, exist_ok=True)
        _materialize_letter_files(scratch, out_dir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
