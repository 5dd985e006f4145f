"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload index_batch --seed 1 --seconds 20 --trace 0

Runs from the root of a source checkout: it generates the workload's
inputs from ``--seed`` (cached under ``perfbench/.work``), starts the
engine with ``session.get_spark(cpus=<cores>)``, measures for
``--seconds`` and prints, as its last line, ``{"correct", "attempted",
"failed", "metrics"}``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones. Everything the run writes stays under
``perfbench/.work``; every process it starts has ended when it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("index_batch", "index_stream", "dedup_corpus", "ann_search"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="input size; tiny is for tests")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mapreduce_model_spark", "session.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    # Python workers (the stream's DataSource reader) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
        os.environ[var] = os.path.join(WORK, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    # keep the JVMs' temp files inside the checkout too: Spark's temp dirs
    # follow java.io.tmpdir, and the JVM's perf-data file is always in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)

    import workloads

    result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), args.size, WORK)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
