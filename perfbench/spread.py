"""Repeat the benchmark over several seeds and report each metric's
median, quartiles and spread (interquartile distance / median).

    python3 perfbench/spread.py --workload index_batch --seeds 1-10 [--logs DIR]

Each run is a fresh ``run.py`` process. Prints one JSON object per metric
and a final summary line; the spread is what the acceptance rule compares
with each metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--logs", help="directory to keep each run's stderr in")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls, failures = [], 0
    for seed in seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        if args.logs:
            os.makedirs(args.logs, exist_ok=True)
            with open(os.path.join(args.logs, f"{args.workload}-{seed}.log"), "w") as fh:
                fh.write(proc.stderr)
        if proc.returncode != 0:
            failures += 1
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        failures += 0 if res["correct"] and res["failed"] == 0 else 1
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f}s " + json.dumps({k: round(v["value"], 4) for k, v in res["metrics"].items()}), file=sys.stderr, flush=True)
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        print(json.dumps({"metric": name, "median": med, "q1": q1, "q3": q3, "spread": round(spread, 4),
                          "bound": bounds.get(name), "n": len(vs)}))
    print(json.dumps({"workload": args.workload, "runs": len(walls), "failed_runs": failures,
                      "mean_wall_s": round(statistics.mean(walls), 1)}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
