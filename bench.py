"""Benchmark harness — runs every registered query at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "suite_seconds", "value": N, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <sf>}

Each query is executed to completion with the noop sink (full physical
execution — scan, shuffle, agg — without driver-side collect overhead),
which is what a 1000-executor job does: results land in a sink, never on
the driver. Timing includes plan + execution, excludes session startup.

Env:
  SPARK_GRAFT_SF_DIR  data dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local core count (default 32)
  BENCH_QUERIES       comma-separated subset (default: all registered)
  BENCH_REPEAT        N timed runs per query (default 3). For N>1 the query
                      actually runs N+1 times: the FIRST run is discarded as
                      warmup (it pays whole-stage-codegen JIT, measured
                      3-5x steady state on cheap queries) and the recorded
                      value is the median of the remaining N. Rationale: the
                      r1-r3 records were min-of-runs; r4's plain median-of-3
                      sat systematically above those mins purely because the
                      un-discarded first run dragged the median (diagnosed
                      round 5 — lateral_topn samples [1.87, .58, .55, .55,
                      .65, .54, .48, .46]). Median-after-warmup measures the
                      steady state a long-running cluster sees, robustly.
  BENCH_FULL_PATH     durable sidecar path (default <repo>/BENCH_FULL.json;
                      NOT written on BENCH_QUERIES subset runs, so smoke
                      probes never clobber the last full-suite record)
  BENCH_CHUNK         DEFAULT 30 (since r11 — the chunked record IS the
                      record of note; set 0 for the legacy single-session
                      mode). N > 0 → run the suite as sequential CHILD processes
                      of N queries each (one fresh JVM + Python + cache
                      per chunk, the tools/sweep.py SWEEP_CHUNK pattern),
                      then print ONE merged JSON line tagged
                      "mode": "chunked_fresh_session". This is the r9
                      verdict's bench-trust fix: in the single-session
                      record a query's number encodes the cache-eviction
                      state left by the ~200 queries before it (r9's top
                      tail entry measured 8.4x its idle-isolated time), so
                      per-query values were only comparable within one
                      eviction order. Chunked numbers are comparable
                      query-by-query across rounds. Sidecar goes to
                      BENCH_FULL_CHUNKED.json (BENCH_FULL_PATH still wins
                      if set); the LEGACY single-session record keeps its
                      default path/format so cross-round ratios stay
                      interpretable during the transition.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time


def _chunked_main(chunk: int) -> None:
    """Parent orchestration for BENCH_CHUNK: list the registry (no Spark
    session needed), spawn `bench.py` children over BENCH_QUERIES slices
    with a fresh JVM each, merge their per-query timings, emit one JSON
    line + the BENCH_FULL_CHUNKED.json sidecar."""
    import math
    import subprocess

    from mapreduce_model_spark import registry

    names = list(registry.QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    repeat = max(1, int(os.environ.get("BENCH_REPEAT", "3")))
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    here = os.path.abspath(__file__)
    for i in range(0, len(names), chunk):
        sl = names[i : i + chunk]
        env = dict(
            os.environ,
            BENCH_QUERIES=",".join(sl),
            BENCH_CHUNK="0",
            BENCH_EMIT_RUNS="1",
        )
        proc = subprocess.run(
            [sys.executable, here], env=env, capture_output=True, text=True
        )
        line = next(
            (l for l in reversed(proc.stdout.splitlines()) if l.startswith("{")),
            None,
        )
        if line is None:
            print(
                f"bench: chunk {i // chunk} produced no JSON line:\n"
                f"{proc.stderr[-2000:]}",
                file=sys.stderr,
            )
            for n in sl:
                timings[n] = -1.0
            continue
        child = json.loads(line)
        timings.update(child["queries"])
        all_runs.update(child.get("runs", {}))
        print(
            f"bench: chunk {i // chunk + 1}/{(len(names) + chunk - 1) // chunk}"
            f" done ({len(sl)} queries, {child['value']}s)",
            file=sys.stderr,
        )
    total = round(sum(t for t in timings.values() if t > 0), 4)
    failed_names = sorted(n for n, t in timings.items() if t < 0)
    sidecar = os.environ.get(
        "BENCH_FULL_PATH",
        os.path.join(os.path.dirname(here), "BENCH_FULL_CHUNKED.json"),
    )
    geomean_vs_prev = None
    try:
        prev_doc = json.load(open(sidecar))
        # Only compare like with like: a sidecar recorded at a different
        # sf / chunk / repeat would silently yield a cross-config ratio.
        if all(prev_doc.get(k) == v for k, v in (("sf", sf), ("chunk", chunk), ("repeat", repeat))):
            prev = prev_doc.get("queries", {})
            common = [
                n
                for n, t in timings.items()
                if t > 0 and isinstance(prev.get(n), (int, float)) and prev[n] > 0
            ]
            if common:
                geomean_vs_prev = round(
                    math.exp(
                        sum(math.log(timings[n] / prev[n]) for n in common) / len(common)
                    ),
                    4,
                )
    except (OSError, ValueError):
        pass
    ordered = dict(sorted(timings.items(), key=lambda kv: (kv[1] < 0, kv[1])))
    by_cost = sorted(
        ((n, t) for n, t in timings.items() if t > 0), key=lambda kv: -kv[1]
    )
    payload = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "repeat": repeat,
        "stat": "min" if repeat == 1 else "median_after_warmup",
        "mode": "chunked_fresh_session",
        "chunk": chunk,
        "queries": ordered,
        "summary": {
            "total_s": total,
            "n_ok": len(timings) - len(failed_names),
            "n_failed": len(failed_names),
            "failed": failed_names,
            "geomean_vs_prev": geomean_vs_prev,
            "top5": dict(by_cost[:5]),
        },
    }
    try:
        with open(sidecar, "w") as fh:
            json.dump({**payload, "runs": all_runs}, fh, sort_keys=True, indent=1)
            fh.write("\n")
    except OSError as exc:
        print(f"bench: could not write {sidecar}: {exc}", file=sys.stderr)
    print(json.dumps(payload))


def main() -> None:
    # DEFAULT is the chunked fresh-session record (r10 verdict: promote it
    # to the record of note — per-query numbers comparable across rounds,
    # free of single-session cache-eviction artifacts). BENCH_CHUNK=0
    # selects the legacy single-session mode, kept for cross-round ratio
    # continuity (run separately, commit as BENCH_r{N}_legacy.json).
    chunk = int(os.environ.get("BENCH_CHUNK", "30") or 0)
    if chunk > 0 and not os.environ.get("BENCH_QUERIES"):
        _chunked_main(chunk)
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    repeat = max(1, int(os.environ.get("BENCH_REPEAT", "3")))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from mapreduce_model_spark.session import get_spark

    spark = get_spark(app_name="bench", cpus=int(cpus))
    from mapreduce_model_spark import registry

    names = list(registry.QUERIES)
    subset = os.environ.get("BENCH_QUERIES")
    if subset:
        names = [n for n in subset.split(",") if n in registry.QUERIES]

    # Warm the JVM, parquet footers, shuffle machinery, Python workers, and
    # the heavy codegen paths (shingle hashing, array HOFs, windows) once so
    # query timings measure the plan, not first-touch JIT/worker spawn
    # (clusters amortize these across jobs; measured: the first MinHash-style
    # query pays ~4x its steady-state time purely in codegen/JIT).
    registry.table(spark, sf_dir, "lineitem").count()
    from pyspark.sql import Window, functions as F

    docs = registry.table(spark, sf_dir, "documents").limit(200)
    docs.select(F.explode(F.split("text", " ")).alias("w")).groupBy(
        "w"
    ).count().write.format("noop").mode("overwrite").save()
    docs.select("doc_id").mapInPandas(
        lambda it: it, "doc_id bigint"
    ).write.format("noop").mode("overwrite").save()
    from mapreduce_model_spark.functions.text import md5_int32, shingles, words_array

    sh = docs.select(
        "doc_id", F.explode(F.array_distinct(shingles(words_array("text"), 3))).alias("s")
    ).select("doc_id", md5_int32(F.col("s")).alias("x"))
    sets = sh.groupBy("doc_id").agg(F.collect_set("x").alias("xs"))
    (
        sets.alias("a")
        .join(sets.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .limit(500)
        .select(
            F.size(F.array_intersect("a.xs", "b.xs")).alias("ni"),
            F.aggregate("a.xs", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("sm"),
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    emb = registry.table(spark, sf_dir, "embeddings").limit(100)
    emb.select(
        F.aggregate(
            F.zip_with("embedding", "embedding", lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d"),
        F.row_number()
        .over(Window.partitionBy("label").orderBy("vec_id"))
        .alias("rn"),
    ).write.format("noop").mode("overwrite").save()

    # Adaptive retry for single-shot mode (BENCH_REPEAT=1): a query whose
    # only run exceeds the threshold is run once more and the minimum kept —
    # the first execution of a heavy plan pays its whole-stage-codegen JIT
    # (measured ~4x steady state), which a long-running cluster amortizes
    # and a benchmark should not charge. Moot at the default repeat=3, where
    # the median already discounts a slow first run.
    retry_threshold = float(os.environ.get("BENCH_RETRY_THRESHOLD", "3.0"))

    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    for name in names:
        fn = registry.QUERIES[name]
        samples: list[float] = []
        # repeat>1: one extra run up front, discarded below as warmup
        runs = repeat + 1 if repeat > 1 else 1
        r = 0
        failed = False
        while r < runs:
            r += 1
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — record, keep benching
                print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
                failed = True
                break
            dt = time.perf_counter() - t0
            samples.append(dt)
            if runs == 1 and dt > retry_threshold:
                runs = 2
        all_runs[name] = [round(s, 4) for s in samples]
        if failed:
            timings[name] = -1.0
        elif repeat == 1:
            timings[name] = round(min(samples), 4)
        else:
            # discard samples[0] (JIT warmup), median of the steady-state runs
            timings[name] = round(statistics.median(samples[1:]), 4)

    total = round(sum(t for t in timings.values() if t > 0), 4)
    failed_names = sorted(n for n, t in timings.items() if t < 0)
    # Geomean vs the previous full-suite sidecar (committed per round), over
    # the common queries — the headline cross-round ratio, computed BEFORE
    # the sidecar is overwritten below. Interpret per PLANS.md §Benchmark
    # measurement protocol (environment drift ~1.3x).
    sidecar = os.environ.get(
        "BENCH_FULL_PATH",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"),
    )
    geomean_vs_prev = None
    try:
        import math

        prev_doc = json.load(open(sidecar))
        # Cross-config guard (mirrors the chunked path): a sidecar from a
        # different sf / repeat run must not feed the ratio.
        if not all(
            prev_doc.get(k) == v for k, v in (("sf", sf), ("repeat", repeat))
        ):
            raise ValueError("previous sidecar config differs; skip ratio")
        prev = prev_doc.get("queries", {})
        common = [
            n
            for n, t in timings.items()
            if t > 0 and isinstance(prev.get(n), (int, float)) and prev[n] > 0
        ]
        if common:
            geomean_vs_prev = round(
                math.exp(sum(math.log(timings[n] / prev[n]) for n in common) / len(common)),
                4,
            )
    except (OSError, ValueError):
        pass
    # Cheapest-FIRST, failures LAST: the driver records the LAST ~2000 bytes
    # of stdout (verified against BENCH_r{1,2,3,4}.json tails), so the end of
    # this line must carry what matters — ascending order sacrifices cheap
    # queries to truncation, never expensive ones, and failed (-1.0) entries
    # go at the very end so a failure is never hidden by truncation.
    ordered = dict(sorted(timings.items(), key=lambda kv: (kv[1] < 0, kv[1])))
    by_cost = sorted(
        ((n, t) for n, t in timings.items() if t > 0), key=lambda kv: -kv[1]
    )
    # "summary" is the LAST key on the line: any tail truncation that keeps
    # the final ~300 bytes keeps the headline numbers (suite total, count,
    # failures, 5 most expensive queries) even when the per-query dict is
    # cut. tools/compare_bench.py parses it from truncated driver records.
    payload = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "repeat": repeat,
        "stat": "min" if repeat == 1 else "median_after_warmup",
        "queries": ordered,
        "summary": {
            "total_s": total,
            "n_ok": len(timings) - len(failed_names),
            "n_failed": len(failed_names),
            "failed": failed_names,
            "geomean_vs_prev": geomean_vs_prev,
            "top5": dict(by_cost[:5]),
        },
    }
    # Durable sidecar: the full per-query record (incl. raw per-run samples)
    # lands on disk for round-over-round comparison. Skipped for subset
    # runs — a BENCH_QUERIES smoke probe must not clobber the last
    # full-suite record the sidecar exists to preserve.
    if subset:
        print("bench: subset run — sidecar not written", file=sys.stderr)
    else:
        try:
            with open(sidecar, "w") as fh:
                json.dump({**payload, "runs": all_runs}, fh, sort_keys=True, indent=1)
                fh.write("\n")
        except OSError as exc:
            print(f"bench: could not write {sidecar}: {exc}", file=sys.stderr)
    if os.environ.get("BENCH_EMIT_RUNS") == "1":
        payload["runs"] = all_runs  # chunked parent collects raw samples
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
