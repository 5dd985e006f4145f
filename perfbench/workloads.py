"""The benchmark workloads and the measurement loops they share.

Each workload is a closed loop: one client submits one operation at a
time and waits for it. Set-up (a cold engine start), the first operation
(cold: class loading, code generation, Python workers), a short warm-up
and the timed window are separate phases; every operation is checked
against a reference computed outside Spark, and a mismatch counts as a
failed operation, never as a crash.

With tracing on, the run also times each layer: the first half of the
window runs untraced (job-group counts, CPU), the second half traced
(spans around each layer call, each boundary materialized so a span covers
its own layer's execution). Materializing breaks stage fusion, which is
why end-to-end metrics only ever come from untraced operations.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import model
from engine import Engine
from observe import Tracer, dir_bytes, group_counts

MB = 1024 * 1024
_T0 = time.perf_counter()

# BENCHMARK.json gates the first two; the other two are checked and traced
# the same way but cost too much per run to repeat in the gate.
GATED = ("index_batch", "index_stream")
WORKLOADS = GATED + ("dedup_corpus", "ann_search")
END_TO_END = {
    "setup_s": "s",
    "job_p50_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.first_job_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "sources.rows": "count",
    "pyds.offset_s": "s",
    "inverted_index.exec_s": "s",
    "inverted_index.tokens": "count",
    "inverted_index.pairs": "count",
    "inverted_index.pairs_per_token": "ratio",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "streaming.plan_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.trigger_gap_s": "s",
    "streaming.batches": "count",
    "streaming.pair_table_mb": "MB",
    "dedup.exact_s": "s",
    "dedup.minhash_s": "s",
    "dedup.lsh_s": "s",
    "dedup.pairs": "count",
    "dedup.pair_precision": "ratio",
    "dedup.dup_recall": "ratio",
    "dedup.unique_kept": "ratio",
    "graph.cc_s": "s",
    "graph.jobs": "count",
    "graph.components": "count",
    "similarity.ivf_s": "s",
    "similarity.brute_s": "s",
    "similarity.queries_per_s": "1/s",
    "similarity.recall_at_k": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.local_dir_mb": "MB",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "cpu.pyworker_s": "s",
    "cpu.util": "ratio",
    "trace.overhead_s": "s",
}

# Input sizes and warm-up lengths (warm-up counts the cold first
# operation). Warm-up runs until the JIT has settled: at full size
# index_batch jobs fall from ~10 s to within ~15% of their plateau by the
# fifth job, microbatches from ~8 s to within ~15% by the fourth batch.
# "tiny" is for the benchmark's own tests.
SIZES = {
    "full": {
        "files": 120, "tokens_per_file": 1000, "batch_warm": 5,
        "files_per_batch": 4, "stream_warm": 5,
        "dedup_docs": 200, "dedup_warm": 4, "vectors": 5000, "queries": 50, "ann_warm": 4,
    },
    "tiny": {
        "files": 12, "tokens_per_file": 200, "batch_warm": 1,
        "files_per_batch": 2, "stream_warm": 1,
        "dedup_docs": 20, "dedup_warm": 1, "vectors": 400, "queries": 5, "ann_warm": 1,
    },
}
TOP_K = 10
IVF_STRIDE, IVF_NPROBE = 50, 4  # corpus / 50 cells, 4 probed per query


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result line."""
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Tally:
    """Counts and timings of one run's operations."""

    attempted: int = 0
    failed: int = 0
    durations: list = field(default_factory=list)  # timed, untraced
    traced: list = field(default_factory=list)  # timed, traced
    layer: dict = field(default_factory=dict)

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def _cpu_layer(tally: Tally, cpu0: dict, cpu1: dict, ops: int, wall: float, cores: int) -> None:
    for key in ("driver", "jvm", "pyworker"):
        tally.layer[f"cpu.{key}_s"] = (cpu1[key] - cpu0[key]) / ops
    tally.layer["cpu.util"] = sum(cpu1[k] - cpu0[k] for k in cpu0) / (wall * cores)


# --- operation loops: index_batch, dedup_corpus, ann_search ----------------


class OpLoop:
    """A closed loop over ``op``: warm-up, then the timed window, untraced
    for the whole window (its first half when tracing), then traced.
    Subclasses give ``op`` and ``traced_op`` (each returning (quality,
    seconds), quality 1.0 for a fully correct output and below 1 for an
    approximate one, or None for a wrong output) and ``layer_times`` from
    the tracer."""

    warm = 1
    out = ""

    def on_start(self, spark) -> None:
        pass

    def measure(self, eng: Engine, seconds: float, trace: bool, tally: Tally) -> None:
        spark = eng.spark
        sc = spark.sparkContext
        n = 0

        def run(traced: bool, tr: Tracer | None = None) -> tuple[str, float]:
            nonlocal n
            group = f"op-{n}"
            n += 1
            sc.setJobGroup(group, group)
            q, wall = self.traced_op(spark, tr, tally, group) if traced else self.op(spark)
            tally.record(q is not None)
            log(f"{group}{' traced' if traced else ''}: {wall:.3f}s quality={q}")
            return group, wall

        for _ in range(self.warm):
            run(False)
        untraced_s = seconds / 2 if trace else seconds
        local = os.environ["SPARK_LOCAL_DIRS"]
        local_peak = 0
        cpu0 = eng.procs.cpu() if trace else None
        groups = []
        t0 = time.perf_counter()
        while not groups or time.perf_counter() - t0 < untraced_s:
            group, wall = run(False)
            groups.append(group)
            tally.durations.append(wall)
            if trace:
                local_peak = max(local_peak, dir_bytes(local)[0])
        if not trace:
            return
        _cpu_layer(tally, cpu0, eng.procs.cpu(), len(groups), time.perf_counter() - t0, eng.cpus)
        counts = [group_counts(sc, g) for g in groups]
        for key in ("jobs", "stages", "tasks"):
            tally.layer[f"spark.{key}"] = statistics.median(c[key] for c in counts)
        tally.layer["spark.failed_tasks"] = sum(c["failed_tasks"] for c in counts)
        tally.layer["spark.local_dir_mb"] = local_peak / MB
        tr = Tracer()
        t1 = time.perf_counter()
        while not tally.traced or time.perf_counter() - t1 < seconds - untraced_s:
            tally.traced.append(run(True, tr)[1])
        tally.layer.update(self.layer_times(tr, len(tally.traced)))
        tally.layer["trace.overhead_s"] = statistics.median(tally.traced) - statistics.median(tally.durations)
        tr.dump(os.path.join(self.out, "spans.jsonl"))


class IndexBatch(OpLoop):
    """Manifest → read_corpus → invert → write_letter_files, the CLI path,
    as repeated jobs in one warm session."""

    def __init__(self, work: str, seed: int, size: dict) -> None:
        d = gen.corpus(work, seed, size["files"], size["tokens_per_file"])
        self.manifest = os.path.join(d, "manifest.txt")
        self.out = os.path.join(work, "out", "index_batch")
        self.letters = os.path.join(self.out, "letters")
        self.warm = size["batch_warm"]
        docs = model.read_docs(self.manifest)
        self.expected = model.letter_lines(docs)
        self.tokens = sum(model.word_tokens(t) for t in docs)
        self.input_mb = dir_bytes(os.path.join(d, "docs"))[0] / MB

    def _quality(self) -> float | None:
        return 1.0 if model.letters_match(self.letters, self.expected) else None

    def op(self, spark) -> tuple[float | None, float]:
        from mapreduce_model_spark.operators.inverted_index import invert, write_letter_files
        from mapreduce_model_spark.sources.manifest import read_corpus

        t0 = time.perf_counter()
        write_letter_files(invert(read_corpus(spark, self.manifest)), self.letters)
        wall = time.perf_counter() - t0
        return self._quality(), wall

    def traced_op(self, spark, tr: Tracer, tally: Tally, group: str) -> tuple[float | None, float]:
        from pyspark.sql import functions as F

        from mapreduce_model_spark.operators.inverted_index import invert, write_letter_files
        from mapreduce_model_spark.sources.manifest import read_corpus

        t0 = time.perf_counter()
        with tr.span("op", group):
            with tr.span("sources.read_corpus", group) as src:
                docs = read_corpus(spark, self.manifest).persist()
                rows = docs.count()
            with tr.span("inverted_index.invert", group) as inv:
                index = invert(docs).persist()
                words = index.count()
            with tr.span("sinks.write_letter_files", group) as sink:
                write_letter_files(index, self.letters)
        wall = time.perf_counter() - t0
        pairs = index.agg(F.sum("n_docs")).first()[0]
        index.unpersist()
        docs.unpersist()
        out_bytes, out_files = dir_bytes(self.letters)
        src.counts = {"rows": rows}
        inv.counts = {"words": words, "pairs": pairs}
        sink.counts = {"bytes": out_bytes, "files": out_files}
        tally.layer.update(
            {
                "sources.rows": rows,
                "sources.input_mb": self.input_mb,
                "inverted_index.tokens": self.tokens,
                "inverted_index.pairs": pairs,
                "inverted_index.pairs_per_token": pairs / self.tokens,
                "sinks.bytes_written": out_bytes,
                "sinks.files_written": out_files,
            }
        )
        return self._quality(), wall

    def layer_times(self, tr: Tracer, k: int) -> dict:
        return {
            "sources.scan_s": tr.self_time("sources.read_corpus") / k,
            "inverted_index.exec_s": tr.self_time("inverted_index.invert") / k,
            "sinks.write_s": tr.self_time("sinks.write_letter_files") / k,
        }


PIPELINE = "corpus_build_pipeline_near"


class DedupCorpus(OpLoop):
    """The corpus-build pipeline over a documents table with planted
    duplicate clusters: quality filter → exact dedup → MinHash → LSH →
    connected components → split manifest, through ``registry.QUERIES``.
    Checked against the query's DuckDB oracle; quality is the share of
    documents whose planted role (keep or duplicate) the pipeline honoured."""

    def __init__(self, work: str, seed: int, size: dict) -> None:
        import pyarrow.parquet as pq

        from mapreduce_model_spark.registry import ORACLE_SQL

        self.docs_dir = gen.documents(work, seed, size["dedup_docs"])
        self.out = os.path.join(work, "out", "dedup_corpus")
        os.makedirs(self.out, exist_ok=True)
        self.warm = size["dedup_warm"]
        self.oracle = model.oracle_rows(self.docs_dir, ORACLE_SQL[PIPELINE])
        self.cluster = np.load(os.path.join(self.docs_dir, "cluster.npy"))
        self.docs = len(self.cluster)
        roles = pq.read_table(os.path.join(self.docs_dir, "documents.parquet"), columns=["source"]).column(0).to_pylist()
        self.roles = {r: roles.count(r) for r in (gen.KEEP, gen.DUP)}
        self.ratios = (0.0, 0.0)

    def _quality(self, rows) -> float | None:
        manifest = model.manifest_rows(rows)
        if manifest != self.oracle:
            return None
        self.ratios = dup_recall, unique_kept = model.planted_ratios(manifest, self.roles)
        return (dup_recall * self.roles[gen.DUP] + unique_kept * self.roles[gen.KEEP]) / self.docs

    def op(self, spark) -> tuple[float | None, float]:
        from mapreduce_model_spark.registry import QUERIES

        t0 = time.perf_counter()
        rows = QUERIES[PIPELINE](spark, self.docs_dir).collect()
        wall = time.perf_counter() - t0
        return self._quality(rows), wall

    def traced_op(self, spark, tr: Tracer, tally: Tally, group: str) -> tuple[float | None, float]:
        """The same query with its MinHash, LSH and connected-components
        calls wrapped (the query imports them from their modules when it
        runs), each materializing its output inside its span. The query
        span's self time is the rest: quality filter, exact dedup and the
        split manifest."""
        import mapreduce_model_spark.operators.dedup as dedup
        import mapreduce_model_spark.operators.graph as graph
        from mapreduce_model_spark.registry import QUERIES

        sc = spark.sparkContext
        originals = (dedup.minhash_signatures, dedup.lsh_near_dup_pairs, graph.dedup_survivors)
        held, found = [], {}

        def minhash(df, *args, **kwargs):
            held.append(df.persist())
            df.count()  # the exact-dedup survivors, outside the MinHash span
            with tr.span("dedup.minhash", group):
                sig = originals[0](df, *args, **kwargs).persist()
                held.append(sig)
                sig.count()
            return sig

        def lsh(*args, **kwargs):
            with tr.span("dedup.lsh", group):
                pairs = originals[1](*args, **kwargs).persist()
                held.append(pairs)
                found["pairs"] = [(r["id_a"], r["id_b"]) for r in pairs.select("id_a", "id_b").collect()]
            return pairs

        def survivors(*args, **kwargs):
            sc.setJobGroup(group + ".cc", group + ".cc")
            try:
                with tr.span("graph.cc", group + ".cc"):
                    out = originals[2](*args, **kwargs).persist()
                    held.append(out)
                    found["components"] = out.filter("is_survivor").count()
            finally:
                sc.setJobGroup(group, group)
            return out

        dedup.minhash_signatures, dedup.lsh_near_dup_pairs, graph.dedup_survivors = minhash, lsh, survivors
        try:
            t0 = time.perf_counter()
            with tr.span("dedup.query", group):
                rows = QUERIES[PIPELINE](spark, self.docs_dir).collect()
            wall = time.perf_counter() - t0
        finally:
            dedup.minhash_signatures, dedup.lsh_near_dup_pairs, graph.dedup_survivors = originals
            for df in held:
                df.unpersist()
        pairs = found["pairs"]
        true_pairs = sum(self.cluster[a - 1] == self.cluster[b - 1] for a, b in pairs)
        tally.layer.update(
            {
                "dedup.pairs": len(pairs),
                "dedup.pair_precision": true_pairs / len(pairs) if pairs else 1.0,
                "graph.components": found["components"],
                "graph.jobs": group_counts(sc, group + ".cc")["jobs"],
                "sources.rows": self.docs,
            }
        )
        return self._quality(rows), wall

    def layer_times(self, tr: Tracer, k: int) -> dict:
        dup_recall, unique_kept = self.ratios
        return {
            "dedup.exact_s": tr.self_time("dedup.query") / k,
            "dedup.minhash_s": tr.self_time("dedup.minhash") / k,
            "dedup.lsh_s": tr.self_time("dedup.lsh") / k,
            "dedup.dup_recall": dup_recall,
            "dedup.unique_kept": unique_kept,
            "graph.cc_s": tr.self_time("graph.cc") / k,
        }


class AnnSearch(OpLoop):
    """IVF cosine top-k (``operators.similarity.ivf_cosine_topk``) for a
    batch of queries over a clustered embedding corpus. Every result is
    checked against numpy cosines; quality is recall@k against numpy's
    exact top-k. The traced half also times brute-force ``cosine_topk``."""

    def __init__(self, work: str, seed: int, size: dict) -> None:
        import pyarrow.parquet as pq

        self.emb_dir = gen.embeddings(work, seed, size["vectors"], size["queries"], TOP_K)
        self.out = os.path.join(work, "out", "ann_search")
        os.makedirs(self.out, exist_ok=True)
        self.warm = size["ann_warm"]

        def vectors(name: str) -> np.ndarray:
            col = pq.read_table(os.path.join(self.emb_dir, f"{name}.parquet"), columns=["embedding"]).column(0)
            return np.array(col.to_pylist(), dtype=np.float64)

        self.corpus_np, self.queries_np = vectors("corpus"), vectors("queries")
        self.truth = np.load(os.path.join(self.emb_dir, "truth.npy"))
        self.docs = len(self.queries_np)  # queries answered per operation
        self.recall = 0.0

    def on_start(self, spark) -> None:
        self.corpus = spark.read.parquet(os.path.join(self.emb_dir, "corpus.parquet"))
        self.queries = spark.read.parquet(os.path.join(self.emb_dir, "queries.parquet"))

    def _ok(self, hits) -> bool:
        return model.topk_ok(hits, self.queries_np, self.corpus_np, TOP_K, gen.QUERY_ID_BASE)

    def _quality(self, hits) -> float | None:
        if not self._ok(hits):
            return None
        self.recall = model.recall_at_k(hits, self.truth, gen.QUERY_ID_BASE)
        return self.recall

    def _ivf(self):
        from mapreduce_model_spark.operators.similarity import ivf_cosine_topk

        return ivf_cosine_topk(self.corpus, self.queries, k=TOP_K, stride=IVF_STRIDE, nprobe=IVF_NPROBE).collect()

    def op(self, spark) -> tuple[float | None, float]:
        t0 = time.perf_counter()
        hits = self._ivf()
        wall = time.perf_counter() - t0
        return self._quality(hits), wall

    def traced_op(self, spark, tr: Tracer, tally: Tally, group: str) -> tuple[float | None, float]:
        from mapreduce_model_spark.operators.similarity import cosine_topk

        t0 = time.perf_counter()
        with tr.span("similarity.ivf", group):
            hits = self._ivf()
        wall = time.perf_counter() - t0
        with tr.span("similarity.brute", group):
            brute = cosine_topk(self.corpus, self.queries, k=TOP_K).collect()
        quality = self._quality(hits)
        return (quality if self._ok(brute) else None), wall

    def layer_times(self, tr: Tracer, k: int) -> dict:
        ivf_s = tr.self_time("similarity.ivf") / k
        return {
            "similarity.ivf_s": ivf_s,
            "similarity.brute_s": tr.self_time("similarity.brute") / k,
            "similarity.queries_per_s": self.docs / ivf_s,
            "similarity.recall_at_k": self.recall,
            "sources.rows": len(self.corpus_np),
        }


# --- index_stream -----------------------------------------------------------


def _offset(value) -> int:
    """A progress offset ({"index": n}, its JSON or repr, or None) → n."""
    import ast
    import json

    if isinstance(value, str):
        try:
            value = json.loads(value)
        except ValueError:
            value = ast.literal_eval(value)
    return 0 if value is None else int(value["index"])


def _epoch(stamp: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def _span(batch) -> tuple[int, int]:
    src = batch["sources"][0]
    return _offset(src["startOffset"]), _offset(src["endOffset"])


class IndexStream:
    """The manifest fed ``k`` files per microbatch through the
    ``manifest_corpus`` stream into the incremental pair table.
    Latencies come from the query's progress events (``triggerExecution``);
    the driver-side poll only decides when to stop."""

    def __init__(self, work: str, seed: int, size: dict, seconds: float) -> None:
        self.fpb = size["files_per_batch"]
        self.warm = size["stream_warm"]
        # enough files for the warm-up plus batches as short as 0.25 s
        self.n_files = self.fpb * (self.warm + 4 * int(seconds + 1) + 8)
        d = gen.corpus(work, seed, self.n_files, size["tokens_per_file"])
        self.manifest = os.path.join(d, "manifest.txt")
        docs = model.read_docs(self.manifest)
        self.word_sets = [model.doc_words(t) for t in docs]
        self.tokens = [model.word_tokens(t) for t in docs]
        self.out = os.path.join(work, "out", "index_stream")

    def on_start(self, spark) -> None:
        from mapreduce_model_spark.sources import pyds

        pyds.register(spark)

    def measure(self, eng: Engine, seconds: float, trace: bool, tally: Tally) -> None:
        from pyspark.sql import functions as F

        import mapreduce_model_spark.streaming.index as stream_index

        spark = eng.spark
        shutil.rmtree(self.out, ignore_errors=True)
        pairs_path = os.path.join(self.out, "pairs")
        # keep every progress event of the run, not the last 100
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        tr, tracing, held = Tracer(), threading.Event(), []
        original = stream_index.word_doc_pairs
        run_id = None  # the stream's job group, known once it starts

        def pairs_traced(batch_df, *args, **kwargs):
            # traced half only: materialize the tokenize/normalize layer
            # inside each microbatch so its span covers its own execution
            pairs = original(batch_df, *args, **kwargs)
            if not tracing.is_set():
                return pairs
            while held:
                held.pop().unpersist()
            pairs = pairs.persist()
            held.append(pairs)
            with tr.span("inverted_index.word_doc_pairs", run_id) as sp:
                n_pairs = pairs.count()
            lo, hi = batch_df.agg(F.min("doc_id"), F.max("doc_id")).first()
            sp.counts = {"pairs": n_pairs, "tokens": sum(self.tokens[lo - 1 : hi])}
            return pairs

        if trace:
            stream_index.word_doc_pairs = pairs_traced
        try:
            q = stream_index.start_streaming_index(
                spark, self.manifest, pairs_path, os.path.join(self.out, "ckpt"), self.fpb
            )
            run_id = str(q.runId)
            opened, half, cpu0, cpu1 = self._window(q, seconds, trace, tracing, eng)
            target = min(self.n_files, _span(q.lastProgress)[1] + self.fpb)
            stream_index.drain_streaming_index(q, target, timeout_s=seconds + 120)
        finally:
            stream_index.word_doc_pairs = original
            while held:
                held.pop().unpersist()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        log("batches (id:ms) " + " ".join(f"{b['batchId']}:{b['durationMs']['triggerExecution']}" for b in batches))
        self._check(batches, pairs_path, tally)

        timed = [b for b in batches if b["batchId"] >= self.warm and _epoch(b["timestamp"]) < opened + seconds]
        untraced = [b for b in timed if not trace or _epoch(b["timestamp"]) < half]
        traced = [b for b in timed if trace and _epoch(b["timestamp"]) >= half]

        def secs(bs, key):
            return [b["durationMs"][key] / 1000 for b in bs]

        tally.durations = secs(untraced, "triggerExecution")
        if not trace:
            return
        tally.traced = secs(traced, "triggerExecution")
        gaps = [
            _epoch(b["timestamp"]) - _epoch(a["timestamp"]) - a["batchDuration"] / 1000
            for a, b in zip(untraced, untraced[1:])
        ]
        # the stream's jobs run in the job group named by the query's runId
        counts = group_counts(spark.sparkContext, run_id)
        # a batch interrupted by the final stop leaves a span without counts
        spans = [sp for sp in tr.spans if sp.name == "inverted_index.word_doc_pairs" and sp.counts]
        n_spans = max(1, len(spans))
        pairs_t = sum(sp.counts["pairs"] for sp in spans)
        tokens_t = sum(sp.counts["tokens"] for sp in spans)
        tally.layer.update(
            {
                "pyds.offset_s": statistics.median(secs(untraced, "latestOffset")),
                "streaming.plan_s": statistics.median(secs(untraced, "queryPlanning")),
                "streaming.add_batch_s": statistics.median(secs(untraced, "addBatch")),
                "streaming.trigger_gap_s": statistics.median(gaps) if gaps else 0.0,
                "streaming.batches": len(timed),
                "streaming.pair_table_mb": dir_bytes(pairs_path)[0] / MB,
                "sources.rows": sum(b["numInputRows"] for b in untraced),
                "inverted_index.exec_s": sum(sp.end - sp.start for sp in spans) / n_spans,
                "inverted_index.tokens": tokens_t / n_spans,
                "inverted_index.pairs": pairs_t / n_spans,
                "inverted_index.pairs_per_token": pairs_t / tokens_t if tokens_t else 0.0,
                "spark.jobs": counts["jobs"] / len(batches),
                "spark.stages": counts["stages"] / len(batches),
                "spark.tasks": counts["tasks"] / len(batches),
                "spark.failed_tasks": counts["failed_tasks"],
                "spark.local_dir_mb": dir_bytes(os.environ["SPARK_LOCAL_DIRS"])[0] / MB,
                "trace.overhead_s": statistics.median(tally.traced) - statistics.median(tally.durations)
                if tally.traced
                else 0.0,
            }
        )
        _cpu_layer(tally, cpu0, cpu1, max(1, len(untraced)), half - opened, eng.cpus)
        tr.dump(os.path.join(self.out, "spans.jsonl"))

    def _window(self, q, seconds: float, trace: bool, tracing: threading.Event, eng: Engine):
        """Wait out the warm-up batches and the timed window. Returns the
        window's opening time, its midpoint (tracing starts there) and the
        CPU counters at both."""
        opened = half = cpu0 = cpu1 = None
        while True:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            now = time.time()
            p = q.lastProgress
            if opened is None:
                if p is not None and p["batchId"] >= self.warm - 1:
                    opened, cpu0 = now, eng.procs.cpu() if trace else None
            elif trace and half is None and now >= opened + seconds / 2:
                half, cpu1 = now, eng.procs.cpu()
                tracing.set()
            elif now >= opened + seconds:
                return opened, half, cpu0, cpu1
            if p is not None and _span(p)[1] >= self.n_files:  # input exhausted early
                now = time.time()
                cpu_now = eng.procs.cpu() if trace else None
                return opened or now, half or now, cpu0 or cpu_now, cpu1 or cpu_now
            time.sleep(0.05)

    def _check(self, batches, pairs_path: str, tally: Tally) -> None:
        """Compare the final pair table with the model, doc by doc; a batch
        holding any wrong document counts as failed."""
        import pyarrow.dataset as ds

        table = ds.dataset(pairs_path, format="parquet").to_table(columns=["word", "doc_id"])
        pairs = list(zip(table.column("word").to_pylist(), table.column("doc_id").to_pylist()))
        committed = max(_span(b)[1] for b in batches)
        bad = model.bad_docs(pairs, self.word_sets, committed)
        for b in batches:
            lo, hi = _span(b)
            tally.record(not any(lo < d <= hi for d in bad))
        if any(d > committed or d < 1 for d in bad):
            tally.record(False)


# --- one run ----------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, trace: bool, size: str, work: str) -> dict:
    sizes = SIZES[size]
    if workload == "index_batch":
        wl = IndexBatch(work, seed, sizes)
    elif workload == "index_stream":
        wl = IndexStream(work, seed, sizes, seconds)
    elif workload == "dedup_corpus":
        wl = DedupCorpus(work, seed, sizes)
    elif workload == "ann_search":
        wl = AnnSearch(work, seed, sizes)
    else:
        raise ValueError(f"unknown workload {workload!r}; expected one of {WORKLOADS}")
    log(f"{workload}: inputs ready")
    tally = Tally()
    eng = Engine(os.cpu_count() or 1, wl.on_start)
    try:
        start_s, first_s = eng.start()
        log(f"engine started: get_spark {start_s:.2f}s, first job {first_s:.2f}s")
        wl.measure(eng, seconds, trace, tally)
        peak_rss = eng.procs.peak_rss_mb()
    finally:
        eng.close()
    log("engine stopped")
    result = {"correct": tally.failed == 0, "attempted": tally.attempted, "failed": tally.failed}
    if trace:
        values = {name: 0.0 for name in PER_LAYER}
        values.update(tally.layer)
        values.update({"session.start_s": start_s, "session.first_job_s": first_s, "session.peak_rss_mb": peak_rss})
        units = PER_LAYER
    else:
        values = {
            "setup_s": start_s + first_s,
            "job_p50_s": statistics.median(tally.durations),
        }
        units = END_TO_END
    result["metrics"] = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    return result
