"""Batch/stream parity (SURVEY.md §5): the readStream path must produce the
same windows as the batch path, and watermark+append must emit exactly the
finalized windows. Plus the applyInPandasWithState custom operator."""

import ast
import os

import pytest
from pyspark.sql import functions as F

from mapreduce_model_spark.registry import table
from mapreduce_model_spark.streaming.stateful import running_user_totals
from mapreduce_model_spark.streaming.windows import (
    run_stream_to_table,
    session_agg,
    sliding_agg,
    stream_events,
    tumbling_agg,
)
from tests.conftest import REFERENCE_SMALL


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_batch_stream_parity(spark, sf_dir):
    batch = tumbling_agg(table(spark, sf_dir, "events"))
    stream = tumbling_agg(stream_events(spark, sf_dir))
    assert stream.isStreaming
    run_stream_to_table(stream, "t_tumbling", output_mode="complete")
    cols = ["w_start", "w_end", "event_type", "n", "sum_value"]
    assert _rows(spark.table("t_tumbling"), cols) == _rows(batch, cols)


def test_session_batch_stream_parity(spark, sf_dir):
    batch = session_agg(table(spark, sf_dir, "events"))
    stream = session_agg(stream_events(spark, sf_dir), watermark="1 hour")
    run_stream_to_table(stream, "t_session", output_mode="complete")
    cols = ["user_id", "s_start_us", "s_end_us", "n", "sum_value"]
    assert _rows(spark.table("t_session"), cols) == _rows(batch, cols)


def test_watermark_append_emits_finalized_windows(spark, sf_dir):
    """Append mode + watermark: after the file source drains, exactly the
    windows whose end <= max(ts) - watermark are emitted (late-data
    contract); the still-open tail windows are withheld."""
    wm = "10 minutes"
    stream = sliding_agg(stream_events(spark, sf_dir), watermark=wm)
    run_stream_to_table(stream, "t_append", output_mode="append")
    emitted = {
        (r.w_start, r.w_end, r.n, r.sum_value)
        for r in spark.table("t_append").collect()
    }
    batch_df = sliding_agg(table(spark, sf_dir, "events"))
    max_ts = table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    threshold = max_ts.timestamp() - 600  # seconds
    expected = {
        (r.w_start, r.w_end, r.n, r.sum_value)
        for r in batch_df.collect()
        if r.w_end.timestamp() <= threshold
    }
    assert emitted == expected
    # and something WAS withheld (the open tail)
    all_windows = {(r.w_start, r.w_end) for r in batch_df.collect()}
    assert len(all_windows) > len({(a, b) for a, b, _, _ in emitted})


def test_stateful_running_totals(spark, sf_dir):
    """applyInPandasWithState: final update per user equals the batch
    aggregate (single micro-batch over the finite source)."""
    ev = stream_events(spark, sf_dir).select(
        "user_id", "value", F.unix_micros("ts").alias("ts_us")
    )
    out = running_user_totals(ev)
    run_stream_to_table(out, "t_state", output_mode="update")
    got = {
        r.user_id: (r.n_events, r.total_value, r.last_ts_us)
        for r in spark.table("t_state").collect()
    }
    batch = {
        r.user_id: (r.n, round(r.s, 2), r.last_us)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        )
        .collect()
    }
    assert got == batch


def test_stream_static_broadcast_enrichment(spark, sf_dir):
    """Stream-static join: each micro-batch joins against a static dim
    (broadcast — no stream-side shuffle), the canonical enrichment shape.
    Result must equal the batch join."""
    static_dim = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("type_total"))
    )
    stream = stream_events(spark, sf_dir).join(
        F.broadcast(static_dim), "event_type"
    ).groupBy("event_type", "type_total").agg(F.count(F.lit(1)).alias("n"))
    run_stream_to_table(stream, "t_enrich", output_mode="complete")
    got = {
        (r.event_type, r.type_total, r.n) for r in spark.table("t_enrich").collect()
    }
    batch = {
        (r.event_type, r.n, r.n)  # joined to its own totals: n == type_total
        for r in table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == batch


def test_file_sink_checkpoint_exactly_once(spark, sf_dir, tmp_path):
    """writeStream → parquet with a checkpoint: draining the finite source
    lands every window exactly once, and restarting the same query against
    the same checkpoint writes nothing new (offset log replay)."""
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            tumbling_agg(stream_events(spark, sf_dir), watermark="10 minutes")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    first = spark.read.parquet(out).count()
    assert first > 0
    run_once()  # restart with same checkpoint: no new input → no new rows
    second = spark.read.parquet(out).count()
    assert second == first
    # no duplicate windows either
    df = spark.read.parquet(out)
    assert df.count() == df.dropDuplicates(["w_start", "w_end", "event_type"]).count()


def test_state_store_reader_offline_introspection(spark, sf_dir, tmp_path):
    """The State Data Source (Spark 4): a stopped query's checkpoint is
    itself a queryable table. ``state-metadata`` enumerates the stateful
    operators and their store layout; ``statestore`` reads the committed
    per-key state. At 100 TB this is the ops surface for streaming jobs —
    inspect skewed keys, audit state size, and debug watermark stalls
    without replaying the stream or instrumenting the running query."""
    ckpt = str(tmp_path / "ckpt")
    agg = (
        stream_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("ss_introspect")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    live = {(r.event_type, r.n) for r in spark.table("ss_introspect").collect()}

    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert [m.operatorName for m in meta] == ["stateStoreSave"]
    assert meta[0].numPartitions > 0

    state = spark.read.format("statestore").load(ckpt)
    offline = {
        (r.key.event_type, r.value["count"]) for r in state.collect()
    }
    assert offline == live and len(offline) > 0


def test_watermark_drops_late_data_across_batches(spark, tmp_path):
    """Late-data contract end to end: batch 1 advances the watermark; rows
    in batch 2 whose windows closed below it are DROPPED from an append
    aggregation (state for those windows is already finalized/evicted)."""
    import time as _time

    import pyspark.sql.functions as SF

    src = tmp_path / "src"
    src.mkdir()

    def write_events(name, rows):
        spark.createDataFrame(
            rows, "event_id long, ts_us long, user_id long"
        ).write.parquet(str(src / name))

    base = 1_700_000_000_000_000  # µs epoch
    hour = 3_600 * 1_000_000
    # batch 1: fresh events two hours in
    write_events("b1", [(1, base + 2 * hour, 1), (2, base + 2 * hour + 60_000_000, 2)])
    _time.sleep(1.1)  # FileStreamSource orders files by modification time
    # batch 2: a straggler from hour 0 (far below the advanced watermark)
    # and one fresh event (must still land)
    write_events("b2", [(3, base, 3), (4, base + 2 * hour + 120_000_000, 4)])
    _time.sleep(1.1)
    # batch 3: far-future event pushes the watermark past the 2h windows so
    # append mode flushes them (nothing flushes without watermark movement)
    write_events("b3", [(5, base + 5 * hour, 5)])

    stream = (
        spark.readStream.schema("event_id long, ts_us long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
        .withColumn("ts", SF.timestamp_micros("ts_us"))
        .withWatermark("ts", "10 minutes")
        .groupBy(SF.window("ts", "5 minutes").alias("w"))
        .agg(SF.count(SF.lit(1)).alias("n"))
        .select(SF.col("w.start").alias("w_start"), "n")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    from datetime import datetime, timezone

    starts = {r.w_start for r in spark.table("t_late").collect()}

    def win_start(us):
        aligned = (us // 300_000_000) * 300_000_000  # 5-min epoch alignment
        return datetime.fromtimestamp(aligned / 1e6, tz=timezone.utc).replace(
            tzinfo=None
        )

    # the straggler's hour-0 window was dropped on arrival (below watermark)
    assert win_start(base) not in starts
    # the fresh 2h windows flushed once the watermark passed them
    assert win_start(base + 2 * hour) in starts


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup: duplicate event_ids arriving in later
    micro-batches (within the watermark) are dropped — the streaming
    counterpart of dedup_exact for at-least-once sources."""
    import time as _time

    import pyspark.sql.functions as SF

    src = tmp_path / "src"
    src.mkdir()
    base = 1_700_000_000_000_000

    def write(name, rows):
        spark.createDataFrame(rows, "event_id long, ts_us long").write.parquet(
            str(src / name)
        )

    write("b1", [(1, base), (2, base + 1_000_000)])
    _time.sleep(1.1)
    # batch 2 redelivers id 2 and adds id 3
    write("b2", [(2, base + 1_000_000), (3, base + 2_000_000)])

    stream = (
        spark.readStream.schema("event_id long, ts_us long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
        .withColumn("ts", SF.timestamp_micros("ts_us"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    ids = sorted(r.event_id for r in spark.table("t_dedup_stream").collect())
    assert ids == [1, 2, 3]


def test_stream_stream_interval_join_parity(spark, sf_dir):
    """Stream-stream inner join (watermarks both sides + time-range
    condition): once the finite stream drains, the emitted pairs equal the
    batch join's — and the plan carries streaming join state only because
    both watermarks are present (Spark would reject the query otherwise)."""
    from mapreduce_model_spark.streaming.joins import click_purchase_attribution

    batch = click_purchase_attribution(table(spark, sf_dir, "events"))
    stream = click_purchase_attribution(stream_events(spark, sf_dir))
    assert stream.isStreaming
    run_stream_to_table(stream, "t_ss_join", output_mode="append")
    cols = ["purchase_id", "click_id", "user_id", "gap_us"]
    got = _rows(spark.table("t_ss_join"), cols)
    want = _rows(batch, cols)
    assert got == want
    assert len(want) > 0


def test_stream_upsert_cdc_latest_state(spark, tmp_path):
    """foreachBatch CDC upsert: across two micro-batches, the managed table
    always holds each key's latest row (last-writer-wins by ts, then
    event_id) — including keys updated in a later batch and keys born
    there. Rerunning with the same checkpoint is a no-op (idempotence)."""
    from mapreduce_model_spark.streaming.upsert import run_stream_upsert

    src = tmp_path / "cdc_src"
    src.mkdir()
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = "user_id long, ts_us long, balance double, event_id long"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).write.parquet(str(src / name))

    def stream():
        return spark.readStream.schema(schema).option("basePath", str(src)).parquet(
            str(src / "*")
        )

    def run():
        run_stream_upsert(
            stream(), spark, "cdc_latest", key="user_id",
            order_cols=["ts_us", "event_id"], checkpoint_dir=ckpt,
        )

    import time as _time

    write_batch("b1", [(1, 100, 10.0, 1), (1, 200, 20.0, 2), (2, 100, 5.0, 3)])
    run()
    state1 = {r.user_id: r.balance for r in spark.table("cdc_latest").collect()}
    assert state1 == {1: 20.0, 2: 5.0}

    _time.sleep(1.1)  # FileStreamSource orders files by modification time
    write_batch("b2", [(2, 300, 7.5, 4), (3, 50, 99.0, 5)])
    run()
    state2 = {r.user_id: r.balance for r in spark.table("cdc_latest").collect()}
    assert state2 == {1: 20.0, 2: 7.5, 3: 99.0}

    run()  # no new files: same checkpoint, state unchanged
    state3 = {r.user_id: r.balance for r in spark.table("cdc_latest").collect()}
    assert state3 == state2
    spark.sql("DROP TABLE IF EXISTS cdc_latest")


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs protobuf (absent in this env)",
)
def test_transform_with_state_running_totals(spark, sf_dir):
    """transformWithStateInPandas (v2 state API): cross-batch ValueState
    yields the same final per-user totals as the batch aggregate."""
    from mapreduce_model_spark.streaming.stateful import running_user_totals_v2

    ev = stream_events(spark, sf_dir).select(
        "user_id", "value", F.unix_micros("ts").alias("ts_us")
    )
    out = running_user_totals_v2(ev)
    run_stream_to_table(out, "t_state_v2", output_mode="update")
    got = {
        r.user_id: (r.n_events, r.total_value, r.last_ts_us)
        for r in spark.table("t_state_v2").collect()
    }
    batch = {
        r.user_id: (r.n, round(r.s, 2), r.last_us)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        )
        .collect()
    }
    assert got == batch


def test_v2_processor_logic_parity_without_engine(spark, sf_dir):
    """Local execution evidence for the v2 path even where the engine
    twin can't run (transformWithStateInPandas needs protobuf, absent in
    this env): drive the SHIPPED RunningTotalsProcessor directly through
    its StatefulProcessor lifecycle (init → handleInputRows per batch →
    close) against a fake ValueState handle, splitting each user's rows
    across MULTIPLE batches so cross-batch state carry is really
    exercised. The final emitted row per user must equal the batch
    aggregate — the same contract the engine test pins when protobuf is
    present."""
    import pandas as pd

    from mapreduce_model_spark.streaming.stateful import (
        RunningTotalsProcessor,
    )

    assert RunningTotalsProcessor is not None  # Spark 4: class must exist

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

    ev = (
        table(spark, sf_dir, "events")
        .select("user_id", "value", F.unix_micros("ts").alias("ts_us"))
        .toPandas()
    )
    got = {}
    for uid, grp in ev.groupby("user_id"):
        proc = RunningTotalsProcessor()
        proc.init(FakeHandle())
        half = max(1, len(grp) // 2)
        last = None
        for batch in (grp.iloc[:half], grp.iloc[half:]):
            if len(batch) == 0:
                continue
            outs = list(proc.handleInputRows((uid,), iter([batch]), None))
            last = pd.concat(outs).iloc[-1]
        proc.close()
        got[uid] = (
            int(last["n_events"]),
            float(last["total_value"]),
            int(last["last_ts_us"]),
        )
    batch_truth = {
        r.user_id: (r.n, round(r.s, 2), r.last_us)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        )
        .collect()
    }
    assert set(got) == set(batch_truth)
    for uid in got:
        n_g, t_g, ts_g = got[uid]
        n_b, t_b, ts_b = batch_truth[uid]
        assert (n_g, ts_g) == (n_b, ts_b)
        assert abs(t_g - t_b) < 1e-6


def test_rocksdb_state_store_parity(spark, sf_dir):
    """The documented cluster config — RocksDB state store — must actually
    run and produce the same windows as the default (HDFS-backed) provider:
    state-store choice is an operational knob, never a semantics change.
    (On a 100 TB stream RocksDB is mandatory: state spills off-heap to
    local SSD instead of living on the JVM heap.)"""
    provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, provider)
    try:
        stream = tumbling_agg(stream_events(spark, sf_dir))
        run_stream_to_table(stream, "t_rocksdb", output_mode="complete")
        cols = ["w_start", "w_end", "event_type", "n", "sum_value"]
        batch = tumbling_agg(table(spark, sf_dir, "events"))
        assert _rows(spark.table("t_rocksdb"), cols) == _rows(batch, cols)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_streaming_query_listener_observability(spark, sf_dir):
    """Operational observability: a StreamingQueryListener must see the
    query lifecycle (start → progress → termination) and the progress
    events must account for every input row — the hook a production
    pipeline uses to export lag/throughput metrics without touching the
    query itself."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    events = {"started": 0, "progress_rows": 0, "terminated": 0}

    class _L(StreamingQueryListener):
        def onQueryStarted(self, e):
            events["started"] += 1

        def onQueryProgress(self, e):
            events["progress_rows"] += e.progress.numInputRows

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            events["terminated"] += 1

    listener = _L()
    spark.streams.addListener(listener)
    try:
        stream = tumbling_agg(stream_events(spark, sf_dir))
        run_stream_to_table(stream, "t_listener", output_mode="complete")
        n_input = table(spark, sf_dir, "events").count()
        deadline = time.time() + 30  # listener events arrive asynchronously
        while time.time() < deadline and (
            events["progress_rows"] < n_input or events["terminated"] < 1
        ):
            time.sleep(0.5)
        assert events["started"] >= 1
        assert events["terminated"] >= 1
        assert events["progress_rows"] == n_input
    finally:
        spark.streams.removeListener(listener)


def test_streaming_inverted_index_matches_batch(spark, tmp_path):
    """The reference's job as an incremental stream: documents arriving
    one-per-microbatch through the manifest stream source must build
    exactly the index the batch pipeline builds — and a checkpointed
    restart over the same manifest must not duplicate pairs."""
    from mapreduce_model_spark.operators.inverted_index import invert
    from mapreduce_model_spark.sources.manifest import read_corpus
    from mapreduce_model_spark.sources.pyds import register
    from mapreduce_model_spark.streaming.index import (
        current_index,
        drain_streaming_index,
        start_streaming_index,
    )

    manifest = f"{REFERENCE_SMALL}/test_small.txt"
    register(spark)
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    q = start_streaming_index(spark, manifest, pairs, ckpt, files_per_batch=1)
    drain_streaming_index(q, n_files=3)

    got = [
        (r.letter, r.word, tuple(r.docs), r.n_docs)
        for r in current_index(spark, pairs).collect()
    ]
    expected = [
        (r.letter, r.word, tuple(r.docs), r.n_docs)
        for r in invert(read_corpus(spark, manifest)).collect()
    ]
    assert sorted(got) == sorted(expected)
    assert len(got) > 0

    # restart over the same (fully consumed) manifest: no new pairs
    n_before = spark.read.parquet(pairs).count()
    q2 = start_streaming_index(spark, manifest, pairs, ckpt, files_per_batch=1)
    drain_streaming_index(q2, n_files=3)
    assert spark.read.parquet(pairs).count() == n_before


def test_drain_raises_when_the_stream_fails(spark, tmp_path):
    """A manifest entry missing on disk fails the query; draining it
    raises that failure at once instead of polling out its timeout."""
    import time

    from mapreduce_model_spark.sources.pyds import register
    from mapreduce_model_spark.streaming.index import drain_streaming_index, start_streaming_index

    manifest = tmp_path / "manifest.txt"
    manifest.write_text(f"2\n{REFERENCE_SMALL}/test_in_small/1.txt\n{tmp_path}/missing.txt\n")
    register(spark)
    q = start_streaming_index(spark, str(manifest), str(tmp_path / "pairs"), str(tmp_path / "ckpt"))
    t0 = time.monotonic()
    try:
        with pytest.raises(Exception, match="missing on disk"):
            drain_streaming_index(q, n_files=2)
    finally:
        q.stop()
    assert time.monotonic() - t0 < 60


def test_drain_raises_when_the_deadline_passes(spark, tmp_path):
    """A stream still short of its manifest at the deadline is stopped
    and reported, never returned as drained: its pair table is partial."""
    from mapreduce_model_spark.sources.pyds import register
    from mapreduce_model_spark.streaming.index import drain_streaming_index, start_streaming_index

    files = [f"{REFERENCE_SMALL}/test_in_small/{i}.txt" for i in (1, 2, 3)]
    manifest = tmp_path / "manifest.txt"
    manifest.write_text("\n".join([str(len(files)), *files]) + "\n")
    register(spark)
    q = start_streaming_index(
        spark, str(manifest), str(tmp_path / "pairs"), str(tmp_path / "ckpt")
    )
    try:
        with pytest.raises(TimeoutError, match="of 3 files"):
            drain_streaming_index(q, n_files=len(files), timeout_s=0)
        assert not q.isActive
    finally:
        q.stop()


def test_streaming_inverted_index_matches_batch_generated(spark, generated_corpus, tmp_path):
    """Generated-corpus sibling of the test above (41 manifest entries, one
    file listed twice, 16 files per microbatch): the streamed index equals
    the batch index and the pure-Python model; a checkpointed restart over
    the consumed manifest reads no rows and adds no pairs, and a replay of
    a batch whose commit was lost reads its whole offset range again and
    leaves the pair table as it was."""
    from mapreduce_model_spark.operators.inverted_index import invert
    from mapreduce_model_spark.sources.manifest import read_corpus
    from mapreduce_model_spark.sources.pyds import register
    from mapreduce_model_spark.streaming.index import (
        current_index,
        drain_streaming_index,
        start_streaming_index,
    )
    from tests.pymodel import inverted_index

    manifest, docs = generated_corpus
    register(spark)
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    q = start_streaming_index(spark, manifest, pairs, ckpt, files_per_batch=16)
    drain_streaming_index(q, n_files=len(docs))

    def rows(index):
        return sorted((r.letter, r.word, tuple(r.docs), r.n_docs) for r in index.collect())

    model = sorted(
        (w[0], w, tuple(ids), len(ids)) for w, ids in inverted_index(docs).items()
    )
    assert rows(current_index(spark, pairs)) == rows(invert(read_corpus(spark, manifest))) == model

    def pair_rows():
        return sorted(map(tuple, spark.read.parquet(pairs).collect()))

    before = pair_rows()
    # the narrow per-document pairs are already distinct
    assert len(before) == len({(r[0], r[1]) for r in before})
    q2 = start_streaming_index(spark, manifest, pairs, ckpt, files_per_batch=16)
    drain_streaming_index(q2, n_files=len(docs))
    assert sum(p["numInputRows"] for p in q2.recentProgress) == 0
    assert pair_rows() == before

    # lose the last commit: the restart replays that batch over its own
    # directory
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    q3 = start_streaming_index(spark, manifest, pairs, ckpt, files_per_batch=16)
    drain_streaming_index(q3, n_files=len(docs))
    # the replay has no prefetched rows, so it reads its whole offset range
    # through readBetweenOffsets on an executor
    (replayed,) = [p for p in q3.recentProgress if p["batchId"] == last]
    source = replayed["sources"][0]
    start, end = (ast.literal_eval(source[k])["index"] for k in ("startOffset", "endOffset"))
    assert replayed["numInputRows"] == end - start > 0
    assert pair_rows() == before


def test_stream_dedup_parity(spark, sf_dir):
    """Two readStream sources over the same events file unioned (simulated
    at-least-once redelivery) then watermarked dropDuplicatesWithinWatermark:
    each event emits exactly once, matching the batch face (stream_dedup)."""
    from mapreduce_model_spark.queries_streaming import stream_dedup

    s1 = stream_events(spark, sf_dir)
    s2 = stream_events(spark, sf_dir)
    dedup = (
        s1.unionByName(s2)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    assert dedup.isStreaming
    run_stream_to_table(dedup, "t_stream_dedup", output_mode="append")
    got = spark.table("t_stream_dedup")
    batch = stream_dedup(spark, sf_dir)
    assert got.count() == batch.count()
    assert _rows(got.select("event_id"), ["event_id"]) == _rows(
        batch.select("event_id"), ["event_id"]
    )


def test_stream_outer_join_emits_unmatched_after_watermark(spark, sf_dir):
    """Left-outer stream-stream join: the null-preserved side must emit
    exactly the batch anti-join rows once the watermark passes them — no
    false unmatched rows ever, and every purchase old enough that the
    final watermark proves no click can arrive is emitted."""
    from mapreduce_model_spark.streaming.joins import unattributed_purchases

    batch = unattributed_purchases(table(spark, sf_dir, "events"))
    stream = unattributed_purchases(stream_events(spark, sf_dir))
    assert stream.isStreaming
    run_stream_to_table(stream, "t_outer_join", output_mode="append")
    got = {(r.purchase_id, r.user_id) for r in spark.table("t_outer_join").collect()}
    want_all = {(r.purchase_id, r.user_id) for r in batch.collect()}
    # never a false unmatched row
    assert got <= want_all
    # and everything safely past the final watermark horizon was emitted:
    # watermark 1h + 30min lookback + state-cleanup slack of one horizon
    max_ts = table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts.timestamp() - 2 * 3600 - 1800
    want_min = {
        (r.purchase_id, r.user_id)
        for r in batch.collect()
        if r.purchase_ts.timestamp() <= cutoff
    }
    assert want_min <= got
    assert len(got) > 0


def test_session_split_after_eviction(spark, tmp_path):
    """The session-window late-data contract the r11 fuzz predictor
    replays, pinned deterministically: once the watermark FINALIZES a
    session, a later within-gap arrival that still passes the late filter
    (SPARK-40925: the filter lags eviction by one batch) must open a NEW
    session overlapping the emitted one — the exact, deliberate divergence
    from batch semantics. Event times are placed so the late row's
    (ts + gap) lands strictly between the evicted session's end and the
    filter watermark band: gap=10m, delay=5m; batches [0m, 5m], [25m],
    [100m], then the late [12m]."""
    import itertools
    import os

    import pyspark.sql.functions as SF

    src = tmp_path / "src"
    src.mkdir()

    base = 1_700_000_000_000_000  # µs epoch
    minute = 60_000_000
    mtime_clock = itertools.count(1_700_000_000, 10)

    def write_events(name, minutes):
        # One file per batch, with an explicit strictly-increasing mtime:
        # FileStreamSource orders files by modification time, and wall-clock
        # sleeps between writes are flaky under load (r11 verdict item 1).
        spark.createDataFrame(
            [(i, base + int(m * minute), 1) for i, m in enumerate(minutes)],
            "event_id long, ts_us long, user_id long",
        ).coalesce(1).write.parquet(str(src / name))
        t = next(mtime_clock)
        for entry in os.listdir(src / name):
            os.utime(src / name / entry, (t, t))

    write_events("b1", [0, 5])    # session A = [0, 15)
    write_events("b2", [25])      # B = [25, 35); wm after: 20m
    write_events("b3", [100])     # evicts A (20 ≥ 15); wm after: 95m
    write_events("b4", [12])      # late: 12+10=22 > wm_late=20 → kept,
    #                               A already emitted → NEW session [12, 22)

    stream = (
        spark.readStream.schema("event_id long, ts_us long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
        .withColumn("ts", SF.timestamp_micros("ts_us"))
        .withWatermark("ts", "5 minutes")
        .groupBy(SF.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(SF.count(SF.lit(1)).alias("n"))
        .select(
            ((SF.unix_micros("w.start") - base) / minute).cast("int").alias("s_min"),
            ((SF.unix_micros("w.end") - base) / minute).cast("int").alias("e_min"),
            "n",
        )
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_split")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = sorted((r.s_min, r.e_min, r.n) for r in spark.table("t_split").collect())
    # A emitted with its on-time rows only; the late row becomes its own
    # OVERLAPPING session [12, 22); B finalizes at the end; [100, 110)
    # stays open (final watermark 95m) and is never emitted in append mode
    assert got == [(0, 15, 2), (12, 22, 1), (25, 35, 1)], got
