"""Streaming batch-equivalence tests (SURVEY.md §7.2 M4): the events
table replayed through Structured Streaming must produce exactly the
batch window aggregates."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from go_mapreduce_spark.operators.windows import x11_tumbling_window, x12_session_window
from go_mapreduce_spark.sources.registry import load_table
from go_mapreduce_spark.streaming.events import (
    read_event_stream,
    run_to_memory_sink,
    session_aggregate,
    tumbling_counts,
)
from tests.conftest import canon_rows


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    """events re-written as µs-timestamp parquet in several files —
    a file-source stream that replays in multiple triggers."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(d)
    return d


def test_tumbling_stream_equals_batch(spark, sf_dir, stream_dir):
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    run_to_memory_sink(tumbling_counts(stream), "t_tumbling", output_mode="complete")
    got = spark.sql("select * from t_tumbling")
    want = x11_tumbling_window(spark, sf_dir)
    assert canon_rows(got.columns, [tuple(r) for r in got.collect()]) == canon_rows(
        want.columns, [tuple(r) for r in want.collect()]
    )


def test_session_stream_equals_batch(spark, sf_dir, stream_dir):
    stream = read_event_stream(spark, stream_dir)
    run_to_memory_sink(session_aggregate(stream), "t_sessions", output_mode="complete")
    got = spark.sql("select * from t_sessions")
    want = x12_session_window(spark, sf_dir)
    assert canon_rows(got.columns, [tuple(r) for r in got.collect()]) == canon_rows(
        want.columns, [tuple(r) for r in want.collect()]
    )


def test_watermark_bounds_state(spark, stream_dir):
    """The streaming agg declares a watermark (state eviction contract)."""
    stream = read_event_stream(spark, stream_dir)
    agg = tumbling_counts(stream, watermark="2 hours")
    assert agg.isStreaming


def test_sliding_stream_equals_batch(spark, sf_dir, stream_dir):
    from go_mapreduce_spark.operators.windows import x24_sliding_window
    from go_mapreduce_spark.streaming.events import sliding_counts

    stream = read_event_stream(spark, stream_dir)
    run_to_memory_sink(sliding_counts(stream), "t_sliding", output_mode="complete")
    got = spark.sql("select * from t_sliding")
    want = x24_sliding_window(spark, sf_dir)
    assert canon_rows(got.columns, [tuple(r) for r in got.collect()]) == canon_rows(
        want.columns, [tuple(r) for r in want.collect()]
    )


@pytest.fixture(scope="module")
def ordered_stream_dir(spark, sf_dir, tmp_path_factory):
    """events split into 4 TIME-CONTIGUOUS parquet files with
    increasing mtimes — a realistic in-order replay.  (A randomly
    partitioned replay makes ~3/4 of rows late once the watermark has
    advanced past their window — they are correctly dropped, which is
    exactly why a real stream needs approximately-ordered arrival.)"""
    import os
    import shutil
    import time

    d = str(tmp_path_factory.mktemp("events_ordered"))
    ev = load_table(spark, sf_dir, "events").orderBy("ts").collect()
    schema = load_table(spark, sf_dir, "events").schema
    n = len(ev)
    for i in range(4):
        chunk = ev[i * n // 4 : (i + 1) * n // 4]
        tmp = d + f"_chunk{i}"
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(d, f"{i:02d}.parquet")
        shutil.copy(os.path.join(tmp, part), dst)
        os.utime(dst, (time.time() + i, time.time() + i))
    return d


def test_append_mode_emits_only_finalized_windows(spark, sf_dir, ordered_stream_dir):
    """Append mode + watermark on an in-order replay: emitted windows
    carry exactly the batch-aggregate values; windows not yet past the
    watermark are withheld."""
    stream = read_event_stream(spark, ordered_stream_dir, max_files_per_trigger=1)
    run_to_memory_sink(tumbling_counts(stream), "t_append", output_mode="append")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("select * from t_append").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in x11_tumbling_window(spark, sf_dir).collect()
    }
    assert got, "expected finalized windows"
    # every emitted window has exactly the complete batch value (no
    # partial/duplicate emission)
    for k, v in got.items():
        assert want[k] == v, f"window {k}: emitted {v} != batch {want[k]}"
    # and append mode withheld the windows still open at end-of-stream
    assert len(got) < len(want)


def test_streaming_restart_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """Checkpointed file-sink stream stopped and restarted with new
    input: every input row appears in the sink exactly once — offsets
    come from the checkpoint, not from rescanning the source."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, sf_dir, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(src)

    def drain():
        q = (
            read_event_stream(spark, src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n1 = spark.read.parquet(out).count()
    assert n1 == first.count()
    # new data arrives while the stream is down; restart resumes
    second.coalesce(1).write.mode("append").parquet(src)
    drain()
    got = spark.read.parquet(out)
    assert got.count() == ev.count()  # nothing lost, nothing duplicated
    assert got.select("event_id").distinct().count() == ev.count()


def test_stream_dedup_collapses_planted_duplicates(spark, sf_dir):
    """x90: a doubled source drains to exactly one row per event —
    per-type counts equal the un-duplicated batch aggregate."""
    from go_mapreduce_spark.sources.registry import load_table
    from go_mapreduce_spark.streaming.events import x90_stream_dedup

    out = {r.event_type: r.n_events for r in x90_stream_dedup(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    batch = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert out == batch  # doubled counts = dedup state failed


def test_stream_sliding_emits_finalized_subset(spark, sf_dir):
    """x89 emits exactly the batch x24 windows whose end the final
    watermark passed — a strict, non-empty subset at fixture scale."""
    from go_mapreduce_spark.operators.windows import x24_sliding_window
    from go_mapreduce_spark.sources.registry import load_table
    from go_mapreduce_spark.streaming.events import x89_stream_sliding

    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in x89_stream_sliding(spark, sf_dir).collect()
    }
    assert got
    batch = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in x24_sliding_window(spark, sf_dir).collect()
    }
    assert len(got) < len(batch)  # open windows near max(ts) held back
    for k, v in got.items():
        assert batch[k] == v


def test_event_replay_is_repeatable_and_chronological(spark, sf_dir, tmp_path, monkeypatch):
    """Two fresh builds of the event replay cut the rows into the same
    per-file counts, and a drain reads them chronologically: each
    batch's min ``ts`` is at or after the previous batch's max."""
    import tempfile

    import pyarrow.parquet as pq

    from go_mapreduce_spark.streaming import events as SE

    def build(name: str) -> list[int]:
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / name))
        os.makedirs(tempfile.tempdir)
        path = SE._ensure_replay_events(spark, sf_dir)
        files = [os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-")]
        mtimes = sorted(os.stat(f).st_mtime_ns for f in files)
        assert len(set(mtimes)) == len(files), "the source would order tied files arbitrarily"
        files.sort(key=lambda f: os.stat(f).st_mtime_ns)
        return [pq.read_metadata(f).num_rows for f in files]

    first = build("a")
    assert build("b") == first
    assert len(first) == 4 and sum(first) == load_table(spark, sf_dir, "events").count()

    batches = []

    def record(df, batch_id):
        r = df.agg(F.min("ts"), F.max("ts"), F.count(F.lit(1))).first()
        batches.append((batch_id, r[0], r[1], r[2]))

    q = (
        SE.replay_events(spark, sf_dir)
        .writeStream.foreachBatch(record)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches.sort()
    assert [n for *_, n in batches] == [first[0] + first[1], first[2] + first[3]]
    for (_, _, prev_max, _), (_, cur_min, _, _) in zip(batches, batches[1:]):
        assert cur_min >= prev_max
