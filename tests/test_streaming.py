"""Streaming semantics: windows in batch mode + a real Structured
Streaming run (file source → memory sink, Trigger.AvailableNow)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from benthos_spark.sources.generate import generate, generate_stream
from benthos_spark.streaming import (dedupe_within_watermark, session_agg,
                                     stateful_counter, tumbling_window_agg)


def _events(spark):
    rows = [("u1", "2024-01-01 00:00:10", 1.0),
            ("u1", "2024-01-01 00:03:00", 2.0),
            ("u1", "2024-01-01 01:00:00", 4.0),   # new session (>30m gap)
            ("u2", "2024-01-01 00:04:59", 8.0)]
    return spark.createDataFrame(rows, "user STRING, ts STRING, v DOUBLE") \
        .withColumn("ts", F.to_timestamp("ts"))


def test_tumbling_window_batch(spark):
    out = tumbling_window_agg(_events(spark), "ts", "5 minutes", ["user"],
                              [F.sum("v").alias("total")])
    got = {(r.user, str(r.window.start)): r.total for r in out.collect()}
    assert got[("u1", "2024-01-01 00:00:00")] == 3.0
    assert got[("u1", "2024-01-01 01:00:00")] == 4.0
    assert got[("u2", "2024-01-01 00:00:00")] == 8.0


def test_session_window_gap(spark):
    out = session_agg(_events(spark), "ts", "30 minutes", ["user"],
                      [F.count("*").alias("n")])
    got = sorted((r.user, r.n) for r in out.collect())
    assert got == [("u1", 1), ("u1", 2), ("u2", 1)]


def test_stateful_counter_batch(spark):
    out = stateful_counter(_events(spark), "user")
    got = {r.user: r["count"] for r in out.collect()}
    assert got == {"u1": 3, "u2": 1}


def test_generate_bounded(spark):
    df = generate(spark, 10, {"sq": F.col("id") * F.col("id")})
    assert df.count() == 10
    assert df.filter("id = 3").collect()[0].sq == 9


def test_streaming_end_to_end(spark):
    """file stream → tumbling window agg with watermark → memory sink.
    Exercises the real incremental engine (not batch): watermark wiring,
    state store, AvailableNow trigger draining the source."""
    src = tempfile.mkdtemp(prefix="bs_stream_src")
    ckpt = tempfile.mkdtemp(prefix="bs_stream_ckpt")
    try:
        _events(spark).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            "user STRING, ts TIMESTAMP, v DOUBLE").parquet(src)
        agg = tumbling_window_agg(stream, "ts", "5 minutes", ["user"],
                                  [F.sum("v").alias("total")],
                                  watermark="10 minutes")
        q = (agg.writeStream.format("memory").queryName("win_test")
             .outputMode("complete").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r.user, str(r.window.start)): r.total
               for r in spark.sql("SELECT * FROM win_test").collect()}
        assert got[("u1", "2024-01-01 00:00:00")] == 3.0
        assert got[("u2", "2024-01-01 00:00:00")] == 8.0
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_dedupe_within_watermark(spark):
    """Streaming dedupe (reference dedupe + cache TTL) drops the
    duplicate key inside the watermark horizon."""
    src = tempfile.mkdtemp(prefix="bs_dedupe_src")
    ckpt = tempfile.mkdtemp(prefix="bs_dedupe_ckpt")
    try:
        rows = [("k1", "2024-01-01 00:00:00"), ("k1", "2024-01-01 00:00:30"),
                ("k2", "2024-01-01 00:01:00")]
        df = spark.createDataFrame(rows, "k STRING, ts STRING") \
            .withColumn("ts", F.to_timestamp("ts"))
        df.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema("k STRING, ts TIMESTAMP").parquet(src)
        deduped = dedupe_within_watermark(stream, ["k"], "ts", "10 minutes")
        q = (deduped.writeStream.format("memory").queryName("dedupe_test")
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted(r.k for r in
                     spark.sql("SELECT k FROM dedupe_test").collect())
        assert got == ["k1", "k2"]
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_generate_stream_is_streaming(spark):
    df = generate_stream(spark, 5)
    assert df.isStreaming


def test_replay_parquet_equals_batch(spark):
    """Replay harness: a bounded parquet table replayed through the
    incremental engine equals the batch aggregation (the §2.5 oracle
    bridge), for both a directory source and a single-file symlink."""
    import os
    from benthos_spark.streaming import replay_parquet, tumbling_window_agg

    src = tempfile.mkdtemp(prefix="bs_replay_t_src")
    try:
        # one part file so the single-file shim below can't land on an
        # empty partition's output
        _events(spark).coalesce(1).write.mode("overwrite").parquet(src)

        def xf(s):
            return tumbling_window_agg(
                s.withColumn("ts", F.col("ts").cast("timestamp")),
                "ts", "5 minutes", ["user"],
                [F.sum("v").alias("total")], watermark="10 minutes")

        streamed = {(r.user, str(r.window.start)): r.total
                    for r in replay_parquet(spark, src, xf,
                                            output_mode="complete").collect()}
        batch = {(r.user, str(r.window.start)): r.total
                 for r in xf(_events(spark)).collect()}
        assert streamed == batch and len(batch) >= 3
        # single-file path goes through the symlink-dir shim
        part = next(os.path.join(src, f) for f in os.listdir(src)
                    if f.endswith(".parquet"))
        single = replay_parquet(spark, part, xf, output_mode="complete")
        assert single.count() >= 1
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_replay_many_failed_start_cleans_up(spark, tmp_path, monkeypatch):
    """A start that fails while the others run concurrently must not
    leak: the drains that did start are stopped, and their dirs and
    the shared temp root are removed, before the error propagates."""
    import threading

    import pytest

    from benthos_spark.streaming import replay as replay_mod

    src = tmp_path / "src"
    _events(spark).coalesce(1).write.parquet(str(src))
    root = tmp_path / "replay_root"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    real_start = replay_mod._start_replay
    calls = []
    lock = threading.Lock()

    def flaky_start(*args, **kwargs):
        with lock:
            calls.append(1)
            n = len(calls)
        if n == 2:
            raise RuntimeError("injected start failure")
        return real_start(*args, **kwargs)

    monkeypatch.setattr(replay_mod, "_start_replay", flaky_start)
    specs = [(str(src), lambda s: s, "append")] * 3
    with pytest.raises(RuntimeError, match="injected start failure"):
        replay_mod.replay_parquet_many(spark, specs)
    assert len(calls) == 3
    assert not [q for q in spark.streams.active
                if (q.name or "").startswith("bs_replay_")]
    assert not list(root.glob("bs_replay_root_*"))


def test_replay_many_start_threads_inherit_session_tags(spark, tmp_path,
                                                        monkeypatch):
    """The concurrent starts of a multi-drain replay run with the
    session's job tags (so tag-based cancellation reaches them), and
    wrapping them raises no "Tags will not be inherited" warning."""
    import warnings

    from benthos_spark.streaming import replay as replay_mod

    src = tmp_path / "src"
    _events(spark).coalesce(1).write.parquet(str(src))
    real_start = replay_mod._start_replay
    seen = []

    def recording_start(*args, **kwargs):
        seen.append(set(spark.getTags()))
        return real_start(*args, **kwargs)

    monkeypatch.setattr(replay_mod, "_start_replay", recording_start)
    spark.addTag("bs-replay-tag")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            outs = replay_mod.replay_parquet_many(
                spark, [(str(src), lambda s: s, "append")] * 2)
    finally:
        spark.removeTag("bs-replay-tag")
    assert [o.count() for o in outs] == [4, 4]
    assert not [w for w in caught if "Tags will not be inherited"
                in str(w.message)]
    assert seen == [{"bs-replay-tag"}] * 2


def test_local_python_workers_import_the_driver_package(spark):
    """Kernel functions unpickle by reference to benthos_spark modules,
    so a local session puts the package root on the workers'
    PYTHONPATH: the engine then runs from any working directory, and
    workers import the same copy as the driver."""
    import benthos_spark

    root = os.path.dirname(os.path.dirname(benthos_spark.__file__))
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.executorEnv.PYTHONPATH") == root

    def where(batches):
        import pandas as pd

        import benthos_spark as pkg
        for _ in batches:
            yield pd.DataFrame({"f": [pkg.__file__]})

    got = {r.f for r in spark.range(1).mapInPandas(where, "f string")
           .collect()}
    assert got == {benthos_spark.__file__}


def test_checkpoint_file_manager_pinned(spark, tmp_path):
    """A local session commits stream checkpoints through the
    FileSystem-based manager (the FileContext one forks a `readlink`
    per rename and status check without libhadoop), and an explicit
    `get_spark` conf still overrides it.  Creating the manager loads
    the configured class, so a wrong class path fails here too."""
    from benthos_spark.session import get_spark

    key = "spark.sql.streaming.checkpointFileManagerClass"
    pkg = "org.apache.spark.sql.execution.streaming.checkpointing."
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"file://{tmp_path}")

    def manager_class():
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        return (getattr(jvm, pkg + "CheckpointFileManager")
                .create(path, conf).getClass().getName())

    assert manager_class() == pkg + "FileSystemBasedCheckpointFileManager"
    default = spark.conf.get(key)
    other = pkg + "FileContextBasedCheckpointFileManager"
    try:
        assert get_spark("tests", **{key: other}) is spark
        assert manager_class() == other
    finally:
        spark.conf.set(key, default)
    assert manager_class() == pkg + "FileSystemBasedCheckpointFileManager"


def _window_config(src: str, out: str) -> str:
    return f"""
input:
  file:
    paths: ["{src}"]
    format: parquet
    stream: true
    max_files_per_trigger: 1
    schema: "ts TIMESTAMP, event_type STRING, value DOUBLE"
pipeline:
  processors:
    - window:
        ts: ts
        duration: 5 minutes
        watermark: 60 seconds
        keys: [event_type]
        aggs: {{n: count, vmax: "max:value"}}
output:
  file:
    path: "{out}"
    checkpoint: "{out}.checkpoint"
    timeout: 120
"""


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """A YAML file → file window stream stopped after 3 files and
    restarted on the same checkpoint once 3 more arrive writes exactly
    the windows of an uninterrupted run over all 6: the offset, commit
    and state-store logs resume the stream with no window written
    twice and none lost."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from benthos_spark.stream import run_stream

    files = tmp_path / "files"
    files.mkdir()
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for i in range(6):
        # file i covers minutes [10i, 10i + 10): two 5-minute windows
        # per event type, none late for the next file's watermark
        ts = [t0 + dt.timedelta(minutes=10 * i, seconds=3 * j)
              for j in range(200)]
        f = files / f"part-{i}.parquet"
        pq.write_table(pa.table({
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "event_type": [("a", "b", "c")[j % 3] for j in range(200)],
            "value": [float(i * 1000 + j) for j in range(200)]}), f)
        # the stream reads files oldest modification time first
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    names = sorted(os.listdir(files))

    def windows(out):
        rows = [(str(r.window.start), r.event_type, r.n, r.vmax)
                for r in spark.read.parquet(str(out)).collect()]
        assert len(rows) == len({r[:2] for r in rows})
        return sorted(rows)

    whole_src, whole_out = tmp_path / "whole_src", tmp_path / "whole_out"
    whole_src.mkdir()
    for n in names:
        shutil.copy2(files / n, whole_src / n)
    run_stream(spark, _window_config(whole_src, whole_out))

    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    for n in names[:3]:
        shutil.copy2(files / n, src / n)
    run_stream(spark, _window_config(src, out))
    first = windows(out)
    for n in names[3:]:
        shutil.copy2(files / n, src / n)
    run_stream(spark, _window_config(src, out))

    whole = windows(whole_out)
    # 6 files × 2 windows × 3 types; the watermark holds back the last
    # file's second window of each type
    assert len(whole) == 33
    assert 0 < len(first) < len(whole)
    assert windows(out) == whole
