"""Streaming pipeline semantics: batch/stream equivalence, cursor
protocol (peek-then-advance), replay idempotence — the one-table
SyncJob and the SyncJob.sync_stream embodiment."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from clockpipe_spark.cdc.changelog import changelog_from_events
from clockpipe_spark.cdc.ops import replica_state
from clockpipe_spark.config import PipeConfig
from clockpipe_spark.queries.streamlike import stream_tumbling_hourly
from clockpipe_spark.streaming.replica import ReplicaStore
from clockpipe_spark.streaming.windows import tumbling_counts
from clockpipe_spark.sync_job import SyncJob

LOG_DDL = "seq long, op string, tbl string, user_id long, value double, ts timestamp"


@pytest.fixture
def events_dir(spark, sf_dir, tmp_path):
    """Streaming sources need a directory; re-write the fixture events
    (with ts already normalized to micros) into one."""
    from clockpipe_spark.catalog import load_table

    d = str(tmp_path / "events_src")
    load_table(spark, sf_dir, "events").repartition(2).write.parquet(d)
    return d


def _expected_replica(spark, events_dir):
    clog = changelog_from_events(spark.read.parquet(events_dir))
    return {
        r["user_id"]: (r["seq"], round(r["value"], 6))
        for r in replica_state(clog, ["user_id"]).collect()
    }


def _one_table_job(spark, events_dir, root, cap):
    """A SyncJob whose change log routes every event to one table,
    ``replica``."""
    return SyncJob(
        spark,
        PipeConfig(peek_changes_limit=cap),
        events_dir,
        root,
        changelog_fn=lambda s: changelog_from_events(
            s.read.parquet(events_dir)
        ).withColumn("tbl", F.lit("replica")),
    )


def _event_stream(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    return changelog_from_events(spark.readStream.schema(schema).parquet(events_dir))


def test_batch_pipe_matches_replica_state(spark, events_dir, tmp_path):
    """Draining the pipe in capped iterations must land on the same final
    state as the one-shot batch dedup-on-read view."""
    job = _one_table_job(
        spark, events_dir, str(tmp_path / "target"), 300  # force multiple iterations
    )
    iterations = job.run()["iterations"]
    assert iterations >= 4  # 1000 events / 300
    got = {
        r["user_id"]: (r["last_seq"], round(r["value"], 6))
        for r in job.store_for("replica").read(spark).collect()
    }
    assert got == _expected_replica(spark, events_dir)


def test_pipe_cursor_advances_after_write(spark, events_dir, tmp_path):
    job = _one_table_job(spark, events_dir, str(tmp_path / "t2"), 100)
    job.initialize()
    assert job.read_cursor() == -1
    job.sync_iteration()
    c1 = job.read_cursor()
    assert c1 >= 0
    job.sync_iteration()
    assert job.read_cursor() > c1


def test_pipe_replay_is_idempotent(spark, events_dir, tmp_path):
    """Crash-between-write-and-advance (T2): re-applying the same batch
    must not change the state (keyed merge absorbs duplicates)."""
    job = _one_table_job(spark, events_dir, str(tmp_path / "t3"), 500)
    job.run()
    store = job.store_for("replica")
    before = sorted(
        (r["user_id"], r["last_seq"]) for r in store.read(spark).collect()
    )
    # simulate the crash: rewind the cursor and replay the last batch
    job.advance_cursor(400)
    job.sync_iteration()
    after = sorted(
        (r["user_id"], r["last_seq"]) for r in store.read(spark).collect()
    )
    assert before == after


def test_streaming_pipe_matches_batch(spark, events_dir, tmp_path):
    """foreachBatch embodiment lands on the identical replica."""
    job = SyncJob(spark, PipeConfig(), events_dir, str(tmp_path / "t4"))
    stream = _event_stream(spark, events_dir).withColumn("tbl", F.lit("replica"))
    q = job.sync_stream(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    store = ReplicaStore(str(tmp_path / "t4" / "replica"))
    got = {
        r["user_id"]: (r["last_seq"], round(r["value"], 6))
        for r in store.read(spark).collect()
    }
    assert got == _expected_replica(spark, events_dir)


def _assert_per_table_views(spark, events_dir, root):
    clog = changelog_from_events(spark.read.parquet(events_dir))
    for tbl in ("t0", "t1", "t2", "t3"):
        expected = {
            r["user_id"]: r["seq"]
            for r in replica_state(
                clog.filter(clog["tbl"] == tbl), ["user_id"]
            ).collect()
        }
        store = ReplicaStore(os.path.join(root, tbl))
        got = {
            r["user_id"]: r["last_seq"] for r in store.read(spark).collect()
        }
        assert got == expected, tbl


def test_routed_streaming_matches_per_table_views(spark, events_dir, tmp_path):
    """The routed foreachBatch embodiment lands each table's replica on
    its per-table FINAL view — streaming twin of the SyncJob test."""
    root = str(tmp_path / "routed")
    job = SyncJob(spark, PipeConfig(), events_dir, root)
    q = job.sync_stream(_event_stream(spark, events_dir), str(tmp_path / "rckpt"))
    q.awaitTermination(180)
    _assert_per_table_views(spark, events_dir, root)


def test_stream_truncate_cut(spark, tmp_path):
    """K3 in the streaming embodiment: I(k=10), T, I(k=20) in one
    micro-batch leaves only key 20."""
    log = str(tmp_path / "trunc_log")
    spark.createDataFrame(
        [(0, "I", "t0", 10, 1.0, None), (1, "T", "t0", None, None, None),
         (2, "I", "t0", 20, 2.0, None)],
        LOG_DDL,
    ).coalesce(1).write.parquet(log)
    job = SyncJob(spark, PipeConfig(), log, str(tmp_path / "rep"))
    stream = spark.readStream.schema(LOG_DDL).parquet(log)
    job.sync_stream(stream, str(tmp_path / "ckpt")).awaitTermination(120)
    got = [
        (r["user_id"], r["value"], r["last_seq"])
        for r in job.store_for("t0").read(spark).collect()
    ]
    assert got == [(20, 2.0, 2)]


def test_stream_merge_fault_replays_from_checkpoint(spark, events_dir, tmp_path):
    """A merge that fails in one table while the others commit fails the
    micro-batch before its offsets commit; restarting on the same
    checkpoint replays the batch and converges to the per-table views."""
    from pyspark.errors import StreamingQueryException

    root, ckpt = str(tmp_path / "faulty"), str(tmp_path / "fckpt")
    job = SyncJob(spark, PipeConfig(), events_dir, root)
    store = job.store_for("t1")
    real_merge = store.merge_changes
    calls = {"n": 0}

    def flaky_merge(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected merge failure")
        return real_merge(*a, **kw)

    store.merge_changes = flaky_merge
    with pytest.raises(StreamingQueryException, match="injected merge failure"):
        job.sync_stream(_event_stream(spark, events_dir), ckpt).awaitTermination(120)
    assert store.current_version() < 0  # t1 never committed
    assert job.store_for("t0").current_version() >= 0  # t0 did
    job.sync_stream(_event_stream(spark, events_dir), ckpt).awaitTermination(120)
    assert calls["n"] >= 2
    _assert_per_table_views(spark, events_dir, root)


def test_streaming_window_matches_batch_query(spark, sf_dir, events_dir, tmp_path):
    """The watermarked streaming tumbling agg and the batch twin
    (oracle-checked) produce identical rows."""
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    agg = tumbling_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in stream_tumbling_hourly(spark, sf_dir).collect()
    }
    assert streamed == batch
