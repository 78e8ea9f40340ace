"""Config-driven multi-table sync job: snapshot guards, masking,
per-table routing, CLI parity."""

from __future__ import annotations

import json
import os

import pytest

from clockpipe_spark.cdc.changelog import changelog_from_events
from clockpipe_spark.cdc.ops import replica_state
from clockpipe_spark.catalog import load_table
from clockpipe_spark.config import PipeConfig, SourceTable
from clockpipe_spark.sync_job import SyncJob

CONFIG_JSON = json.dumps(
    {
        "source": {
            "source_type": "parquet_cdc",
            "tables": [
                {"table_name": "customer", "mask_columns": ["c_acctbal"]},
                {"table_name": "nation"},
                {"table_name": "region", "skip_copy": True},
            ],
            "peek_changes_limit": 400,
            "sleep_millis_when_peek_is_empty": 1,
            "sleep_millis_when_write_failed": 2,
        },
        "sink": {"min_age_to_force_merge_seconds": 60},
    }
)


def test_config_from_json_reference_fields():
    cfg = PipeConfig.from_json(CONFIG_JSON)
    assert cfg.peek_changes_limit == 400
    assert cfg.copy_batch_size == 100_000  # reference default kept
    assert cfg.tables[0].mask_columns == ["c_acctbal"]
    assert cfg.tables[2].skip_copy is True
    # the loop driver applies both, so the config file must set them
    assert cfg.sleep_millis_when_peek_is_empty == 1
    assert cfg.sleep_millis_when_write_failed == 2


def test_sync_job_end_to_end(spark, sf_dir, tmp_path):
    cfg = PipeConfig.from_json(CONFIG_JSON)
    job = SyncJob(spark, cfg, sf_dir, str(tmp_path / "replica"))
    result = job.run()

    # snapshot: masked column NULL, skip_copy respected
    cust = job.store_for("customer").read(spark)
    assert result["copied"]["customer"] == cust.count() > 0
    assert cust.filter(cust["c_acctbal"].isNotNull()).count() == 0  # masked
    assert result["copied"]["region"] == 0
    assert job.store_for("region").read(spark) is None

    # change loop: per-table routed replicas match the batch FINAL view
    assert result["iterations"] >= 2  # 1000 events / 400 cap
    clog = changelog_from_events(load_table(spark, sf_dir, "events"))
    for tbl in ("t0", "t1", "t2", "t3"):
        expected = {
            r["user_id"]: r["seq"]
            for r in replica_state(
                clog.filter(clog["tbl"] == tbl), ["user_id"]
            ).collect()
        }
        got = {
            r["user_id"]: r["last_seq"]
            for r in job.store_for(tbl).read(spark).collect()
        }
        assert got == expected, tbl


def test_sync_job_snapshot_idempotent(spark, sf_dir, tmp_path):
    cfg = PipeConfig.from_json(CONFIG_JSON)
    root = str(tmp_path / "replica2")
    job = SyncJob(spark, cfg, sf_dir, root)
    job.initialize()
    first = job.first_sync()
    again = job.first_sync()  # K6: non-empty target -> skip
    assert first["customer"] > 0 and again["customer"] == 0


def test_table_options_inheritance():
    from clockpipe_spark.config import TableOptions

    cfg = PipeConfig.from_json(
        json.dumps(
            {
                "source": {
                    "tables": [
                        {"table_name": "a"},
                        {
                            "table_name": "b",
                            "table_options": {"sink_buckets": 32, "granularity": 4096},
                        },
                    ]
                },
                "sink": {"sink_buckets": 8},
            }
        )
    )
    # blank table options inherit the global sink_buckets
    assert cfg.options_for(cfg.tables[0]).sink_buckets == 8
    # table-specific options win (docs/clickhouse/README.md)
    opts_b = cfg.options_for(cfg.tables[1])
    assert opts_b.sink_buckets == 32 and opts_b.granularity == 4096
    # always a copy — caller mutation must not alias per-table state
    opts_b.sink_buckets = 99
    assert cfg.options_for(cfg.tables[1]).sink_buckets == 32


def test_sync_job_bucketed_sink(spark, sf_dir, tmp_path):
    """sink_buckets > 0 routes state through BucketedReplicaStore with
    identical end results."""
    cfg_json = json.loads(CONFIG_JSON)
    cfg_json["sink"]["sink_buckets"] = 8
    cfg = PipeConfig.from_json(json.dumps(cfg_json))
    job = SyncJob(spark, cfg, sf_dir, str(tmp_path / "bucketed"))
    result = job.run()
    assert result["copied"]["customer"] > 0
    clog = changelog_from_events(load_table(spark, sf_dir, "events"))
    for tbl in ("t0", "t3"):
        expected = {
            r["user_id"]: r["seq"]
            for r in replica_state(
                clog.filter(clog["tbl"] == tbl), ["user_id"]
            ).collect()
        }
        got = {
            r["user_id"]: r["last_seq"]
            for r in job.store_for(tbl).read(spark).collect()
        }
        assert got == expected, tbl


def test_retry_without_advance(spark, sf_dir, tmp_path):
    """T3: a write failure leaves the cursor untouched; the retry
    re-peeks the SAME batch and the final state is unaffected."""
    cfg = PipeConfig.from_json(CONFIG_JSON)
    job = SyncJob(spark, cfg, sf_dir, str(tmp_path / "retry"))
    job.initialize()

    real_iteration = job.sync_iteration
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] == 2:  # fail the second iteration once
            raise RuntimeError("injected sink failure")
        return real_iteration()

    job.sync_iteration = flaky
    iterations = job.sync_loop()
    assert calls["n"] >= 3  # iteration 2 ran twice (fail + retry)

    clog = changelog_from_events(load_table(spark, sf_dir, "events"))
    for tbl in ("t0", "t1"):
        expected = {
            r["user_id"]: r["seq"]
            for r in replica_state(
                clog.filter(clog["tbl"] == tbl), ["user_id"]
            ).collect()
        }
        got = {
            r["user_id"]: r["last_seq"]
            for r in job.store_for(tbl).read(spark).collect()
        }
        assert got == expected, tbl


def test_backoff_classes_and_daemon_empty_peek(spark, sf_dir, tmp_path, monkeypatch):
    """The reference's three run-loop pacing classes (r9 parity wiring):
    a WRITE-phase failure backs off with sleep_millis_when_write_failed
    (pipes/postgres.rs:408-446), any other failure with
    sleep_millis_when_peek_failed (:277), and in daemon mode an empty
    peek sleeps sleep_millis_when_peek_is_empty and keeps polling
    (:284-291) instead of returning."""
    from clockpipe_spark import sync_job as sj

    cfg = PipeConfig.from_json(CONFIG_JSON)
    cfg.sleep_millis_when_peek_failed = 11_000
    cfg.sleep_millis_when_write_failed = 13_000
    cfg.sleep_millis_when_peek_is_empty = 17_000
    cfg.sleep_millis_after_sync_iteration = 1_000
    job = SyncJob(spark, cfg, sf_dir, str(tmp_path / "backoff"))
    job.initialize()

    import types

    slept: list[float] = []
    # patch sync_job's `time` module reference only — patching the
    # global time.sleep also catches Spark/py4j internal polling loops
    fake_time = types.SimpleNamespace(sleep=slept.append, time=sj.time.time)
    monkeypatch.setattr(sj, "time", fake_time)

    real_iteration = job.sync_iteration
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:
            raise sj.WriteFailedError("injected write failure")
        if calls["n"] == 2:
            raise RuntimeError("injected peek failure")
        return real_iteration()

    job.sync_iteration = flaky
    job.sync_loop(sleep=True)
    assert slept[0] == 13.0, "write failure must use when_write_failed"
    assert slept[1] == 11.0, "peek failure must use when_peek_failed"
    assert slept.count(1.0) >= 1  # after_sync_iteration pacing

    # daemon mode: drained log -> empty-peek sleeps, loop keeps polling
    # until the poll budget runs out (never breaks on empty)
    slept.clear()
    done = job.sync_loop(sleep=True, daemon=True, max_iterations=3)
    assert done == 0  # nothing new to sync
    assert slept == [17.0, 17.0, 17.0]


def test_write_phase_failure_is_tagged(spark, sf_dir, tmp_path):
    """A merge-phase crash must surface as WriteFailedError (cursor
    untouched) so the loop picks the write-failed backoff class."""
    import pytest

    from clockpipe_spark.sync_job import WriteFailedError

    cfg = PipeConfig.from_json(CONFIG_JSON)
    job = SyncJob(spark, cfg, sf_dir, str(tmp_path / "tagged"))
    job.initialize()
    before = job.read_cursor()
    real_store_for = job.store_for
    job.store_for = lambda tbl: (_ for _ in ()).throw(
        RuntimeError("injected merge crash")
    )
    with pytest.raises(WriteFailedError, match="injected merge crash"):
        job.sync_iteration()
    assert job.read_cursor() == before  # T2: not advanced
    job.store_for = real_store_for


TRUNCATE_LOG = [
    (0, "I", "t0", 10, 1.0, None),
    (1, "T", "t0", None, None, None),
    (2, "I", "t0", 20, 2.0, None),
]
LOG_DDL = "seq long, op string, tbl string, user_id long, value double, ts timestamp"


@pytest.mark.parametrize("cap", [65_536, 1], ids=["one_batch", "per_event"])
@pytest.mark.parametrize("buckets", [0, 4], ids=["flat", "bucketed"])
def test_truncate_cut(spark, tmp_path, buckets, cap):
    """K3 (pipes/postgres.rs:391-417): I(k=10), T, I(k=20) leaves only
    key 20 — whether the truncate cuts inside one batch or wipes state
    an earlier batch committed, on the flat and the bucketed store."""
    log = spark.createDataFrame(TRUNCATE_LOG, LOG_DDL)
    cfg = PipeConfig(peek_changes_limit=cap, sink_buckets=buckets)
    job = SyncJob(spark, cfg, str(tmp_path), str(tmp_path / "rep"),
                  changelog_fn=lambda s: log)
    job.sync_loop()
    got = [
        (r["user_id"], r["value"], r["last_seq"])
        for r in job.store_for("t0").read(spark).collect()
    ]
    assert got == [(20, 2.0, 2)]
    assert job.read_cursor() == 2


def test_fault_injection_replay_converges(spark, sf_dir, tmp_path):
    """One fault at each phase boundary — in the peek, in one table's
    merge while the other tables commit, and in the cursor advance —
    each in its own batch, over a log whose faulted batches also carry
    a TRUNCATE. The retried run converges to a clean run's replica,
    both equal the K3 reference, and no advance ever passes a merge
    that did not commit."""
    from pyspark.sql import functions as F

    cfg = PipeConfig.from_json(CONFIG_JSON)  # 1000 events / 400 cap
    tables = ("t0", "t1", "t2", "t3")
    events = changelog_from_events(load_table(spark, sf_dir, "events"))
    seqs = {
        t: [r["seq"] for r in events.filter(events["tbl"] == t).select("seq").collect()]
        for t in tables
    }
    # one truncate of t1 in the batch whose t1 merge fails, one of t2
    # in the batch whose advance fails
    truncates = {
        "t1": min(q for q in seqs["t1"] if q > 450),
        "t2": min(q for q in seqs["t2"] if q > 850),
    }
    cut = F.col("seq").isin(*truncates.values())
    clog = events.withColumn("op", F.when(cut, "T").otherwise(F.col("op"))).withColumn(
        "user_id", F.when(cut, None).otherwise(F.col("user_id"))
    )

    def job_at(root):
        return SyncJob(spark, cfg, sf_dir, str(tmp_path / root),
                       changelog_fn=lambda s: clog)

    def live_writes(t, upto):
        """Seqs of t's writes at or below ``upto`` that survive its truncate."""
        t_cut = truncates.get(t, -1)
        if t_cut > upto:
            t_cut = -1
        return [q for q in seqs[t] if t_cut < q <= upto]

    clean = job_at("clean")
    clean.sync_loop()
    job = job_at("faulty")
    calls = {"peek": 0, "merge": 0, "advance": 0}

    real_changelog = job.changelog

    def flaky_changelog():
        calls["peek"] += 1
        if calls["peek"] == 1:
            raise RuntimeError("injected peek failure")
        return real_changelog()

    t1 = job.store_for("t1")
    real_merge = t1.merge_changes

    def flaky_merge(*a, **kw):
        calls["merge"] += 1
        if calls["merge"] == 2:
            raise RuntimeError("injected merge failure")
        return real_merge(*a, **kw)

    real_advance = job.advance_cursor
    advanced = []

    def checked_advance(last_seq):
        calls["advance"] += 1
        # every change up to the new cursor must already be committed
        for t in tables:
            raw = job.store_for(t).read_raw(spark)
            committed = raw.agg({"last_seq": "max"}).first()[0] if raw else None
            assert committed == max(live_writes(t, last_seq), default=None), (
                t, last_seq)
        if calls["advance"] == 3:
            raise RuntimeError("injected advance failure")
        real_advance(last_seq)
        advanced.append(last_seq)

    job.changelog = flaky_changelog
    t1.merge_changes = flaky_merge
    job.advance_cursor = checked_advance
    iterations = job.sync_loop()

    assert calls == {"peek": 7, "merge": 5, "advance": 4}
    assert iterations == 3 and advanced == sorted(advanced)
    assert job.read_cursor() == clean.read_cursor() == 999
    for t in tables:
        got = job.store_for(t).read(spark).collect()
        assert set(got) == set(clean.store_for(t).read(spark).collect()), t
        part = clog.filter((clog["tbl"] == t) & (clog["seq"] > truncates.get(t, -1)))
        expected = {r["user_id"]: r["seq"] for r in replica_state(part, ["user_id"]).collect()}
        assert {r["user_id"]: r["last_seq"] for r in got} == expected, t


def test_cli_run(spark, sf_dir, tmp_path, capsys):
    from clockpipe_spark.__main__ import main

    cfg_path = str(tmp_path / "cfg.json")
    with open(cfg_path, "w") as f:
        f.write(CONFIG_JSON)
    rc = main(
        [
            "run",
            "--config-file", cfg_path,
            "--source-dir", sf_dir,
            "--target-root", str(tmp_path / "cli_replica"),
            "--max-iterations", "1",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["iterations"] == 1 and out["copied"]["customer"] > 0
