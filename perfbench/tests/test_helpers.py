"""Tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, layers, reference
from perfbench.trace import Span, Tracer, percentile, self_times, tail_level, union_length

HERE = os.path.dirname(os.path.abspath(__file__))


# -- percentile rule --------------------------------------------------------


@pytest.mark.parametrize(
    "n, level",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10**6, 99.0)],
)
def test_tail_level_is_highest_percentile_with_ten_samples_beyond(n, level):
    assert tail_level(n) == level


def test_percentile_interpolates():
    assert percentile([4, 1, 3, 2], 50) == 2.5
    assert percentile([7], 99) == 7
    with pytest.raises(ValueError):
        percentile([], 50)


# -- self time ---------------------------------------------------------------


def _span(i, start, end, parent=None, layer="x", thread="MainThread"):
    return Span(id=i, name=f"s{i}", layer=layer, start=start, end=end,
                parent=parent, trace=1, thread=thread)


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, parent=1),   # concurrent children: [1, 6) covered
        _span(3, 2.0, 6.0, parent=1),
        _span(4, 8.0, 9.0, parent=1),
        _span(5, 9.5, 12.0, parent=1),  # sticks out of the parent: clipped
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - (5 + 1 + 0.5))
    assert st[2] == pytest.approx(3.0)
    assert union_length([(1, 4), (2, 6), (8, 9)], 0, 10) == pytest.approx(6.0)


def test_worker_thread_spans_attach_to_adopted_iteration():
    tracer = Tracer()
    with tracer.span("iteration", "sync_job", adopt=True) as it:
        def merge():
            with tracer.span("merge", "replica"):
                time.sleep(0.02)

        def reader():
            with tracer.span("read", "reader", root=True):
                time.sleep(0.01)

        workers = [threading.Thread(target=merge) for _ in range(3)]
        workers.append(threading.Thread(target=reader))
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=10)
            assert not w.is_alive()
    merges = [s for s in tracer.finished() if s.name == "merge"]
    (read,) = [s for s in tracer.finished() if s.name == "read"]
    assert read.parent is None and read.trace != it.trace
    assert len(merges) == 3
    assert all(s.parent == it.id and s.trace == it.trace for s in merges)
    st = self_times([s for s in tracer.finished() if s is not read])
    covered = union_length([(s.start, s.end) for s in merges], it.start, it.end)
    assert st[it.id] == pytest.approx(it.duration - covered)
    assert st[it.id] > it.duration - sum(s.duration for s in merges)


def test_blocking_time_sums_to_wall_and_splits_concurrent_layers():
    spans = [
        _span(1, 0.0, 4.0, layer="sync_job"),
        _span(2, 1.0, 3.0, parent=1, layer="replica", thread="pool-1"),
        _span(3, 2.0, 3.0, parent=1, layer="replica", thread="pool-2"),
        _span(4, 6.0, 7.0, layer="queries"),
    ]
    out = layers.blocking_time(spans, 0.0, 8.0)
    assert sum(out.values()) == pytest.approx(8.0)
    assert out["replica"] == pytest.approx(2.0)
    assert out["sync_job"] == pytest.approx(2.0)
    assert out["gap"] == pytest.approx(3.0)
    reader = _span(9, 0.0, 8.0, layer="reader", thread="reader")
    kept = layers.blocking_spans(spans + [reader], "MainThread")
    assert reader not in kept and len(kept) == 4


# -- open-loop generator -------------------------------------------------------


class FakeClock:
    def __init__(self, t=1000.0):
        self.t = t

    def __call__(self):
        return self.t

    def sleep(self, s):
        self.t += s


def _content(out_dir):
    return pq.read_table(out_dir).drop(["ts"]).sort_by("seq")


def test_generator_same_seed_same_output(tmp_path):
    for name in ("a", "b"):
        clock = FakeClock()
        g = gen.OpenLoopGenerator(str(tmp_path / name), seed=5, rate=500,
                                  interval=0.1, first_seq=0, n_keys=1000,
                                  clock=clock, sleep=clock.sleep)
        for _ in range(6):
            g.step(1000.0 + g.parts * 0.1)
    a, b = _content(str(tmp_path / "a")), _content(str(tmp_path / "b"))
    assert a.num_rows == 300 and a.equals(b)
    assert a["seq"].to_pylist() == list(range(300))


def test_generator_keeps_schedule_when_writes_stall(tmp_path):
    clock = FakeClock()
    g = gen.OpenLoopGenerator(str(tmp_path), seed=1, rate=100, interval=0.1,
                              first_seq=0, n_keys=100, clock=clock, sleep=clock.sleep)
    start = clock()
    for i in range(20):
        if i == 5:
            clock.t += 0.75  # the writer is held up from 0.4 s to 1.15 s
        g.step(start + g.parts * g.interval)
    created = [t - start for t, _ in g.timeline]
    # parts due during the stall go out at once, then the old cadence resumes
    assert created[:5] == pytest.approx([0.0, 0.1, 0.2, 0.3, 0.4])
    assert created[5:12] == pytest.approx([1.15] * 7)
    assert created[12:] == pytest.approx([1.2 + 0.1 * k for k in range(8)])
    assert g.late_s_max == pytest.approx(0.65)


def test_generator_process_ignores_a_stalled_consumer(tmp_path):
    out, stop, stats = tmp_path / "log", tmp_path / "stop", tmp_path / "stats.json"
    start = time.time() + 1.0
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "..", "gen.py"), "--out", str(out),
         "--seed", "3", "--rate", "1000", "--interval", "0.05", "--first-seq", "0",
         "--keys", "500", "--start", repr(start), "--stop-file", str(stop),
         "--stats", str(stats)])
    try:
        time.sleep(max(0.0, start - time.time()) + 1.0)  # nobody reads the log
        stop.touch()
        proc.wait(timeout=30)
    finally:
        if proc.poll() is None:
            proc.kill()
    import json

    st = json.loads(stats.read_text())
    assert 15 <= st["parts"] <= 25
    assert st["late_s_max"] < 0.5
    assert not [f for f in os.listdir(out) if f.startswith(".")]
    ts = pq.read_table(str(out))["ts"].cast("int64").to_numpy() / 1e6
    assert ts.min() >= start - 0.01


# -- CDC reference check ---------------------------------------------------------


def _write_replica(root, table, rows):
    """One replica version in ReplicaStore's layout (v_0000 + _CURRENT)."""
    d = os.path.join(root, table, "v_0000")
    os.makedirs(d)
    pq.write_table(pa.table({
        "user_id": pa.array([r[0] for r in rows], pa.int64()),
        "value": pa.array([r[1] for r in rows], pa.float64()),
        "last_seq": pa.array([r[2] for r in rows], pa.int64()),
        "__deleted": pa.array([r[3] for r in rows]),
    }), os.path.join(d, "part-0.parquet"))
    with open(os.path.join(root, table, "_CURRENT"), "w") as f:
        f.write("0")


def _cdc_inputs(tmp_path, log_rows):
    snap = tmp_path / "src"
    snap.mkdir()
    for t in ("t0", "t1"):
        k = 0 if t == "t0" else 1
        pq.write_table(pa.table({"user_id": pa.array([k, k + 2], pa.int64()),
                                 "value": [1.0, 2.0]}), str(snap / f"{t}.parquet"))
    log = tmp_path / "log"
    log.mkdir()
    pq.write_table(pa.table({
        "seq": pa.array([r[0] for r in log_rows], pa.int64()),
        "op": [r[1] for r in log_rows],
        "tbl": [r[2] for r in log_rows],
        "user_id": pa.array([r[3] for r in log_rows], pa.int64()),
        "value": pa.array([r[4] for r in log_rows], pa.float64()),
    }), str(log / "part-0.parquet"))
    return str(snap), str(log / "*.parquet")


def test_cdc_check_accepts_the_right_replica_and_catches_a_resurrected_key(tmp_path):
    snap, log = _cdc_inputs(tmp_path, [(0, "D", "t0", 0, None), (1, "U", "t0", 2, 9.0)])
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    _write_replica(good, "t0", [(0, None, 0, True), (2, 9.0, 1, False)])
    _write_replica(good, "t1", [(1, 1.0, -1, False), (3, 2.0, -1, False)])
    ok = reference.check_cdc(snap, log, good, 1, ["t0", "t1"])
    assert ok["ok"] and ok["mismatch_rows"] == 0
    # the deleted key 0 is visible again
    _write_replica(bad, "t0", [(0, 1.0, -1, False), (2, 9.0, 1, False)])
    _write_replica(bad, "t1", [(1, 1.0, -1, False), (3, 2.0, -1, False)])
    r = reference.check_cdc(snap, log, bad, 1, ["t0", "t1"])
    assert not r["ok"] and r["mismatch_rows"] == 1 and not r["known_defect"]


def test_cdc_check_tells_the_known_truncate_defect_from_a_new_one(tmp_path):
    snap, log = _cdc_inputs(tmp_path, [(0, "U", "t1", 1, 5.0), (1, "T", "t1", None, None),
                                       (2, "I", "t1", 7, 3.0)])
    cut, defect = str(tmp_path / "cut"), str(tmp_path / "defect")
    for root in (cut, defect):
        _write_replica(root, "t0", [(0, 1.0, -1, False), (2, 2.0, -1, False)])
    _write_replica(cut, "t1", [(7, 3.0, 2, False)])
    r = reference.check_cdc(snap, log, cut, 2, ["t0", "t1"])
    assert r["ok"] and r["mismatch_rows"] == 0
    # today's SyncJob: T stored as a NULL-key row, no cut
    _write_replica(defect, "t1", [(1, 5.0, 0, False), (3, 2.0, -1, False),
                                  (None, None, 1, False), (7, 3.0, 2, False)])
    r = reference.check_cdc(snap, log, defect, 2, ["t0", "t1"])
    assert r["ok"] and r["known_defect"] and r["mismatch_rows"] == 3


# -- ingest reference ------------------------------------------------------------


def test_ingest_reference_drops_near_duplicates_across_and_within_batches():
    rng = np.random.default_rng(0)
    words = [f"w{i}word" for i in range(400)]
    a = " ".join(rng.choice(words, 80))
    b = " ".join(rng.choice(words, 80))
    a2 = a.rsplit(" ", 1)[0] + " changed"
    batches = [[(1, a), (2, b)], [(3, a2), (4, "too short")], [(5, b), (6, b)]]
    assert reference.ingest_reference(batches) == {1, 2}
    assert reference.c4_keep(a) and not reference.c4_keep("too short")
