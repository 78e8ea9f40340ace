"""Per-layer numbers of the traced window: which calls into
clockpipe_spark are wrapped, the blocking-path time of each layer, and
the counts the JSON line carries.

Layers are the package's modules: ``sync_job`` (SyncJob), ``replica``
(streaming.replica.ReplicaStore), ``queries`` (registry builders and
their noop write), ``corpus_ingest`` (CorpusIngestPipeline) and
``neardup_state`` (StreamingNearDup). ``cdc.ops.keep_last_by_key`` is
lazy: its work runs inside the merge's write, so it is counted from
the data (distinct keys per event peeked), not timed.
"""

from __future__ import annotations

import duckdb

from perfbench.trace import Span, percentile, self_times

LAYERS = ("sync_job", "replica", "queries", "corpus_ingest", "neardup_state")


def wrap_layers(tracer) -> None:
    from clockpipe_spark.streaming.corpus_ingest import CorpusIngestPipeline
    from clockpipe_spark.streaming.neardup_state import StreamingNearDup
    from clockpipe_spark.streaming.replica import ReplicaStore
    from clockpipe_spark.sync_job import SyncJob

    # merge_changes runs on SyncJob's thread pool: adopt=True makes the
    # iteration in flight the parent of spans opened on those threads
    tracer.wrap(SyncJob, "sync_iteration", "sync_job", adopt=True)
    for attr in ("changelog", "read_cursor", "advance_cursor"):
        tracer.wrap(SyncJob, attr, "sync_job")
    for attr in ("merge_changes", "write", "read"):
        tracer.wrap(ReplicaStore, attr, "replica")
    tracer.wrap(CorpusIngestPipeline, "process_batch", "corpus_ingest")
    tracer.wrap(StreamingNearDup, "process_batch", "neardup_state")
    tracer.wrap(StreamingNearDup, "compact_bands", "neardup_state")


def blocking_spans(spans: list[Span], main_thread: str) -> list[Span]:
    """Spans opened on the main thread and their descendants (the merge
    pool's spans hang under the sync iteration)."""
    keep = {s.id for s in spans if s.thread == main_thread and s.parent is None}
    by_parent: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            by_parent.setdefault(s.parent, []).append(s)
    todo = list(keep)
    while todo:
        for c in by_parent.get(todo.pop(), ()):
            if c.id not in keep:
                keep.add(c.id)
                todo.append(c.id)
    return [s for s in spans if s.id in keep]


def blocking_time(spans: list[Span], lo: float, hi: float) -> dict[str, float]:
    """Split [lo, hi] among layers: each instant goes to the layer of the
    deepest span open at that instant (shared equally when concurrent
    spans of equal depth differ in layer); instants with no open span
    are the ``gap``. The parts sum to hi - lo."""
    depth: dict[int, int] = {}
    by_id = {s.id: s for s in spans}

    def d(s: Span) -> int:
        if s.id not in depth:
            p = by_id.get(s.parent)
            depth[s.id] = 0 if p is None else d(p) + 1
        return depth[s.id]

    cuts = sorted({lo, hi, *(min(max(t, lo), hi) for s in spans for t in (s.start, s.end))})
    out = {"gap": 0.0}
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        m = (a + b) / 2
        live = [s for s in spans if s.start <= m < s.end]
        if not live:
            out["gap"] += b - a
            continue
        top = max(d(s) for s in live)
        layers = [s.layer for s in live if d(s) == top]
        for layer in layers:
            out[layer] = out.get(layer, 0.0) + (b - a) / len(layers)
    return out


def _p50(xs) -> float | None:
    return percentile(xs, 50) if xs else None


def span_stats(spans: list[Span]) -> dict:
    """Per-layer p50 times and totals from one window's spans."""
    st = self_times(spans)

    def durs(name):
        return [s.duration for s in spans if s.name == name]

    iters = [s for s in spans if s.name == "SyncJob.sync_iteration"]
    out = {
        "sync_job.iteration_s_p50": (_p50([s.duration for s in iters]), "s"),
        "sync_job.peek_s_p50": (_p50([st[s.id] for s in iters]), "s"),
        "sync_job.advance_s_p50": (_p50(durs("SyncJob.advance_cursor")), "s"),
        "replica.merge_s_p50": (_p50(durs("ReplicaStore.merge_changes")), "s"),
        "replica.write_s_p50": (_p50(durs("ReplicaStore.write")), "s"),
        "replica.read_s_p50": (_p50(durs("ReplicaStore.read")), "s"),
        "replica.versions": (len(durs("ReplicaStore.write")), "count"),
        "queries.build_s": (sum(durs("queries.build")), "s"),
        "queries.execute_s": (sum(durs("queries.execute")), "s"),
        "corpus_ingest.batch_s_p50": (_p50(durs("CorpusIngestPipeline.process_batch")), "s"),
        "neardup_state.process_s_p50": (_p50(durs("StreamingNearDup.process_batch")), "s"),
        "neardup_state.compact_s": (sum(durs("StreamingNearDup.compact_bands")), "s"),
    }
    return {k: v for k, v in out.items() if v[0] is not None}


def keep_last_ratio(log_glob: str, advances, first_seq: int = -1) -> float:
    """Distinct (table, key) pairs written per event peeked, over the
    seq ranges the iterations advanced through."""
    bounds, prev = [], first_seq
    for _, s in advances:
        if s > prev:
            bounds.append((prev, s))
            prev = s
    if not bounds:
        return 0.0
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE r(lo BIGINT, hi BIGINT)")
        con.executemany("INSERT INTO r VALUES (?, ?)", bounds)
        n_keys, n_ev = con.execute(
            f"""SELECT count(DISTINCT (r.hi, l.tbl, l.user_id)), count(*)
                FROM read_parquet('{log_glob}') l
                JOIN r ON l.seq > r.lo AND l.seq <= r.hi"""
        ).fetchone()
    finally:
        con.close()
    return n_keys / n_ev if n_ev else 0.0
