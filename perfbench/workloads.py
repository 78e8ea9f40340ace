"""The benchmark's workloads. Each one drives clockpipe_spark through its
public API on inputs generated from the seed:

- ``cdc``: a drain phase (closed loop: SyncJob.first_sync then sync_loop
  over a Zipf-skewed backlog at the 65,536-change cap) and a freshness
  phase (open loop: a separate generator process appends change-log
  parts at a fixed rate while a daemon sync_loop runs at the reference
  cadences and one reader thread reads the replica on its own schedule).
- ``analytics``: one client builds and runs a frozen list of registry
  queries with a noop sink, in a seed-permuted order per pass, then
  feeds micro-batches of a generated corpus through
  CorpusIngestPipeline.process_batch and StreamingNearDup.compact_bands.

A workload has ``setup`` (input generation and warm-up, the part of
``setup_s`` after session start), ``window`` (one measured window; the
traced run calls it twice, untraced then traced) and ``check`` (the
reference comparison, outside every window).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen, reference
from perfbench.layers import keep_last_ratio, span_stats
from perfbench.trace import percentile, tail_level

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Window:
    """What one measured window produced."""

    t0: float
    t1: float
    throughput_per_s: float
    latency_p50_s: float
    attempted: int
    failed: int
    report: dict = field(default_factory=dict)  # printed by name
    layer: dict = field(default_factory=dict)   # per-layer inputs


def _read_latencies(read_one, start: float, deadline: float, interval: float,
                    out: list[float], errors: list[BaseException]) -> None:
    """Open-loop reader: read i is due at start + i*interval and is timed
    from when it was due, so a stalled read delays the ones after it."""
    i = 0
    while True:
        due = start + i * interval
        if due >= deadline:
            return
        now = time.perf_counter()
        if now < due:
            time.sleep(due - now)
        try:
            read_one(i)
            out.append(time.perf_counter() - due)
        except Exception as ex:  # counted as a failed operation
            errors.append(ex)
        i += 1


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _start_reader(read_one, start, deadline, interval, tracer):
    """Start the reader thread; traced reads get their own root span so
    the spans they open are not taken for parts of a sync iteration."""
    if tracer is not None:
        untraced = read_one

        def read_one(i):
            with tracer.span("reader.read", "reader", root=True):
                untraced(i)

    lat: list[float] = []
    errors: list[BaseException] = []
    th = threading.Thread(
        target=_read_latencies, name="reader",
        args=(read_one, start, deadline, interval, lat, errors),
    )
    th.start()
    return th, lat, errors


# -- cdc ---------------------------------------------------------------------

CDC_TABLES = [f"t{i}" for i in range(gen.N_TABLES)]
CAP = 65_536
LOG_DDL = "seq long, op string, tbl string, user_id long, value double, ts timestamp"


class WindowClosed(BaseException):
    """Ends sync_loop at the window's deadline. A BaseException, so the
    loop's retry handler (``except Exception``) does not swallow it."""


def _timed_job_class():
    from clockpipe_spark.sync_job import SyncJob

    class TimedSyncJob(SyncJob):
        """SyncJob that stops at ``deadline`` and records each iteration
        and each cursor advance, for the benchmark's measurements."""

        deadline = float("inf")
        # freshness phase: run one more iteration that starts after the
        # deadline, so every event created inside the window is covered
        cover_deadline = False

        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.iters: list[tuple[float, float, int]] = []
            self.advances: list[tuple[float, int]] = []  # (epoch s, last_seq)
            self.errors = 0
            self._past_deadline = False

        def sync_iteration(self):
            if time.perf_counter() >= self.deadline:
                if self._past_deadline or not self.cover_deadline:
                    raise WindowClosed
                self._past_deadline = True
            t0 = time.perf_counter()
            try:
                out = super().sync_iteration()
            except Exception:
                self.errors += 1
                raise
            if out:
                self.iters.append((t0, time.perf_counter(), sum(out.values())))
            return out

        def advance_cursor(self, last_seq):
            super().advance_cursor(last_seq)
            self.advances.append((time.time(), last_seq))

    return TimedSyncJob


class Cdc:
    name = "cdc"
    DRAIN_KEYS = 100_000      # 4 tables x 25k rows
    FRESH_KEYS = 20_000       # 4 tables x 5k rows
    RATE = 2_000              # events/s offered in the freshness phase
    PART_INTERVAL = 0.1       # s between generator parts
    READ_INTERVAL = 1.0       # s between replica reads
    WARM_ITERATIONS = 3       # full batches before the drain window
    GEN_LEAD_S = 2.0          # generator start and fresh snapshot overlap in it

    def __init__(self, ctx):
        self.ctx = ctx
        self.w = ctx.work
        self.jobs: list[tuple[str, str, str, object]] = []  # kind, snap, log, job

    def _job(self, kind: str, snap: str, log: str):
        from clockpipe_spark.config import PipeConfig, SourceTable

        cfg = PipeConfig(
            tables=[SourceTable(t) for t in CDC_TABLES], peek_changes_limit=CAP
        )
        target = os.path.join(self.w, f"replica-{len(self.jobs)}")
        job = _timed_job_class()(
            self.ctx.spark, cfg, snap, target,
            changelog_fn=lambda s: s.read.schema(LOG_DDL).parquet(log),
        )
        self.jobs.append((kind, snap, log, job))
        return job

    def setup(self) -> None:
        seed, w = self.ctx.seed, self.w
        t_gen = time.perf_counter()
        gen.write_tables(gen.cdc_snapshot(seed, self.DRAIN_KEYS), f"{w}/drain_src")
        # the backlog holds one full batch per second of window, about
        # twice what this program drains on 4 cores today; a program that
        # empties it ends the drain phase early
        n_events = (self.WARM_ITERATIONS + self.ctx.n_windows * int(self.ctx.seconds)) * CAP
        gen.cdc_backlog(seed, self.DRAIN_KEYS, n_events, CAP // 4, f"{w}/drain_log")
        gen.write_tables(gen.cdc_snapshot(seed + 1, self.FRESH_KEYS), f"{w}/fresh_src")
        self.gen_s = time.perf_counter() - t_gen
        # the pipe's first snapshot (cold, as a new pipe sees it), then
        # full batches as warm-up; the drain phases continue this job
        self.drain_job = job = self._job("drain", f"{w}/drain_src", f"{w}/drain_log")
        job.initialize()
        t = time.perf_counter()
        copied = job.first_sync()
        self.snapshot_rows_per_s = sum(copied.values()) / (time.perf_counter() - t)
        for _ in range(self.WARM_ITERATIONS):
            job.sync_iteration()

    def window(self, tracer) -> Window:
        drain = self._drain(tracer)
        fresh = self._fresh(tracer)
        rep = {**drain["report"], **fresh["report"]}
        return Window(
            t0=drain["t0"], t1=fresh["t1"],
            throughput_per_s=drain["events_per_s"],
            latency_p50_s=fresh["freshness_p50_s"],
            attempted=drain["attempted"] + fresh["attempted"],
            failed=drain["failed"] + fresh["failed"],
            report=rep,
            layer={"drain": drain, "fresh": fresh,
                   "phases": [(drain["t0"], drain["t1"]), (fresh["t0"], fresh["t1"])]},
        )

    def _drain(self, tracer) -> dict:
        job = self.drain_job
        n0, e0 = len(job.iters), job.errors
        v0 = {t: job.store_for(t).current_version() for t in CDC_TABLES}
        a0 = len(job.advances)
        t0 = time.perf_counter()
        job.deadline = t0 + self.ctx.seconds
        try:
            job.sync_loop()
        except WindowClosed:
            pass
        iters = job.iters[n0:]
        t1 = iters[-1][1] if iters else time.perf_counter()
        events = sum(n for _, _, n in iters)
        errors = job.errors - e0
        written = [
            os.path.join(job.target_root, t, f"v_{v:04d}") for t in CDC_TABLES
            for v in range(v0[t] + 1, job.store_for(t).current_version() + 1)
        ]
        # median of the per-iteration rates: one slow iteration (a GC
        # pause, a late JIT compile) does not move it
        rate = percentile([n / (b - a) for a, b, n in iters], 50)
        return {
            "name": "drain", "t0": t0, "t1": t1, "iters": iters, "errors": errors,
            "written": written,
            "log": f"{self.w}/drain_log", "advances": job.advances[a0:],
            "seq0": job.advances[a0 - 1][1] if a0 else -1,
            "events_per_s": rate,
            "attempted": len(iters) + errors, "failed": errors,
            "report": {
                "snapshot_rows_per_s": (self.snapshot_rows_per_s, "1/s"),
                "drain_events_per_s": (rate, "1/s"),
                "drain_events_per_s_window": (events / (t1 - t0), "1/s"),
                "drain_iteration_s_p50": (
                    percentile([b - a for a, b, _ in iters], 50), "s"),
                "replica_mb": (_dir_bytes(job.target_root) / 1e6, "MB"),
            },
        }

    def _fresh(self, tracer) -> dict:
        from clockpipe_spark.streaming.replica import ReplicaStore

        w, spark = self.w, self.ctx.spark
        k = len(self.jobs)
        log = f"{w}/fresh_log-{k}"
        os.makedirs(log, exist_ok=True)
        job = self._job("fresh", f"{w}/fresh_src", log)
        job.initialize()
        stop_file, stats_file = f"{w}/gen-stop-{k}", f"{w}/gen-stats-{k}.json"
        # the generator's interpreter starts while the snapshot is copied
        start_epoch = time.time() + self.GEN_LEAD_S
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--out", log,
             "--seed", str(self.ctx.seed + k), "--rate", str(self.RATE),
             "--interval", str(self.PART_INTERVAL), "--first-seq", "0",
             "--keys", str(self.FRESH_KEYS), "--start", repr(start_epoch),
             "--stop-file", stop_file, "--stats", stats_file],
            env=os.environ.copy(),
        )
        try:
            job.first_sync()
            t0 = time.perf_counter() + (start_epoch - time.time())
            deadline = t0 + self.ctx.seconds
            rng = np.random.default_rng([self.ctx.seed, k])
            keys = rng.integers(0, self.FRESH_KEYS, 100_000)
            stores = [ReplicaStore(os.path.join(job.target_root, t)) for t in CDC_TABLES]

            def read_one(i: int) -> None:
                # alternately a point lookup and a whole-table aggregate
                df = stores[(i // 2) % len(stores)].read(spark)
                if i % 2:
                    df.agg({"value": "sum", "user_id": "count"}).collect()
                else:
                    df.filter(df.user_id == int(keys[i])).collect()

            reader, lat, read_errors = _start_reader(
                read_one, t0, deadline, self.READ_INTERVAL, tracer)
            job.deadline, job.cover_deadline = deadline, True
            time.sleep(max(0.0, t0 - time.perf_counter()))
            try:
                job.sync_loop(daemon=True, sleep=True)
            except WindowClosed:
                pass
            t1 = time.perf_counter()
            reader.join()
        finally:
            open(stop_file, "w").close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        with open(stats_file) as f:
            gstats = json.load(f)
        fr = freshness(log, job.advances, start_epoch, start_epoch + self.ctx.seconds)
        backlog = backlog_series(gstats["timeline"], job.advances)
        rl = tail_level(len(lat))
        rep = {
            "freshness_p50_s": (percentile(fr, 50), "s"),
            "freshness_samples": (len(fr), "count"),
            "read_p50_s": (percentile(lat, 50), "s"),
            "read_samples": (len(lat), "count"),
            "gen.rate_eps": (float(self.RATE), "1/s"),
            "gen.late_s_max": (gstats["late_s_max"], "s"),
            "gen.backlog_events_end": (backlog["end"], "count"),
            "gen.backlog_slope_eps": (backlog["slope"], "1/s"),
        }
        fl = tail_level(len(fr))
        if fl is not None:
            rep[f"freshness_p{fl:g}_s"] = (percentile(fr, fl), "s")
        if rl is not None and rl > 50:
            rep[f"read_p{rl:g}_s"] = (percentile(lat, rl), "s")
        return {
            "name": "fresh", "t0": t0, "t1": t1, "iters": job.iters,
            "errors": job.errors, "backlog": backlog,
            "freshness_p50_s": percentile(fr, 50),
            "attempted": len(job.iters) + job.errors + len(lat) + len(read_errors),
            "failed": job.errors + len(read_errors),
            "report": rep,
        }

    def layers(self, win: Window, spans) -> tuple[dict, dict]:
        drain, fresh = win.layer["drain"], win.layer["fresh"]
        events = sum(n for _, _, n in drain["iters"])
        fresh_events = sum(n for _, _, n in fresh["iters"])
        counts = {
            "sync_job.iterations": len(fresh["iters"]),
            "sync_job.events_per_iteration": fresh_events / max(1, len(fresh["iters"])),
            "sync_job.retries": drain["errors"] + fresh["errors"],
            "cdc.ops.keep_last_ratio": keep_last_ratio(
                f"{drain['log']}/*.parquet", drain["advances"], drain["seq0"]),
            "replica.bytes_written_per_event":
                sum(_dir_bytes(v) for v in drain["written"]) / max(1, events),
            "replica.versions": len(drain["written"]),
            "gen.backlog_events_end": fresh["backlog"]["end"],
            "gen.backlog_slope_eps": fresh["backlog"]["slope"],
        }
        report = {}
        for phase in (drain, fresh):
            sub = [s for s in spans if s.start >= phase["t0"] and s.end <= phase["t1"]]
            for k, v in span_stats(sub).items():
                if k.startswith(("sync_job", "replica")):
                    report[f"{phase['name']}.{k}"] = v
        report["cdc.ops.keep_last_ratio"] = (counts["cdc.ops.keep_last_ratio"], "ratio")
        return counts, report

    def check(self) -> dict:
        out = {"ok": True, "mismatch_rows": 0, "known_defect": False, "jobs": []}
        for kind, snap, log, job in self.jobs:
            r = reference.check_cdc(snap, f"{log}/*.parquet", job.target_root,
                                    job.read_cursor(), CDC_TABLES)
            r["kind"] = kind
            out["jobs"].append(r)
            out["ok"] &= r["ok"]
            out["mismatch_rows"] += r["mismatch_rows"]
            out["known_defect"] |= r["known_defect"]
        return out


def freshness(log_dir: str, advances, lo: float, hi: float) -> list[float]:
    """Seconds from each event's creation stamp to the return of the
    first advance_cursor covering it, for events created in [lo, hi]
    that an advance covered."""
    tbl = pq.read_table(log_dir, columns=["seq", "ts"])
    seq = tbl["seq"].to_numpy()
    created = tbl["ts"].cast("int64").to_numpy() / 1e6
    keep = (created >= lo) & (created <= hi)
    seq, created = seq[keep], created[keep]
    if not advances:
        return []
    adv_t = np.array([t for t, _ in advances])
    adv_seq = np.maximum.accumulate(np.array([s for _, s in advances]))
    idx = np.searchsorted(adv_seq, seq, side="left")
    covered = idx < len(adv_seq)
    return list(adv_t[idx[covered]] - created[covered])


def backlog_series(gen_timeline, advances) -> dict:
    """Backlog (events written but not yet covered by the cursor) right
    after each cursor advance, its value at the end, and its least-squares
    slope in events/s: near zero when the pipe keeps up."""
    if not gen_timeline:
        return {"end": 0, "slope": 0.0}
    gt = np.array([t for t, _ in gen_timeline])
    gs = np.array([s for _, s in gen_timeline])
    pts = []
    for t, s in advances:
        i = np.searchsorted(gt, t, side="right") - 1
        pts.append((t, (gs[i] if i >= 0 else -1) - s))
    if len(pts) < 2:
        return {"end": int(pts[-1][1]) if pts else int(gs[-1] + 1), "slope": 0.0}
    end = int(pts[-1][1])
    x = np.array([p[0] for p in pts])
    y = np.array([p[1] for p in pts], dtype=float)
    return {"end": end, "slope": float(np.polyfit(x - x[0], y, 1)[0])}


# -- analytics: registry queries --------------------------------------------

# Frozen from bench.py's HEADLINE list (44 names, round 21). The measured
# subset below keeps one warm pass near 3 s on 4 cores, so two passes fit
# in a window; the other names stay listed for provenance.
HEADLINE_44 = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_revenue_forecast", "q10_returned_items", "join_broadcast_brand_volume",
    "window_top3_orders_per_customer", "cdc_apply_to_snapshot",
    "stream_session_windows", "text_quality_scores", "text_fingerprint",
    "asof_last_purchase", "q13_customer_distribution", "q21_waiting_suppliers",
    "text_c4_filters", "cdc_pgoutput_roundtrip", "text_bpe_token_stats",
    "dedup_exact", "dedup_minhash_lsh", "cosine_topk_brute", "ann_lsh_topk",
    "ann_ivf_topk", "ann_ivf_topk_prebuilt", "embedding_neardup_pairs",
    "dedup_cluster_assign_lsh", "text_substring_dup_spans",
    "embedding_kmeans_clusters", "embedding_pca_project", "text_bigram_logprob",
    "quality_classifier_score", "frequent_items_mg", "mm_image_phash_neardup",
    "cdc_replica_asof", "cdc_incremental_agg", "stream_interval_join",
    "ts_resample_ohlc", "event_transition_matrix", "ts_ewma_bounded",
    "quantile_histogram_rollup", "ts_seasonal_residual", "cdc_scd2_history",
    "contamination_bloom", "ann_hard_negatives", "mm_video_scene_cuts",
]
QUERIES = [
    "q1_pricing_summary", "q21_waiting_suppliers", "window_top3_orders_per_customer",
    "cdc_apply_to_snapshot", "stream_session_windows", "dedup_exact",
]
QUERY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents"]
QUERY_SF = 0.01


class QueryPhase:
    """The registry-query half of ``analytics``."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.data = os.path.join(ctx.work, "star")
        self.results: dict[str, tuple] = {}
        self.passes = 0

    def _builders(self):
        from clockpipe_spark.queries import all_queries

        reg = all_queries()
        return {n: reg[n] for n in QUERIES}

    def setup(self) -> None:
        from perfbench.reference import frame_digest

        t = time.perf_counter()
        tables = gen.star_tables(self.ctx.seed, QUERY_SF)
        tables["documents"] = gen.documents(self.ctx.seed, int(50_000 * QUERY_SF))
        gen.write_tables(tables, self.data)
        self.gen_s = time.perf_counter() - t
        # warm-up: a cold pass that collects every query for the oracle
        # check, then one pass timed like the window's but not counted
        for name, build in self._builders().items():
            pdf = build(self.ctx.spark, self.data).toPandas()
            self.results[name] = (frame_digest(pdf), len(pdf))
        for build in self._builders().values():
            build(self.ctx.spark, self.data).write.format("noop").mode("overwrite").save()

    def window(self, tracer) -> Window:
        spark = self.ctx.spark
        builders = self._builders()
        rng = np.random.default_rng([self.ctx.seed, 7, self.passes])
        per_query: dict[str, list[float]] = {n: [] for n in QUERIES}
        per_pass = []
        t0 = time.perf_counter()
        deadline = t0 + self.ctx.seconds
        attempted = failed = 0
        while time.perf_counter() < deadline:
            ps = time.perf_counter()
            for i in rng.permutation(len(QUERIES)):
                name = QUERIES[i]
                qs = time.perf_counter()
                attempted += 1
                try:
                    df = _traced_call(tracer, "build", builders[name], spark, self.data)
                    _traced_call(tracer, "execute",
                                 lambda: df.write.format("noop").mode("overwrite").save())
                except Exception:
                    failed += 1
                    continue
                per_query[name].append(time.perf_counter() - qs)
            per_pass.append(time.perf_counter() - ps)
            self.passes += 1
        t1 = time.perf_counter()
        # a pass as the sum of each query's median over the passes: a GC
        # pause in one query of one pass does not move it
        total = sum(percentile(ts, 50) for ts in per_query.values())
        every = [t for ts in per_query.values() for t in ts]
        return Window(
            t0=t0, t1=t1,
            throughput_per_s=len(every) / (t1 - t0),
            latency_p50_s=total,
            attempted=attempted, failed=failed,
            report={
                "queries_total_s": (total, "s"),
                "queries_pass_s_p50": (percentile(per_pass, 50), "s"),
                "query_p50_s": (percentile(every, 50), "s"),
                "query_passes": (len(per_pass), "count"),
            },
        )

    def layers(self, win: Window, spans) -> tuple[dict, dict]:
        tracker = self.ctx.spark.sparkContext.statusTracker()
        build_jobs = len(tracker.getJobIdsForGroup("perfbench-build"))
        report = {k: v for k, v in span_stats(spans).items() if k.startswith("queries")}
        report["queries.build_jobs"] = (build_jobs, "count")
        report["queries.execute_jobs"] = (
            len(tracker.getJobIdsForGroup("perfbench-execute")), "count")
        return {"queries.build_jobs": build_jobs}, report

    def check(self) -> dict:
        from clockpipe_spark.queries import all_oracles

        oracles = all_oracles()
        expect = reference.oracle_digests(self.data, QUERY_TABLES, oracles, QUERIES)
        bad = [n for n, d in expect.items() if self.results[n][0] != d]
        # no oracle: the query must still have produced rows
        bad += [n for n in QUERIES if n not in expect and self.results[n][1] == 0]
        return {"ok": not bad, "mismatched": bad, "checked": len(expect)}


def _traced_call(tracer, phase, fn, *args):
    """Call a registry builder or its noop write; traced, inside a span
    and a Spark job group named after the phase."""
    if tracer is None:
        return fn(*args)
    sc = _spark_context()
    sc.setJobGroup(f"perfbench-{phase}", phase)
    try:
        with tracer.span(f"queries.{phase}", "queries"):
            return fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


# -- analytics: corpus ingest -----------------------------------------------


class IngestPhase:
    """The corpus-ingest half of ``analytics``."""
    BATCH_DOCS = 100
    WARM_DOCS = (100,)  # warm-up batch, after the query passes
    MAX_DOCS = 6_000

    def __init__(self, ctx):
        self.ctx = ctx
        self.docs_path = os.path.join(ctx.work, "corpus.parquet")
        self.root = os.path.join(ctx.work, "ingest")
        self.bounds: list[tuple[int, int]] = []  # doc-id range per batch
        self.pipe = None

    def _process(self, n_docs: int) -> None:
        from pyspark.sql import functions as F

        lo = self.bounds[-1][1] if self.bounds else 0
        hi = min(lo + n_docs, self.MAX_DOCS)
        self.bounds.append((lo, hi))
        batch = (
            self.ctx.spark.read.parquet(self.docs_path)
            .select("doc_id", "text")
            .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        )
        self.pipe.process_batch(batch, batch_id=len(self.bounds) - 1)
        self.pipe.neardup.compact_bands()

    def setup(self) -> None:
        from clockpipe_spark.streaming.corpus_ingest import CorpusIngestPipeline

        t = time.perf_counter()
        pq.write_table(gen.documents(self.ctx.seed, self.MAX_DOCS), self.docs_path)
        self.gen_s = time.perf_counter() - t
        self.pipe = CorpusIngestPipeline(self.ctx.spark, self.root, threshold=0.5)
        for n in self.WARM_DOCS:
            self._process(n)

    def window(self, tracer) -> Window:
        t0 = time.perf_counter()
        deadline = t0 + self.ctx.seconds
        per_batch = []
        failed = 0
        while time.perf_counter() < deadline and self.bounds[-1][1] < self.MAX_DOCS:
            bs = time.perf_counter()
            try:
                self._process(self.BATCH_DOCS)
                per_batch.append(time.perf_counter() - bs)
            except Exception:
                failed += 1
        t1 = time.perf_counter()
        docs = len(per_batch) * self.BATCH_DOCS
        rate = percentile([self.BATCH_DOCS / d for d in per_batch], 50)
        return Window(
            t0=t0, t1=t1,
            throughput_per_s=rate,
            latency_p50_s=percentile(per_batch, 50),
            attempted=len(per_batch) + failed, failed=failed,
            report={
                "ingest_docs_per_s": (rate, "1/s"),
                "ingest_docs_per_s_window": (docs / (t1 - t0), "1/s"),
                "ingest_batch_s_p50": (percentile(per_batch, 50), "s"),
                "ingest_batches": (len(per_batch), "count"),
            },
        )

    def layers(self, win: Window, spans) -> tuple[dict, dict]:
        m = self.pipe.metrics().toPandas()
        counts = {
            "corpus_ingest.admit_ratio":
                float(m["n_admitted"].sum()) / max(1, float(m["n_arrived"].sum())),
            "neardup_state.loose_band_files": len(self.pipe.neardup.loose_band_files()),
        }
        report = {k: v for k, v in span_stats(spans).items()
                  if k.startswith(("corpus_ingest", "neardup_state"))}
        report.update({k: (v, "ratio" if "ratio" in k else "count")
                       for k, v in counts.items()})
        return counts, report

    def check(self) -> dict:
        docs = pq.read_table(self.docs_path, columns=["doc_id", "text"]).to_pylist()
        batches = [[(d["doc_id"], d["text"]) for d in docs[lo:hi]]
                   for lo, hi in self.bounds]
        expect = reference.ingest_reference(batches)
        got = reference.read_corpus_ids(self.pipe.corpus_dir)
        texts = {d["doc_id"]: d["text"] for d in docs}
        unique = len(got) == len(set(got))
        gated = all(reference.c4_keep(texts[i]) for i in got)
        return {
            "ok": unique and gated and set(got) == expect,
            "admitted": len(got), "expected": len(expect),
            "unique": unique, "all_pass_gate": gated,
        }


class Analytics:
    """One client: warm passes of the frozen registry queries, then
    corpus-ingest micro-batches, each phase for ``seconds``. The gated
    latency is the query pass time and the gated throughput is ingest
    docs/s, so a query change and an ingest change each move one."""

    name = "analytics"

    def __init__(self, ctx):
        self.queries, self.ingest = QueryPhase(ctx), IngestPhase(ctx)

    def setup(self) -> None:
        self.queries.setup()
        self.ingest.setup()
        self.gen_s = self.queries.gen_s + self.ingest.gen_s

    def window(self, tracer) -> Window:
        q = self.queries.window(tracer)
        i = self.ingest.window(tracer)
        return Window(
            t0=q.t0, t1=i.t1,
            throughput_per_s=i.throughput_per_s,
            latency_p50_s=q.latency_p50_s,
            attempted=q.attempted + i.attempted, failed=q.failed + i.failed,
            report={**q.report, **i.report},
            layer={"phases": [(q.t0, q.t1), (i.t0, i.t1)]},
        )

    def layers(self, win: Window, spans) -> tuple[dict, dict]:
        qc, qr = self.queries.layers(win, spans)
        ic, ir = self.ingest.layers(win, spans)
        return {**qc, **ic}, {**qr, **ir}

    def check(self) -> dict:
        q, i = self.queries.check(), self.ingest.check()
        return {"ok": q["ok"] and i["ok"], "queries": q, "ingest": i}


WORKLOADS = {c.name: c for c in (Cdc, Analytics)}
