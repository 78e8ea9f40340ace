"""Benchmark for clockpipe_spark: CDC drain and freshness with reads
beside the writes, registry queries, and corpus ingest.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` (removed at exit). Each workload sets up
(session start, input generation, warm-up), measures one window of
``--seconds`` (the cdc workload measures a drain phase and a freshness
phase of that length each), then checks its outputs against a
reference computed without Spark. Every metric is printed as
``metric <name> <value> <unit>``; the last line is one JSON object with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``: an untraced window, then a traced one; the per-layer
numbers come from the traced window and ``overhead.*`` is traced minus
untraced). Spans of the traced window go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E = [  # name, unit; every workload reports each
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("latency_p50_s", "s"),
]
PER_LAYER = [
    ("session.start_s", "s"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_busy_ratio", "ratio"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"),
    ("sync_job.blocking_pct", "%"),
    ("replica.blocking_pct", "%"),
    ("queries.blocking_pct", "%"),
    ("corpus_ingest.blocking_pct", "%"),
    ("neardup_state.blocking_pct", "%"),
    ("trace.gap_pct", "%"),
    ("sync_job.iterations", "count"),
    ("sync_job.events_per_iteration", "count"),
    ("sync_job.retries", "count"),
    ("cdc.ops.keep_last_ratio", "ratio"),
    ("replica.bytes_written_per_event", "B"),
    ("replica.versions", "count"),
    ("queries.build_jobs", "count"),
    ("corpus_ingest.admit_ratio", "ratio"),
    ("neardup_state.loose_band_files", "count"),
    ("gen.backlog_events_end", "count"),
    ("gen.backlog_slope_eps", "1/s"),
    ("overhead.throughput_per_s", "1/s"),
    ("overhead.latency_p50_s", "s"),
]


def _environment(work: str) -> None:
    """Workers import clockpipe_spark from the checkout; Spark's scratch
    space and temp files stay inside the work directory."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # what `nproc` prints, without its OMP_NUM_THREADS override
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _start_session(work: str, trace: bool):
    from clockpipe_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # the REST counters need the UI; only the traced run pays for it
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    return get_spark("perfbench", extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark and wait for its JVM, which exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _traced_window(ctx, wl, untraced):
    """Run the traced window and derive the per-layer metrics."""
    import threading

    from perfbench import layers
    from perfbench.trace import CatalystPhases, SparkCounters, Tracer

    spark = ctx.spark
    tracer = Tracer()
    counters = SparkCounters(spark)
    phases = CatalystPhases(spark)
    layers.wrap_layers(tracer)
    try:
        c0, tc0 = counters.snapshot(), time.perf_counter()
        win = wl.window(tracer)
        time.sleep(1.0)  # listener and status events arrive asynchronously
        c1, tc1 = counters.snapshot(), time.perf_counter()
    finally:
        tracer.unwrap_all()
        phases.close()
    spans = tracer.finished()
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    tracer.dump(os.path.join(ROOT, ".perfbench_out",
                             f"{wl.name}-seed{ctx.seed}-spans.jsonl"))

    intervals = win.layer["phases"]
    wall = sum(b - a for a, b in intervals)
    blocking = layers.blocking_spans(spans, threading.main_thread().name)
    share: dict[str, float] = {}
    for a, b in intervals:
        for layer, t in layers.blocking_time(
                [s for s in blocking if s.end > a and s.start < b], a, b).items():
            share[layer] = share.get(layer, 0.0) + t
    cnt = counters.delta(c0, c1)
    plans = [p for a, b in intervals for p in phases.between(a, b + 0.5)]

    def mean_phase(key):
        xs = [p.get(key, 0.0) for p in plans]
        return sum(xs) / len(xs) if xs else 0.0

    m = {
        "session.start_s": ctx.session_start_s,
        "catalyst.optimization_ms": mean_phase("optimization"),
        "catalyst.planning_ms": mean_phase("planning"),
        "spark.jobs": cnt["jobs"],
        "spark.stages": cnt["stages"],
        "spark.tasks": cnt["tasks"],
        "spark.task_busy_ratio": cnt["run_ms"] / ((tc1 - tc0) * 1000 * counters.cores),
        "spark.shuffle_write_mb": cnt["shuffle_write_bytes"] / 1e6,
        "spark.spill_mb": cnt["spill_bytes"] / 1e6,
        "trace.gap_pct": 100 * share.get("gap", 0.0) / wall,
        "overhead.throughput_per_s": win.throughput_per_s - untraced.throughput_per_s,
        "overhead.latency_p50_s": win.latency_p50_s - untraced.latency_p50_s,
    }
    for layer in layers.LAYERS:
        m[f"{layer}.blocking_pct"] = 100 * share.get(layer, 0.0) / wall
    report = {
        "catalyst.analysis_ms": (mean_phase("analysis"), "ms"),
        "catalyst.plans": (len(plans), "count"),
        "trace.wall_s": (wall, "s"),
        "trace.spans": (len(spans), "count"),
    }
    for layer, t in sorted(share.items()):
        report[f"trace.blocking_s.{layer}"] = (t, "s")
    counts, wrep = wl.layers(win, spans)
    for name, _ in PER_LAYER:
        m.setdefault(name, counts.get(name, 0.0))
    report.update(wrep)
    if "drain" in win.layer:
        iters = max(1, sum(len(win.layer[p]["iters"]) for p in ("drain", "fresh")))
        for k in ("jobs", "stages", "tasks"):
            report[f"spark.{k}_per_iteration"] = (cnt[k] / iters, "count")
        report["spark.shuffle_write_mb_per_iteration"] = (
            cnt["shuffle_write_bytes"] / 1e6 / iters, "MB")
    return win, m, report


def run(args, work: str) -> tuple[dict, dict, dict]:
    from perfbench.workloads import WORKLOADS

    ctx = SimpleNamespace(seed=args.seed, seconds=float(args.seconds), work=work,
                          n_windows=2 if args.trace else 1)
    t = time.perf_counter()
    ctx.spark = _start_session(work, bool(args.trace))
    ctx.session_start_s = time.perf_counter() - t
    try:
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t
        win = wl.window(None)
        e2e = {
            "setup_s": setup_s,
            "throughput_per_s": win.throughput_per_s,
            "latency_p50_s": win.latency_p50_s,
        }
        report = {k: (e2e[k], u) for k, u in E2E}
        report["session.start_s"] = (ctx.session_start_s, "s")
        report["setup.gen_s"] = (wl.gen_s, "s")
        report["setup.warm_s"] = (setup_s - ctx.session_start_s - wl.gen_s, "s")
        report.update(win.report)
        attempted, failed = win.attempted, win.failed
        layer_metrics = {}
        if args.trace:
            twin, layer_metrics, trep = _traced_window(ctx, wl, win)
            attempted += twin.attempted
            failed += twin.failed
            report.update({f"traced.{k}": v for k, v in twin.report.items()})
            report.update(trep)
        t = time.perf_counter()
        check = wl.check()
        report["run.check_s"] = (time.perf_counter() - t, "s")
        if "mismatch_rows" in check:
            report["replica_mismatch_rows"] = (check["mismatch_rows"], "count")
    finally:
        _stop_session(ctx.spark)
    report["failed_ratio"] = (failed / max(1, attempted), "ratio")
    result = {
        "correct": bool(check["ok"]),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {},
    }
    values = layer_metrics if args.trace else e2e
    for name, unit in (PER_LAYER if args.trace else E2E):
        result["metrics"][name] = {"value": float(values[name]), "unit": unit}
    return result, report, check


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "clockpipe_spark", "__init__.py")):
        print(f"clockpipe_spark not found under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        _environment(work)
        result, report, check = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in report.items():
        print(f"metric {name} {value:.6g} {unit}")
    print("check " + json.dumps(check, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
