"""The change loop every CDC pipe runs, plus the config-driven
multi-table sync job — the reference's end-to-end product shape
(main.rs:27-49 -> pipes/postgres.rs:748-769).

- ``apply_change_batch`` applies one peeked batch: per table, the K3
  truncate cut and the store merge (which keeps the last change per
  key), with the tables running concurrently (pipes/postgres.rs:295-446).
- ``run_change_loop`` is the loop driver: retry without advancing and
  the reference's four pacing classes, all read from ``PipeConfig``
  (pipes/postgres.rs:260-517).
- ``SyncJob`` reads a JSON config, snapshots each configured table
  (masking, idempotent skip guard), then drains the change log with
  per-table routing into one replica store per table — batch-wise with
  a persisted cursor (``sync_loop``) or as a Structured Streaming query
  whose checkpoint plays the cursor (``sync_stream``).

``streaming/live_pipe.LivePostgresRoutedPipe`` runs the same core and
driver against a live PostgreSQL slot.  Source endpoints are parquet
directories here; the operator chain (align -> mask -> cast -> merge)
is the deployment-real part.
"""

from __future__ import annotations

import json
import logging
import os
import time
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clockpipe_spark.cdc.changelog import changelog_from_events
from clockpipe_spark.cdc.ops import apply_masks
from clockpipe_spark.config import PipeConfig
from clockpipe_spark.streaming.replica import ReplicaStore


class WriteFailedError(RuntimeError):
    """A sync iteration failed in its WRITE phase (after a successful
    peek).  The reference backs off with ``sleep_millis_when_write_failed``
    for this class and ``sleep_millis_when_peek_failed`` for peek
    failures (pipes/postgres.rs:277 vs :408-446); tagging the phase lets
    the loop driver pick the matching knob.  Either way the cursor is
    untouched, so the retry re-peeks the same batch."""


def apply_change_batch(
    spark: SparkSession,
    op_max: dict[str, dict[str, int]],
    slice_for: Callable[[str], tuple[object, DataFrame, Sequence[str]]],
) -> None:
    """Apply one peeked batch to every table in ``op_max`` (table -> op
    -> max seq of that op in the batch, from the peek's stats job).
    ``slice_for(table)`` gives the table's (store, changes, merge keys);
    ``changes`` carries ``seq`` and ``op`` columns.

    Per table: a TRUNCATE wipes the store inline and only changes after
    the batch's last truncate survive (K3, pipes/postgres.rs:391-417);
    then ``store.merge_changes``, which keeps the last change per key
    over the batch and the state.  Tables are
    independent Spark jobs on disjoint stores, so they run concurrently,
    each truncate inside its table's task.  Every table's task runs to
    the end; a failure is then raised as ``WriteFailedError``, and the
    caller advances its cursor only when this returns."""

    def apply_one(tbl: str) -> None:
        store, changes, keys = slice_for(tbl)
        ops = op_max[tbl]
        cut = ops.get("T")
        if cut is not None:
            store.truncate(spark)
            changes = changes.filter(F.col("seq") > cut)
        last_write = max((ops[op] for op in "IUD" if op in ops), default=None)
        # merge only when a write survives the cut: an all-pre-truncate
        # batch would otherwise rewrite a full state version for nothing
        if last_write is None or (cut is not None and last_write <= cut):
            return
        store.merge_changes(spark, changes, keys)

    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = [pool.submit(apply_one, tbl) for tbl in sorted(op_max)]
    for fut in futures:
        ex = fut.exception()
        if ex is not None:
            raise WriteFailedError(str(ex)) from ex


def run_change_loop(
    iteration: Callable[[], dict],
    config: PipeConfig,
    max_iterations: int | None = None,
    sleep: bool = False,
    max_retries: int = 3,
    daemon: bool = False,
) -> int:
    """Drive ``iteration`` (one peek -> apply -> advance turn; an empty
    result means drained) and return the productive iterations run.

    A failed iteration is retried WITHOUT advancing the cursor (T3,
    pipes/postgres.rs:433-452): the next attempt re-peeks the same
    batch; the keyed merge makes the replay safe.  The retry backoff
    matches the reference's failure classes:
    ``sleep_millis_when_write_failed`` when the iteration died in its
    write phase (WriteFailedError, pipes/postgres.rs:408-446),
    ``sleep_millis_when_peek_failed`` otherwise (config.rs:156-159).
    Each productive iteration paces by
    ``sleep_millis_after_sync_iteration`` (:513).  Only ``Exception``
    is retried, so a ``BaseException`` still stops the loop.

    ``daemon=True`` is the reference's long-running shape: an empty
    peek sleeps ``sleep_millis_when_peek_is_empty`` and keeps polling
    (pipes/postgres.rs:284-291) instead of returning; bound it with
    ``max_iterations`` (every poll counts) or run forever.
    """

    def pause(millis: int) -> None:
        if sleep:
            time.sleep(millis / 1000)

    it = polls = failures = 0
    while max_iterations is None or (polls if daemon else it) < max_iterations:
        polls += 1
        try:
            counters = iteration()
        except Exception as ex:
            failures += 1
            if failures > max_retries:
                raise
            logging.getLogger(__name__).warning(
                "sync iteration failed (%d of %d retries), retrying without "
                "advancing", failures, max_retries, exc_info=True,
            )
            pause(
                config.sleep_millis_when_write_failed
                if isinstance(ex, WriteFailedError)
                else config.sleep_millis_when_peek_failed
            )
            continue  # cursor untouched -> same batch re-peeked
        failures = 0
        if not counters:
            if not daemon:
                break
            pause(config.sleep_millis_when_peek_is_empty)
            continue
        it += 1
        pause(config.sleep_millis_after_sync_iteration)
    return it


def _batch_stats(batch: DataFrame) -> list:
    """ONE job yields emptiness + per-(table, op) counters + max seq —
    per-iteration fixed cost is what bounds small-batch throughput."""
    return (
        batch.groupBy("tbl", "op")
        .agg(F.count("*").alias("n"), F.max("seq").alias("mx"))
        .collect()
    )


class SyncJob:
    """initialize -> first_sync -> sync_loop over MULTIPLE tables
    (IPipe lifecycle, pipes/mod.rs:11-16) with group-by-table routing
    (A2, pipes/postgres.rs:295-420) and per-table/op write counters
    (A3, WriteCounter pipes/mod.rs:23-28)."""

    def __init__(
        self,
        spark: SparkSession,
        config: PipeConfig,
        source_dir: str,
        target_root: str,
        changelog_fn: Callable[[SparkSession], DataFrame] | None = None,
        keys: tuple[str, ...] = ("user_id",),
    ):
        self.spark = spark
        self.config = config
        self.source_dir = source_dir
        self.target_root = target_root
        self.keys = list(keys)
        self._changelog_fn = changelog_fn
        self.cursor_file = os.path.join(target_root, "cursor.json")
        os.makedirs(target_root, exist_ok=True)
        self.stores: dict[str, ReplicaStore] = {}

    def store_for(self, table: str):
        if table not in self.stores:
            path = os.path.join(self.target_root, table)
            # per-table options inherit from global (config.rs:259-268)
            src = next(
                (t for t in self.config.tables if t.table_name == table), None
            )
            buckets = self.config.sink_buckets
            if src is not None:
                buckets = self.config.options_for(src).sink_buckets
            if buckets and buckets > 0:
                from clockpipe_spark.streaming.bucketed_replica import (
                    BucketedReplicaStore,
                )

                self.stores[table] = BucketedReplicaStore(path, n_buckets=buckets)
            else:
                self.stores[table] = ReplicaStore(path)
        return self.stores[table]

    # -- lifecycle ---------------------------------------------------------
    def initialize(self) -> None:
        """Ping both ends (T7, pipes/postgres.rs:94-108): source paths
        must be readable, target root writable."""
        for t in self.config.tables:
            path = os.path.join(self.source_dir, f"{t.table_name}.parquet")
            if not t.skip_copy and not os.path.exists(path):
                raise FileNotFoundError(f"source table missing: {path}")
        os.makedirs(self.target_root, exist_ok=True)

    def first_sync(self) -> dict[str, int]:
        """Snapshot copy per configured table: skip_copy / non-empty
        target guards (K6, pipes/postgres.rs:136-160), masking applied
        before write (P2). Returns rows copied per table."""
        copied: dict[str, int] = {}
        for t in self.config.tables:
            store = self.store_for(t.table_name)
            if t.skip_copy or store.current_version() >= 0:
                copied[t.table_name] = 0
                continue
            df = self.spark.read.parquet(
                os.path.join(self.source_dir, f"{t.table_name}.parquet")
            )
            df = apply_masks(df, t.mask_columns)
            # NOTE deliberately NOT fanout_repartition-ed: snapshot copy
            # is a 1:1 map whose parallelism at scale comes from parquet
            # input splitting (maxPartitionBytes); an unconditional
            # shuffle here only adds cost. The fan-out guard is for
            # stages whose OUTPUT volume explodes relative to input.
            state = df.withColumn("last_seq", F.lit(-1).cast("bigint")).withColumn(
                "__deleted", F.lit(False)
            )
            if hasattr(store, "write_snapshot"):
                from clockpipe_spark.catalog import PRIMARY_KEYS

                # same per-table key resolution as merge_keys_for, so a
                # bucketed snapshot and later changelog merges hash by the
                # SAME key columns (snapshot-then-CDC on one table is the
                # reference's core shape, pipes/postgres.rs first_sync ->
                # sync_loop)
                pk = PRIMARY_KEYS.get(t.table_name)
                if pk is None:
                    pk = (
                        self.keys
                        if all(k in df.columns for k in self.keys)
                        else df.columns[:1]
                    )
                store.write_snapshot(state, list(pk))
            else:
                store.write(state)
            copied[t.table_name] = store.read(self.spark).count()
        return copied

    # -- change loop --------------------------------------------------------
    def changelog(self) -> DataFrame:
        if self._changelog_fn is not None:
            return self._changelog_fn(self.spark)
        events = self.spark.read.parquet(os.path.join(self.source_dir, "events.parquet"))
        # normalize the nanos ts like catalog.load_table
        from pyspark.sql import types as T

        if isinstance(events.schema["ts"].dataType, T.LongType):
            events = events.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return changelog_from_events(events)

    def read_cursor(self) -> int:
        try:
            with open(self.cursor_file) as f:
                return json.load(f)["last_seq"]
        except FileNotFoundError:
            return -1

    def advance_cursor(self, last_seq: int) -> None:
        tmp = self.cursor_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_seq": last_seq}, f)
        os.replace(tmp, self.cursor_file)

    def merge_keys_for(self, tbl: str, available: list[str]) -> list[str]:
        """Per-table merge keys: a table's registered PRIMARY KEY wins over
        the job-level key tuple, so snapshot-then-CDC on the same table
        hashes state and changes identically (the reference resolves PKs
        per table, adapter/postgres.rs:741-758). The changelog MUST carry
        the key columns — a silent fallback would merge by the wrong key
        and leave stale rows per PK."""
        from clockpipe_spark.catalog import PRIMARY_KEYS

        keys = list(PRIMARY_KEYS.get(tbl, self.keys))
        missing = [k for k in keys if k not in available]
        if missing:
            raise ValueError(
                f"changelog for table {tbl!r} lacks merge-key columns {missing}"
            )
        return keys

    def _apply(self, batch: DataFrame, stats: list) -> None:
        """Route a peeked batch per table (A2) through apply_change_batch."""
        op_max: dict[str, dict[str, int]] = {}
        for r in stats:
            op_max.setdefault(r["tbl"], {})[r["op"]] = r["mx"]

        def slice_for(tbl: str):
            part = batch.filter(F.col("tbl") == tbl)
            keys = self.merge_keys_for(tbl, part.columns)
            changes = part.select("seq", "op", *keys, "value", "ts")
            return self.store_for(tbl), changes, keys

        apply_change_batch(self.spark, op_max, slice_for)

    def sync_iteration(self) -> dict[tuple[str, str], int]:
        """peek -> apply per table -> advance (after ALL tables
        committed). Returns (table, op) -> n counters, the reference's
        per-iteration log line.

        The peek is a cursor-range predicate (seq in (cursor, cursor+cap])
        pushed into the parquet scan — NOT a global orderBy(seq).limit(cap),
        which re-sorts the entire pending tail every iteration. Sparse seq
        (gaps wider than the cap) is bridged by one min-seq probe that
        jumps the window forward; dense logs never pay it."""
        cursor = self.read_cursor()
        cap = self.config.peek_changes_limit
        clog = self.changelog()
        start = cursor
        for _ in range(2):
            batch = clog.filter(
                (F.col("seq") > start) & (F.col("seq") <= start + cap)
            ).cache()
            stats = _batch_stats(batch)
            if stats:
                break
            batch.unpersist()
            nxt = clog.filter(F.col("seq") > cursor).agg(F.min("seq")).first()[0]
            if nxt is None:
                return {}
            start = nxt - 1  # second window contains nxt -> non-empty
        try:
            self._apply(batch, stats)
        finally:
            batch.unpersist()
        self.advance_cursor(max(r["mx"] for r in stats))
        return {(r["tbl"], r["op"]): r["n"] for r in stats}

    def sync_loop(
        self,
        max_iterations: int | None = None,
        sleep: bool = False,
        max_retries: int = 3,
        daemon: bool = False,
    ) -> int:
        """Drain the log (or poll it, ``daemon=True``) with
        ``run_change_loop``'s retry and pacing rules."""
        return run_change_loop(
            self.sync_iteration, self.config, max_iterations,
            sleep=sleep, max_retries=max_retries, daemon=daemon,
        )

    def sync_stream(self, changelog: DataFrame, checkpoint_dir: str):
        """Structured Streaming embodiment over a streaming ``changelog``
        (``spark.readStream``): each micro-batch runs the same stats job
        and ``apply_change_batch`` as ``sync_iteration``, and the
        checkpoint commits its offsets only after foreachBatch returns —
        the checkpoint plays the cursor with the same post-write order.

        Uses availableNow, so the query drains what is there and stops; a
        deployment would trigger every sleep_millis_after_sync_iteration
        to match the reference cadence (T1)."""

        def apply_batch(batch: DataFrame, batch_id: int) -> None:
            batch = batch.cache()
            try:
                self._apply(batch, _batch_stats(batch))
            finally:
                batch.unpersist()

        return (
            changelog.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def run(self, max_iterations: int | None = None) -> dict:
        self.initialize()
        copied = self.first_sync()
        iterations = self.sync_loop(max_iterations)
        return {"copied": copied, "iterations": iterations}
