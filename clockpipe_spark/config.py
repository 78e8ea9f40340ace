"""Pipe configuration, mirroring the reference's JSON config schema
(config.rs:3-24, 99-185) with the same field names and defaults so a
clockpipe config file ports directly. Source/sink endpoints become data
paths here (the harness has no live Postgres/ClickHouse); everything
else — table lists, mask columns, batch sizes, cadences — keeps its
reference meaning.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class TableOptions:
    """Sink table options (docs/clickhouse/README.md; config.rs:112-122).
    storage_policy/granularity are ClickHouse-specific; their Spark
    analogs are the state layout knobs (sink_buckets = the PK-layout
    lever, like ORDER BY + index_granularity)."""

    storage_policy: str | None = None
    granularity: int = 8192
    min_age_to_force_merge_seconds: int = 60
    sink_buckets: int | None = None  # None = inherit global


@dataclass
class SourceTable:
    """PostgresSource analog (config.rs:224-234)."""

    table_name: str
    schema_name: str = "public"
    skip_copy: bool = False
    mask_columns: list[str] = field(default_factory=list)
    table_options: TableOptions | None = None  # None = inherit global


@dataclass
class PipeConfig:
    """Top-level config (config.rs:3-24) + defaults (config.rs:99-185)."""

    source_type: str = "parquet_cdc"
    tables: list[SourceTable] = field(default_factory=list)
    # batching / cadence (reference defaults)
    copy_batch_size: int = 100_000          # config.rs:181-184
    peek_changes_limit: int = 65_536        # config.rs:146-149
    peek_changes_timeout_millis: int = 5_000  # config.rs:151-154
    sleep_millis_after_sync_iteration: int = 100  # config.rs:171-174
    sleep_millis_when_peek_failed: int = 5_000    # config.rs:156-159
    sleep_millis_when_peek_is_empty: int = 5_000  # config.rs:161-164
    sleep_millis_when_write_failed: int = 5_000   # config.rs:166-169
    # no sleep_millis_after_sync_write (config.rs:176-179): it paces
    # SERIALIZED per-table ClickHouse writes (pipes/postgres.rs:448-451),
    # and the per-table merges here run concurrently on disjoint stores
    # sink knobs (ReplacingMergeTree analogs, config.rs:112-122)
    min_age_to_force_merge_seconds: int = 60
    index_granularity: int = 8192
    # Spark-native sink layout: 0 = flat versioned store; >0 = hash-
    # bucketed store where merges rewrite only touched buckets (the
    # ORDER BY (pk) / index_granularity analog for parquet state)
    sink_buckets: int = 0

    def options_for(self, table: "SourceTable") -> TableOptions:
        """Table-specific options inherit from global when blank
        (docs/clickhouse/README.md; config.rs:259-268).

        Returns a copy: assigning the inherited value into the table's
        stored TableOptions would make a getter mutate shared state —
        later changes to the global sink_buckets would silently stop
        propagating to any table already queried once."""
        import dataclasses

        opts = table.table_options or TableOptions(
            min_age_to_force_merge_seconds=self.min_age_to_force_merge_seconds,
            granularity=self.index_granularity,
        )
        if opts.sink_buckets is None:
            opts = dataclasses.replace(opts, sink_buckets=self.sink_buckets)
        else:
            # copy even when nothing is inherited — callers may mutate
            opts = dataclasses.replace(opts)
        return opts

    @classmethod
    def from_json(cls, text: str) -> "PipeConfig":
        raw = json.loads(text)
        src = raw.get("source", {})

        def parse_opts(d):
            if not d:
                return None
            return TableOptions(
                storage_policy=d.get("storage_policy"),
                granularity=d.get("granularity", 8192),
                min_age_to_force_merge_seconds=d.get(
                    "min_age_to_force_merge_seconds", 60
                ),
                sink_buckets=d.get("sink_buckets"),
            )

        tables = [
            SourceTable(
                table_name=t["table_name"],
                schema_name=t.get("schema_name", "public"),
                skip_copy=t.get("skip_copy", False),
                mask_columns=t.get("mask_columns", []),
                table_options=parse_opts(t.get("table_options")),
            )
            for t in src.get("tables", [])
        ]
        kw = {}
        for key in (
            "copy_batch_size",
            "peek_changes_limit",
            "peek_changes_timeout_millis",
            "sleep_millis_after_sync_iteration",
            "sleep_millis_when_peek_failed",
            "sleep_millis_when_peek_is_empty",
            "sleep_millis_when_write_failed",
        ):
            if key in src:
                kw[key] = src[key]
        sink = raw.get("sink", raw.get("target", {}))
        for key in ("min_age_to_force_merge_seconds", "index_granularity", "sink_buckets"):
            if key in sink:
                kw[key] = sink[key]
        return cls(
            source_type=src.get("source_type", "parquet_cdc"),
            tables=tables,
            **kw,
        )
