"""Per-partition lineage metrics + checkpointed run manifest (exactly-once resume).

Semantics rebuilt from the reference's at-least-once ack: the SQS message is
deleted only AFTER every file it names has been written to the sink
(/root/reference/source/falcon_data_replicator/client.go:217-224). Here the unit
of work is (run_ts, route_id): a manifest entry is committed only after that
route's sink write action returns, so a crashed run re-executes exactly the
uncommitted routes and a completed run is a no-op — idempotent because each
route's write replaces only its own run_ts partitions (sinks.overwrite_partitions).
A manifest file that cannot be read counts as uncommitted.

Lineage metrics are one native aggregate over a tick's persisted routed frame,
grouped by (`route_id`, `spark_partition_id()`), so partition ids number the
routes' shared shuffle: a partial aggregate per task over the cached blocks,
one small shuffle, and O(routes × partitions) rows back to the driver, never
O(data) — no Python worker, no Arrow export. The same step serves every sink
format: the text sinks (json, yaml, log) have no file footers to read bounds
from, and Spark writes `ts` to parquet as INT96, which carries no statistics.

The manifest itself is a tiny JSON-file-per-route directory, committed
through `fscommit` on any Hadoop FileSystem — a deliberately
dependency-free stand-in for an Iceberg snapshot/commit; swap `ManifestStore` for
table commits when a catalog is configured.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hatchery_spark import fscommit


def partition_metrics(df: DataFrame) -> DataFrame:
    """One summary row per route with rows in each physical partition of
    `df`, sorted by (route_id, partition_id): (route_id, partition_id,
    row_count, min/max of conv_id, turn_idx and ts).

    A partition that holds none of a route's rows gets no row for that route
    — that route's write task landed no file there either, so the manifest
    lists exactly the partitions that landed.
    """
    return (
        df.groupBy("route_id", F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("row_count"),
            F.min("conv_id").alias("min_conv_id"),
            F.max("conv_id").alias("max_conv_id"),
            F.min("turn_idx").alias("min_turn_idx"),
            F.max("turn_idx").alias("max_turn_idx"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .coalesce(1)
        .sortWithinPartitions("route_id", "partition_id")
    )


@dataclass
class RouteRunRecord:
    run_ts: str
    route_id: str
    sink_path: str
    row_count: int
    committed: bool = True
    partitions: list[dict] = field(default_factory=list)


class ManifestStore:
    """Checkpointed run manifest: one JSON file per (run_ts, route_id) under
    `root`, a plain path or any Hadoop URI; it needs a running SparkContext."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, run_ts: str, route_id: str) -> str:
        # the SAME normalization the sink run_ts= partition uses — a drift
        # between the two would silently break (run_ts, route) resume
        from hatchery_spark.router import safe_run_ts

        return f"{self.root}/{safe_run_ts(run_ts)}__{route_id}.json"

    def _read(self, path: str) -> RouteRunRecord | None:
        """The record at `path`, or None if it is missing or unreadable.

        A torn or truncated manifest file (a crash outside `commit`'s
        atomic publish, a damaged disk) reads as uncommitted, so resume
        re-runs that route — its sink write replaces its own partitions —
        instead of failing every later tick on a parse error.
        """
        data = fscommit.read(path)
        try:
            return None if data is None else RouteRunRecord(**json.loads(data))
        except (ValueError, TypeError):
            return None

    def is_committed(self, run_ts: str, route_id: str) -> bool:
        rec = self._read(self._path(run_ts, route_id))
        return rec is not None and bool(rec.committed)

    def commit(self, record: RouteRunRecord) -> None:
        """Atomic publish AFTER the sink write succeeded. It replaces an
        existing record, so an unreadable one is re-committed."""
        data = json.dumps(asdict(record), default=str).encode()
        fscommit.publish(self._path(record.run_ts, record.route_id), data, replace=True)

    def load(self, run_ts: str, route_id: str) -> RouteRunRecord | None:
        return self._read(self._path(run_ts, route_id))

    def all_records(self) -> list[RouteRunRecord]:
        """Every readable record, in file-name order."""
        recs = (self._read(p) for p in fscommit.glob(f"{self.root}/*.json"))
        return [r for r in recs if r is not None]
