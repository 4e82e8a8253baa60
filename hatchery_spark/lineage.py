"""Per-partition lineage metrics + checkpointed run manifest (exactly-once resume).

Semantics rebuilt from the reference's at-least-once ack: the SQS message is
deleted only AFTER every file it names has been written to the sink
(/root/reference/source/falcon_data_replicator/client.go:217-224). Here the unit
of work is (run_ts, route_id): a manifest entry is committed only after that
route's sink write action returns, so a crashed run re-executes exactly the
uncommitted routes and a completed run is a no-op — idempotent because each
route's write replaces only its own run_ts partitions (sinks.overwrite_partitions).
A manifest file that cannot be read counts as uncommitted.

Lineage metrics are collected DISTRIBUTED-SIDE with a mapInPandas pass that emits
one summary row per physical partition (partition_id, row_count, key min/max) —
O(partitions) rows back to the driver, never O(data). At 10^12 rows this is the
only affordable shape for per-partition accounting.

The manifest itself is a tiny JSON-file-per-route directory — a deliberately
dependency-free stand-in for an Iceberg snapshot/commit; swap `ManifestStore` for
table commits when a catalog is configured.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "partition_id int, row_count long, min_conv_id string, max_conv_id string, "
    "min_turn_idx int, max_turn_idx int, min_ts timestamp, max_ts timestamp"
)


def partition_metrics(df: DataFrame) -> DataFrame:
    """One summary row per physical partition of `df`.

    Arrow-batched; accumulates across batches within a partition and emits a
    single row at iterator exhaustion (mapInPandas sees all batches of its
    partition in order).
    """

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        n = 0
        min_conv = max_conv = None
        min_turn = max_turn = None
        min_ts = max_ts = None
        for b in batches:
            if len(b) == 0:
                continue
            n += len(b)
            bc_min, bc_max = b["conv_id"].min(), b["conv_id"].max()
            bt_min, bt_max = b["turn_idx"].min(), b["turn_idx"].max()
            bs_min, bs_max = b["ts"].min(), b["ts"].max()
            min_conv = bc_min if min_conv is None else min(min_conv, bc_min)
            max_conv = bc_max if max_conv is None else max(max_conv, bc_max)
            min_turn = bt_min if min_turn is None else min(min_turn, bt_min)
            max_turn = bt_max if max_turn is None else max(max_turn, bt_max)
            min_ts = bs_min if min_ts is None else min(min_ts, bs_min)
            max_ts = bs_max if max_ts is None else max(max_ts, bs_max)
        yield pd.DataFrame(
            {
                "partition_id": [pid],
                "row_count": [n],
                "min_conv_id": [min_conv],
                "max_conv_id": [max_conv],
                "min_turn_idx": [min_turn],
                "max_turn_idx": [max_turn],
                "min_ts": [min_ts],
                "max_ts": [max_ts],
            }
        )

    return df.select("conv_id", "turn_idx", "ts").mapInPandas(summarize, LINEAGE_SCHEMA)


@dataclass
class RouteRunRecord:
    run_ts: str
    route_id: str
    sink_path: str
    row_count: int
    committed: bool = True
    partitions: list[dict] = field(default_factory=list)


class ManifestStore:
    """Checkpointed run manifest: one JSON file per (run_ts, route_id)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, run_ts: str, route_id: str) -> str:
        # the SAME normalization the sink run_ts= partition uses — a drift
        # between the two would silently break (run_ts, route) resume
        from hatchery_spark.router import safe_run_ts

        return os.path.join(self.root, f"{safe_run_ts(run_ts)}__{route_id}.json")

    def _read(self, path: str) -> RouteRunRecord | None:
        """The record at `path`, or None if it is missing or unreadable.

        A torn or truncated manifest file (a crash outside `commit`'s
        tmp + rename, a damaged disk) reads as uncommitted, so resume re-runs
        that route — its sink write replaces its own partitions — instead of
        failing every later tick on a parse error.
        """
        try:
            with open(path) as f:
                return RouteRunRecord(**json.load(f))
        except (FileNotFoundError, ValueError, TypeError):
            return None

    def is_committed(self, run_ts: str, route_id: str) -> bool:
        rec = self._read(self._path(run_ts, route_id))
        return rec is not None and bool(rec.committed)

    def commit(self, record: RouteRunRecord) -> None:
        """Atomic write (tmp + rename) AFTER the sink write succeeded."""
        p = self._path(record.run_ts, record.route_id)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(record), f, default=str)
        os.replace(tmp, p)

    def load(self, run_ts: str, route_id: str) -> RouteRunRecord | None:
        return self._read(self._path(run_ts, route_id))

    def all_records(self) -> list[RouteRunRecord]:
        """Every readable record, in file-name order."""
        recs = (
            self._read(os.path.join(self.root, name))
            for name in sorted(os.listdir(self.root))
            if name.endswith(".json")
        )
        return [r for r in recs if r is not None]
