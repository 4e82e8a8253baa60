"""Snapshot-versioned table: a transaction log over plain parquet.

The capability the reference delegates to its destination object stores
(destination/gcs/client.go:76-122 — write objects, then make them visible)
and that a lakehouse table format (Iceberg/Delta) provides on a real
cluster: ATOMIC commits, snapshot-isolated reads, time travel, and file
garbage collection — implemented here directly on the filesystem so the
commit protocol actually EXECUTES in this sandbox (the Iceberg runtime
jar does not ship; `sinks.write_table`'s Iceberg branch stays gated).

Design (the Iceberg/Delta architecture, minimum viable form):

  table_root/
    _log/00000000000000000001.json   one manifest per committed version
    data/v000000001-w0/              one parquet dir per commit attempt

* Every manifest carries the FULL live file-set (like an Iceberg snapshot
  manifest list), so reading any version is ONE manifest read — never a
  log replay, O(1) metadata reads at any history length.
* Data is written FIRST, invisible, into a commit-attempt-unique
  directory; the commit is published into the log under the next
  version number with a PUT-IF-ABSENT primitive (`fscommit.publish` of a
  fully-written temp file, on any Hadoop FileSystem). Two writers racing
  the same parent: exactly one publish succeeds; the loser's data
  directory is removed and `ConcurrentCommitError` raised — optimistic
  concurrency, the caller refreshes and retries. On an object store
  without an atomic rename the same protocol rides a conditional PUT /
  a catalog compare-and-swap; the manifest format is unchanged.
* Readers NEVER see partial state: a version either has a complete
  manifest (whose data dirs were fully written before publish) or does
  not exist. Crash after data write, before publish = an orphan data
  dir, invisible, reclaimed by vacuum.
* `append` adds a data dir and carries the parent's live set forward —
  no rewrite of existing data at any table size. `overwrite` swaps the
  live set. `merge` is copy-on-write MERGE (sinks.merge_frames) published
  as a single atomic swap; for partition-local rewrites at scale the
  same publish step would list per-partition dirs (upsert_partitioned's
  O(touched partitions) write joined with this log's atomicity).
* `vacuum(keep_last=k)` deletes data dirs referenced by NO retained
  manifest — including orphans from lost commit races. In-flight
  commit attempts younger than the caller's coordination window are the
  caller's contract, as in every table format's GC.

No wall-clock anywhere: `run_ts` is caller-supplied (O27 discipline,
reference pkg/usecase/interfaces.go's injected clock).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from hatchery_spark import fscommit

_LOG = "_log"
_DATA = "data"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same version first; refresh and retry."""


class SnapshotTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # ------------------------------------------------------------ log I/O

    def _manifest_path(self, version: int) -> str:
        return f"{self.path}/{_LOG}/{version:020d}.json"

    def versions(self) -> list[int]:
        # the digit glob skips publish's hidden temp files
        return sorted(
            int(p.rsplit("/", 1)[1][:-5])
            for p in fscommit.glob(f"{self.path}/{_LOG}/[0-9]*.json")
        )

    def version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no snapshot table at {self.path}")
        return vs[-1]

    def manifest(self, version: int | None = None) -> dict:
        v = self.version() if version is None else version
        data = fscommit.read(self._manifest_path(v))
        if data is None:
            raise FileNotFoundError(f"version {v} does not exist")
        return json.loads(data)

    def history(self) -> list[dict]:
        return [
            {k: m[k] for k in ("version", "parent", "action", "run_ts",
                               "added", "removed")}
            for m in (self.manifest(v) for v in self.versions())
        ]

    # ------------------------------------------------------------ commits

    def _publish(self, manifest: dict, version: int, data_dir: str | None) -> None:
        """Atomic put-if-absent of a fully-written manifest: a reader never
        sees a partial one. A lost race reclaims the attempt's data dir and
        raises ConcurrentCommitError."""
        data = json.dumps(manifest, sort_keys=True).encode()
        if not fscommit.publish(self._manifest_path(version), data):
            if data_dir:
                fscommit.delete(f"{self.path}/{data_dir}")
            raise ConcurrentCommitError(
                f"version {version} of {self.path} was committed by "
                f"another writer"
            )

    def _write_data(self, df: DataFrame, version: int, writer_id: str) -> str:
        rel = f"{_DATA}/v{version:09d}-{writer_id}"
        df.write.mode("errorifexists").parquet(f"{self.path}/{rel}")
        return rel

    def _commit(self, action: str, df: DataFrame | None, live: list[str],
                parent: int | None, run_ts: str, writer_id: str,
                schema_json: str, txn: tuple[str, int] | None = None) -> int:
        version = (parent or 0) + 1
        added: list[str] = []
        if df is not None:
            rel = self._write_data(df, version, writer_id)
            live = live + [rel]
            added = [rel]
        prev = set() if parent is None else set(self.manifest(parent)["live"])
        # application-transaction map (the Delta txn/appId idempotence
        # pattern): carried forward in FULL on every manifest, so the
        # latest committed version per writer app is one manifest read
        txns = {} if parent is None else dict(self.manifest(parent).get("txn", {}))
        if txn is not None:
            txns[txn[0]] = txn[1]
        manifest = {
            "version": version,
            "parent": parent,
            "action": action,
            "run_ts": run_ts,
            "schema": schema_json,
            "live": sorted(live),
            "added": added,
            "removed": sorted(prev - set(live)),
            "txn": txns,
        }
        self._publish(manifest, version, added[0] if added else None)
        return version

    # --------------------------------------------------------- operations

    @classmethod
    def create(cls, spark: SparkSession, path: str, df: DataFrame,
               run_ts: str = "", writer_id: str = "w0") -> "SnapshotTable":
        t = cls(spark, path)
        if t.versions():
            raise FileExistsError(f"snapshot table already exists at {path}")
        t._commit("create", df, [], None, run_ts, writer_id, df.schema.json())
        return t

    def _check_schema(self, df: DataFrame) -> None:
        cur = StructType.fromJson(json.loads(self.manifest()["schema"]))
        if [(f.name, f.dataType) for f in df.schema.fields] != [
            (f.name, f.dataType) for f in cur.fields
        ]:
            raise ValueError(
                f"schema mismatch: table has {cur.simpleString()}, "
                f"append has {df.schema.simpleString()}"
            )

    def append(self, df: DataFrame, run_ts: str = "",
               writer_id: str = "w0") -> int:
        """Add rows without touching any existing file — O(new data) at
        any table size."""
        self._check_schema(df)
        parent = self.version()
        return self._commit("append", df, list(self.manifest(parent)["live"]),
                            parent, run_ts, writer_id,
                            self.manifest(parent)["schema"])

    def overwrite(self, df: DataFrame, run_ts: str = "",
                  writer_id: str = "w0") -> int:
        """Atomically swap the live set (schema may change)."""
        parent = self.version()
        return self._commit("overwrite", df, [], parent, run_ts, writer_id,
                            df.schema.json())

    def merge(self, updates: DataFrame, key_col: str,
              delete_col: str | None = None, run_ts: str = "",
              writer_id: str = "w0",
              txn: tuple[str, int] | None = None) -> int:
        """Copy-on-write MERGE: current snapshot ⟕⟖ updates
        (sinks.merge_frames semantics — update/insert/delete), published
        as one atomic swap. Readers see the pre-merge or post-merge
        snapshot, never a mixture. `txn=(app_id, n)` records an
        application transaction in the manifest — the Delta idempotent-
        writer pattern a streaming CDC apply uses to make at-least-once
        batch replays exactly-once (streaming/stream.py cdc_merge_writer)."""
        from .sinks import merge_frames

        parent = self.version()
        merged = merge_frames(self.read(parent), updates, key_col,
                              delete_col=delete_col)
        return self._commit("merge", merged, [], parent, run_ts, writer_id,
                            self.manifest(parent)["schema"], txn=txn)

    def txn_version(self, app_id: str) -> int | None:
        """Latest application-transaction number committed by `app_id`
        (ONE manifest read — the map is carried forward on every commit);
        None if the app never committed."""
        return self.manifest().get("txn", {}).get(app_id)

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot-isolated read; `version` time-travels. One manifest
        read, then a plain multi-path parquet scan — filters and column
        pruning push down exactly as on any parquet source."""
        m = self.manifest(version)
        schema = StructType.fromJson(json.loads(m["schema"]))
        if not m["live"]:
            return self.spark.createDataFrame([], schema)
        paths = [f"{self.path}/{rel}" for rel in m["live"]]
        return self.spark.read.schema(schema).parquet(*paths)

    def optimize(self, target_partitions: int = 1, run_ts: str = "",
                 writer_id: str = "w0") -> int:
        """Compaction commit (the Delta/Iceberg OPTIMIZE analog): rewrite
        the live set into `target_partitions` files and publish the swap
        atomically — readers see pre- or post-compaction, never a mix,
        and historical versions keep their original (uncompacted) files
        until vacuum. Content is unchanged; only layout. For clustered
        layout, write through `sinks.write_zordered` first and append the
        result — this commit only solves the small-files problem."""
        parent = self.version()
        compacted = self.read(parent).coalesce(target_partitions)
        return self._commit("optimize", compacted, [], parent, run_ts,
                            writer_id, self.manifest(parent)["schema"])

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental change feed for APPEND-ONLY ranges: the rows added
        after `from_version` up to `to_version` (default: latest), read
        from each commit's `added` dirs only — O(delta), the table never
        rescans. Raises if the range contains a commit that rewrote or
        removed data (overwrite/merge/optimize) — those are not
        row-level-expressible without a diff, exactly the limitation real
        change feeds have unless CDC files are written at commit time
        (`cdc_merge_writer` keeps the source stream for that)."""
        to_version = self.version() if to_version is None else to_version
        added: list[str] = []
        for v in range(from_version + 1, to_version + 1):
            m = self.manifest(v)
            if m["removed"]:
                raise ValueError(
                    f"version {v} ({m['action']}) rewrote data; the "
                    f"append-only change feed cannot express it"
                )
            added.extend(m["added"])
        schema = StructType.fromJson(
            json.loads(self.manifest(to_version)["schema"]))
        if not added:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[f"{self.path}/{rel}" for rel in added])

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Delete data dirs referenced by NO retained manifest (the last
        `keep_last` versions) — reclaims overwritten/merged-away files AND
        orphans from lost commit races. Time travel older than the
        retention window is gone afterwards, as in any table format."""
        vs = self.versions()
        retained = vs[-keep_last:] if keep_last > 0 else []
        keep = {rel for v in retained for rel in self.manifest(v)["live"]}
        removed = []
        for p in fscommit.glob(f"{self.path}/{_DATA}/*"):
            rel = f"{_DATA}/{p.rsplit('/', 1)[1]}"
            if rel not in keep:
                fscommit.delete(p)
                removed.append(rel)
        for v in vs[:-keep_last] if keep_last > 0 else []:
            fscommit.delete(self._manifest_path(v))
        return removed
