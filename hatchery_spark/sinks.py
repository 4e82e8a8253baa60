"""Table-format abstraction: parquet today, Iceberg when a catalog is present.

BASELINE.json's north_star names an Iceberg transcripts table; this sandbox
ships no Iceberg runtime jars, so the Iceberg path is feature-flagged on the
session actually having an Iceberg catalog configured (detected, not assumed).
The parquet layout mirrors Iceberg's partition-transform behavior
(days(ts) → dt=YYYY-MM-DD directories), so switching formats changes the
commit protocol, not the data layout.

The reference analog is the Destination factory
(/root/reference/types.go:14) — one writer implementation per storage backend
behind one interface.

Every idempotent sink write in the package — batch route sinks
(run_ts=/dt=), streaming micro-batch sinks (batch_id=/dt=), the versioned
dedup/ANN stores (bucket=|cell=/v=) and partition upserts — goes through
`overwrite_partitions`: a re-run or replay replaces exactly the partitions
it produces and leaves every sibling partition as it was.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F

from hatchery_spark import fscommit


def overwrite_partitions(df: DataFrame, *cols: str) -> DataFrameWriter:
    """Writer for `df` partitioned by `cols` that overwrites only the
    partitions present in `df` (dynamic partition overwrite).

    This is the replay contract of every idempotent write: a unit of work
    (a batch tick's run_ts, a micro-batch's batch_id, a store delta's v)
    owns its partition values, so writing it again — after a crash, or a
    foreachBatch replay with the same batch_id — replaces its own files
    and never duplicates rows or touches sibling partitions. Acknowledging
    the unit only after the write returns (manifest commit, streaming
    checkpoint) then gives exactly-once output, the reference's
    ack-after-write (source/falcon_data_replicator/client.go:217-224).
    A partition the re-run no longer produces is left
    in place; callers that can empty one delete it themselves
    (`upsert_partitioned`).
    """
    return (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
    )


class IcebergUnavailable(RuntimeError):
    """Raised when the Iceberg path is requested without a configured catalog."""


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg SparkCatalog is configured AND its classes load."""
    conf = spark.conf
    try:
        catalogs = [
            k
            for k in spark.sparkContext.getConf().getAll()
            if k[0].startswith("spark.sql.catalog.") and "iceberg" in k[1].lower()
        ]
    except Exception:
        catalogs = []
    if not catalogs:
        return False
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def write_table(
    df: DataFrame,
    target: str,
    table_format: str = "parquet",
    mode: str = "overwrite",
    partition_col: str = "dt",
) -> None:
    """Write a time-partitioned table in the chosen format.

    parquet: `target` is a path; dt partition directories (zstd).
    iceberg: `target` is a catalog table name; appends via writeTo with a
             days(ts)-equivalent layout. Requires a configured catalog.
    """
    spark = df.sparkSession
    if partition_col not in df.columns:
        df = df.withColumn(partition_col, F.to_date("ts"))
    if table_format == "parquet":
        df.write.mode(mode).partitionBy(partition_col).parquet(target)
        return
    if table_format == "iceberg":
        if not iceberg_available(spark):
            raise IcebergUnavailable(
                "iceberg format requested but no Iceberg catalog is configured "
                "(set spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog "
                "and ship the iceberg-spark-runtime jar)"
            )
        writer = df.writeTo(target).using("iceberg")
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    raise ValueError(f"unknown table_format: {table_format!r}")


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str | None = None,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) on the join keys.

    Bucketing is the co-located-join strategy for repeated big-to-big joins:
    two tables bucketed on the same keys with the same bucket count join with
    NO Exchange on either side — at 10^12 rows that deletes the dominant
    shuffle entirely (verified by plan assert in tests/test_bucketed.py).
    `sort_cols` additionally pre-sorts each bucket file so the join skips its
    per-task sort. With `path` the table is external (data at the path,
    metadata in the session catalog); bucket metadata lives in the catalog,
    which is what makes the scan report its partitioning to the planner.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(name)


def zorder_values(
    df: DataFrame,
    cols: list[str],
    bits: int = 10,
    out_col: str = "_zvalue",
    cells: str = "uniform",
) -> DataFrame:
    """Append a Z-order (Morton) key interleaving the given numeric columns'
    grid cells — the multi-dimensional clustering key behind data-skipping
    layouts (Delta `OPTIMIZE ZORDER BY`, Iceberg sort orders; Morton 1966).
    A file layout ordered by the Z-key keeps rows that are close in EVERY
    clustered dimension close on disk, so parquet min/max footer stats stay
    tight on all of them at once and a predicate on ANY clustered column
    prunes most files — a lexicographic sort only ever prunes its leading
    column.

    Each column maps to a 2^bits-cell uniform grid over its [min, max] —
    ONE single-row global aggregate broadcast back (the corpus-count
    crossJoin pattern); the fact table itself never shuffles. Cell bits then
    interleave column-major (bit i of column j lands at position
    i*len(cols)+j) as bits×k flat codegen'd integer terms — the minhash
    wide-expression pattern, entirely inside whole-stage codegen. Degenerate
    columns (min == max) land in cell 0. NULLs propagate to a NULL key (sort
    them to one end or filter upstream).

    Cell assignment (`cells`):
      * "uniform" (default) — 2^bits-cell uniform grid over [min, max].
        Oracle-replayable closed form, but a single outlier (or any
        power-law column: doc lengths, token counts) collapses most rows
        into a handful of cells and the footer-stats skipping property
        largely vanishes.
      * "quantile" — cell boundaries from `approx_percentile` (2^bits − 1
        equi-depth cuts; Delta's OPTIMIZE uses rank-based cells for the
        same reason). ONE extra bounded aggregate (the boundary row is
        2^bits doubles per column, broadcast with the min/max row); cells
        stay balanced under ANY marginal distribution. Ties at a boundary
        land in the lower cell; the approx rank error only shifts
        boundaries, never breaks the interleave.

    The uniform form is engine-replayable arithmetic (floor/least/greatest/
    shifts on doubles+longs, no hashing), which is what the `rel_zorder`
    oracle replays verbatim in DuckDB.
    """
    if not cols:
        raise ValueError("zorder_values: need at least one column")
    if bits * len(cols) > 63:
        # shiftleft on longs wraps its distance mod 64 — past 63 the
        # interleave silently corrupts the clustering key
        raise ValueError(
            f"zorder_values: bits*len(cols) = {bits * len(cols)} exceeds the "
            f"63 usable bits of a long key; use bits <= {63 // len(cols)} "
            f"for {len(cols)} columns"
        )
    if cells not in ("uniform", "quantile"):
        raise ValueError(f"zorder_values: unknown cells mode {cells!r}")
    n = 1 << bits
    k = len(cols)
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"_min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"_max_{c}"),
        ]
        if cells == "quantile":
            aggs.append(
                F.percentile_approx(
                    F.col(c).cast("double"),
                    F.array(*[F.lit(i / n) for i in range(1, n)]),
                    F.lit(10_000),
                ).alias(f"_qs_{c}")
            )
    out = df.crossJoin(F.broadcast(df.agg(*aggs)))
    cell_cols = []
    for c in cols:
        v = F.col(c).cast("double")
        lo, hi = F.col(f"_min_{c}"), F.col(f"_max_{c}")
        if cells == "quantile":
            # cell = #boundaries strictly below v — a codegen'd HOF
            # aggregate over the broadcast 2^bits−1 boundary array; equal
            # boundary values (heavy ties) collapse adjacent cells, which
            # is the correct equi-depth behavior
            raw = F.aggregate(
                F.col(f"_qs_{c}"),
                F.lit(0).cast("long"),
                lambda acc, q: acc + F.when(q < v, F.lit(1)).otherwise(F.lit(0)),
            )
        else:
            raw = F.floor(((v - lo) * F.lit(float(n))) / (hi - lo))
        # least/greatest SKIP nulls (return the extreme of the non-null args),
        # so a NULL input needs an explicit guard to yield a NULL key
        cell = (
            F.when(v.isNull(), F.lit(None).cast("long"))
            .when(hi == lo, F.lit(0))
            .otherwise(F.least(F.lit(n - 1), F.greatest(F.lit(0), raw)))
        )
        cell_cols.append(f"_cell_{c}")
        out = out.withColumn(f"_cell_{c}", cell.cast("long"))
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(F.col(f"_cell_{c}"), i).bitwiseAND(F.lit(1)),
                i * k + j,
            )
    return out.withColumn(out_col, z).drop(
        *[f"_min_{c}" for c in cols],
        *[f"_max_{c}" for c in cols],
        *([f"_qs_{c}" for c in cols] if cells == "quantile" else []),
        *cell_cols,
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 32,
    bits: int = 10,
    cells: str = "uniform",
) -> None:
    """Write parquet clustered on the Z-order key: `repartitionByRange` over
    the Morton value gives every output file a contiguous z-range — i.e.
    tight min/max footer stats on EVERY clustered column simultaneously — so
    point/box predicates on any subset of the clustered columns skip most
    files at planning time. The range partitioner SAMPLES the key to pick
    boundaries (no global sort; one shuffle, same cost class as any
    repartition), and the in-partition sort keeps row groups tight within
    each file. tests/test_zorder.py asserts the skipping property directly
    from the written files' stats.
    """
    z = zorder_values(df, cols, bits=bits, cells=cells)
    (
        z.repartitionByRange(n_files, F.col("_zvalue"))
        .sortWithinPartitions("_zvalue")
        .drop("_zvalue")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet_sink(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 << 20,
    partition_cols: tuple[str, ...] = ("run_ts", "dt"),
) -> int:
    """Rewrite a small-files sink into ~target-sized files; returns file count.

    Streaming/micro-batch sinks accumulate one file per (trigger, partition) —
    at 10^12-turn scale that is millions of KB-sized objects whose open/list
    cost dominates downstream scans. This rewrites `src` into `dst` with each
    (run_ts, dt) partition clustered into one task (hash repartition on the
    partition columns), splitting oversized partitions via maxRecordsPerFile
    derived from the sink's measured bytes/row. Sizes come from the Hadoop
    FileSystem API, so the same code runs against any configured object store.
    The swap of dst for src is the caller's move (manifest/metastore pointer
    flip), keeping the rewrite itself idempotent and crash-safe.
    """
    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    fs, hpath = fscommit.fs_path(src)
    if not fs.exists(hpath):
        # surface the argument-class failure as a normal Python exception —
        # letting getContentSummary throw buries it in a Py4J stack trace
        raise FileNotFoundError(f"compact source does not exist: {src}")
    total_bytes = fs.getContentSummary(hpath).getLength()
    df = spark.read.parquet(src)
    n_rows = df.count()  # parquet metadata only — no data scan
    cols = [c for c in partition_cols if c in df.columns]
    if n_rows == 0:
        # same partitioned layout as the normal path: a later pointer-flip to
        # dst must not change the sink's directory contract
        df.write.mode("overwrite").partitionBy(*cols).parquet(dst)
        return 0
    bytes_per_row = max(1, total_bytes // n_rows)
    max_records = max(1, int(target_file_bytes // bytes_per_row))
    n_tasks = max(1, math.ceil(total_bytes / target_file_bytes))
    (
        df.repartition(n_tasks, *[F.col(c) for c in cols])
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records)
        .partitionBy(*cols)
        .parquet(dst)
    )
    out = spark.read.parquet(dst)
    return len(out.inputFiles())


def read_table(
    spark: SparkSession, target: str, table_format: str = "parquet"
) -> DataFrame:
    if table_format == "parquet":
        return spark.read.parquet(target)
    if table_format == "iceberg":
        if not iceberg_available(spark):
            raise IcebergUnavailable("no Iceberg catalog configured")
        return spark.read.table(target)
    raise ValueError(f"unknown table_format: {table_format!r}")


def merge_frames(
    base: DataFrame,
    updates: DataFrame,
    key_col: str,
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE semantics as a pure frame transform (the computation inside
    Delta/Iceberg `MERGE INTO`, expressed on plain DataFrames): rows keyed
    by `key_col` — an update row REPLACES the base row with its key, a new
    key INSERTS, and (when `delete_col` names a boolean column on
    `updates`) a flagged row DELETES the key entirely — the
    right-to-be-forgotten primitive a curation pipeline needs for
    redaction/correction passes.

    Implementation is one full-outer join on the key. Column replacement is
    gated on KEY-MATCH PRESENCE (an explicit match indicator on the update
    side), not per-column coalesce — so an update row CAN set a carried
    column to NULL, which is exactly what a redaction pass that nulls out
    fields needs (`UPDATE SET col = u.col` semantics; a coalesce form would
    silently keep the base value). Columns the update frame doesn't carry
    keep their base values. Update frames are small relative to the base in
    every real merge — AQE plans the join accordingly; for repeated merges
    against a bucketed base table the join co-locates with zero base
    shuffle (`write_bucketed_table`).
    """
    upd_cols = [c for c in updates.columns if c != delete_col]
    if key_col not in upd_cols:
        raise ValueError(f"merge_frames: updates must carry {key_col!r}")
    missing = [c for c in upd_cols if c not in base.columns]
    if missing:
        raise ValueError(f"merge_frames: updates carry unknown columns {missing}")
    b = base.select([F.col(c).alias(f"_b_{c}") for c in base.columns])
    u = updates.select(
        [F.col(c).alias(f"_u_{c}") for c in upd_cols]
        + [F.lit(True).alias("_u_matched")]
        + ([F.col(delete_col).alias("_u_del")] if delete_col else [])
    )
    joined = b.join(
        u, b[f"_b_{key_col}"] == u[f"_u_{key_col}"], "full_outer"
    )
    if delete_col:
        joined = joined.filter(~F.coalesce(F.col("_u_del"), F.lit(False)))
    # _u_matched is TRUE on matched and insert rows, NULL on base-only rows
    take_upd = F.col("_u_matched").isNotNull()
    out_cols = []
    for c in base.columns:
        if c in upd_cols:
            out_cols.append(
                F.when(take_upd, F.col(f"_u_{c}"))
                .otherwise(F.col(f"_b_{c}"))
                .alias(c)
            )
        else:
            out_cols.append(F.col(f"_b_{c}").alias(c))
    return joined.select(out_cols)


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_col: str,
    part_col: str,
    delete_col: str | None = None,
) -> list:
    """Surgical MERGE into a partitioned parquet table WITHOUT a table
    format: only the partitions that contain affected keys are read,
    merged (`merge_frames`), and rewritten under DYNAMIC partition
    overwrite — every untouched partition's files stay byte-identical on
    disk (asserted by tests/test_sink_maintenance.py). This is the
    mutation path Iceberg/Delta provide transactionally, expressed with
    the same partition-pruning discipline for plain parquet sinks; at
    10^12 rows a redaction touching k partitions costs O(k partitions),
    not a table rewrite. A touched partition left EMPTY by deletes is
    removed from disk explicitly (dynamic overwrite alone never rewrites a
    partition absent from the output). Returns the touched partition
    values.

    Caveats vs a real table format (stated, not hidden): the rewrite of a
    touched partition is not atomic across partitions, and concurrent
    writers need external coordination — promote the sink to Iceberg
    (`write_table`) when those guarantees matter. `updates` rows must
    carry the partition value their key lives in (the usual layout where
    the partition derives from the row, e.g. days(ts)).
    """
    touched = [
        r[0] for r in updates.select(part_col).distinct().collect()
    ]
    if not touched:
        return []
    base = spark.read.parquet(path).filter(F.col(part_col).isin(touched))
    merged = merge_frames(base, updates, key_col, delete_col=delete_col).localCheckpoint()
    overwrite_partitions(merged, part_col).parquet(path)
    # Dynamic overwrite only replaces partitions PRESENT in the written
    # output — a touched partition whose every row was deleted produces no
    # output partition, so its old files would survive and the "deleted"
    # rows resurface on read (a silent data-retention failure for the
    # right-to-be-forgotten use). Diff and delete those directories
    # explicitly. `merged` is checkpointed above so this distinct doesn't
    # re-run the merge join.
    remaining = {r[0] for r in merged.select(part_col).distinct().collect()}
    emptied = [v for v in touched if v not in remaining]
    if emptied:
        jvm = spark._jvm
        for v in emptied:
            try:
                escaped = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(
                    str(v)
                )
            except Exception:
                escaped = str(v)
            fscommit.delete(f"{path}/{part_col}={escaped}")
    return sorted(touched)
