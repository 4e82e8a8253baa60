"""Tag-based router: fan rows out to per-destination sinks.

Rebuilds the reference's pipeline wiring — selector-chosen streams each running
source→pipe→destination in parallel (hatchery.go:37-77) — as per-route writes
over ONE shared, routed and cached DataFrame:

  * route selection (which routes run)   = config-side selectors (config.py)
  * row routing (which rows go to a sink) = routed_union, one pass that
    evaluates every route's SQL predicate per row and explodes the matching
    route ids, so a row appears once per route it matches
  * fan-out = ordered_for_sink over the routed rows (one salted shuffle and
    sort for every route), persisted once, then one write ACTION per route
    (write_route_frame over a route_id filter of the cached frame). On a
    cluster, routes can also be submitted from a driver thread pool (Spark's
    scheduler interleaves jobs); sequential actions over a cached DF are the
    simple, predictable default.
  * per-sink counts (sink_counts) = ONE global aggregate, a conditional count
    per route reshaped by stack; counting never materialises routed rows.
  * route_matches is one route's filter, for writers that handle a route at a
    time (the streaming micro-batch writer).

A row matching k route predicates is written k times (one per sink) — identical
to the reference, where multiple streams may select overlapping data. A row
matching none is dropped (no catch-all unless configured).
"""

from __future__ import annotations

from itertools import chain
from typing import Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from hatchery_spark.config import RouteConfig
from hatchery_spark.sinks import overwrite_partitions

# Salt bucket count for splitting whale conversations across write tasks.
DEFAULT_SALT_BUCKETS = 8


def route_matches(df: DataFrame, route: RouteConfig) -> DataFrame:
    """Rows matching one route's predicate, tagged with its route_id."""
    return df.filter(F.expr(route.predicate)).withColumn("route_id", F.lit(route.route_id))


def routed_union(df: DataFrame, routes: Sequence[RouteConfig]) -> DataFrame:
    """All routed rows as one DataFrame (row duplicated per matching route).

    This is the production fan-out: a batch tick persists it, ordered, and
    writes every route from it (pipeline.run_pipeline); routed-row equality
    and per-sink counts are defined over it. A SINGLE-PASS fan-out — every
    route predicate is evaluated once per row and matching route_ids explode
    out — rather than a union of k filtered scans, which would re-read the
    input k times. Multiset-identical to the union formulation (rows matching
    no route drop; rows matching k routes appear k times).
    """
    match_tags = F.array_compact(
        F.array(*[F.when(F.expr(r.predicate), F.lit(r.route_id)) for r in routes])
    )
    return df.withColumn("route_id", F.explode(match_tags))


def sink_counts(df: DataFrame, routes: Sequence[RouteConfig]) -> DataFrame:
    """Per-sink row counts as (route_id string, row_count bigint).

    ONE global aggregate: a count(when(predicate, 1)) per route, reshaped by
    stack into one row per route, keeping routes with row_count > 0. Equal to
    routed_union(df, routes).groupBy("route_id").count() — a NULL predicate
    does not count, a route with no rows drops out, empty input gives an empty
    result — without building and exploding a tag array per row. The only
    shuffle is the one-row partial aggregate per task. Route ids enter the
    plan as literals (never spliced into SQL text), and are distinct
    (config.validate_routes).
    """
    if not routes:
        return df.sparkSession.createDataFrame([], "route_id string, row_count bigint")
    counts = df.agg(
        *[F.count(F.when(F.expr(r.predicate), 1)).alias(f"_n{i}") for i, r in enumerate(routes)]
    )
    pairs = chain.from_iterable(
        (F.lit(r.route_id), F.col(f"_n{i}")) for i, r in enumerate(routes)
    )
    return counts.select(
        F.stack(F.lit(len(routes)), *pairs).alias("route_id", "row_count")
    ).filter(F.col("row_count") > 0)


def ordered_for_sink(df: DataFrame, salt_buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """Stable turn ordering with whale-skew protection before a sink write.

    repartition on (conv_id, salt) — salt splits a whale conversation across up
    to `salt_buckets` tasks so one hot conv_id cannot stall the write stage —
    then sortWithinPartitions(conv_id, turn_idx) so every output file is ordered
    by the parity key. NOT a global orderBy: a total sort of 10^12 rows is a
    needless range-shuffle; the invariant only requires per-file ordering.
    """
    salt = F.pmod(F.xxhash64(F.col("turn_idx")), F.lit(salt_buckets))
    return df.repartition(F.col("conv_id"), salt).sortWithinPartitions(
        "conv_id", "turn_idx"
    )


def yaml_lines(df: DataFrame, exclude: Sequence[str] = ("run_ts", "dt")) -> "F.Column":
    """One YAML list-item document per row, built with native expressions.

    Strings/timestamps render as DOUBLE-quoted YAML scalars with \\\\, \\",
    \\n, \\r, \\t escapes — a raw newline inside a quoted scalar would merge
    into the next record's lines, so multi-line text must escape to stay one
    parseable document per row (round-trips through yaml.safe_load). Numeric
    fields stay bare; NULL → null. Rebuilds the reference's yaml.Marshal sink
    format (/root/reference/pkg/types/format.go:9) without a Python-side
    serializer — the whole record renders inside whole-stage codegen.
    """
    parts = []
    for field in df.schema.fields:
        if field.name in exclude:
            continue
        col = F.col(field.name)
        if field.dataType.typeName() in ("integer", "long", "short", "double", "float"):
            rendered = col.cast("string")
        else:
            esc = col.cast("string")
            for raw, escaped in (
                ("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")
            ):
                esc = F.replace(esc, F.lit(raw), F.lit(escaped))
            rendered = F.concat(F.lit('"'), esc, F.lit('"'))
        prefix = "- " if not parts else "  "
        parts.append(
            F.concat(
                F.lit(f"{prefix}{field.name}: "), F.coalesce(rendered, F.lit("null"))
            )
        )
    return F.concat_ws("\n", *parts)


def safe_run_ts(run_ts: str) -> str:
    """Filesystem/partition-safe form of a run timestamp ('2025-06-04 00:00:00'
    → '2025-06-04T00-00-00'). Shared with the manifest key format."""
    return run_ts.replace(":", "-").replace(" ", "T")


def write_route_frame(
    matched: DataFrame,
    route: RouteConfig,
    base_path: str,
    run_ts: str = "1970-01-01 00:00:00",
) -> tuple[str, int]:
    """Write an already-matched+ordered route frame; returns (sink_path, count).

    Sink layout <base>/<route_id>/run_ts=<ts>/dt=YYYY-MM-DD/ mirrors the
    reference's accumulate-one-object-per-poll semantics
    (/root/reference/destination/gcs/client.go:31-54): every tick of the CLI
    loop lands in its OWN run_ts partition, so repeated runs into a shared sink
    accumulate instead of clobbering. The write is sinks.overwrite_partitions,
    scoped to this run's partitions, which keeps a crashed run's re-execution
    idempotent at (run_ts, route) granularity — exactly the manifest's unit of
    commit.

    The row count rides on the write action itself via df.observe() — no
    second pass over the data to count what was written.
    """
    sink = route.sink_path or f"{base_path}/{route.route_id}"
    observation = Observation(f"route_{route.route_id}_{safe_run_ts(run_ts)}")
    out = (
        matched.observe(observation, F.count(F.lit(1)).alias("row_count"))
        .withColumn("run_ts", F.lit(safe_run_ts(run_ts)))
        .withColumn("dt", F.to_date("ts"))
    )
    if route.sink_format in ("yaml", "log"):
        # text-based sinks: exactly one value column + the partition columns.
        # log = the raw text bytes, one line per record (the reference's
        # empty-format passthrough, format.go:12-14). Newline-free records
        # pass through byte-identical; embedded \n/\r are escaped so one
        # record stays one physical line (rows share files here, unlike the
        # reference's object-per-payload — use json/parquet for binary-safe
        # multi-line payloads). yaml = one YAML list-item document per record.
        if route.sink_format == "log":
            value = F.replace(
                F.replace(F.col("text"), F.lit("\n"), F.lit("\\n")),
                F.lit("\r"), F.lit("\\r"),
            )
        else:
            value = yaml_lines(out)
        out = out.select(value.alias("value"), "run_ts", "dt")
    writer = overwrite_partitions(out, "run_ts", "dt")
    if route.sink_format == "json":
        writer.option("compression", "gzip").json(sink)
    elif route.sink_format == "log":
        writer.option("compression", "gzip").text(sink)
    elif route.sink_format == "yaml":
        writer.text(sink)
    else:
        writer.parquet(sink)
    return sink, int(observation.get["row_count"])

