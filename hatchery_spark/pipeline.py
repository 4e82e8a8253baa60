"""End-to-end batch pipeline: scan → parse → enrich → route → sink → metrics.

The Spark-native rebuild of the reference's Run lifecycle (hatchery.go:36-77):
selectors choose routes, every selected route consumes the SAME routed frame
(routed, ordered and persisted once per tick), each route is one filtered write
action, and a manifest commit after each successful write gives crash-resume at
route granularity (ack-after-write semantics, the reference's
source/falcon_data_replicator/client.go:217-224).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hatchery_spark.config import RouteConfig, Selector, select_routes
from hatchery_spark.datagen import service_catalog_df
from hatchery_spark.enrich import enrich_turns
from hatchery_spark.lineage import ManifestStore, RouteRunRecord, partition_metrics
from hatchery_spark.parse import parse_turns
from hatchery_spark.router import ordered_for_sink, routed_union, write_route_frame
from hatchery_spark.timerange import window_filter

TRANSCRIPT_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


class LineageParityError(RuntimeError):
    """Raised when per-partition lineage row counts disagree with the count
    observed on the write action (never downgraded to a skippable assert)."""


@dataclass
class PipelineResult:
    run_ts: str
    counts: dict[str, int] = field(default_factory=dict)
    sinks: dict[str, str] = field(default_factory=dict)
    skipped: list[str] = field(default_factory=list)


def prepare(
    transcripts: DataFrame,
    catalog: DataFrame,
    run_ts: str | None = None,
    window: str | None = None,
    parse_engine: str = "native",
) -> DataFrame:
    """The shared (pre-fan-out) plan: window filter → parse → enrich."""
    df = transcripts
    if run_ts is not None and window is not None:
        df = window_filter(df, run_ts, window)
    return enrich_turns(parse_turns(df, engine=parse_engine), catalog)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    routes: Sequence[RouteConfig],
    out_dir: str,
    run_ts: str = "1970-01-01 00:00:00",
    selectors: Sequence[Selector] = (),
    catalog: DataFrame | None = None,
    window: str | None = None,
    manifest: ManifestStore | None = None,
    parse_engine: str = "native",
    collect_lineage: bool = True,
    max_parallel_routes: int = 1,
) -> PipelineResult:
    """Run one tick: every pending route writes its share of ONE routed frame.

    The frame, `ordered_for_sink(routed_union(enriched, pending))`, is
    persisted once and filled by one action before any write: the lineage
    aggregate keyed by (route, partition) when `collect_lineage`, else a count.
    Manifest `partitions` ids number that shared shuffle, which AQE coalesces
    over all routes together; the rows per sink do not depend on it.

    Resume: routes already committed in `manifest` for this run_ts are skipped;
    each route commits only after its write action returns, and only if its
    observed row count equals its lineage rows (else LineageParityError).

    max_parallel_routes > 1 submits route write actions from a driver thread
    pool — the Spark scheduler interleaves the jobs across executors — which is
    the reference's goroutine-per-selected-stream shape (hatchery.go:55-67).
    Results are identical to sequential execution; only action submission
    order changes.
    """
    selected = select_routes(routes, list(selectors))
    if catalog is None:
        catalog = service_catalog_df(spark)
    enriched = prepare(transcripts, catalog, run_ts=run_ts, window=window,
                       parse_engine=parse_engine)

    result = PipelineResult(run_ts=run_ts)
    pending = []
    for route in selected:
        if manifest is not None and manifest.is_committed(run_ts, route.route_id):
            result.skipped.append(route.route_id)
            rec = manifest.load(run_ts, route.route_id)
            result.counts[route.route_id] = rec.row_count
            result.sinks[route.route_id] = rec.sink_path
        else:
            pending.append(route)

    if not pending:
        return result

    routed = ordered_for_sink(routed_union(enriched, pending))
    lineage: dict[str, list[dict]] = {r.route_id: [] for r in pending}

    def run_route(route: RouteConfig) -> tuple[RouteConfig, str, int]:
        """Write one route's share of the routed frame, check it against that
        route's lineage rows, and commit right after the write
        (ack-after-write): a crash later in the tick loses no finished route.
        One manifest file per (run_ts, route) → no cross-thread contention."""
        parts = lineage[route.route_id]
        # row count rides on the write action (df.observe) — no extra pass
        sink, n = write_route_frame(
            routed.where(F.col("route_id") == route.route_id), route, out_dir, run_ts
        )
        lineage_n = sum(p["row_count"] for p in parts)
        if collect_lineage and lineage_n != n:
            raise LineageParityError(
                f"route {route.route_id}: lineage rows {lineage_n} != written rows {n}"
            )
        if manifest is not None:
            manifest.commit(RouteRunRecord(run_ts, route.route_id, sink, n, partitions=parts))
        return route, sink, n

    routed.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # one action fills the cache before any write, sequential or pooled
        if collect_lineage:
            for row in partition_metrics(routed).collect():
                part = row.asDict()
                lineage[part.pop("route_id")].append(part)
        else:
            routed.count()
        if max_parallel_routes > 1 and len(pending) > 1:
            with ThreadPoolExecutor(max_workers=max_parallel_routes) as pool:
                outcomes = list(pool.map(run_route, pending))
        else:
            outcomes = [run_route(route) for route in pending]
        for route, sink, n in outcomes:
            result.counts[route.route_id] = n
            result.sinks[route.route_id] = sink
    finally:
        routed.unpersist()
    return result
