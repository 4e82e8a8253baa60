"""CLI entry point: spark-submit-able main with the reference's flag semantics.

Rebuilds /root/reference/cli.go:14-109 as argparse:
  -i/--route-ids, -t/--tags, -a/--all   → selectors (O1–O3)
  --start/--end/--tick                  → time-range tick loop (O7)
  --run-ts / --window                   → per-run as-of time + lookback (O8/O27)
Plus Spark-side knobs the reference doesn't need: --input (table path),
--out, --manifest, --parse-engine, --streaming/--checkpoint.

Packaging: `python -m hatchery_spark ...` locally, or on a cluster
  spark-submit --py-files hatchery_spark.zip -m hatchery_spark.cli ...
(build the zip with scripts/package.sh).
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import datetime, timedelta

from hatchery_spark.config import (
    DEFAULT_ROUTES,
    RouteConfig,
    select_all,
    select_by_id,
    select_by_tag,
)
from hatchery_spark.lineage import ManifestStore
from hatchery_spark.pipeline import run_pipeline
from hatchery_spark.session import get_spark
from hatchery_spark.timerange import generate_ticks


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="hatchery_spark", description=__doc__)
    p.add_argument("-i", "--route-ids", nargs="*", default=[], help="select routes by ID")
    p.add_argument("-t", "--tags", nargs="*", default=[], help="select routes by tag")
    p.add_argument("-a", "--all", action="store_true", help="select all routes")
    p.add_argument("--input", help="transcripts parquet path")
    p.add_argument("--out", help="sink base directory: a path or any Hadoop URI")
    p.add_argument(
        "--compact", nargs=2, metavar=("SRC", "DST"),
        help="maintenance mode: rewrite a fragmented sink into ~target-sized "
             "files (see sinks.compact_parquet_sink), then exit",
    )
    p.add_argument(
        "--compact-target-mb", type=int, default=128,
        help="target output file size for --compact",
    )
    p.add_argument("--routes-json", help="route config JSON file (defaults to built-ins)")
    p.add_argument("--manifest", help="resume manifest dir or Hadoop URI (default <out>/_manifest)")
    p.add_argument("--run-ts", help="logical as-of time 'YYYY-mm-dd HH:MM:SS'")
    p.add_argument("--window", help="lookback window, e.g. '10 minutes'")
    p.add_argument("--start", help="tick loop start (RFC3339-ish)")
    p.add_argument("--end", help="tick loop end")
    p.add_argument("--tick", type=int, default=0, help="tick seconds (0 = single shot)")
    p.add_argument("--parse-engine", choices=["native", "pandas"], default="native")
    p.add_argument(
        "--table-format", choices=["parquet", "iceberg"], default="parquet",
        help="input table format; iceberg expects a catalog table name in --input",
    )
    p.add_argument(
        "--max-parallel-routes", type=int, default=1,
        help="route write actions submitted concurrently from a driver pool",
    )
    p.add_argument("--cpus", type=int, default=None, help="local[N] parallelism")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--streaming", action="store_true", help="Structured Streaming mode")
    p.add_argument("--checkpoint", help="streaming checkpoint dir")
    return p.parse_args(argv)


def load_routes(path: str | None) -> list[RouteConfig]:
    if path is None:
        return list(DEFAULT_ROUTES)
    with open(path) as f:
        raw = json.load(f)
    return [
        RouteConfig(
            route_id=r["route_id"],
            tags=tuple(r.get("tags", ())),
            predicate=r.get("predicate", "true"),
            sink_path=r.get("sink_path"),
            sink_format=r.get("sink_format", "parquet"),
        )
        for r in raw
    ]


def build_selectors(args: argparse.Namespace):
    sels = []
    if args.route_ids:
        sels.append(select_by_id(*args.route_ids))
    if args.tags:
        sels.append(select_by_tag(*args.tags))
    if args.all or not sels:
        sels.append(select_all())
    return sels


def _parse_dt(s: str) -> datetime:
    return datetime.fromisoformat(s)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if args.compact is None and not (args.input and args.out):
        print("--input and --out are required (unless using --compact)", file=sys.stderr)
        return 2

    if args.compact is not None:
        # maintenance mode needs only a session — routes/selectors are
        # irrelevant and must not be able to fail the run
        if args.compact_target_mb <= 0:
            print("--compact-target-mb must be positive", file=sys.stderr)
            return 2
        from hatchery_spark.sinks import compact_parquet_sink

        spark = get_spark("hatchery_spark_cli", cpus=args.cpus,
                          shuffle_partitions=args.shuffle_partitions)
        src, dst = args.compact
        from pyspark.errors import AnalysisException

        try:
            n_files = compact_parquet_sink(
                spark, src, dst, target_file_bytes=args.compact_target_mb << 20
            )
        except (AnalysisException, FileNotFoundError, ValueError) as exc:
            # only the argument-class failures (missing path, not-parquet,
            # bad schema, bad sizes) get the clean exit-2 contract; anything
            # else — a bug, an executor OOM, a write failure — propagates
            # with its full stack trace so it is never mislabeled as a bad
            # argument
            msg = str(exc).splitlines()[0] if str(exc) else type(exc).__name__
            print(f"--compact failed for {src!r}: {msg}", file=sys.stderr)
            return 2
        print(json.dumps({"compacted": src, "dst": dst, "files": n_files}))
        return 0

    routes = load_routes(args.routes_json)
    selectors = build_selectors(args)
    spark = get_spark("hatchery_spark_cli", cpus=args.cpus,
                      shuffle_partitions=args.shuffle_partitions)

    if args.streaming:
        from hatchery_spark.streaming.stream import run_streaming_pipeline

        if not args.checkpoint:
            print("--streaming requires --checkpoint", file=sys.stderr)
            return 2
        run_streaming_pipeline(
            spark, args.input, routes, args.out, args.checkpoint
        )
        return 0

    from hatchery_spark.sinks import read_table

    df = read_table(spark, args.input, table_format=args.table_format)
    manifest = ManifestStore(args.manifest or f"{args.out}/_manifest")

    if args.start and args.end:
        ticks = list(
            generate_ticks(_parse_dt(args.start), _parse_dt(args.end),
                           timedelta(seconds=args.tick))
        )
    else:
        ticks = [None]

    for tick in ticks:
        run_ts = (
            tick.strftime("%Y-%m-%d %H:%M:%S")
            if tick is not None
            else (args.run_ts or "1970-01-01 00:00:00")
        )
        res = run_pipeline(
            spark, df, routes, args.out,
            run_ts=run_ts,
            selectors=selectors,
            window=args.window,
            manifest=manifest,
            parse_engine=args.parse_engine,
            max_parallel_routes=args.max_parallel_routes,
        )
        print(json.dumps({
            "run_ts": res.run_ts,
            "counts": res.counts,
            "skipped": res.skipped,
            "sinks": res.sinks,
            # surfaced so deployments (and the spark-submit e2e test) can
            # confirm the submitted master was not overridden to local mode
            "master": spark.sparkContext.master,
        }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
