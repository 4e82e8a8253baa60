"""The three workloads. Each drives the program only through its public
functions and checks every op's output against the DuckDB reference.

A workload is a closed loop with one client: the harness calls ``op`` back
to back. ``warmup`` runs the same kind of op, untimed, during set-up.
Every op returns an ``Outcome``; a failed check is a message in its
``errors`` and counts toward ``failed``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs, sinks
from perfbench.reference import RouteReference, normalize, oracle_frames, route_reference
from perfbench.trace import EventLog, Tracer

SINK_FORMATS = ("parquet", "json", "yaml", "log")
CODEC_QUERIES = (
    "rel_zstd_decode", "rel_bzip2_decode", "rel_xz_decode",
    "rel_inflate_roundtrip", "rel_deflate_encode",
)

# Input sizes, fixed and never derived from the host. bulk_agg's input is
# bulk_files copies of one generated block of bulk_block_rows turns; the
# "small" input of a traced run is every small_every-th row.
SIZE = {"bulk_block_rows": 250_000, "bulk_files": 6, "tick_rows": 400_000,
        "tick_window_h": 6, "stream_files": 3, "stream_rows_per_file": 10_000,
        "docs": 600, "small_every": 50}


@dataclass
class Outcome:
    seconds: float = 0.0
    turns: int = 0
    errors: list[str] = field(default_factory=list)
    samples: list[float] | None = None  # latency samples, if not [seconds]
    out_dir: str = ""  # where the op wrote, for per-layer byte counts
    routed: int = 0  # rows it landed in sinks


def compare_counts(what: str, got: dict, want: dict) -> list[str]:
    return [] if got == want else [f"{what}: got {got}, want {want}"]


def _per_op(total: float, ops: int) -> float:
    return total / ops if ops else 0.0


class Workload:
    """Base class: inputs + reference in ``build``, Spark objects in
    ``start``, then ``warmup``/``op`` and deferred ``final_checks``.

    A traced run cycles through ``traced_kinds``: "plain" ops (no spans),
    "spans" ops (the wrappers of ``install_spans`` on), and any other kind
    the workload has, run by its ``<kind>_op(i, tracer)``: "prefix" (plan
    prefixes), "small" (the same op over a small input, for the share of
    fixed cost) or "stream" (a streaming drain)."""

    name = ""
    warmup_ops = 1
    cycle = 1  # the timed loop stops only after a whole number of cycles
    traced_kinds = ("plain", "spans")

    def __init__(self, work: str, seed: int, threads: int):
        self.work = work
        self.seed = seed
        self.size = SIZE
        self.threads = threads
        self.fingerprint = ""
        self.spark = None
        self.ops_started = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, self.name, *parts)

    def fresh_dir(self) -> str:
        """A new directory for one op's sinks and checkpoints, so no op sees
        output that another op committed."""
        self.ops_started += 1
        return self.path(f"op{self.ops_started}")

    # -- lifecycle ----------------------------------------------------------
    def build(self) -> None:
        raise NotImplementedError

    def start(self, spark) -> None:
        self.spark = spark
        self.cat = spark.createDataFrame(inputs.CATALOG_ROWS, inputs.CATALOG_DDL)
        self.route_list = self.routes()

    def warmup(self, i: int) -> Outcome:
        return self.op(i)

    def op(self, i: int) -> Outcome:
        raise NotImplementedError

    def final_checks(self) -> list[Outcome]:
        return []

    def routes(self):
        from hatchery_spark.config import RouteConfig

        return [
            RouteConfig(route_id=r, predicate=p, sink_format=f)
            for (r, p), f in zip(inputs.ROUTE_PREDICATES, SINK_FORMATS)
        ]

    # -- tracing ------------------------------------------------------------
    def install_spans(self, tracer: Tracer) -> None:
        """Wrap the module-level functions the program calls into."""

    def traced_op(self, i: int, tracer: Tracer) -> Outcome:
        with tracer.span("op"):
            return self.op(i)

    def live_layer_metrics(self) -> dict:
        """Layer metrics that need the live session (queried before stop)."""
        return {}

    def layer_metrics(self, tracer: Tracer, log: EventLog, ops: dict) -> dict:
        """Layer metrics from spans, the event log (read after stop) and the
        traced run's outcomes by kind."""
        return {}


def enrich_metrics(tracer: Tracer, log: EventLog, within: list) -> dict:
    """Driver-side cost of enrich_turns calls made inside ``within`` spans:
    jobs and seconds per call (the catalog is collected on the driver)."""
    calls = [s for s in tracer.named("enrich_turns")
             if any(w.start <= s.start <= w.end for w in within)]
    return {
        "enrich.driver_jobs": _per_op(sum(len(log.jobs_in(s)) for s in calls), len(calls)),
        "enrich.driver_s": _per_op(sum(s.seconds for s in calls), len(calls)),
    }


# --------------------------------------------------------------------------
# bulk_agg
# --------------------------------------------------------------------------


def _force(df, cols):
    """A cheap aggregate that needs every column in ``cols``, so column
    pruning cannot skip the work that produces them."""
    from pyspark.sql import functions as F

    return df.select(F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_000_000))).alias("h"))


class BulkAgg(Workload):
    """The count-only tick, repeated: sink_counts(prepare(read(parquet)))
    over bulk_files copies of one generated block."""

    # Set-up is two ops. The first compiles the plan and loads the classes
    # every later op uses (about 13 s on a 4-core KVM host); the second still
    # ran 5.7-7.3 s against about 4.5 s for the third. Every run then times
    # the third op, which is longer than the --seconds the benchmark uses.
    name = "bulk_agg"
    warmup_ops = 2
    traced_kinds = ("plain", "spans", "prefix", "small")

    def build(self) -> None:
        t = inputs.make_transcripts(self.size["bulk_block_rows"], self.seed)
        files = self.size["bulk_files"]
        inputs.write_files(t.table, self.path("input"), files=1)
        for i in range(1, files):
            shutil.copy(self.path("input", "part-00000.parquet"),
                        self.path("input", f"part-{i:05d}.parquet"))
        every = self.size["small_every"]
        inputs.write_files(t.table.take(np.arange(0, t.rows, every)), self.path("small"), files=1)
        self.rows = t.rows * files
        self.fingerprint = f"{files}x{inputs.fingerprint(t.table)}"
        reference = route_reference(t, self.threads)
        self.want = {r: n * files for r, n in reference.totals().items()}
        self.want_small = RouteReference(reference.flags[::every], t.ts_us[::every]).totals()

    def read(self, name: str = "input"):
        return self.spark.read.parquet(self.path(name))

    def op(self, i: int) -> Outcome:
        return self._count("input", self.rows, self.want)

    def small_op(self, i: int, tracer: Tracer) -> Outcome:
        return self._count("small", 0, self.want_small)

    def _count(self, name: str, rows: int, want: dict) -> Outcome:
        from hatchery_spark.pipeline import prepare
        from hatchery_spark.router import sink_counts

        t0 = time.perf_counter()
        res = sink_counts(prepare(self.read(name), self.cat), self.route_list).collect()
        out = Outcome(time.perf_counter() - t0, rows)
        got = {r["route_id"]: r["row_count"] for r in res}
        out.errors = compare_counts("route counts", got, want)
        return out

    # A prefix op times prefixes of the plan one after the other: scan,
    # +parse, +enrich, each forced by a cheap aggregate over the columns it
    # produces, and +route-count, which is the whole count. A layer's time is
    # the difference of consecutive prefix medians. The full pass is timed
    # apart, in the "plain" ops, so the layers need not sum to it.
    SCAN_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]
    PARSE_COLS = SCAN_COLS + ["actor", "action", "resource", "severity"]
    ENRICH_COLS = PARSE_COLS + ["service", "category"]

    def prefix_op(self, i: int, tracer: Tracer) -> Outcome:
        from hatchery_spark.parse import parse_turns
        from hatchery_spark.pipeline import prepare

        for name, plan in (
            ("scan", lambda: _force(self.read(), self.SCAN_COLS)),
            ("parse", lambda: _force(parse_turns(self.read()), self.PARSE_COLS)),
            ("enrich", lambda: _force(prepare(self.read(), self.cat), self.ENRICH_COLS)),
        ):
            with tracer.span(name):
                plan().collect()
        with tracer.span("route_count"):
            return self.op(i)

    def install_spans(self, tracer: Tracer) -> None:
        import hatchery_spark.pipeline as pipeline

        tracer.wrap(pipeline, "enrich_turns", "enrich_turns")

    def live_layer_metrics(self) -> dict:
        """Useful-outcome ratios of the program's own output, in one pass."""
        from pyspark.sql import functions as F

        from hatchery_spark.pipeline import prepare

        routed = " OR ".join(f"coalesce({p}, false)" for _, p in inputs.ROUTE_PREDICATES)
        r = prepare(self.read(), self.cat).agg(
            F.count(F.lit(1)).alias("rows"),
            F.count("action").alias("hits"),
            F.sum(F.when(F.col("service") == "unknown", 1).otherwise(0)).alias("misses"),
            F.sum(F.when(F.expr(f"NOT ({routed})"), 1).otherwise(0)).alias("unrouted"),
        ).collect()[0]
        return {
            "parse.hit_frac": r["hits"] / r["rows"],
            "enrich.miss_frac": r["misses"] / r["rows"],
            "route.unrouted_frac": r["unrouted"] / r["rows"],
            "route.fanout": sum(self.want.values()) / r["rows"],
        }

    def layer_metrics(self, tracer: Tracer, log: EventLog, ops: dict) -> dict:
        med, cpu, shuffle, inbytes = {}, {}, {}, {}
        for p in ("scan", "parse", "enrich", "route_count"):
            spans = tracer.named(p)
            med[p] = statistics.median(s.seconds for s in spans)
            stages = [st for s in spans for st in log.stages_in(s)]
            cpu[p] = _per_op(sum(st.cpu_s for st in stages), len(spans))
            shuffle[p] = _per_op(sum(st.shuffle_bytes for st in stages), len(spans))
            inbytes[p] = _per_op(sum(log.file_bytes_in(s) for s in spans), len(spans))
        return {
            "scan.s": med["scan"],
            "scan.input_bytes": inbytes["scan"],
            "parse.s": med["parse"] - med["scan"],
            "parse.task_cpu_s": cpu["parse"] - cpu["scan"],
            "enrich.s": med["enrich"] - med["parse"],
            "route_count.s": med["route_count"] - med["enrich"],
            "route_count.shuffle_bytes": shuffle["route_count"] - shuffle["enrich"],
            **enrich_metrics(tracer, log, tracer.named("op")),
        }


# --------------------------------------------------------------------------
# tick_write
# --------------------------------------------------------------------------


class TickWrite(Workload):
    """Consecutive run_pipeline ticks over a dt-partitioned table: four routes
    in four formats, lineage on, a ManifestStore, then a resume re-run.

    Its traced run also drives the streaming tick over the same routes:
    run_streaming_pipeline(available_now, one file per trigger) draining a
    backlog of equal parquet files, one micro-batch per file."""

    # The first tick pays the one-time costs (20-27 s on a 4-core KVM host)
    # and is the set-up. Every run then times the same windows: tick k of a
    # run always covers slot k of the schedule, so runs differ only in their
    # seed.
    name = "tick_write"
    traced_kinds = ("plain", "spans", "small", "stream")

    def build(self) -> None:
        t = inputs.make_transcripts(self.size["tick_rows"], self.seed)
        inputs.write_dt_partitioned(t.table, t.ts_us, self.path("table"))
        every = self.size["small_every"]
        inputs.write_dt_partitioned(t.table.take(np.arange(0, t.rows, every)), t.ts_us[::every],
                                    self.path("small"))
        self.fingerprint = inputs.fingerprint(t.table)
        self.reference = route_reference(t, self.threads)
        self.references = {
            "table": self.reference,
            "small": RouteReference(self.reference.flags[::every], t.ts_us[::every]),
        }
        hours = self.size["tick_window_h"]
        self.window_us = hours * inputs.HOUR_US
        self.window = f"{hours} hours"
        n_ticks = inputs.PROPERTIES["span_hours"] // hours
        self.schedule = [inputs.START_US + (k + 1) * self.window_us for k in range(n_ticks)]
        self.done: list[tuple[str, str, int, dict]] = []  # (op dir, table, window end, counts)
        self.stream_warm: list[str] | None = None

    @staticmethod
    def run_ts(end_us: int) -> str:
        import datetime

        t = datetime.datetime.fromtimestamp(end_us / 1e6, datetime.timezone.utc)
        return t.strftime("%Y-%m-%d %H:%M:%S")

    def tick(self, table: str, op_dir: str, end_us: int):
        from hatchery_spark.lineage import ManifestStore
        from hatchery_spark.pipeline import run_pipeline

        return run_pipeline(
            self.spark, self.spark.read.parquet(self.path(table)), self.route_list,
            os.path.join(op_dir, "sinks"), run_ts=self.run_ts(end_us), catalog=self.cat,
            window=self.window, manifest=ManifestStore(os.path.join(op_dir, "manifest")),
            collect_lineage=True,
        )

    def want(self, table: str, end_us: int) -> tuple[int, dict]:
        """Rows in the tick's window and the reference route counts."""
        ref = self.references[table]
        lo, hi = ref.window(end_us, self.window_us)
        return hi - lo, ref.totals(lo, hi)

    def op(self, i: int) -> Outcome:
        return self._tick("table")

    def small_op(self, i: int, tracer: Tracer) -> Outcome:
        return self._tick("small")

    def _tick(self, table: str) -> Outcome:
        """The next tick of the schedule, into fresh sinks and manifest."""
        from hatchery_spark.lineage import ManifestStore

        op_dir = self.fresh_dir()
        end_us = self.schedule[(self.ops_started - 1) % len(self.schedule)]
        t0 = time.perf_counter()
        res = self.tick(table, op_dir, end_us)
        rows, want = self.want(table, end_us)
        out = Outcome(time.perf_counter() - t0, rows,
                      out_dir=os.path.join(op_dir, "sinks"), routed=sum(res.counts.values()))
        out.errors += compare_counts("tick counts", res.counts, want)
        committed = {
            r.route_id: r.row_count
            for r in ManifestStore(os.path.join(op_dir, "manifest")).all_records()
            if r.run_ts == res.run_ts and r.committed
        }
        out.errors += compare_counts("manifest row_count", committed, want)
        if res.skipped:
            out.errors.append(f"fresh tick skipped routes {res.skipped}")
        self.done.append((op_dir, table, end_us, res.counts))
        return out

    def final_checks(self) -> list[Outcome]:
        """Per tick: read the sinks back, then re-run it as a resume, which
        must skip every route, touch no file and return the same counts."""
        outs = []
        for op_dir, table, end_us, counts in self.done:
            out = Outcome()
            got = {
                r.route_id: sinks.sink_rows(
                    os.path.join(op_dir, "sinks", r.route_id), r.sink_format)
                for r in self.route_list
            }
            out.errors += compare_counts("sink read-back", got, self.want(table, end_us)[1])
            before = sinks.snapshot(op_dir)
            t0 = time.perf_counter()
            res = self.tick(table, op_dir, end_us)
            out.seconds = time.perf_counter() - t0
            if sorted(res.skipped) != sorted(r.route_id for r in self.route_list):
                out.errors.append(f"resume ran routes: skipped only {res.skipped}")
            out.errors += compare_counts("resume counts", res.counts, counts)
            if sinks.snapshot(op_dir) != before:
                out.errors.append("resume changed files")
            outs.append(out)
        self.done = []
        return outs

    def stream_op(self, i: int, tracer: Tracer) -> Outcome:
        """One drain of the streaming backlog, with spans around each
        micro-batch's writer. The first one drains the one-file backlog
        first, untimed; its check failures ride on this outcome."""
        import hatchery_spark.streaming.stream as stream

        if self.stream_warm is None:
            self.build_backlogs()
            self.stream_warm = self.drain("stream-warm").errors

        def time_batches(write):
            def traced_write(batch_df, batch_id):
                with tracer.span("batch"):
                    return write(batch_df, batch_id)

            return traced_write

        tracer.wrap(stream, "route_fanout_batch_writer", "batch_writer",
                    on_result=time_batches)
        tracer.wrap(stream, "enrich_turns", "enrich_turns")
        try:
            out = self.drain("stream-backlog")
        finally:
            tracer.restore()
        out.errors += self.stream_warm
        self.stream_warm = []
        return out

    def build_backlogs(self) -> None:
        """A one-file backlog whose drain compiles the plan, then the measured
        backlog. Only traced runs drain, so only they pay for these."""
        files, per = self.size["stream_files"], self.size["stream_rows_per_file"]
        backlog = inputs.make_transcripts((files + 1) * per, self.seed + 1)
        inputs.write_files(backlog.table.slice(0, per), self.path("stream-warm"), 1)
        inputs.write_files(backlog.table.slice(per), self.path("stream-backlog"), files)
        ref = route_reference(backlog, self.threads)
        self.backlogs = {
            "stream-warm": (1, per, ref.totals(0, per)),
            "stream-backlog": (files, files * per, ref.totals(per)),
        }

    def drain(self, backlog: str) -> Outcome:
        """Drain a backlog into fresh sinks and checkpoint. The latency
        samples are the micro-batches' trigger times, from the query's own
        progress reports."""
        from hatchery_spark.streaming.stream import run_streaming_pipeline

        files, rows, want = self.backlogs[backlog]
        op_dir = self.fresh_dir()
        out_dir = os.path.join(op_dir, "sinks")
        t0 = time.perf_counter()
        q = run_streaming_pipeline(
            self.spark, self.path(backlog), self.route_list, out_dir,
            os.path.join(op_dir, "checkpoint"), catalog=self.cat,
            available_now=True, max_files_per_trigger=1,
        )
        batches = [
            p["durationMs"]["triggerExecution"] / 1e3
            for p in q.recentProgress if p["numInputRows"] > 0
        ]
        got = {r: sinks.sink_rows(os.path.join(out_dir, r), "parquet")
               for r in inputs.ROUTE_IDS}
        out = Outcome(time.perf_counter() - t0, rows, samples=batches,
                      out_dir=out_dir, routed=sum(got.values()))
        out.errors += compare_counts("stream sink totals", got, want)
        in_sinks = sinks.partition_values(out_dir, "batch_id")
        if len(batches) != files or len(in_sinks) != files:
            out.errors.append(
                f"batches: {len(batches)} in progress, {len(in_sinks)} in sinks, "
                f"want {files}"
            )
        return out

    def install_spans(self, tracer: Tracer) -> None:
        import hatchery_spark.lineage as lineage
        import hatchery_spark.pipeline as pipeline

        def time_collect(df):
            collect = df.collect

            def traced_collect():
                with tracer.span("lineage"):
                    return collect()

            df.collect = traced_collect
            return df

        tracer.wrap(pipeline, "enrich_turns", "enrich_turns")
        tracer.wrap(pipeline, "write_route_frame", "route_write")
        tracer.wrap(pipeline, "partition_metrics", "partition_metrics", on_result=time_collect)
        tracer.wrap(lineage.ManifestStore, "commit", "manifest_commit")

    def layer_metrics(self, tracer: Tracer, log: EventLog, ops: dict) -> dict:
        ticks = tracer.named("op")
        n = len(ticks)

        def in_ticks(name):
            return [s for s in tracer.named(name) if any(t.start <= s.start <= t.end for t in ticks)]

        writes, lineage_spans = in_ticks("route_write"), in_ticks("lineage")
        write_stages = [st for s in writes for st in log.stages_in(s)]
        lineage_stages = [st for s in lineage_spans for st in log.stages_in(s)]
        first_writes = [min((w for w in writes if t.start <= w.start <= t.end),
                            key=lambda w: w.start) for t in ticks]
        fill = sum(st.end - st.submit for w in first_writes for st in log.stages_in(w)
                   if st.input_bytes > 0)
        files = [f for o in ops["spans"] for f in sinks.data_files(o.out_dir)]
        nbytes = sum(os.path.getsize(f) for f in files)
        routed = sum(o.routed for o in ops["spans"])
        return {
            **enrich_metrics(tracer, log, ticks),
            "route_write.s": _per_op(sum(s.seconds for s in writes), n),
            "route_write.task_cpu_s": _per_op(sum(st.cpu_s for st in write_stages), n),
            "route_write.shuffle_bytes": _per_op(sum(st.shuffle_bytes for st in write_stages), n),
            "route_write.spill_bytes": _per_op(sum(st.spill_bytes for st in write_stages), n),
            "route_write.files": _per_op(len(files), n),
            "route_write.bytes": _per_op(nbytes, n),
            "route_write.bytes_per_turn": nbytes / routed if routed else 0.0,
            "lineage.s": _per_op(sum(s.seconds for s in lineage_spans), n),
            "lineage.task_cpu_s": _per_op(sum(st.cpu_s for st in lineage_stages), n),
            "lineage.python_bytes": _per_op(sum(st.python_bytes for st in lineage_stages), n),
            "manifest.commit_s": _per_op(sum(s.seconds for s in in_ticks("manifest_commit")), n),
            "manifest.commits": _per_op(len(in_ticks("manifest_commit")), n),
            "tick.jobs": _per_op(sum(len(log.jobs_in(t)) for t in ticks), n),
            "tick.driver_s": _per_op(sum(t.seconds - log.busy_seconds(t) for t in ticks), n),
            "tick.cache_fill_s": _per_op(fill, n),
            **self.stream_metrics(tracer, log, ops["stream"]),
        }

    @staticmethod
    def stream_metrics(tracer: Tracer, log: EventLog, drains: list) -> dict:
        """Per micro-batch of the measured drains: the writer's span, its
        jobs, the time its jobs (less enrich's catalog job) ran, and the rest
        spent on the driver."""
        batches = tracer.named("batch")
        n = len(batches)
        enrich_jobs = {j.job_id for b in batches for s in tracer.named("enrich_turns")
                       if b.start <= s.start <= b.end for j in log.jobs_in(s)}
        write_s = sum(
            log.busy_seconds(b, [j for j in log.jobs_in(b) if j.job_id not in enrich_jobs])
            for b in batches
        )
        nbytes = sum(os.path.getsize(f) for o in drains for f in sinks.data_files(o.out_dir))
        routed = sum(o.routed for o in drains)
        return {
            "stream.batch_s": statistics.median(b.seconds for b in batches) if n else 0.0,
            "stream.jobs_per_batch": _per_op(sum(len(log.jobs_in(b)) for b in batches), n),
            "stream.write_s": _per_op(write_s, n),
            "stream.driver_s": _per_op(sum(b.seconds - log.busy_seconds(b) for b in batches), n),
            "stream.bytes_per_turn": nbytes / routed if routed else 0.0,
        }


# --------------------------------------------------------------------------
# codec_catalog
# --------------------------------------------------------------------------


class CodecCatalog(Workload):
    """Passes over five codec queries of the driver catalog, each written to
    the noop sink. Each query's output is checked once, during warm-up."""

    # Passes keep getting faster after the checked warm-up round (about 1.1 s,
    # then 0.7 s, on a 4-core KVM host), so every run times the same two
    # rounds, which are longer than the --seconds the benchmark uses. One
    # round alone spread 0.34 over ten runs on a busy host, two rounds 0.12.
    name = "codec_catalog"
    warmup_ops = len(CODEC_QUERIES)
    cycle = 2 * len(CODEC_QUERIES)

    def build(self) -> None:
        from hatchery_spark.plans.driver_queries import oracle_catalog

        docs = inputs.make_documents(self.size["docs"], self.seed)
        os.makedirs(self.path("sf"), exist_ok=True)
        pq.write_table(docs, self.path("sf", "documents.parquet"))
        self.rows = docs.num_rows
        self.fingerprint = inputs.fingerprint(docs)
        sql = oracle_catalog()
        self.oracles = oracle_frames(
            self.path("sf", "documents.parquet"), {q: sql[q] for q in CODEC_QUERIES},
            self.threads,
        )

    def start(self, spark) -> None:
        from hatchery_spark.plans.driver_queries import query_catalog

        super().start(spark)
        catalog = query_catalog()
        self.queries = {q: catalog[q] for q in CODEC_QUERIES}

    def query_for(self, i: int) -> str:
        return CODEC_QUERIES[i % len(CODEC_QUERIES)]

    def warmup(self, i: int) -> Outcome:
        """Run one query to pandas and compare it with its oracle SQL."""
        name = self.query_for(i)
        t0 = time.perf_counter()
        got = self.queries[name](self.spark, self.path("sf")).toPandas()
        out = Outcome(time.perf_counter() - t0, self.rows)
        want = self.oracles[name]
        if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
            out.errors.append(f"{name}: shape {got.shape} != {want.shape}")
        elif not normalize(got).equals(want):
            out.errors.append(f"{name}: value mismatch")
        return out

    def op(self, i: int) -> Outcome:
        name = self.query_for(i)
        t0 = time.perf_counter()
        self.queries[name](self.spark, self.path("sf")).write.format("noop").mode(
            "overwrite").save()
        return Outcome(time.perf_counter() - t0, self.rows)

    def layer_metrics(self, tracer: Tracer, log: EventLog, ops: dict) -> dict:
        passes = tracer.named("op")
        out = {}
        for k, q in enumerate(CODEC_QUERIES):
            times = [s.seconds for i, s in enumerate(passes) if i % len(CODEC_QUERIES) == k]
            out[f"codec.{q}.s"] = statistics.median(times) if times else 0.0
        stages = [st for s in passes for st in log.stages_in(s)]
        out["codec.task_cpu_s"] = _per_op(sum(st.cpu_s for st in stages), len(passes))
        out["codec.python_bytes"] = _per_op(sum(st.python_bytes for st in stages), len(passes))
        return out


WORKLOADS = {w.name: w for w in (BulkAgg, TickWrite, CodecCatalog)}
