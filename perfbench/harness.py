"""Set-up, the timed closed loop, output checks and metric assembly."""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import sys
import time
import traceback

from perfbench.trace import Tracer, read_event_log
from perfbench.workloads import CODEC_QUERIES, WORKLOADS, Outcome

HERE = os.path.dirname(os.path.abspath(__file__))
END_TO_END = {"setup_s": "s", "turns_per_s": "turns/s", "op_p50_s": "s"}

# Every traced run prints every per-layer metric; a layer the workload does
# not reach reads 0. Times and counts are per op unless the name says
# otherwise (an op is a count pass, a tick, a drain or a codec pass).
# op.s is the median plain op of the traced run, and op.fixed_frac the
# median "small" op over it: the share of the op that does not grow with
# the input.
PER_LAYER = {
    "session.start_s": "s",
    "trace.overhead_frac": "fraction",
    "op.s": "s",
    "op.fixed_frac": "fraction",
    "peak_rss_mb": "MB",
    "spark.jobs": "count",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "B",
    "scan.s": "s",
    "scan.input_bytes": "B",
    "parse.s": "s",
    "parse.task_cpu_s": "s",
    "parse.hit_frac": "fraction",
    "enrich.s": "s",
    "enrich.miss_frac": "fraction",
    "enrich.driver_jobs": "count",
    "enrich.driver_s": "s",
    "route_count.s": "s",
    "route_count.shuffle_bytes": "B",
    "route.fanout": "fraction",
    "route.unrouted_frac": "fraction",
    "route_write.s": "s",
    "route_write.task_cpu_s": "s",
    "route_write.shuffle_bytes": "B",
    "route_write.spill_bytes": "B",
    "route_write.files": "count",
    "route_write.bytes": "B",
    "route_write.bytes_per_turn": "B/turn",
    "lineage.s": "s",
    "lineage.task_cpu_s": "s",
    "lineage.python_bytes": "B",
    "manifest.commit_s": "s",
    "manifest.commits": "count",
    "tick.jobs": "count",
    "tick.driver_s": "s",
    "tick.cache_fill_s": "s",
    "stream.batch_s": "s",
    "stream.jobs_per_batch": "count",
    "stream.write_s": "s",
    "stream.driver_s": "s",
    "stream.bytes_per_turn": "B/turn",
    **{f"codec.{q}.s": "s" for q in CODEC_QUERIES},
    "codec.task_cpu_s": "s",
    "codec.python_bytes": "B",
}


def spark_metrics(tracer: Tracer, log) -> dict:
    """Whole-op Spark counters from the event log, per traced op."""
    spans = tracer.named("op")
    stages = [st for s in spans for st in log.stages_in(s)]
    return {
        "spark.jobs": sum(len(log.jobs_in(s)) for s in spans) / len(spans),
        "spark.task_cpu_s": sum(st.cpu_s for st in stages) / len(spans),
        "spark.spill_bytes": sum(st.spill_bytes for st in stages) / len(spans),
    }


def _guarded(fn, i: int) -> Outcome:
    """Run one op; an exception is a failed op, not a crashed run."""
    t0 = time.perf_counter()
    try:
        return fn(i)
    except Exception:  # noqa: BLE001 - an op failure is data, keep looping
        traceback.print_exc(file=sys.stderr)
        return Outcome(time.perf_counter() - t0, 0, ["raised"])


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of VmHWM over the driver JVM and every process under it (the
    Python daemon and its workers)."""
    total_kb = 0
    for pid in _proc_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def _gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM (and the Python workers under it)
    have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _loop(wl, seconds: float, tracer: Tracer | None):
    """The closed loop: ops back to back until ``seconds`` have passed and a
    whole number of rounds is done. Untraced, a round is one cycle of plain
    ops. Traced, a round is one cycle of each of ``wl.traced_kinds``, with the
    spans installed for the "spans" cycle only. Returns the outcomes by kind
    and the loop's wall time."""
    kinds = wl.traced_kinds if tracer else ("plain",)

    def run_kind(kind: str, i: int) -> Outcome:
        if kind == "plain":
            return wl.op(i)
        if kind == "spans":
            return wl.traced_op(i, tracer)
        return getattr(wl, f"{kind}_op")(i, tracer)

    ops: dict[str, list[Outcome]] = {k: [] for k in kinds}
    loop0 = time.perf_counter()
    i = 0
    while True:
        kind = kinds[(i // wl.cycle) % len(kinds)]
        if kind == "spans" and i % wl.cycle == 0:
            wl.install_spans(tracer)
        ops[kind].append(_guarded(lambda k: run_kind(kind, k), i))
        i += 1
        if kind == "spans" and i % wl.cycle == 0:
            tracer.restore()
        if time.perf_counter() - loop0 >= seconds and i % (wl.cycle * len(kinds)) == 0:
            return ops, time.perf_counter() - loop0


def _samples(ops: list[Outcome]) -> list[float]:
    return [s for o in ops for s in (o.samples if o.samples is not None else [o.seconds])]


def _op_p50(ops: list[Outcome]) -> float:
    return statistics.median(_samples(ops))


def run(args, work: str) -> dict:
    """One run of ``args.workload``; ``work`` is a fresh directory that the
    caller removes.

    Untraced: set-up, the timed loop, the deferred checks. Traced: Spark's
    event log is on for the whole session, and the loop runs twice as long,
    cycling through the workload's traced kinds of op. Per-layer metrics come
    from the spans, the prefix and the small ops; ``trace.overhead_frac``
    compares the op_p50 of the ops with spans on with that of the plain ops,
    so it covers the spans but not the event log.
    Turning the log off takes a second session, and on a 4-core KVM host a
    restarted session ran 15-20% slower for reasons of its own, so it could
    not serve as the reference."""
    from hatchery_spark.session import get_spark

    os.makedirs(work)
    threads = os.cpu_count() or 1
    wl = WORKLOADS[args.workload](work, args.seed, threads)
    t = time.perf_counter()
    wl.build()
    build_s = time.perf_counter() - t

    tracer = Tracer() if args.trace else None
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    eventlog = os.path.join(work, "eventlog")
    if tracer:
        os.makedirs(eventlog)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": eventlog,
                     "spark.eventLog.compress": "false"})

    outcomes: list[Outcome] = []
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", cpus=threads, extra_conf=conf)
    jvm = spark.sparkContext._gateway.proc
    try:
        session_s = time.perf_counter() - t0
        wl.start(spark)
        for i in range(wl.warmup_ops):
            outcomes.append(_guarded(wl.warmup, i))
        setup_s = time.perf_counter() - t0
        gc0 = _gc_seconds(spark) if tracer else 0.0
        ops, wall = _loop(wl, args.seconds * (2 if tracer else 1), tracer)
        outcomes += [o for kind in ops.values() for o in kind] + wl.final_checks()
        if tracer:
            gc_s = _gc_seconds(spark) - gc0
            rss = peak_rss_mb(jvm.pid)
            live = wl.live_layer_metrics()
    finally:
        _stop(spark)

    failed = sum(1 for o in outcomes if o.errors)
    for o in outcomes:
        for e in o.errors:
            print(f"perfbench: check failed: {e}", file=sys.stderr)
    samples = _samples(ops["plain"])
    print(
        f"perfbench workload={wl.name} seed={args.seed} trace={args.trace} "
        f"fingerprint={wl.fingerprint} ops={len(ops['plain'])} "
        f"op_samples={len(samples)} op_s={','.join(f'{x:.3f}' for x in samples)} "
        f"build_s={build_s:.3f} session_s={session_s:.3f} "
        f"host_cpus={threads} heap={os.environ.get('SPARK_GRAFT_DRIVER_MEM')} "
        f"python={platform.python_version()}"
    )
    if tracer:
        log = read_event_log(eventlog)
        op_s = _op_p50(ops["plain"])
        values = dict.fromkeys(PER_LAYER, 0.0)
        values.update(spark_metrics(tracer, log))
        values.update(wl.layer_metrics(tracer, log, ops))
        values.update(live)
        values["session.start_s"] = session_s
        values["peak_rss_mb"] = rss
        values["spark.gc_s"] = gc_s / sum(len(k) for k in ops.values())
        values["op.s"] = op_s
        if "small" in ops:
            values["op.fixed_frac"] = _op_p50(ops["small"]) / op_s
        values["trace.overhead_frac"] = _op_p50(ops["spans"]) / op_s - 1
        metrics = {k: (values[k], PER_LAYER[k]) for k in PER_LAYER}
    else:
        values = {
            "setup_s": setup_s,
            "turns_per_s": sum(o.turns for o in ops["plain"]) / wall,
            "op_p50_s": _op_p50(ops["plain"]),
        }
        metrics = {k: (values[k], END_TO_END[k]) for k in END_TO_END}
    return {
        "correct": failed == 0,
        "attempted": len(outcomes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
