import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hatchery_spark.config import RouteConfig
from hatchery_spark.datagen import service_catalog_df, transcripts_df
from hatchery_spark.lineage import ManifestStore
from hatchery_spark.pipeline import prepare, run_pipeline
from hatchery_spark.router import routed_union, sink_counts

from tests.oracle import pipeline_oracle

ROUTES = [
    RouteConfig("sec-alerts", tags=("security",), predicate="severity IN ('error','critical')"),
    RouteConfig("chat-archive", tags=("archive",), predicate="category = 'chat'"),
    RouteConfig(
        "auth-audit",
        tags=("security", "audit"),
        predicate="action IN ('user_login','token_created','permission_granted')",
    ),
]

ORACLE_PREDS = {
    "sec-alerts": lambda d: d["severity"].isin(["error", "critical"]),
    "chat-archive": lambda d: d["category"] == "chat",
    "auth-audit": lambda d: d["action"].isin(
        ["user_login", "token_created", "permission_granted"]
    ),
}

KEY = ["route_id", "conv_id", "turn_idx"]
CMP_COLS = KEY + ["role", "text", "tool", "actor", "action", "resource", "severity",
                  "service", "category"]


@pytest.fixture(scope="module")
def transcripts(spark):
    df = transcripts_df(spark, 6000, n_convs=150, seed=11).cache()
    df.count()
    yield df
    df.unpersist()


def _spark_routed(spark, transcripts):
    enriched = prepare(transcripts, service_catalog_df(spark))
    return routed_union(enriched, ROUTES)


def test_routed_row_equality_vs_oracle(spark, transcripts):
    got = (
        _spark_routed(spark, transcripts)
        .select(*CMP_COLS)
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )
    pdf = transcripts.toPandas()
    want = (
        pipeline_oracle(pdf, ORACLE_PREDS)[CMP_COLS].sort_values(KEY).reset_index(drop=True)
    )
    # NaN→None normalization for comparison
    got = got.where(pd.notnull(got), None)
    want = want.where(pd.notnull(want), None)
    pd.testing.assert_frame_equal(got, want)


def test_per_sink_count_parity(spark, transcripts):
    enriched = prepare(transcripts, service_catalog_df(spark))
    got = {r.route_id: r.row_count for r in sink_counts(enriched, ROUTES).collect()}
    oracle = pipeline_oracle(transcripts.toPandas(), ORACLE_PREDS)
    want = oracle.groupby("route_id").size().to_dict()
    assert got == want


PARITY_ROUTES = [
    RouteConfig("errors", predicate="severity IN ('error', 'critical')"),
    RouteConfig("slack", predicate="tool = 'slack'"),
    RouteConfig("never", predicate="tool = 'no-such-tool'"),
    RouteConfig("o'brien's 'quoted' route", predicate="true"),
]


@pytest.fixture(scope="module")
def null_keyed(spark):
    return spark.createDataFrame(
        [
            ("slack", "error"),
            ("slack", None),  # NULL severity: "errors" predicate is NULL
            (None, "critical"),  # NULL tool: "slack" predicate is NULL
            (None, None),  # both NULL
            ("okta", "info"),
        ],
        "tool string, severity string",
    )


@pytest.mark.parametrize("case", ["null_predicates", "empty_frame", "enriched"])
def test_sink_counts_equals_routed_union_groupby(spark, transcripts, null_keyed, case):
    df = {
        "null_predicates": lambda: null_keyed,
        "empty_frame": lambda: null_keyed.limit(0),
        "enriched": lambda: prepare(transcripts, service_catalog_df(spark)),
    }[case]()
    got = sorted(map(tuple, sink_counts(df, PARITY_ROUTES).collect()))
    want = sorted(
        map(tuple, routed_union(df, PARITY_ROUTES).groupBy("route_id").count().collect())
    )
    assert got == want
    # a route that matches no row drops out; the quoted id survives as a literal
    assert "never" not in dict(got)
    if case == "null_predicates":
        assert dict(got) == {"errors": 2, "slack": 2, "o'brien's 'quoted' route": 5}
    if case == "empty_frame":
        assert got == []


def test_sink_counts_schema(spark, null_keyed):
    out = sink_counts(null_keyed, PARITY_ROUTES)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("route_id", "string"),
        ("row_count", "bigint"),
    ]
    empty = sink_counts(null_keyed, [])
    assert empty.columns == ["route_id", "row_count"] and empty.collect() == []


def test_ordering_stable_across_shuffle_partitions(spark, transcripts):
    # per-file ordering by (conv_id, turn_idx) must hold regardless of
    # spark.sql.shuffle.partitions (SURVEY §5.4)
    from hatchery_spark.router import ordered_for_sink

    for n in ("4", "13"):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", n)
        try:
            out = ordered_for_sink(transcripts)

            def check_sorted(it):
                prev = None
                bad = 0
                for row in it:
                    k = (row.conv_id, row.turn_idx)
                    if prev is not None and k < prev:
                        bad += 1
                    prev = k
                yield (bad,)

            bad_total = (
                out.select("conv_id", "turn_idx")
                .rdd.mapPartitions(check_sorted)
                .map(lambda t: t[0])
                .sum()
            )
            assert bad_total == 0
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)


def test_end_to_end_run_with_sinks(spark, transcripts, tmp_path):
    out_dir = str(tmp_path / "sinks")
    manifest = ManifestStore(str(tmp_path / "manifest"))
    res = run_pipeline(
        spark, transcripts, ROUTES, out_dir, run_ts="2025-06-04 00:00:00", manifest=manifest
    )
    oracle = pipeline_oracle(transcripts.toPandas(), ORACLE_PREDS)
    want = oracle.groupby("route_id").size().to_dict()
    assert res.counts == want
    # sinks readable, text byte-equal to input under the (conv_id, turn_idx) key
    for rid, sink in res.sinks.items():
        back = spark.read.parquet(sink)
        assert back.count() == want[rid]
        joined = back.select("conv_id", "turn_idx", F.col("text").alias("routed_text")).join(
            transcripts.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"]
        )
        assert joined.filter(F.col("routed_text") != F.col("text")).count() == 0
    # lineage recorded per partition
    rec = manifest.load("2025-06-04 00:00:00", "sec-alerts")
    assert rec.committed and sum(p["row_count"] for p in rec.partitions) == want["sec-alerts"]


def test_resume_skips_committed_routes(spark, transcripts, tmp_path):
    out_dir = str(tmp_path / "sinks")
    manifest = ManifestStore(str(tmp_path / "manifest"))
    run_ts = "2025-06-04 01:00:00"
    # simulate a crash after the first route: run only route 1 committed
    res1 = run_pipeline(
        spark, transcripts, ROUTES[:1], out_dir, run_ts=run_ts, manifest=manifest
    )
    assert res1.skipped == []
    # full re-run with same run_ts: route 1 skipped, others executed
    res2 = run_pipeline(spark, transcripts, ROUTES, out_dir, run_ts=run_ts, manifest=manifest)
    assert res2.skipped == ["sec-alerts"]
    assert set(res2.counts) == {"sec-alerts", "chat-archive", "auth-audit"}
    # idempotence: third run skips everything, counts unchanged
    res3 = run_pipeline(spark, transcripts, ROUTES, out_dir, run_ts=run_ts, manifest=manifest)
    assert sorted(res3.skipped) == sorted(res2.counts)
    assert res3.counts == res2.counts
    # no duplicate rows in any sink after re-runs
    for rid, sink in res3.sinks.items():
        back = spark.read.parquet(sink)
        assert back.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0


def test_two_ticks_accumulate_in_shared_sinks(spark, transcripts, tmp_path):
    """Tick-loop semantics: each run lands in its own run_ts partition; a later
    tick must never clobber an earlier tick's rows (reference accumulates one
    object per poll, destination/gcs/client.go:42-54)."""
    out_dir = str(tmp_path / "sinks")
    manifest = ManifestStore(str(tmp_path / "manifest"))
    route = [RouteConfig("all-rows", predicate="true")]
    # disjoint 6h windows ending at two consecutive tick times
    ticks = ["2025-06-01 06:00:00", "2025-06-01 12:00:00"]
    counts = {}
    for run_ts in ticks:
        res = run_pipeline(
            spark, transcripts, route, out_dir,
            run_ts=run_ts, window="6 hours", manifest=manifest,
        )
        counts[run_ts] = res.counts["all-rows"]
    assert all(c > 0 for c in counts.values())
    back = spark.read.parquet(f"{out_dir}/all-rows")
    # both ticks' partitions survive, no loss and no duplication
    per_run = {r.run_ts: r.n for r in back.groupBy("run_ts").agg(F.count("*").alias("n")).collect()}
    assert per_run == {
        "2025-06-01T06-00-00": counts[ticks[0]],
        "2025-06-01T12-00-00": counts[ticks[1]],
    }
    # re-running tick 1 WITHOUT the manifest (simulated retry after lost
    # manifest) overwrites only its own run_ts partitions — still no dup
    run_pipeline(spark, transcripts, route, out_dir, run_ts=ticks[0], window="6 hours")
    back2 = spark.read.parquet(f"{out_dir}/all-rows")
    assert back2.count() == sum(counts.values())


def test_parallel_routes_match_sequential(spark, transcripts, tmp_path):
    seq = run_pipeline(
        spark, transcripts, ROUTES, str(tmp_path / "seq"),
        run_ts="2025-06-04 00:00:00",
        manifest=ManifestStore(str(tmp_path / "m_seq")),
    )
    par = run_pipeline(
        spark, transcripts, ROUTES, str(tmp_path / "par"),
        run_ts="2025-06-04 00:00:00",
        manifest=ManifestStore(str(tmp_path / "m_par")),
        max_parallel_routes=3,
    )
    assert par.counts == seq.counts
    for rid in par.counts:
        a = spark.read.parquet(par.sinks[rid]).drop("run_ts")
        b = spark.read.parquet(seq.sinks[rid]).drop("run_ts")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # manifests recorded the same counts + consistent lineage
    m = ManifestStore(str(tmp_path / "m_par"))
    for rid, n in par.counts.items():
        rec = m.load("2025-06-04 00:00:00", rid)
        assert rec.committed and sum(p["row_count"] for p in rec.partitions) == n


def test_lineage_single_pass_reads_cache(spark, transcripts):
    """The lineage pass must read the persisted ordered frame (InMemory scan),
    not recompute the filter+shuffle+sort a second time."""
    from hatchery_spark.lineage import partition_metrics
    from hatchery_spark.router import ordered_for_sink, route_matches

    matched = ordered_for_sink(route_matches(
        prepare(transcripts, service_catalog_df(spark)), ROUTES[0]
    )).persist()
    try:
        matched.count()  # populate cache (stands in for the write action)
        plan = partition_metrics(matched)._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan, plan
    finally:
        matched.unpersist()


def test_window_filter_applied(spark, transcripts):
    res_df = prepare(
        transcripts,
        service_catalog_df(spark),
        run_ts="2025-06-02 00:00:00",
        window="6 hours",
    )
    mn, mx = res_df.agg(F.min("ts"), F.max("ts")).first()
    assert str(mn) >= "2025-06-01 18:00:00"
    assert str(mx) <= "2025-06-02 00:00:00"


def test_gorilla_bucket_table(spark):
    import datetime

    from hatchery_spark.operators.telemetry import gorilla_ts_bits

    base = datetime.datetime(2024, 5, 1)
    # stream: constant 10s cadence (dod=0), one +30s wobble (7-bit), one
    # +300s gap (9-bit dod=270 then -270), one big jump (32-bit)
    offs = [0, 10, 20, 30, 60, 70, 80, 380, 390, 100000]
    rows = [
        ("c1", i, "user", "t", "x", base + datetime.timedelta(seconds=o))
        for i, o in enumerate(offs)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    r = gorilla_ts_bits(df).collect()[0]
    assert r.n_points == 10 and r.raw_bits == 640
    # deltas: -,10,10,10,30,10,10,300,10,99610
    # dods:   -, 10,0,0,20,-20,0, 290,-290 (→16-bit bucket), 99600 (→36)
    assert (r.n_zero, r.n_7bit, r.n_9bit, r.n_12bit, r.n_32bit) == (3, 3, 0, 2, 1)
    assert r.total_bits == 64 + 3 * 1 + 3 * 9 + 2 * 16 + 36
    assert r.permille == r.total_bits * 1000 // 640


def test_lineage_mismatch_raises_and_leaves_route_uncommitted(
    spark, transcripts, tmp_path, monkeypatch
):
    """Lineage that disagrees with the count observed on the write raises
    LineageParityError, and the route is not acked in the manifest."""
    import hatchery_spark.pipeline as pipeline
    from hatchery_spark.pipeline import LineageParityError

    real = pipeline.partition_metrics

    def drop_biggest_partition(df):
        return real(df).orderBy(F.desc("row_count")).offset(1)

    monkeypatch.setattr(pipeline, "partition_metrics", drop_biggest_partition)
    manifest = ManifestStore(str(tmp_path / "manifest"))
    run_ts = "2025-06-04 02:00:00"
    with pytest.raises(LineageParityError):
        run_pipeline(
            spark, transcripts, ROUTES[:1], str(tmp_path / "sinks"),
            run_ts=run_ts, manifest=manifest,
        )
    assert not manifest.is_committed(run_ts, ROUTES[0].route_id)
    assert manifest.all_records() == []


def test_unreadable_manifest_file_reruns_the_route(spark, transcripts, tmp_path):
    """A truncated manifest file counts as uncommitted: the next tick re-runs
    that route, commits it, and its sink holds each row once."""
    out_dir = str(tmp_path / "sinks")
    manifest = ManifestStore(str(tmp_path / "manifest"))
    run_ts = "2025-06-04 03:00:00"
    first = run_pipeline(spark, transcripts, ROUTES, out_dir, run_ts=run_ts, manifest=manifest)
    torn = ROUTES[1].route_id
    with open(manifest._path(run_ts, torn), "w") as f:
        f.write("{")
    assert not manifest.is_committed(run_ts, torn)
    assert manifest.load(run_ts, torn) is None
    assert {r.route_id for r in manifest.all_records()} == set(first.counts) - {torn}

    again = run_pipeline(spark, transcripts, ROUTES, out_dir, run_ts=run_ts, manifest=manifest)
    assert sorted(again.skipped) == sorted(set(first.counts) - {torn})
    assert again.counts == first.counts
    assert manifest.is_committed(run_ts, torn)
    back = spark.read.parquet(again.sinks[torn])
    assert back.count() == first.counts[torn]
    assert back.groupBy("conv_id", "turn_idx").count().filter("count > 1").isEmpty()


def _persisted_route_frame(spark, transcripts):
    from hatchery_spark.router import ordered_for_sink, route_matches

    matched = ordered_for_sink(route_matches(
        prepare(transcripts, service_catalog_df(spark)), ROUTES[0]
    )).persist()
    matched.count()  # populate cache (stands in for the write action)
    return matched


def _python_partition_summary(df):
    """Per route with rows in each partition of `df`, the lineage row built in
    plain Python, sorted by (route_id, partition_id)."""

    def summarize(pid, rows):
        by_route = {}
        for r in rows:
            by_route.setdefault(r["route_id"], []).append(r)
        for route_id, group in by_route.items():
            yield {
                "route_id": route_id,
                "partition_id": pid,
                "row_count": len(group),
                **{
                    f"{agg.__name__}_{c}": agg(r[c] for r in group)
                    for c in ("conv_id", "turn_idx", "ts")
                    for agg in (min, max)
                },
            }

    parts = df.rdd.mapPartitionsWithIndex(summarize).collect()
    return sorted(parts, key=lambda p: (p["route_id"], p["partition_id"]))


def test_partition_metrics_equal_python_summary(spark, transcripts):
    from hatchery_spark.lineage import partition_metrics

    matched = _persisted_route_frame(spark, transcripts)
    try:
        got = [r.asDict() for r in partition_metrics(matched).collect()]
        assert got == _python_partition_summary(matched)
        assert sum(p["row_count"] for p in got) == matched.count()
    finally:
        matched.unpersist()


def test_partition_metrics_plan_runs_no_python(spark, transcripts):
    """Lineage is a native aggregate: no Python worker in its plan."""
    from hatchery_spark.lineage import partition_metrics

    matched = _persisted_route_frame(spark, transcripts)
    try:
        metrics = partition_metrics(matched)
        metrics.collect()
        plan = metrics._jdf.queryExecution().executedPlan().toString()
        for node in ("MapInPandas", "PythonUDF", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, plan
    finally:
        matched.unpersist()


def test_partition_metrics_skip_empty_partitions(spark, transcripts):
    """A partition that holds no rows gets no lineage row (its write task
    lands no file), so no `row_count: 0` record reaches the manifest."""
    from hatchery_spark.lineage import partition_metrics

    two_convs = transcripts.where(F.col("conv_id").isin(
        [r.conv_id for r in transcripts.select("conv_id").distinct().limit(2).collect()]
    ))
    df = two_convs.repartition(6, "conv_id").withColumn("route_id", F.lit("r")).persist()
    try:
        sizes = df.rdd.glom().map(len).collect()
        assert 0 in sizes
        got = [r.asDict() for r in partition_metrics(df).collect()]
        assert [p["partition_id"] for p in got] == [i for i, n in enumerate(sizes) if n]
        assert [p["row_count"] for p in got] == [n for n in sizes if n]
    finally:
        df.unpersist()


def test_partition_metrics_keyed_by_route_over_routed_union(spark, transcripts):
    """Over a multi-route routed frame, the one lineage aggregate gives each
    route's rows per partition, equal to a plain-Python summary."""
    from hatchery_spark.lineage import partition_metrics
    from hatchery_spark.router import ordered_for_sink

    routed = ordered_for_sink(_spark_routed(spark, transcripts)).persist()
    try:
        routed.count()
        got = [r.asDict() for r in partition_metrics(routed).collect()]
        assert got == _python_partition_summary(routed)
        assert {p["route_id"] for p in got} == {r.route_id for r in ROUTES}
    finally:
        routed.unpersist()


def test_each_added_route_costs_one_job(spark, transcripts, tmp_path):
    """The routed frame is shuffled, persisted and summarised once per tick,
    so a route adds only its write job."""
    sc = spark.sparkContext

    def jobs(routes):
        group = f"route-jobs-{len(routes)}"
        sc.setJobGroup(group, group)
        try:
            run_pipeline(
                spark, transcripts, routes, str(tmp_path / group),
                run_ts="2025-06-04 04:00:00",
                manifest=ManifestStore(str(tmp_path / f"{group}-manifest")),
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(ROUTES) - jobs(ROUTES[:1]) == 2


def test_every_written_parquet_file_sorted_by_conv_turn(spark, transcripts, tmp_path):
    """Each file a tick writes, read on its own, is ordered by (conv_id,
    turn_idx): the route filter over the shared ordered frame keeps it."""
    import glob

    import pyarrow.parquet as pq

    res = run_pipeline(spark, transcripts, ROUTES, str(tmp_path / "sinks"),
                       run_ts="2025-06-04 05:00:00")
    files = [f for sink in res.sinks.values()
             for f in glob.glob(f"{sink}/**/*.parquet", recursive=True)]
    assert files
    for f in files:
        keys = list(zip(*pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pydict().values()))
        assert keys == sorted(keys), f


def test_manifest_file_uri_resumes_from_another_cwd(spark, tmp_path, monkeypatch):
    """A `file://` manifest root commits at its local path, so a resume from
    another working directory sees the record."""
    from hatchery_spark.lineage import RouteRunRecord

    root = tmp_path / "manifest"
    ManifestStore(root.as_uri()).commit(
        RouteRunRecord(run_ts="2025-06-04 06:00:00", route_id="r", sink_path="s", row_count=1)
    )
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    monkeypatch.chdir(elsewhere)
    assert ManifestStore(root.as_uri()).is_committed("2025-06-04 06:00:00", "r")
    assert ManifestStore(str(root)).is_committed("2025-06-04 06:00:00", "r")
