from pyspark.sql import functions as F

from hatchery_spark.datagen import service_catalog_df, transcripts_df
from hatchery_spark.enrich import enrich_turns
from hatchery_spark.parse import parse_turns


def test_hit_and_miss_semantics(spark):
    cat = service_catalog_df(spark)
    rows = [
        # tool/role in catalog, parsed severity present
        ("c1", 0, "user", "[error] actor=a action=b resource=c", "slack", "2025-01-01 00:00:00"),
        # tool in catalog, prose text → severity falls back to catalog default
        ("c1", 1, "system", "no audit here", "okta", "2025-01-01 00:00:01"),
        # tool NOT in catalog, prose → everything unknown
        ("c1", 2, "user", "no audit here", "shadowtool", "2025-01-01 00:00:02"),
        # null tool
        ("c1", 3, "user", "no audit here", None, "2025-01-01 00:00:03"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r.turn_idx: r for r in enrich_turns(parse_turns(df), cat).collect()}

    assert out[0].severity == "error" and out[0].service == "slack" and out[0].category == "chat"
    assert out[1].severity == "warn" and out[1].service == "okta"  # system default = warn
    assert out[2].severity == "unknown" and out[2].service == "unknown"
    assert out[3].severity == "unknown" and out[3].category == "unknown"


def test_plan_is_broadcast_hash_join(spark):
    # one enrich path: the catalog is always the broadcast build side
    cat = service_catalog_df(spark)
    df = transcripts_df(spark, 100)
    plan = enrich_turns(parse_turns(df), cat)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_enrich_submits_no_spark_job(spark):
    # building the enriched plan is lazy: no catalog collect() on the driver
    cat = service_catalog_df(spark)
    parsed = parse_turns(transcripts_df(spark, 100))
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("enrich-no-job", "enrich_turns must not run jobs")
    try:
        enriched = enrich_turns(parsed, cat)
        assert tracker.getJobIdsForGroup("enrich-no-job") == []
        # the tracker does see this group's jobs once an action runs
        assert enriched.count() == 100
        assert tracker.getJobIdsForGroup("enrich-no-job") != []
    finally:
        spark.sparkContext.setJobGroup(None, None)


def test_duplicate_and_null_catalog_keys_keep_left_join_semantics(spark):
    cat = spark.createDataFrame(
        [
            ("slack", "user", "slack-a", "chat", "info"),
            ("slack", "user", "slack-b", "chat", "warn"),  # duplicate key
            (None, "user", "ghost", "none", "critical"),  # NULL tool
            ("okta", None, "ghost", "none", "critical"),  # NULL role
        ],
        "tool string, role string, service string, category string, default_severity string",
    )
    rows = [
        ("c1", 0, "user", "no audit here", "slack", "2025-01-01 00:00:00"),
        ("c1", 1, "user", "no audit here", None, "2025-01-01 00:00:01"),
        ("c1", 2, None, "no audit here", "okta", "2025-01-01 00:00:02"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = enrich_turns(parse_turns(df), cat).collect()
    got = sorted((r.turn_idx, r.service, r.category, r.severity) for r in out)
    assert got == [
        # a duplicated key fans out: one row per catalog match
        (0, "slack-a", "chat", "info"),
        (0, "slack-b", "chat", "warn"),
        # NULL keys never match: the row flows through with fallbacks
        (1, "unknown", "unknown", "unknown"),
        (2, "unknown", "unknown", "unknown"),
    ]


def test_no_row_loss_or_dup(spark):
    df = transcripts_df(spark, 2000)
    out = enrich_turns(parse_turns(df), service_catalog_df(spark))
    assert out.count() == 2000
    assert out.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
