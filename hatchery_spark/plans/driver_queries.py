"""Driver-contract query catalog: (Spark DataFrame builder, DuckDB oracle SQL) pairs.

Every operator claimed in SURVEY.md §2 gets a named query here. The Spark side
exercises the real package code paths (parse_turns, enrich_turns, routed_union,
…); the oracle side is independent ANSI SQL over the same parquet views (the
driver pre-registers: region nation customer supplier part orders lineitem
events documents embeddings).

The transcripts input (BASELINE.json input_hint shape) is derived
deterministically from `events` (FIXTURES.md §6) with SQL that parses
identically in Spark (ANSI) and DuckDB, so both engines compute the exact same
table before the pipeline stages run on it.

Dialect rules kept throughout (verified by scripts/check_oracles.py):
  * no xxhash64 / date_format in oracle SQL (DuckDB lacks them) — strftime there
  * DuckDB regexp_replace needs the 'g' flag to replace all
  * floats are round()ed before they reach a hashed output column
  * every computed column is aliased identically on both sides
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hatchery_spark.config import RouteConfig, select_by_tag, select_routes
from hatchery_spark.enrich import enrich_turns
from hatchery_spark.functions.dedup import (
    exact_dedup,
    jaccard_verify,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from hatchery_spark.functions.similarity import cosine_topk, embedding_near_dup, lsh_topk
from hatchery_spark.functions.text import (
    fingerprint64,
    lang_id,
    punct_ratio,
    quality_score,
    schema_hint,
    sink_object_name,
    slug,
    stopword_ratio,
    token_count,
)
from hatchery_spark.parse import AUDIT_PATTERN, parse_turns
from hatchery_spark.router import routed_union, sink_counts
from hatchery_spark.timerange import ticks_df, window_filter

# ----------------------------------------------------------------------------
# transcripts derivation (neutral SQL — identical text runs in Spark and DuckDB)
# ----------------------------------------------------------------------------

TRANSCRIPTS_SQL = """
SELECT
  concat('conv-', cast(user_id AS string)) AS conv_id,
  cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS int) AS turn_idx,
  CASE event_type WHEN 'signup' THEN 'system' WHEN 'error' THEN 'tool'
       WHEN 'purchase' THEN 'assistant' ELSE 'user' END AS role,
  CASE WHEN event_id % 37 = 0 THEN
    concat('free form turn ', cast(event_id AS string), ' with no audit payload')
  ELSE
    concat('[',
      CASE WHEN value < 10 THEN 'debug' WHEN value < 50 THEN 'info'
           WHEN value < 100 THEN 'warn' WHEN value < 200 THEN 'error'
           ELSE 'critical' END,
      '] actor=user', cast(user_id AS string), '@example.com action=',
      event_type, '_event resource=doc:/r', cast(event_id % 1000 AS string),
      ' ip=10.0.', cast(user_id % 256 AS string), '.', cast(event_id % 256 AS string))
  END AS text,
  event_type AS tool,
  ts
FROM {events}
"""

# transcripts + the per-turn preference signal (events.value) — used by the
# DPO pair constructor; same text runs in Spark and DuckDB
TRANSCRIPTS_VALUE_SQL = TRANSCRIPTS_SQL.replace("  ts\nFROM", "  ts,\n  value\nFROM")
assert TRANSCRIPTS_VALUE_SQL != TRANSCRIPTS_SQL  # replacement anchor must hold

# service catalog for the events-derived transcripts ('view' absent → miss path)
EVENTS_CATALOG = [
    ("signup", "system", "identity", "idp", "warn"),
    ("click", "user", "webapp", "chat", "info"),
    ("purchase", "assistant", "billing", "commerce", "info"),
    ("error", "tool", "edr_agent", "edr", "debug"),
]
CATALOG_SCHEMA = "tool string, role string, service string, category string, default_severity string"

EVENT_ROUTES = [
    RouteConfig("evt-errors", tags=("security", "alerts"),
                predicate="severity IN ('error','critical')"),
    RouteConfig("evt-commerce", tags=("commerce",), predicate="category = 'commerce'"),
    RouteConfig("evt-auth", tags=("security", "audit"),
                predicate="action IN ('signup_event','click_event')"),
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events").createOrReplaceTempView("hs_events")
    return spark.sql(TRANSCRIPTS_SQL.format(events="hs_events"))


def events_catalog(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(EVENTS_CATALOG, schema=CATALOG_SCHEMA)


def enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enrich_turns(parse_turns(transcripts(spark, sf_dir)), events_catalog(spark))


# ----------------------------------------------------------------------------
# oracle CTE prefix shared by the pipeline queries
# ----------------------------------------------------------------------------

_CATALOG_VALUES = ", ".join(
    f"('{t}','{r}','{s}','{c}','{d}')" for t, r, s, c, d in EVENTS_CATALOG
)

ORACLE_PIPELINE_CTE = f"""
WITH transcripts AS ({TRANSCRIPTS_SQL.format(events="events")}),
parsed AS (
  SELECT conv_id, turn_idx, role, text, tool, ts,
    nullif(regexp_extract(text, '{AUDIT_PATTERN}', 2), '') AS actor,
    nullif(regexp_extract(text, '{AUDIT_PATTERN}', 3), '') AS action,
    nullif(regexp_extract(text, '{AUDIT_PATTERN}', 4), '') AS resource,
    nullif(regexp_extract(text, '{AUDIT_PATTERN}', 1), '') AS severity
  FROM transcripts
),
catalog AS (
  SELECT * FROM (VALUES {_CATALOG_VALUES})
    AS t(tool, role, service, category, default_severity)
),
enriched AS (
  SELECT p.tool, p.role, p.conv_id, p.turn_idx, p.text, p.ts,
         p.actor, p.action, p.resource,
         coalesce(p.severity, c.default_severity, 'unknown') AS severity,
         coalesce(c.service, 'unknown') AS service,
         coalesce(c.category, 'unknown') AS category
  FROM parsed p LEFT JOIN catalog c ON p.tool = c.tool AND p.role = c.role
),
routed AS (
  SELECT e.*, 'evt-errors' AS route_id FROM enriched e
    WHERE severity IN ('error','critical')
  UNION ALL
  SELECT e.*, 'evt-commerce' AS route_id FROM enriched e
    WHERE category = 'commerce'
  UNION ALL
  SELECT e.*, 'evt-auth' AS route_id FROM enriched e
    WHERE action IN ('signup_event','click_event')
)
"""


# ----------------------------------------------------------------------------
# pipeline queries (events-derived transcripts)
# ----------------------------------------------------------------------------

def q_transcripts_view(spark, sf_dir):
    return transcripts(spark, sf_dir)


def q_parse(spark, sf_dir):
    return parse_turns(transcripts(spark, sf_dir))


def q_parse_pandas(spark, sf_dir):
    """Same parse via the Arrow pandas_udf engine (north-star API surface)."""
    return parse_turns(transcripts(spark, sf_dir), engine="pandas")


def q_enrich(spark, sf_dir):
    return enriched(spark, sf_dir)


def q_route_fanout(spark, sf_dir):
    return routed_union(enriched(spark, sf_dir), EVENT_ROUTES)


def q_sink_counts(spark, sf_dir):
    return sink_counts(enriched(spark, sf_dir), EVENT_ROUTES)


def q_select_by_tag(spark, sf_dir):
    routes = select_routes(EVENT_ROUTES, [select_by_tag("security")])
    return routed_union(enriched(spark, sf_dir), routes)


def q_run_summary(spark, sf_dir):
    """Flagship: per-sink counts + ts bounds over the full fan-out."""
    return (
        routed_union(enriched(spark, sf_dir), EVENT_ROUTES)
        .groupBy("route_id")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
    )


def q_asof_last_event(spark, sf_dir):
    """As-of join: each turn enriched with the user's most recent event type."""
    from hatchery_spark.operators.joins import as_of_join
    from pyspark.sql import Window as W

    t = transcripts(spark, sf_dir).select("conv_id", "turn_idx", "ts")
    ev = load(spark, sf_dir, "events").select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("key"),
        "ts",
        "event_type",
        "event_id",
    )
    # dedupe exact (key, ts) collisions deterministically (max event_id wins)
    w = W.partitionBy("key", "ts").orderBy(F.desc("event_id"))
    ev1 = (
        ev.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn", "event_id")
    )
    out = as_of_join(
        t.withColumnRenamed("conv_id", "key"), ev1, "key", value_cols=["event_type"]
    )
    return out.select(
        F.col("key").alias("conv_id"), "turn_idx", F.col("event_type").alias("last_event_type")
    )


def q_asof_salted(spark, sf_dir):
    """Whale-key-salted as-of join: identical output to q_asof_last_event
    (same oracle) with the window split 8 ways per key."""
    from hatchery_spark.operators.joins import as_of_join
    from pyspark.sql import Window as W

    t = transcripts(spark, sf_dir).select("conv_id", "turn_idx", "ts")
    ev = load(spark, sf_dir, "events").select(
        F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("key"),
        "ts",
        "event_type",
        "event_id",
    )
    w = W.partitionBy("key", "ts").orderBy(F.desc("event_id"))
    ev1 = (
        ev.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn", "event_id")
    )
    out = as_of_join(
        t.withColumnRenamed("conv_id", "key"), ev1, "key",
        value_cols=["event_type"], salt_buckets=8,
    )
    return out.select(
        F.col("key").alias("conv_id"), "turn_idx", F.col("event_type").alias("last_event_type")
    )


def q_range_join_windows(spark, sf_dir):
    """Range join: events falling inside 90-minute windows every 6 hours."""
    from hatchery_spark.operators.joins import range_join_binned
    from hatchery_spark.timerange import ticks_df

    ev = load(spark, sf_dir, "events").select("event_id", "ts")
    windows = ticks_df(spark, "2024-01-01 00:00:00", "2024-01-30 18:00:00", "6 hours").select(
        F.col("tick").alias("window_start"),
        (F.col("tick") + F.expr("interval 90 minutes")).alias("window_end"),
    )
    return range_join_binned(ev, windows).select("event_id", "window_start")


def q_multi_pattern_parse(spark, sf_dir):
    """Grok pattern-set parse: a second legacy layout is synthesized for half
    the prose rows, and the pattern set must pick up both formats."""
    from hatchery_spark.parse import multi_pattern_parse

    t = transcripts(spark, sf_dir)
    # rewrite some prose rows into the legacy 'sev= user= op= obj=' layout
    legacy = F.concat(
        F.lit("sev=info user=legacy"),
        F.col("conv_id"),
        F.lit(" op=migrated obj=archive:/x"),
    )
    t2 = t.withColumn(
        "text",
        F.when(
            ~F.col("text").startswith("[") & (F.col("turn_idx") % 2 == 0), legacy
        ).otherwise(F.col("text")),
    )
    return multi_pattern_parse(t2)


def q_quality_filter(spark, sf_dir):
    """Corpus quality gate: keep docs above a quality floor in allowed langs."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "lang",
            quality_score(F.col("text")).alias("quality"),
        )
        .filter((F.col("quality") >= 0.5) & F.col("lang").isin("en", "de", "es"))
    )


def q_conv_stats(spark, sf_dir):
    """Per-conversation rollup over the transcripts payload (agent-transcript
    analytics: turns, span, distinct tools, error turns)."""
    t = parse_turns(transcripts(spark, sf_dir))
    return t.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.max("turn_idx").alias("max_turn_idx"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.countDistinct("tool").alias("n_tools"),
        F.sum(
            F.when(F.col("severity").isin("error", "critical"), 1).otherwise(0)
        ).alias("n_error_turns"),
    )


def q_conv_reconstruct(spark, sf_dir):
    """Rebuild full conversation text in turn order (ordered aggregation) —
    the canonical transcripts materialization for training-data export."""
    t = transcripts(spark, sf_dir)
    ordered_turns = F.array_sort(F.collect_list(F.struct("turn_idx", "text")))
    return t.groupBy("conv_id").agg(
        F.concat_ws("\n", F.transform(ordered_turns, lambda s: s.text)).alias("conv_text"),
        F.count(F.lit(1)).alias("n_turns"),
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization: new session when >30 min idle per user."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in parquet; unix_micros wants TIMESTAMP — session TZ
    # is UTC so the cast is a pure reinterpretation, matching DuckDB epoch_us
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = us - F.lag(us).over(w)
    is_new = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    return ev.select(
        "user_id",
        "event_id",
        F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, 0)).alias("session_id"),
    )


def q_bpe_tokens(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    from hatchery_spark.functions.text import bpe_ish_token_count

    return docs.select("doc_id", bpe_ish_token_count(F.col("text")).alias("n_pieces"))


def q_time_window(spark, sf_dir):
    return window_filter(
        transcripts(spark, sf_dir), "2024-01-15 00:00:00", "24 hours"
    ).select("conv_id", "turn_idx", "ts")


def q_ticks(spark, sf_dir):
    return ticks_df(spark, "2024-01-01 00:00:00", "2024-01-02 00:00:00", "6 hours")


def q_cursor_extract(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("cursor_k"),
    )


def q_schema_hint(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    path = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("data/x/"), F.col("source")))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("fdrv2/x/"), F.col("source")))
        .otherwise(F.concat(F.lit("raw/x/"), F.col("source")))
    )
    return docs.select(
        "doc_id", path.alias("path"), schema_hint(path).alias("hint")
    )


def q_slug(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", slug(F.col("text")).alias("slug"))


def q_sink_names(spark, sf_dir):
    t = transcripts(spark, sf_dir)
    return t.select(
        "conv_id",
        "turn_idx",
        sink_object_name(
            "logs/", F.col("tool"), F.col("ts"), slug(F.col("text")), F.col("turn_idx")
        ).alias("object_name"),
    )


def q_sink_names_custom(spark, sf_dir):
    """Pluggable ObjNameFunc analog (destination/gcs/client.go:40): a
    user-supplied (hint, ts, slug, seq) → Column replaces the default layout."""

    def flat_namer(hint, ts, slug_col, seq):
        return F.concat_ws(
            "-", hint, F.date_format(ts, "yyyyMMddHH"), slug_col, seq.cast("string")
        )

    t = transcripts(spark, sf_dir)
    return t.select(
        "conv_id",
        "turn_idx",
        sink_object_name(
            "ignored/", F.col("tool"), F.col("ts"), slug(F.col("text")),
            F.col("turn_idx"), name_fn=flat_namer,
        ).alias("object_name"),
    )


# ----------------------------------------------------------------------------
# generic relational coverage (TPC-H-ish tables)
# ----------------------------------------------------------------------------

def q_agg_pricing(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_join_segment_revenue(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_window_first_events(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn")
    )


def q_topk_users(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.col("user_id"))
        .limit(10)
    )


def q_setop_purchasers_no_error(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    purchasers = ev.filter("event_type = 'purchase'").select("user_id").distinct()
    error_users = ev.filter("event_type = 'error'").select("user_id").distinct()
    return purchasers.exceptAll(error_users)


def q_distinct_event_days(spark, sf_dir):
    # dates travel as strings: DuckDB DATE and Spark DATE render differently
    # through pandas, which would false-negative the driver's value hash
    ev = load(spark, sf_dir, "events")
    return ev.select(F.date_format("ts", "yyyy-MM-dd").alias("d")).distinct()


def q_rollup_pricing(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_cube_events(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.cube("event_type", F.date_format("ts", "yyyy-MM-dd").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )


def q_grouping_sets(spark, sf_dir):
    load(spark, sf_dir, "events").createOrReplaceTempView("hs_ev_gs")
    return spark.sql(
        """SELECT event_type, cast(user_id % 10 AS int) AS bucket, count(*) AS n
           FROM hs_ev_gs
           GROUP BY GROUPING SETS ((event_type), (bucket), (event_type, bucket))"""
    )


def q_intersect_users(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    clickers = ev.filter("event_type = 'click'").select("user_id").distinct()
    purchasers = ev.filter("event_type = 'purchase'").select("user_id").distinct()
    return clickers.intersect(purchasers)


def q_semi_join_customers(spark, sf_dir):
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


def q_anti_join_customers(spark, sf_dir):
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q_pivot_user_events(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view", "purchase", "signup", "error"])
    )


def q_string_funcs(spark, sf_dir):
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.lpad("p_type", 20, "_").alias("padded"),
        F.substring("p_name", 2, 5).alias("sub"),
        F.replace(F.col("p_name"), F.lit("a"), F.lit("@")).alias("repl"),
        F.concat_ws("|", "p_brand", "p_type").alias("joined"),
        F.length("p_name").alias("len"),
        F.reverse(F.col("p_brand")).alias("rev"),
        F.trim(F.lit("  x  ")).alias("trimmed"),
    )


def q_datetime_funcs(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("trunc_h"),
        (F.unix_timestamp("ts")).alias("epoch_s"),
    )


def q_tfidf_topk(spark, sf_dir):
    from hatchery_spark.functions.corpus import tfidf_topk_terms

    return tfidf_topk_terms(load(spark, sf_dir, "documents"), k=3)


def q_char_entropy(spark, sf_dir):
    from hatchery_spark.functions.corpus import char_entropy

    return char_entropy(load(spark, sf_dir, "documents"))


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality: duplicate-line fraction + top-bigram
    fraction per doc (Rae et al., arXiv:2112.11446 §A1.1)."""
    from hatchery_spark.functions.corpus import repetition_stats

    return repetition_stats(load(spark, sf_dir, "documents"))


def q_array_funcs(spark, sf_dir):
    """Array-function breadth: HOF filter/transform + sort/slice over tokens."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.concat_ws("|", F.slice(F.array_sort(toks), 1, 3)).alias("first3_sorted"),
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).alias("n_long"),
        F.concat_ws("|", F.transform(F.slice(toks, 1, 2), F.upper)).alias("head_upper"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )


def q_map_funcs(spark, sf_dir):
    """Map-function usage: per-user event_type→count map, probed + sized.

    The oracle computes the same values relationally (filtered count +
    distinct count) — what validates is that Spark's map construction and
    probing produce the right numbers."""
    ev = load(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "n")))
        ).alias("type_counts")
    )
    return m.select(
        "user_id",
        F.coalesce(F.element_at("type_counts", "click"), F.lit(0)).alias("clicks"),
        F.size("type_counts").alias("n_types"),
    )


def q_math_funcs(spark, sf_dir):
    """Math-function breadth over lineitem (rounded for cross-engine parity)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_quantity"), 4).alias("sqrt_qty"),
        F.round(F.log(F.col("l_extendedprice")), 4).alias("ln_price"),
        F.round(F.pow("l_discount", 2), 6).alias("disc_sq"),
        F.ceil("l_quantity").cast("bigint").alias("qty_ceil"),
        F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
        F.pmod(F.col("l_linenumber"), F.lit(3)).cast("int").alias("ln_mod"),
    )


def q_from_json_decode(spark, sf_dir):
    """Structured-message decode (O14): schema-full from_json over the props
    JSON column plus a synthesized envelope — the reference's fdrMessage
    decode (/root/reference/source/falcon_data_replicator/client.go:150-170)
    as a typed struct projection instead of per-record unmarshal."""
    ev = load(spark, sf_dir, "events")
    envelope = F.concat(
        F.lit('{"kind": "'), F.col("event_type"),
        F.lit('", "uid": '), F.col("user_id").cast("string"),
        F.lit(', "inner": '), F.col("props"), F.lit("}"),
    )
    parsed = F.from_json(envelope, "kind string, uid bigint, inner struct<k: bigint>")
    return ev.select(
        "event_id",
        parsed["kind"].alias("kind"),
        parsed["uid"].alias("uid"),
        parsed["inner"]["k"].alias("k"),
    )


def q_unpivot(spark, sf_dir):
    """Unpivot/melt: wide metric columns → (metric, val) long form."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"
    ).unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="val",
    ).withColumn("val", F.round("val", 4))


def q_window_frames(spark, sf_dir):
    """Window breadth: lag/lead, ntile, and a ROWS-frame rolling sum."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rolling = w.rowsBetween(-2, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.lag("value", 1).over(w), 4).alias("prev_value"),
        F.round(F.lead("value", 1).over(w), 4).alias("next_value"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.sum("value").over(rolling), 4).alias("rolling3_sum"),
    )


def q_exists_subquery(spark, sf_dir):
    """Correlated EXISTS — planned as a left-semi join by Catalyst."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("hs_cust_ex")
    load(spark, sf_dir, "orders").createOrReplaceTempView("hs_ord_ex")
    return spark.sql(
        """SELECT c_custkey, c_name FROM hs_cust_ex c
           WHERE EXISTS (SELECT 1 FROM hs_ord_ex o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_totalprice > 200000)"""
    )


def q_scalar_subquery(spark, sf_dir):
    """Uncorrelated scalar subquery (threshold from max — exact, no float-sum
    order sensitivity between engines)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("hs_ord_sc")
    return spark.sql(
        """SELECT o_orderkey, round(o_totalprice, 2) AS total
           FROM hs_ord_sc
           WHERE o_totalprice >= (SELECT max(o_totalprice) FROM hs_ord_sc) * 0.8"""
    )


def q_lateral_topn(spark, sf_dir):
    """Correlated LATERAL subquery: each customer's priciest order (top-1)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("hs_cust_lat")
    load(spark, sf_dir, "orders").createOrReplaceTempView("hs_ord_lat")
    return spark.sql(
        """SELECT c.c_custkey, l.o_orderkey, l.total
           FROM hs_cust_lat c,
           LATERAL (SELECT o_orderkey, round(o_totalprice, 2) AS total
                    FROM hs_ord_lat o
                    WHERE o.o_custkey = c.c_custkey
                    ORDER BY o_totalprice DESC, o_orderkey
                    LIMIT 1) l"""
    )


def q_having_active_users(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 10)
    )


def q_percentiles(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.min("l_extendedprice"), 2).alias("mn"),
        F.round(F.max("l_extendedprice"), 2).alias("mx"),
    )


def q_error_burst(spark, sf_dir):
    """Grouped-agg pandas UDAF: longest error/critical run per conversation."""
    from hatchery_spark.functions.udx import conv_error_burst

    return conv_error_burst(parse_turns(transcripts(spark, sf_dir)))


def q_kv_explode(spark, sf_dir):
    """UDTF lateral explode of audit lines into (key, value) rows."""
    from hatchery_spark.functions.udx import ParseKVPairs

    spark.udtf.register("hs_parse_kv", ParseKVPairs)
    transcripts(spark, sf_dir).filter("turn_idx = 0").createOrReplaceTempView("hs_t0")
    return spark.sql(
        "SELECT t.conv_id, kv.key, kv.value FROM hs_t0 t, LATERAL hs_parse_kv(t.text) kv"
    )


def q_lineage_metrics(spark, sf_dir):
    """Per-partition lineage summary of the whole table as one route
    (rows-only: partition ids are physical)."""
    from hatchery_spark.lineage import partition_metrics

    return partition_metrics(transcripts(spark, sf_dir).withColumn("route_id", F.lit("all")))


# ----------------------------------------------------------------------------
# training-data ops (documents / embeddings)
# ----------------------------------------------------------------------------

def q_token_count(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


def q_text_quality(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        stopword_ratio(F.col("text")).alias("stop_ratio"),
        punct_ratio(F.col("text")).alias("punct_ratio"),
        quality_score(F.col("text")).alias("quality"),
    )


def q_lang_id(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_guess"))


def q_exact_dedup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "dup_count")


def q_exact_dedup_window(spark, sf_dir):
    """One-shuffle variant: row_number over the digest partition — must match
    the groupBy+rejoin form (and its oracle) exactly."""
    from hatchery_spark.functions.dedup import exact_dedup_window

    docs = load(spark, sf_dir, "documents")
    return exact_dedup_window(docs).select("doc_id", "dup_count")


def q_incremental_dedup(spark, sf_dir):
    """Snapshot-over-snapshot ingestion: even-id docs are the prior corpus
    (digest store), odd-id docs are the new batch; novel = first-in-batch AND
    digest-unseen. Only digests join — the history never ships text."""
    from hatchery_spark.functions.dedup import digest_store, incremental_exact_dedup

    docs = load(spark, sf_dir, "documents")
    seen = digest_store(docs.filter(F.col("doc_id") % 2 == 0))
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    novel, _updated = incremental_exact_dedup(batch, seen)
    return novel.select("doc_id", "dup_count")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 17 == 0 play the eval
    suite; every other doc is training data, flagged when it shares any word
    5-gram with the benchmark set (broadcast gram-hash join)."""
    from hatchery_spark.functions.dedup import ngram_decontaminate

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    train = docs.filter(F.col("doc_id") % 17 != 0)
    return ngram_decontaminate(train, bench, n=5)


def q_boilerplate_removal(spark, sf_dir):
    """Corpus-level boilerplate line removal over synthetic multi-line pages:
    5 consecutive docs per page (order-preserving concat), a nav banner
    injected on even pages and a copyright footer on page_id % 3 == 0 —
    both cross the min_docs=10 corpus frequency bar and are stripped while
    every (unique) body line survives in order."""
    from hatchery_spark.functions.corpus import remove_boilerplate_lines

    docs = load(spark, sf_dir, "documents")
    pages = (
        docs.select(
            F.floor(F.col("doc_id") / 5).cast("long").alias("page_id"),
            "doc_id",
            "text",
        )
        .groupBy("page_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("text")
        )
    )
    pid = F.col("page_id")
    t = F.when(
        pid % 2 == 0, F.concat(F.lit("NAV HOME ABOUT CONTACT\n"), F.col("text"))
    ).otherwise(F.col("text"))
    pages = pages.select(pid, t.alias("text"))
    t = F.when(
        pid % 3 == 0,
        F.concat(F.col("text"), F.lit("\n(c) example corp all rights reserved")),
    ).otherwise(F.col("text"))
    pages = pages.select(pid, t.alias("text"))
    return remove_boilerplate_lines(pages, id_col="page_id", min_docs=10)


def q_funnel(spark, sf_dir):
    """signup → click → purchase funnel, greedy earliest-match per user."""
    from hatchery_spark.operators.telemetry import funnel_steps

    ev = load(spark, sf_dir, "events")
    return funnel_steps(ev, ["signup", "click", "purchase"])


def q_funnel_single_scan(spark, sf_dir):
    """The one-shuffle funnel variant under the SAME oracle as
    pipeline_funnel — the driver gate proves the two forms equivalent.
    Benched at sf0.1: 0.31s vs the k-scan's 0.38s (and 0.29 vs 0.55 at
    sf0.01) — the winner for small step counts."""
    from hatchery_spark.operators.telemetry import funnel_steps_single_scan

    ev = load(spark, sf_dir, "events")
    return funnel_steps_single_scan(ev, ["signup", "click", "purchase"])


def q_retention(spark, sf_dir):
    """Day-N retention matrix over first-seen cohorts. cohort_date rides
    as an ISO string: pandas renders an engine DATE as midnight datetime,
    which would string-mismatch an actual date."""
    from hatchery_spark.operators.telemetry import retention_cohorts

    r = retention_cohorts(load(spark, sf_dir, "events"))
    return r.select(
        F.date_format("cohort_date", "yyyy-MM-dd").alias("cohort_date"),
        "day_offset",
        "n_users",
        "cohort_size",
        "retention",
    )


def q_vocab_topk(spark, sf_dir):
    """Top-50 corpus vocabulary with totals and doc frequency."""
    from hatchery_spark.functions.corpus import vocab_topk

    return vocab_topk(load(spark, sf_dir, "documents"), k=50)


def q_rate_cap(spark, sf_dir):
    """Per-(user, day) flow control: first 3 events by (ts, event_id)."""
    from hatchery_spark.operators.telemetry import rate_cap

    ev = load(spark, sf_dir, "events")
    return rate_cap(
        ev, ["user_id"], ts_col="ts", bucket="day", max_rows=3,
        tiebreak_col="event_id",
    ).select("event_id", "user_id", "rate_rank")


def q_group_zscores(spark, sf_dir):
    """Per-user z-score of event value (NULL for degenerate groups)."""
    from hatchery_spark.operators.telemetry import group_zscores

    ev = load(spark, sf_dir, "events")
    return group_zscores(ev, "value", ["user_id"]).select(
        "event_id", "user_id", "zscore"
    )


def q_curation_e2e(spark, sf_dir):
    """The full curation chain composed end-to-end: NFC normalize → exact
    dedup on the normalized text (min doc_id survives) → length filter
    (≥ 30 tokens) → per-source mixture sample → overlapping chunking.
    One DataFrame lineage — proves the operators compose; the oracle
    replays every stage in SQL."""
    from hatchery_spark.functions.corpus import chunk_documents
    from hatchery_spark.functions.dedup import exact_dedup_window
    from hatchery_spark.functions.sampling import mixture_sample
    from hatchery_spark.functions.text import make_normalize_udf

    norm = make_normalize_udf()
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", norm(F.col("text")).alias("text")
    )
    deduped = exact_dedup_window(docs).select("doc_id", "source", "text")
    long_enough = deduped.filter(
        F.size(F.split(F.col("text"), r"\s+")) >= 30
    )
    sampled = mixture_sample(
        long_enough, {"src0": 1.0, "src1": 1.0}, default_rate=0.3
    )
    chunks = chunk_documents(sampled, chunk_tokens=32, overlap=8)
    return chunks.join(
        sampled.select("doc_id", "source"), "doc_id"
    ).select(
        "doc_id",
        "source",
        "chunk_idx",
        F.md5("chunk_text").alias("chunk_digest"),
        "n_tokens",
    )


def q_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (window 32, overlap 8): ~55-token
    docs yield 2-3 chunks each."""
    from hatchery_spark.functions.corpus import chunk_documents

    docs = load(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


def q_json_tolerant(spark, sf_dir):
    """Error-tolerant JSON decode: every 7th payload truncated mid-object —
    a corruption class Spark's Jackson and DuckDB's json_valid agree on —
    parsed without task failure, status counted per row."""
    from hatchery_spark.parse import tolerant_json_parse

    ev = load(spark, sf_dir, "events")
    j = F.when(
        F.col("event_id") % 7 == 0, F.substring("props", 1, 5)
    ).otherwise(F.col("props"))
    out = tolerant_json_parse(
        ev.select("event_id", j.alias("payload")), "payload", "k bigint"
    )
    return out.select("event_id", "k", "json_status")


def q_normalize_text(spark, sf_dir):
    """Unicode normalization gate: a decomposed 'Cafe<U+0301>' prefix and a
    tab suffix are injected so NFC composition, lowering, and whitespace
    collapse all do real work that DuckDB replays byte-for-byte."""
    from hatchery_spark.functions.text import make_normalize_udf

    docs = load(spark, sf_dir, "documents")
    norm = make_normalize_udf()
    t = F.concat(F.lit("Cafe\u0301  "), F.col("text"), F.lit("\tEND"))
    return docs.select("doc_id", norm(t).alias("norm_text"))


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) fingerprints, md5-ordered so DuckDB replays the
    exact window-minimum selection."""
    from hatchery_spark.functions.text import winnow_fingerprints

    docs = load(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=5, window=4)


def q_profile_columns(spark, sf_dir):
    """One-pass column profile of the documents table (exact NDV via the
    Expand plan; approx_count_distinct is the 100-TB default)."""
    from hatchery_spark.functions.profile import profile_columns

    return profile_columns(load(spark, sf_dir, "documents"))


def q_sample_rate(spark, sf_dir):
    """Deterministic md5-prefix sampling — same rows at any cluster size."""
    from hatchery_spark.functions.sampling import deterministic_sample

    docs = load(spark, sf_dir, "documents")
    return deterministic_sample(docs, 0.25).select("doc_id")


def q_mixture_sample(spark, sf_dir):
    """Per-source mixture weights: src0 kept whole, src1 half, src2 quarter,
    everything else at 10%."""
    from hatchery_spark.functions.sampling import mixture_sample

    docs = load(spark, sf_dir, "documents")
    return mixture_sample(
        docs, {"src0": 1.0, "src1": 0.5, "src2": 0.25}, default_rate=0.1
    ).select("doc_id", "source")


def q_stratified_sample(spark, sf_dir):
    """Per-source quota sample (first 20 of each source in md5 order)."""
    from hatchery_spark.functions.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents")
    return stratified_sample(docs, "source", 20).select(
        "doc_id", "source", "sample_rank"
    )


def q_gopher_filter(spark, sf_dir):
    """Gopher-rule composite quality gate (word/line-shape signals + per-rule
    booleans + conjunctive keep), one Arrow pass per doc; thresholds loosened
    from the 50-word floor so both verdicts appear on the short synthetic
    docs."""
    from hatchery_spark.functions.corpus import gopher_filter

    docs = load(spark, sf_dir, "documents")
    return gopher_filter(docs, min_words=20, min_mean_word_len=2.0, min_stopwords=1)


def q_line_dedup(spark, sf_dir):
    """Cross-corpus first-occurrence line dedup (CCNet shape): each line
    survives once globally; documents rebuilt in original line order."""
    from hatchery_spark.functions.dedup import dedup_lines_first_occurrence

    docs = load(spark, sf_dir, "documents")
    return dedup_lines_first_occurrence(docs)


def q_temperature_sample(spark, sf_dir):
    """Temperature-based mixture: per-lang rates ∝ n^0.5 (XLM-R style domain
    balancing), target 30% of the corpus; rates computed from the data and
    broadcast back; md5-keyed deterministic selection."""
    from hatchery_spark.functions.sampling import temperature_sample

    docs = load(spark, sf_dir, "documents")
    return temperature_sample(
        docs, alpha=0.5, target_frac=0.3, source_col="lang"
    ).select("doc_id", "lang", "rate")


def q_token_temperature_sample(spark, sf_dir):
    """Token-mass temperature mixture: per-lang rates ∝ T_s^0.5 where T_s is
    the source's whitespace-token mass — the budget a training run actually
    consumes. Same md5-keyed deterministic selection."""
    from hatchery_spark.functions.sampling import temperature_sample

    docs = load(spark, sf_dir, "documents")
    w = F.size(F.split(F.col("text"), r"[ \t\n\f\r\x0b]+"))
    return temperature_sample(
        docs, alpha=0.5, target_frac=0.3, source_col="lang", weight=w
    ).select("doc_id", "lang", "rate")


def q_sft_render(spark, sf_dir):
    """Transcripts → SFT training documents: one rendered ChatML-style doc
    per conversation with 0-based [start,end) character loss-mask spans over
    assistant turns — the terminal assembly step of a transcripts→training
    pipeline. One conv_id exchange serves both the offset window and the
    final aggregate."""
    from hatchery_spark.operators.sft import render_sft_documents

    return render_sft_documents(transcripts(spark, sf_dir))


def q_nb_quality(spark, sf_dir):
    """GPT-3-style quality classifier: multinomial NB (add-one) trained with
    lang='en' as the reference class, scoring every doc. Vocabulary-bounded
    model frames broadcast; one corpus-sized per-doc aggregate."""
    from hatchery_spark.functions.corpus import nb_quality_score, nb_quality_train

    docs = load(spark, sf_dir, "documents")
    counts, stats = nb_quality_train(docs, F.col("lang") == "en")
    return nb_quality_score(docs, counts, stats).withColumn(
        "keep", F.col("nb_logit") > 0
    )


def q_dsir_select(spark, sf_dir):
    """DSIR data selection: hashed uni+bigram importance weights of non-en
    docs against the en target distribution, Gumbel top-40 resample (exact
    weighted sampling without replacement, deterministic via md5-derived
    noise)."""
    from hatchery_spark.functions.corpus import dsir_importance, dsir_resample

    docs = load(spark, sf_dir, "documents")
    w = dsir_importance(docs, F.col("lang") == "en", n_buckets=8192)
    return dsir_resample(w, docs, k=40)


def q_substring_dedup(spark, sf_dir):
    """ExactSubstr span dedup (Lee et al. 2107.06499): remove every char
    covered by a 20-gram occurring ≥2 times corpus-wide; per-doc island
    merge + ordered segment rebuild, all on one doc_id exchange."""
    from hatchery_spark.functions.dedup import remove_duplicate_substrings

    return remove_duplicate_substrings(load(spark, sf_dir, "documents"), k=20)


def q_substring_dedup_xx(spark, sf_dir):
    """ExactSubstr with the xxhash64 gram key: identical output to the md5
    form (the hash is internal to counting — this query shares the md5
    oracle, so the driver gate itself proves the equivalence) at ~1/4 the
    exchange width and no per-position hex-string allocation."""
    from hatchery_spark.functions.dedup import remove_duplicate_substrings

    return remove_duplicate_substrings(
        load(spark, sf_dir, "documents"), k=20, gram_hash="xxhash64"
    )


def q_substring_dedup_sa(spark, sf_dir):
    """ExactSubstr via shard-local VECTORIZED gram counting (the sorted
    k-gram-hash array is a depth-k suffix array — the paper's own scan
    shape): uint64 rolling hashes + np.unique counts inside mapInPandas,
    global ≥2 filter broadcast as one sorted array, island merge + rebuild
    entirely doc-local — no positional explode, no corpus-sized window.
    SHARES the md5-form oracle (hash-agnosticism the gate proves, as with
    the xxhash64 variant)."""
    from hatchery_spark.functions.dedup import remove_duplicate_substrings_fast

    return remove_duplicate_substrings_fast(load(spark, sf_dir, "documents"), k=20)


def q_substring_dedup_sa_within(spark, sf_dir):
    """Within-document fast form (scope='doc', k=10): counts AND excision in
    ONE mapInPandas pass — zero global state, zero shuffles. Shares the
    positional within-doc oracle."""
    from hatchery_spark.functions.dedup import remove_duplicate_substrings_fast

    return remove_duplicate_substrings_fast(
        load(spark, sf_dir, "documents"), k=10, scope="doc"
    )


def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 (Lucene idf) top-25 for a fixed query: one token explode
    feeds doc lengths + query-term tfs; query-sized frames broadcast;
    TakeOrderedAndProject k-cut."""
    from hatchery_spark.functions.corpus import bm25_topk

    return bm25_topk(
        load(spark, sf_dir, "documents"), "spark hash join window merge", k=25
    )


def q_k_anonymize(spark, sf_dir):
    """k-anonymity release gate over (lang, source): cohorts smaller than 25
    get both quasi values suppressed; cohort size + flag attached. Sentinel
    composite key so NULL quasi values cohort together."""
    from hatchery_spark.functions.text import k_anonymize

    return k_anonymize(
        load(spark, sf_dir, "documents"), ["lang", "source"], k=25
    ).select("doc_id", "lang", "source", "group_n", "suppressed")


def q_search_and(spark, sf_dir):
    """Conjunctive boolean retrieval over inverted postings: docs containing
    ALL of (spark, join, window), with summed tf. The term filter prunes
    the postings before the one doc-keyed aggregate (bucket-pruned when the
    index is materialized via write_bucketed_table); AND is expressed as
    HAVING count(distinct token) = n — no k-way self-join."""
    from hatchery_spark.functions.corpus import (
        inverted_postings,
        search_all_terms,
    )

    p = inverted_postings(load(spark, sf_dir, "documents"))
    return search_all_terms(p, ["spark", "join", "window"])


def q_substring_dedup_within(spark, sf_dir):
    """WITHIN-document repeated-span removal (scope="doc", k=10): excise
    every char covered by a 10-gram repeating inside the SAME document —
    the removal form of Gopher §A1.1's dup-ngram signals (scraper loops,
    keyword stuffing). Same positional machinery as the corpus form; the
    gram count keys on (doc, gram)."""
    from hatchery_spark.functions.dedup import remove_duplicate_substrings

    return remove_duplicate_substrings(
        load(spark, sf_dir, "documents"), k=10, scope="doc"
    )


def q_upsert_merge(spark, sf_dir):
    """MERGE INTO semantics on plain frames (sinks.merge_frames): updates
    replace matched keys (partial column set — untouched columns survive),
    new keys insert, flagged keys delete (the redaction primitive). One
    full-outer join with key-match-gated column replacement (an update CAN
    null a column); the update/insert/delete sets are derived
    deterministically from orders so the oracle replays them.
    The partition-pruned WRITE path (upsert_partitioned) is pytest-proven
    byte-identical on untouched partitions."""
    from hatchery_spark.sinks import merge_frames

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    key = F.col("o_orderkey")
    upd = o.filter(key % 97 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 2, 2).alias("o_totalprice"),
        F.lit(False).alias("_del"),
    )
    ins = o.filter(key % 181 == 0).select(
        (key + 10_000_000).alias("o_orderkey"),
        F.round(F.col("o_totalprice") / 2, 2).alias("o_totalprice"),
        F.lit(False).alias("_del"),
    )
    dels = o.filter((key % 131 == 0) & (key % 97 != 0)).select(
        "o_orderkey",
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(True).alias("_del"),
    )
    updates = upd.unionByName(ins).unionByName(dels)
    return merge_frames(o, updates, "o_orderkey", delete_col="_del")


def q_c4_clean(spark, sf_dir):
    """C4 line/page cleaning (Raffel 1910.10683 §2.2): terminal-punctuation
    + ≥5-word + no-javascript line filter, page flags for code braces,
    lorem ipsum, and <3 kept lines. ZERO shuffles — one narrow JVM HOF
    map (per-LINE interpreted lambda, a single Project over the scan);
    the oracle replays the same lambda in DuckDB list_filter."""
    from hatchery_spark.functions.corpus import c4_clean

    return c4_clean(load(spark, sf_dir, "documents"))


def q_unigram_tokens(spark, sf_dir):
    """Unigram-LM (SentencePiece, Kudo 1804.10959) per-doc token counts:
    train on the corpus (hard-EM + gradual prune; corpus touched once,
    EM rounds run on the distinct-word frame with the piece table in the
    UDF closure), then Viterbi-encode distinct words and rejoin. No SQL
    oracle — Viterbi DP is not reasonably SQL-expressible — so the driver
    records a rows-only check; correctness is pinned by sequential-
    reference parity in tests/test_unigram.py (the BPE pattern)."""
    from hatchery_spark.functions.corpus import (
        train_unigram,
        unigram_token_counts,
    )

    docs = load(spark, sf_dir, "documents")
    pieces = train_unigram(docs, vocab_size=80)
    return unigram_token_counts(docs, pieces)


def q_hybrid_topk(spark, sf_dir):
    """Hybrid BM25+dense retrieval fused with Reciprocal Rank Fusion
    (SIGIR'09): both rankers truncate to a 50-candidate pool (each ends in
    a TakeOrderedAndProject cut; the rank windows run on pool-sized frames,
    never corpus-sized), then a full-outer join of the two pools + the k-cut.
    Dense query = embedding of vec_id 0; lexical query shared with
    doc_bm25_topk."""
    from hatchery_spark.functions.corpus import hybrid_topk

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return hybrid_topk(
        docs, emb, "spark hash join window merge", qv, k=10, pool=50
    )


def q_group_split(spark, sf_dir):
    """Leakage-safe grouped train/val/test assignment over documents by
    source: every row of a source lands in one split (near-dups sharing a
    source can never straddle train/eval). Pure codegen'd md5-boundary
    expression — no shuffle, no group enumeration; oracle replays the hex
    decode positionally and the boundary floats from the same additions."""
    from hatchery_spark.functions.sampling import group_split

    docs = load(spark, sf_dir, "documents")
    return group_split(
        docs, "source", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="r4"
    ).select("doc_id", "source", "split")


def q_zorder(spark, sf_dir):
    """Z-order (Morton) clustering key over events(user_id, value): each
    column uniform-gridded to 1024 cells over its [min, max] (ONE broadcast
    single-row aggregate — the fact table never shuffles), cells
    bit-interleaved into one long via flat codegen'd shift terms. Closed-form
    arithmetic, replayed verbatim by the oracle. The write path
    (sinks.write_zordered) range-partitions this key so every parquet file
    carries tight min/max stats on BOTH columns at once;
    tests/test_zorder.py asserts the resulting file-skipping directly."""
    from hatchery_spark.sinks import zorder_values

    ev = load(spark, sf_dir, "events")
    return zorder_values(ev, ["user_id", "value"], bits=10).select(
        "event_id", F.col("_zvalue").alias("zvalue")
    )


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality gate: char-bigram model with add-one smoothing
    trained on the doc_id%10==0 reference slice, scoring every other doc in
    bits-per-char. Model frames are vocabulary-bounded and broadcast; the
    only shuffle is the per-doc aggregate."""
    from hatchery_spark.functions.corpus import char_lm_perplexity, char_lm_train

    docs = load(spark, sf_dir, "documents")
    counts, totals, v = char_lm_train(docs.filter(F.col("doc_id") % 10 == 0))
    return char_lm_perplexity(docs.filter(F.col("doc_id") % 10 != 0), counts, totals, v)


def q_shuffle_order(spark, sf_dir):
    """Deterministic global training shuffle: first 200 docs in
    md5('ep1' ‖ doc_id) order with their positions. The production path is
    shuffle_for_training's range-partition + in-partition sort (total order
    across output files with no single reducer — cross-partition ordering is
    pytest-asserted); this query value-checks the ORDER KEY itself, with the
    rank window running over the already-limited 200-row frame."""
    from pyspark.sql import Window
    from hatchery_spark.functions.sampling import shuffle_for_training

    docs = load(spark, sf_dir, "documents")
    top = (
        shuffle_for_training(docs, salt="ep1")
        .select("doc_id", F.col("_shuffle_key").alias("shuffle_key"))
        .orderBy("shuffle_key")
        .limit(200)
    )
    w = Window.orderBy("shuffle_key")
    return top.withColumn("pos", F.row_number().over(w).cast("int"))


def q_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing: greedy offset bins per source."""
    from hatchery_spark.functions.sampling import pack_sequences

    docs = load(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count(F.col("text"))
    )
    return pack_sequences(docs, budget=256).select(
        "doc_id", "source", "bin_offset", "bin_id"
    )


def q_redact_pii(spark, sf_dir):
    """Scrub emails/IPs/card-length digit runs from transcript turns."""
    from hatchery_spark.functions.text import redact_pii

    t = transcripts(spark, sf_dir)
    return t.select("conv_id", "turn_idx", redact_pii(F.col("text")).alias("redacted"))


def q_ngram_jaccard(spark, sf_dir):
    """Word 3-gram Jaccard over a deterministic pair list (consecutive ids)."""
    docs = load(spark, sf_dir, "documents")
    pairs = (
        docs.filter(F.col("doc_id") < 99)
        .select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
    )
    return ngram_jaccard_pairs(docs, pairs, n=3)


def q_fingerprint_buckets(spark, sf_dir):
    """64-bit fingerprint bucketing: per-doc bucket size must equal the
    exact-text group size (collision-free at corpus scale) — which is exactly
    what the oracle computes over `text`, making the hash path value-checkable
    without DuckDB having xxhash64."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy(fingerprint64(F.col("text")))
    return docs.select(
        "doc_id", F.count(F.lit(1)).over(w).cast("int").alias("bucket_size")
    )


def q_quantize_embeddings(spark, sf_dir):
    """Symmetric int8 quantization of the embeddings table (scale, qvec,
    per-vector reconstruction MSE). qvec rides as a comma-joined string —
    no gated query ships a raw array column (comparator portability)."""
    from hatchery_spark.functions.similarity import quantize_embeddings

    q = quantize_embeddings(load(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id", "scale", F.concat_ws(",", "qvec").alias("qvec"), "recon_mse"
    )


def q_embedding_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=5)


def q_quantized_topk(spark, sf_dir):
    """int8-scan + exact-rescore top-k; must equal brute force (shares
    emb_cosine_topk's oracle — the match proves the quantized scan loses
    nothing at a 4x-smaller read footprint)."""
    from hatchery_spark.functions.similarity import quantized_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return quantized_topk(emb, queries, k=5)


# value-checked vs brute-force ground truth (the approximate methods' params
# are chosen so recall is 1 on this data — verified by the oracle match itself;
# recall at realistic/selective params is asserted in tests/)

def _docs500(spark, sf_dir):
    """Deterministic 500-doc slice (predicate pushdown, not a LIMIT).

    Repartitioned so the sketch stages parallelize: the filtered slice
    otherwise arrives as ONE file partition and the (expensive) signature
    expressions run serially — a real corpus has many partitions, so this
    mirrors production shape. No semantic effect (order-insensitive results).
    """
    return load(spark, sf_dir, "documents").filter(F.col("doc_id") < 500).repartition(32)


def q_minhash_neardup(spark, sf_dir):
    """MinHash LSH near-dup pairs, exact-Jaccard-verified ≥ 0.5.

    bands=16 (2 rows/band): candidate-recall ≥ 1-(1-s²)^16 ≈ 1 for the s≥0.89
    near-dup pairs this corpus contains; output therefore equals the oracle's
    brute-force pair scan."""
    return minhash_dedup(_docs500(spark, sf_dir), threshold=0.5, bands=16)


def q_simhash_neardup(spark, sf_dir):
    """SimHash banded candidates → exact-Jaccard verify ≥ 0.5 (same ground
    truth as the minhash path, reached via a different sketch)."""
    docs = _docs500(spark, sf_dir)
    return jaccard_verify(simhash_candidates(docs), docs, threshold=0.5)


def q_cluster_representatives(spark, sf_dir):
    """Near-dup clusters → one representative per cluster: the longest
    member (n_chars), smallest id on ties; singletons represent
    themselves."""
    from hatchery_spark.functions.dedup import (
        cluster_representatives,
        resolve_duplicate_groups,
    )

    docs = _docs500(spark, sf_dir)
    pairs = minhash_dedup(docs, threshold=0.4, bands=16)
    resolved = resolve_duplicate_groups(pairs)
    return cluster_representatives(resolved, docs, "n_chars")


def q_dedup_resolve(spark, sf_dir):
    """Near-dup pairs → connected components → canonical id per member."""
    from hatchery_spark.functions.dedup import resolve_duplicate_groups

    pairs = minhash_dedup(_docs500(spark, sf_dir), threshold=0.4, bands=16)
    return resolve_duplicate_groups(pairs)


# --- embeddings: the raw table has no high-cosine pairs (max ≈ 0.51), so the
# ANN queries run over a corpus augmented with DETERMINISTIC perturbed copies
# (rotation-mix: e'[i] = e[i] + s·e[(i mod 64)+1]) — the same formula is
# computed by the DuckDB oracle, giving both engines identical true neighbors
# at graded cosines ≈ 0.995/0.981/0.958/0.928, far above the ≈0.51 noise floor.

def _emb_base(spark, sf_dir):
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _perturb(e, scale):
    """e'[i] = e[i] + scale · e[(i mod 64)+1] — neutral arithmetic that parses
    identically in Spark and DuckDB (same IEEE-double op order)."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(64)),
        lambda i: F.element_at(e, i) + scale * F.element_at(e, F.pmod(i, F.lit(64)) + 1),
    )


def _emb_augmented_queries(spark, sf_dir):
    """Corpus ∪ 4 graded perturbed variants of each query vector (ids 1000j+q)."""
    base = _emb_base(spark, sf_dir)
    variants = (
        base.filter(F.col("vec_id").isin(0, 1, 2))
        .select("vec_id", "embedding", F.explode(F.sequence(F.lit(1), F.lit(4))).alias("j"))
        .select(
            (F.col("j") * 1000 + F.col("vec_id")).alias("vec_id"),
            _perturb(F.col("embedding"), 0.1 * F.col("j")).alias("embedding"),
        )
    )
    return base.unionByName(variants)


def q_lsh_topk(spark, sf_dir):
    corpus = _emb_augmented_queries(spark, sf_dir)
    queries = _emb_base(spark, sf_dir).filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # bands=16×2 bits: per-pair recall ≈ 1 down to cosine ~0.9 — the graded
    # variants (≥0.928) are all caught; exact rerank then matches brute force
    return lsh_topk(corpus, queries, k=5, bands=16, band_bits=2)


def q_ivf_topk(spark, sf_dir):
    from hatchery_spark.functions.similarity import ivf_topk

    corpus = _emb_augmented_queries(spark, sf_dir)
    queries = _emb_base(spark, sf_dir).filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(corpus, queries, k=5, n_centroids=16, n_probe=4)


def q_semdedup(spark, sf_dir):
    """SemDeDup (cluster-then-prune semantic dedup): coarse k-means cells
    bound the candidate pairs, exact cosine verifies, components collapse to
    the min id. On the twin-augmented corpus every >=0.9 pair is
    near-parallel, so cluster-local pruning equals the global brute-force
    components the oracle computes."""
    from hatchery_spark.functions.similarity import semdedup

    base = _emb_base(spark, sf_dir).filter(F.col("vec_id") < 500)
    twins = base.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        _perturb(F.col("embedding"), F.lit(0.1)).alias("embedding"),
    )
    return semdedup(base.unionByName(twins), threshold=0.9, n_centroids=16)


def q_bpe_train(spark, sf_dir):
    """First 8 BPE merge rules learned from the corpus (Sennrich
    1508.07909): corpus touched once (word-count agg), then every merge
    iteration runs on the vocabulary frame. The sentinel `<a><b>` → `<ab>`
    literal-replace encoding makes each iteration SQL-replayable — the
    oracle chains 8 identical CTE stages."""
    from hatchery_spark.functions.corpus import train_bpe_merges

    docs = load(spark, sf_dir, "documents")
    return train_bpe_merges(docs, k=8)


def q_bpe_encode(spark, sf_dir):
    """Train 8 BPE merges on the corpus, then tokenize the corpus with them:
    per-doc (n_words, n_tokens). The merge chain runs once over the
    distinct-word frame; the oracle replays train + encode in one CTE
    chain."""
    from hatchery_spark.functions.corpus import bpe_encode, train_bpe_merges

    docs = load(spark, sf_dir, "documents")
    merges = [
        (r.step, r.left_sym, r.right_sym)
        for r in train_bpe_merges(docs, k=8).collect()
    ]
    return bpe_encode(docs, merges)


def q_bpe_train_local(spark, sf_dir):
    """Driver-local incremental BPE trainer (zero Spark jobs per merge —
    the scale fix for the distributed loop's one-argmax-job-per-round cost
    at real 32k vocabularies): corpus-sized word counting stays
    distributed, vocabulary-sized pair iteration runs on the driver with
    heap argmax + incremental pair-count updates. SHARES the doc_bpe_train
    oracle — the gate proves bit-parity with the distributed greedy."""
    from hatchery_spark.functions.corpus import train_bpe_merges_local

    return train_bpe_merges_local(load(spark, sf_dir, "documents"), k=8)


def q_bpe_encode_arrow(spark, sf_dir):
    """BPE tokenization via the Arrow-UDF merge application over the
    distinct-word frame (the unigram Viterbi pattern) — survives
    production 32k-merge tables where the k-chained replace expression
    dies in Catalyst (pytest-validated at k=1200). SHARES the
    doc_bpe_encode oracle — the gate proves output parity with the
    chained-replace form at small k."""
    from hatchery_spark.functions.corpus import (
        bpe_encode_arrow,
        train_bpe_merges_local,
    )

    docs = load(spark, sf_dir, "documents")
    merges = [
        (r.step, r.left_sym, r.right_sym)
        for r in train_bpe_merges_local(docs, k=8).collect()
    ]
    return bpe_encode_arrow(docs, merges)


def q_bpe_tokenize(spark, sf_dir):
    """Full tokenization with real token IDS (the artifact a training
    pipeline consumes): 8 merges trained driver-locally, ids assigned by
    the closed form (chars 0-25, merge step s → 26+s−1), per-doc sequences
    rebuilt with one order-restoring aggregate. The oracle replays train +
    id assignment + per-word split + per-doc string_agg end to end."""
    from hatchery_spark.functions.corpus import (
        bpe_tokenize_arrow,
        train_bpe_merges_local,
    )

    docs = load(spark, sf_dir, "documents")
    merges = [
        (r.step, r.left_sym, r.right_sym)
        for r in train_bpe_merges_local(docs, k=8).collect()
    ]
    return bpe_tokenize_arrow(docs, merges)


def q_pq_topk(spark, sf_dir):
    """IVF-PQ ANN (coarse cells + product-quantized ADC scan + exact
    rescore): with n_probe covering the true neighbors' cells and a
    generous rescore pool, output equals brute force — the oracle is the
    same brute-force SQL as emb_ivf_topk."""
    from hatchery_spark.functions.similarity import ivf_pq_topk

    corpus = _emb_augmented_queries(spark, sf_dir)
    queries = _emb_base(spark, sf_dir).filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_pq_topk(
        corpus, queries, k=5, n_centroids=16, n_probe=4, m=8, ks=16, rescore=4
    )


def q_embedding_near_dup(spark, sf_dir):
    base = _emb_base(spark, sf_dir).filter(F.col("vec_id") < 500)
    twins = base.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        _perturb(F.col("embedding"), F.lit(0.1)).alias("embedding"),
    )
    return embedding_near_dup(base.unionByName(twins), threshold=0.9)


def q_media_features(spark, sf_dir):
    """Multimodal mapInPandas plumbing. sha8 (hash of the random payload) is
    pytest-covered but excluded here so the remaining columns are SQL-derivable."""
    from hatchery_spark.functions.multimodal import extract_media_features, synthetic_media_df

    media = synthetic_media_df(spark, n=64)
    return extract_media_features(media).select(
        "media_id", "kind", "n_bytes", "decode_status"
    )


def q_media_frame_grid(spark, sf_dir):
    """Video frame-sampling grid (explode of the per-row frame timestamps)."""
    from hatchery_spark.functions.multimodal import sample_video_frames, synthetic_media_df

    return sample_video_frames(synthetic_media_df(spark, n=64), every_ms=500)


def q_media_gif_frames(spark, sf_dir):
    """REAL animated-GIF frame sampling (functions/gif.py — LZW decode,
    interlace, disposal compositing, per the GIF89a spec): one row per
    decoded frame with its cumulative-delay timestamp and pixel mean.
    Solid-frame fixtures make every stat closed-form SQL; the decoder
    still runs the full bit-level path (odd rows are interlaced)."""
    from hatchery_spark.functions.multimodal import (
        gif_frame_stats,
        synthetic_gif_media_df,
    )

    return gif_frame_stats(synthetic_gif_media_df(spark, 48))


def q_media_audio_spectral(spark, sf_dir):
    """REAL audio feature extraction: numpy rfft inside mapInPandas over
    decoded WAV samples (16-bit PCM via stdlib; G.711 μ-law via a manual
    RIFF walk + expansion table) — RMS level and dominant spectral
    frequency per row. Bin-aligned sine / constant-PCM / constant-μ-law
    fixtures make every stat a closed form the oracle replays."""
    from hatchery_spark.functions.multimodal import (
        synthetic_audio_media_df,
        wav_spectral_features,
    )

    return wav_spectral_features(synthetic_audio_media_df(spark, 48))


def q_html_extract(spark, sf_dir):
    """HTML → text (the WARC→WET step): deterministic page templates wrap
    every doc (title, headings, comments, script/style subtrees, entities,
    <br> blocks); the REAL stdlib-parser extraction must drop the code,
    decode the entities, and recover the body text — all closed-form."""
    from hatchery_spark.functions.html import extract_html_text

    docs = load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(
            "<html><head><title>T</title><script>var x = 1 < 2;"
            "</script></head><body><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><!-- c --><p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p><style>.a{color:red}</style><p>&amp; more &#33;</p>"
              "</body></html>"),
    )
    return extract_html_text(docs.select("doc_id", html.alias("html")))


_HTML_EXTRACT_ORACLE = """
SELECT doc_id,
       concat('T', chr(CAST(10 AS INTEGER)), 'Doc ', cast(doc_id AS varchar),
              chr(CAST(10 AS INTEGER)),
              CASE WHEN trim(regexp_replace(coalesce(text, ''), ' +', ' ', 'g')) <> ''
                   THEN concat(trim(regexp_replace(coalesce(text, ''), ' +', ' ', 'g')),
                               chr(CAST(10 AS INTEGER)))
                   ELSE '' END,
              '& more !') AS extracted
FROM documents"""


def q_html_outlinks(spark, sf_dir):
    """Outlink harvest (the crawl-frontier feed): deterministic templates
    carry a hrefless named anchor (must NOT emit), one query-string link
    whose href holds an HTML entity (&amp; must decode inside the attribute
    value), and doc_id%3 numbered links; the REAL stdlib parser walks the
    tag soup and emits one row per (doc, link_idx, href) in document
    order. Zero shuffle; fan-out is links-per-page-proportional."""
    from hatchery_spark.functions.html import extract_html_links

    docs = load(spark, sf_dir, "documents")
    n = F.pmod(F.col("doc_id"), F.lit(3))
    seq = F.when(n > 0, F.sequence(F.lit(1).cast("long"), n)).otherwise(
        F.array().cast("array<long>")
    )
    html = F.concat(
        F.lit('<html><body><a name="top">skip</a><p><a href="/p?id='),
        F.col("doc_id").cast("string"),
        F.lit('&amp;ref=h">f</a></p>'),
        F.concat_ws(
            "",
            F.transform(
                seq,
                lambda j: F.format_string(
                    '<a href="https://ex.org/%d/%d">L</a>', F.col("doc_id"), j
                ),
            ),
        ),
        F.lit("</body></html>"),
    )
    return extract_html_links(docs.select("doc_id", html.alias("html")))


_HTML_OUTLINKS_ORACLE = """
SELECT doc_id, CAST(0 AS INTEGER) AS link_idx,
       concat('/p?id=', CAST(doc_id AS VARCHAR), '&ref=h') AS href
FROM documents
UNION ALL
SELECT d.doc_id, CAST(t.j AS INTEGER) AS link_idx,
       concat('https://ex.org/', CAST(d.doc_id AS VARCHAR), '/',
              CAST(t.j AS VARCHAR)) AS href
FROM documents d, (SELECT unnest(range(1, 3)) AS j) t
WHERE t.j <= d.doc_id % 3"""


def q_warc_wet_chain(spark, sf_dir):
    """The FULL Common-Crawl ingestion chain, end to end: HTML pages →
    WARC files (25 blobs, one shuffle) → byte-exact record split → payload
    re-read → HTML → text extraction. doc identity travels only through
    the WARC Target-URI, so any stage break (offset slip, slicing bug,
    parser loss) mismatches the closed form."""
    from hatchery_spark.functions.html import html_to_text
    from hatchery_spark.functions.warc import build_warc_files, split_warc_records

    import pandas as pd
    from typing import Iterator

    docs = load(spark, sf_dir, "documents")
    page = F.concat(
        F.lit("<html><head><title>T</title></head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p></body></html>"),
    )
    files = build_warc_files(
        docs.select("doc_id", page.alias("text")), files=25
    )

    def _wet(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, texts = [], []
            for buf in b["content"]:
                for _idx, _off, _t, uri, _cl, payload in split_warc_records(
                    bytes(buf)
                ):
                    ids.append(int(uri.rsplit("/", 1)[1]))
                    texts.append(html_to_text(payload.decode("utf-8")))
            yield pd.DataFrame({"doc_id": ids, "extracted": texts})

    return files.mapInPandas(_wet, "doc_id long, extracted string")


_WARC_WET_ORACLE = """
SELECT doc_id,
       concat('T', chr(CAST(10 AS INTEGER)), 'Doc ', cast(doc_id AS varchar),
              CASE WHEN trim(regexp_replace(coalesce(text, ''), ' +', ' ', 'g')) <> ''
                   THEN concat(chr(CAST(10 AS INTEGER)),
                               trim(regexp_replace(coalesce(text, ''), ' +', ' ', 'g')))
                   ELSE '' END) AS extracted
FROM documents"""


def q_homoglyph_fold(spark, sf_dir):
    """Homoglyph-folding dedup key (spam/SEO evasion counter): inject
    Cyrillic lookalikes into every doc, then fold — the folded text must
    restore the original byte-for-byte while the spoofed text differs.
    Pure codegen translate(), zero shuffle."""
    from hatchery_spark.functions.text import fold_homoglyphs

    docs = load(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    spoof = F.translate(t, "aeocpx", "аеосрх")
    return docs.select(
        "doc_id",
        (spoof != t).cast("int").alias("spoof_differs"),
        (fold_homoglyphs(spoof) == t).cast("int").alias("fold_restores"),
    )


def q_length_buckets(spark, sf_dir):
    """Power-of-two padding buckets for batch planning: per-bucket doc/
    token/waste totals — one codegen projection + one map-side-combined
    aggregate."""
    from hatchery_spark.functions.sampling import length_buckets

    return length_buckets(load(spark, sf_dir, "documents"))


def _homoglyph_oracle() -> str:
    from hatchery_spark.functions.text import _HOMOGLYPH_DST, _HOMOGLYPH_SRC

    return f"""
SELECT doc_id,
       cast(spoof <> t AS int) AS spoof_differs,
       cast(translate(spoof, '{_HOMOGLYPH_SRC}', '{_HOMOGLYPH_DST}') = t AS int)
         AS fold_restores
FROM (SELECT doc_id, coalesce(text, '') AS t,
             translate(coalesce(text, ''), 'aeocpx', 'аеосрх') AS spoof
      FROM documents)"""


_LENGTH_BUCKETS_ORACLE = """
WITH d AS (
  SELECT greatest(len(string_split(coalesce(text, ''), ' ')), 1) AS n
  FROM documents)
SELECT cast(ceil(log2(cast(n AS double))) AS int) AS bucket,
       cast(count(*) AS bigint) AS n_docs,
       cast(sum(n) AS bigint) AS total_tokens,
       cast(sum(cast(pow(2.0, ceil(log2(cast(n AS double)))) AS bigint) - n)
            AS bigint) AS total_waste
FROM d GROUP BY 1"""


def q_incremental_agg(spark, sf_dir):
    """Incremental materialized-view refresh: the historical aggregate
    (l_orderkey % 10 != 0) is MERGED with the new batch's partial
    aggregates — O(batch + touched keys), the history is never rescanned.
    The oracle recomputes from the FULL table, so the merge semantics
    (count→sum, sum→sum, min/max→min/max) must be exactly equivalent.
    Measures chosen integer-valued/extremal so double re-association
    cannot flip the rounded hash."""
    from hatchery_spark.operators.incremental import (
        merge_aggregates,
        partial_aggregates,
    )

    li = load(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    measures = {
        "n": ("count", "l_orderkey"),
        "sum_qty": ("sum", "l_quantity"),
        "min_price": ("min", "l_extendedprice"),
        "max_price": ("max", "l_extendedprice"),
    }
    base = partial_aggregates(li.filter(F.col("l_orderkey") % 10 != 0), keys, measures)
    batch = li.filter(F.col("l_orderkey") % 10 == 0)
    merged = merge_aggregates(base, partial_aggregates(batch, keys, measures),
                              keys, measures)
    return merged.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.round("sum_qty", 4).alias("sum_qty"),
        F.round("min_price", 4).alias("min_price"),
        F.round("max_price", 4).alias("max_price"),
    )


def q_pii_entities(spark, sf_dir):
    """PII entity extraction (audit complement of the redaction gate):
    every email / IPv4 / card-length digit-run occurrence in the
    transcripts, grouped to per-entity counts — pure codegen
    regexp_extract_all + explode, one grouping shuffle."""
    from hatchery_spark.functions.text import extract_pii_entities

    t = transcripts(spark, sf_dir)
    ents = extract_pii_entities(t, text_col="text", id_cols=("conv_id",))
    return ents.groupBy("kind", "value").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def q_interleave_sources(spark, sf_dir):
    """Curriculum round-robin interleave across sources: global training
    position by CLOSED-FORM arithmetic over per-source ranks — no global
    window, no single reducer; source index/count broadcast."""
    from hatchery_spark.functions.sampling import interleave_sources

    return interleave_sources(load(spark, sf_dir, "documents"))


_INCREMENTAL_AGG_ORACLE = """
SELECT l_returnflag, l_linestatus,
       cast(count(*) AS bigint) AS n,
       round(sum(l_quantity), 4) AS sum_qty,
       round(min(l_extendedprice), 4) AS min_price,
       round(max(l_extendedprice), 4) AS max_price
FROM lineitem GROUP BY l_returnflag, l_linestatus"""


_PII_ENTITIES_ORACLE_BODY = r"""
SELECT kind, value, cast(count(*) AS bigint) AS n FROM (
  SELECT 'email' AS kind,
         unnest(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS value
  FROM transcripts
  UNION ALL
  SELECT 'ipv4',
         unnest(regexp_extract_all(text, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}'))
  FROM transcripts
  UNION ALL
  SELECT 'longnum', unnest(regexp_extract_all(text, '\d{12,19}'))
  FROM transcripts) u
GROUP BY kind, value"""


_INTERLEAVE_ORACLE = """
WITH s AS (
  SELECT source, row_number() OVER (ORDER BY source) - 1 AS src_idx
  FROM (SELECT DISTINCT source FROM documents)),
n AS (SELECT count(*) AS n_src FROM s),
r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(concat('ep1', cast(doc_id AS varchar))), doc_id) AS rn
  FROM documents)
SELECT r.doc_id, r.source,
       cast(rn AS int) AS rank_in_source,
       cast((rn - 1) * n.n_src + s.src_idx AS bigint) AS pos
FROM r JOIN s USING (source) CROSS JOIN n"""


def q_robots_filter(spark, sf_dir):
    """Crawl-politeness gate (RFC 9309): REAL robots.txt texts (comments,
    multi-agent groups, Allow/Disallow, '*' wildcards, '$' anchors) parsed
    in mapInPandas, then longest-match/allow-wins-ties verdicts per
    (url, agent) with specific-group-replaces-'*' selection. The oracle is
    an INDEPENDENT hand derivation of the RFC semantics per path class —
    not a mechanism replay — so a parser or precedence bug value-fails."""
    from hatchery_spark.functions.crawl import parse_robots_rules, robots_allowed

    robots_rows = [
        (
            f"dom{d}.example.com",
            f"# crawl policy for dom{d}\n"
            "User-agent: *\n"
            f"Disallow: /private{d}/\n"
            f"Allow: /private{d}/ok\n"
            "Disallow: /tmp*\n"
            f"Disallow: /exact{d}$\n"
            "\n"
            "User-agent: hatchbot\n"
            "User-agent: otherbot\n"
            "Allow: /\n"
            f"Disallow: /nobot{d}/\n",
        )
        for d in range(20)
    ]
    robots = spark.createDataFrame(robots_rows, "domain string, robots_txt string")
    rules = parse_robots_rules(robots)
    docs = load(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id") % 20
    v = F.col("doc_id") % 7
    path = (
        F.when(v == 0, F.concat(F.lit("/private"), d, F.lit("/x")))
        .when(v == 1, F.concat(F.lit("/private"), d, F.lit("/ok/page")))
        .when(v == 2, F.lit("/tmp123"))
        .when(v == 3, F.lit("/public/a"))
        .when(v == 4, F.concat(F.lit("/exact"), d))
        .when(v == 5, F.concat(F.lit("/exact"), d, F.lit("x")))
        .otherwise(F.concat(F.lit("/nobot"), d, F.lit("/p")))
    )
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://dom"), d, F.lit(".example.com"), path).alias("url"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("hatchbot"))
        .otherwise(F.lit("genericbot"))
        .alias("agent"),
    )
    return robots_allowed(urls, rules)


_ROBOTS_ORACLE = """
WITH u AS (
  SELECT doc_id, doc_id % 20 AS d, doc_id % 7 AS v,
         CASE WHEN doc_id % 3 = 0 THEN 'hatchbot' ELSE 'genericbot' END AS agent
  FROM documents),
p AS (
  SELECT doc_id, d, v, agent,
         CASE v
           WHEN 0 THEN concat('/private', cast(d AS varchar), '/x')
           WHEN 1 THEN concat('/private', cast(d AS varchar), '/ok/page')
           WHEN 2 THEN '/tmp123'
           WHEN 3 THEN '/public/a'
           WHEN 4 THEN concat('/exact', cast(d AS varchar))
           WHEN 5 THEN concat('/exact', cast(d AS varchar), 'x')
           ELSE concat('/nobot', cast(d AS varchar), '/p') END AS path
  FROM u)
SELECT doc_id,
       concat('https://dom', cast(d AS varchar), '.example.com', path) AS url,
       agent,
       concat('dom', cast(d AS varchar), '.example.com') AS domain,
       path,
       cast(CASE WHEN agent = 'hatchbot'
                 THEN CASE WHEN v = 6 THEN 0 ELSE 1 END
                 ELSE CASE WHEN v IN (0, 2, 4) THEN 0 ELSE 1 END
            END AS int) AS allowed
FROM p"""


def q_media_bmp_decode(spark, sf_dir):
    """Windows BMP/DIB (functions/bmp.py): 24/32-bit BGR(X) in both row
    orders and 8-bit palette plain + RLE8 (runs, absolute mode, EOL/EOB
    escapes), decoded for real over gradient content with closed-form
    px_mean per rotation."""
    from hatchery_spark.functions.multimodal import (
        decode_media,
        synthetic_bmp_media_df,
    )

    return decode_media(synthetic_bmp_media_df(spark, 40))


def q_media_qoi_decode(spark, sf_dir):
    """QOI (qoiformat.org — functions/qoi.py): full opcode matrix
    (RUN/INDEX/DIFF/LUMA/RGB/RGBA) decoded for real over four content
    rotations chosen to force each opcode family; gradient content gives
    px_mean a closed form per rotation."""
    from hatchery_spark.functions.multimodal import (
        decode_media,
        synthetic_qoi_media_df,
    )

    return decode_media(synthetic_qoi_media_df(spark, 40))


_QOI_ORACLE = """
            WITH g AS (
              SELECT i, x.j AS xj, y.j AS yj
              FROM (SELECT unnest(range(0, 40)) AS i),
                   range(0, 24) x(j), range(0, 16) y(j)
              WHERE x.j < 16 + i % 9 AND y.j < 12 + i % 5)
            SELECT i AS media_id, 'image' AS kind,
              cast(16 + i % 9 AS int) AS width,
              cast(12 + i % 5 AS int) AS height,
              cast(NULL AS int) AS duration_ms,
              round(avg(CASE
                WHEN i % 4 = 1 THEN
                  cast(((xj // 4) * 8 + (yj // 4) * 8 + i) % 256 AS double)
                WHEN i % 4 = 2 THEN cast((xj + yj + i) % 256 AS double)
                ELSE (cast((xj * 3 + yj * 7 + i) % 256 AS double)
                      + (xj * 3 + yj * 7 + i + 40) % 256
                      + (xj * 3 + yj * 7 + i + 80) % 256) / 3 END), 4)
                AS px_mean,
              'ok_qoi' AS decode_status
            FROM g GROUP BY i"""


def q_media_tiff_decode(spark, sf_dir):
    """Baseline TIFF 6.0 (functions/tiff.py — the scanned-document format):
    gray/RGB/palette × uncompressed/PackBits/LZW (early-change widths,
    horizontal predictor) × both byte orders × multi-strip, decoded for
    real; gradient content gives px_mean a closed form per rotation."""
    from hatchery_spark.functions.multimodal import (
        decode_media,
        synthetic_tiff_media_df,
    )

    return decode_media(synthetic_tiff_media_df(spark, 40))


def q_media_jpeg_hier(spark, sf_dir):
    """HIERARCHICAL JPEG (T.81 Annex J — functions/jpeg_hier.py): lossless
    two-level resolution pyramids (SOF3 base → EXP interpolation → SOF7
    differential refinement, restart rotation) and the lossy-base +
    lossless-correction form (SOF0 + SOF7 residual). Both are bit-exact by
    construction, so the oracle recomputes px_mean from the source grid.
    Completes the T.81 process matrix: every SOF family now decodes."""
    from hatchery_spark.functions.multimodal import (
        decode_media,
        synthetic_jpeg_hier_media_df,
    )

    return decode_media(synthetic_jpeg_hier_media_df(spark, 32))


def q_log_templates(spark, sf_dir):
    """Drain-style log template mining over the raw transcript text:
    digit-mask → (token_count, first_token) bucket → position-wise
    wildcard merge → template counts. Deterministic relational algebra
    end-to-end; the whale-bucket work is spread across positions."""
    from hatchery_spark.operators.logmine import mine_log_templates

    return mine_log_templates(transcripts(spark, sf_dir))


def _log_templates_oracle() -> str:
    from hatchery_spark.operators.logmine import log_templates_oracle_sql

    return log_templates_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_syslog_rfc5424(spark, sf_dir):
    """RFC 5424 framing e2e: render every turn to a syslog line (PRI from
    role/level config, SD params with the §6.3.3 escapes, raw text as
    MSG), then parse ONLY the line back into structured fields. The
    oracle computes every field directly from the source turns, so both
    the encoder and the decoder are value-pinned; MSG equality carries
    the per-turn text invariant through the frame. Both directions are
    single codegen'd Projects — no UDF, no shuffle."""
    from hatchery_spark.operators.syslog import parse_rfc5424, render_rfc5424

    lines = render_rfc5424(transcripts(spark, sf_dir)).select("line")
    return parse_rfc5424(lines)


def _syslog_oracle() -> str:
    from hatchery_spark.operators.syslog import syslog_oracle_sql

    return syslog_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_syslog_tcp(spark, sf_dir):
    """RFC 6587 octet-counted syslog over TCP, end to end
    (operators/tcpsyslog.py composing syslog.py + tcpstream.py): every
    turn renders to an RFC 5424 line, each flow's lines frame as
    ``MSG-LEN SP line`` and concatenate in turn order, the wire cuts
    into 64-char TCP segments with md5-planted exact and overlapping
    retransmits (hole-gated flows are excluded by the replayable gate —
    octet counting cannot resync across a capture gap), segments
    reassemble via the running-max high-water mark, the splitter walks
    the length prefixes back out, and the parser recovers every field.
    The oracle computes all fields directly from the source turns —
    five composed stages and a value break in ANY of them fails
    equality; msg carries the per-turn text invariant through the whole
    transport."""
    from hatchery_spark.functions.graph import _md5_prefix_long
    from hatchery_spark.operators.syslog import (
        parse_rfc5424,
        render_rfc5424,
    )
    from hatchery_spark.operators.tcpstream import (
        HOLE_MOD,
        reassemble_streams,
        segment_streams,
    )
    from hatchery_spark.operators.tcpsyslog import (
        frame_octet_counted,
        split_octet_counted,
    )

    t = transcripts(spark, sf_dir).where(
        F.pmod(_md5_prefix_long(F.col("conv_id")), F.lit(HOLE_MOD)) != 0
    )
    lines = render_rfc5424(t).select("conv_id", "turn_idx", "line")
    conv = frame_octet_counted(lines)
    streams = reassemble_streams(segment_streams(conv)).select(
        "conv_id", "stream"
    )
    msgs = split_octet_counted(streams).where(F.col("ok"))
    return parse_rfc5424(msgs)


def _syslog_tcp_oracle() -> str:
    from hatchery_spark.operators.syslog import syslog_oracle_sql
    from hatchery_spark.operators.tcpstream import HOLE_MOD

    gate = _hex_decode_terms("substr(md5(conv_id), 1, 8)")
    src = (
        f"WITH tall AS ({TRANSCRIPTS_SQL.format(events='events')}) "
        f"SELECT * FROM tall WHERE ({gate}) % {HOLE_MOD} <> 0"
    )
    return syslog_oracle_sql(src)


def q_http_extract(spark, sf_dir):
    """HTTP/1.1 transactions from reassembled TCP streams
    (operators/tcphttp.py + tcpstream.py): every turn renders as one
    pipelined POST on its flow's connection — body framing rotates by
    turn parity between Content-Length and chunked transfer encoding
    (32-octet hex-sized chunks, codegen'd render) — the wire cuts into
    TCP segments with planted retransmits/overlaps, reassembles, and
    the extractor walks request-line → headers → body back out. The
    oracle computes every field directly from the source turns; body
    equality carries the per-turn text invariant through both framing
    branches and the whole transport. Hole-gated flows excluded by the
    replayable gate (no mid-stream resync, as with octet counting)."""
    from hatchery_spark.functions.graph import _md5_prefix_long
    from hatchery_spark.operators.tcphttp import (
        concat_requests,
        extract_http_requests,
        render_http_requests,
    )
    from hatchery_spark.operators.tcpstream import (
        HOLE_MOD,
        reassemble_streams,
        segment_streams,
    )

    t = transcripts(spark, sf_dir).where(
        F.pmod(_md5_prefix_long(F.col("conv_id")), F.lit(HOLE_MOD)) != 0
    )
    reqs = render_http_requests(t).select("conv_id", "turn_idx", "req")
    conv = concat_requests(reqs)
    streams = reassemble_streams(segment_streams(conv)).select(
        "conv_id", "stream"
    )
    return extract_http_requests(streams).where(F.col("ok")).select(
        "conv_id", "msg_idx", "method", "target", "host", "te", "body"
    )


def _http_extract_oracle() -> str:
    from hatchery_spark.operators.tcphttp import HOST
    from hatchery_spark.operators.tcpstream import HOLE_MOD

    gate = _hex_decode_terms("substr(md5(conv_id), 1, 8)")
    t = TRANSCRIPTS_SQL.format(events="events")
    return f"""
        WITH tall AS ({t})
        SELECT conv_id, turn_idx AS msg_idx,
               'POST' AS method,
               concat('/t/', cast(turn_idx AS varchar)) AS target,
               '{HOST}' AS host,
               CASE WHEN turn_idx % 2 = 0 THEN 'cl' ELSE 'chunked' END AS te,
               text AS body
        FROM tall WHERE ({gate}) % {HOLE_MOD} <> 0"""


def q_holt_trend(spark, sf_dir):
    """Holt linear-trend forecast anomaly (operators/forecast.py):
    per-conversation daily activity folded through double exponential
    smoothing (α=β=1/2) in exact BIGINT fixed point — the detection
    matrix's trend-aware member (EWMA tracks level, CUSUM shifts,
    seasonal-MAD weekday shape; none see a ramp). Alerts on the
    one-step forecast residual via integer cross-multiplication. The
    fold carries its state path as an array in ONE aggregate HOF per
    actor; the oracle replays every level/trend/forecast bit-for-bit
    through a recursive CTE."""
    from hatchery_spark.operators.forecast import holt_forecast

    t = transcripts(spark, sf_dir)
    return holt_forecast(t, F.col("conv_id"), F.to_date("ts"))


def _holt_oracle() -> str:
    from hatchery_spark.operators.forecast import holt_oracle_sql

    return holt_oracle_sql(
        TRANSCRIPTS_SQL.format(events="events"),
        "conv_id",
        "cast(date_trunc('day', ts) AS date)",
    )


def q_record_linkage(spark, sf_dir):
    """Fellegi-Sunter record linkage (functions/linkage.py): a person
    table md5-synthesized from customer (24×24 name lists — collisions
    intended), a dirty re-entry of every record through perturbation
    gates (name char-drop / name swap / early vs late phone-digit bumps
    / nation flips), soundex+phone blocking (never all-pairs), integer
    deciban weights, two-threshold match/possible/nonmatch decision,
    and per-record truth flags. The oracle replays synthesis, gates,
    blocking, scoring, and the rank cut end to end."""
    from hatchery_spark.functions.linkage import (
        fs_link,
        person_records,
        perturbed_records,
    )

    cust = load(spark, sf_dir, "customer")
    return fs_link(person_records(cust), perturbed_records(cust))


def _linkage_oracle() -> str:
    from hatchery_spark.functions.linkage import linkage_oracle_sql

    return linkage_oracle_sql()


def q_l_diversity(spark, sf_dir):
    """l-diversity release gate (functions/text.py `l_diversify`): the
    homogeneity-attack complement to doc_k_anonymize — a cohort of
    (role, tool, day) survives only with ≥ k rows AND ≥ l distinct
    severity levels, so large-but-homogeneous cohorts suppress too.
    Both gates observable per row (group_n, sensitive_n). One struct-key
    aggregate + broadcast rejoin, no window over whale cohorts."""
    from hatchery_spark.functions.text import l_diversify

    t = transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "tool",
        F.to_date("ts").cast("string").alias("day"),
        F.regexp_extract("text", r"^\[(\w+)\]", 1).alias("level"),
    )
    out = l_diversify(t, ["role", "tool", "day"], "level", k=5, l=3)
    return out.select(
        "conv_id", "turn_idx", "role", "tool", "day",
        F.col("group_n").cast("long").alias("group_n"),
        F.col("sensitive_n").cast("long").alias("sensitive_n"),
        "suppressed",
    )


def _l_diversity_oracle() -> str:
    t = TRANSCRIPTS_SQL.format(events="events")
    return f"""
        WITH t AS ({t}),
        x AS (
          SELECT conv_id, turn_idx, role, tool,
                 cast(cast(date_trunc('day', ts) AS date) AS varchar) AS day,
                 regexp_extract(text, '^\\[(\\w+)\\]', 1) AS level
          FROM t),
        sizes AS (
          SELECT role, tool, day,
                 cast(count(*) AS bigint) AS group_n,
                 cast(count(DISTINCT level) AS bigint) AS sensitive_n
          FROM x GROUP BY role, tool, day),
        j AS (
          SELECT x.*, s.group_n, s.sensitive_n,
                 s.group_n < 5 OR s.sensitive_n < 3 AS suppressed
          FROM x JOIN sizes s
            ON x.role = s.role AND x.tool = s.tool AND x.day = s.day)
        SELECT conv_id, turn_idx,
               CASE WHEN suppressed THEN '[SUPPRESSED]' ELSE role END AS role,
               CASE WHEN suppressed THEN '[SUPPRESSED]' ELSE tool END AS tool,
               CASE WHEN suppressed THEN '[SUPPRESSED]' ELSE day END AS day,
               group_n, sensitive_n, suppressed
        FROM j"""


def q_dp_counts(spark, sf_dir):
    """Differentially private per-sink counts (functions/privacy.py):
    the routed fan-out's (route, day) aggregate released through the
    eps = ln 2 two-sided geometric mechanism — noise drawn as the
    difference of two leading-1-bit Geometric(1/2) folds over the
    cell's md5, all integer, deterministic per cell (repeat publication
    spends no extra budget; cells are disjoint → parallel composition).
    true_n appears ONLY so the gate can pin the mechanism; a real
    release drops it."""
    from hatchery_spark.functions.privacy import geometric_noise

    routed = routed_union(enriched(spark, sf_dir), EVENT_ROUTES)
    counts = routed.groupBy(
        "route_id", F.to_date("ts").cast("string").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("true_n"))
    noise = geometric_noise(
        F.concat_ws("|", F.col("route_id"), F.col("day"))
    )
    return counts.select(
        "route_id", "day", "true_n",
        noise.alias("noise"),
        (F.col("true_n") + noise).alias("released_n"),
    )


def _dp_counts_oracle() -> str:
    from hatchery_spark.functions.privacy import geometric_noise_sql

    noise = geometric_noise_sql("concat(route_id, '|', day)")
    return (
        ORACLE_PIPELINE_CTE
        + f"""
        , c AS (
          SELECT route_id,
                 cast(cast(date_trunc('day', ts) AS date) AS varchar) AS day,
                 cast(count(*) AS bigint) AS true_n
          FROM routed GROUP BY route_id, day)
        SELECT route_id, day, true_n,
               cast({noise} AS bigint) AS noise,
               cast(true_n + {noise} AS bigint) AS released_n
        FROM c"""
    )


def q_route_digest(spark, sf_dir):
    """Order-invariant per-route table fingerprint (operators/ledger.py
    `table_digest`): routed-row equality evidence at 10^12 rows without
    a global sort — each route reduces to (n_rows, xor of 60-bit row
    hashes, modular sum) in ONE map-side-combined aggregate; shuffle
    order and parallelism cannot move the digest. The row hash covers
    (conv_id, turn_idx, text), so it carries the per-turn byte-equality
    invariant in aggregate form."""
    from hatchery_spark.operators.ledger import table_digest

    routed = routed_union(enriched(spark, sf_dir), EVENT_ROUTES)
    return table_digest(
        routed, ["conv_id", "turn_idx", "text"], group_cols=["route_id"]
    )


def _route_digest_oracle() -> str:
    from hatchery_spark.operators.ledger import table_digest_sql

    return (
        ORACLE_PIPELINE_CTE
        + table_digest_sql(
            "SELECT * FROM routed",
            ["conv_id", "turn_idx", "text"],
            group_expr="route_id",
        )
    )


def q_collocations(spark, sf_dir):
    """PMI-ranked bigram collocations over the document corpus, INTEGER
    exact: PMI is monotone in p(xy)/(p(x)p(y)), so ranking uses the
    scaled integer ratio (n_xy · N · 10^6) div (n_x · n_y) — no log, no
    float ties, fully oracle-replayable. One token explode with
    map-side-combined counts; unigram frames are vocabulary-sized and
    broadcast back onto the bigram frame; TakeOrderedAndProject cuts
    the top 50 (min pair count 5)."""
    docs = load(spark, sf_dir, "documents").select("text")
    arr = F.filter(
        F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
        lambda w: w != F.lit(""),
    )
    pairs = F.when(
        F.size(arr) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - 2),
            lambda i: F.struct(
                F.element_at(arr, i + 1).alias("w1"),
                F.element_at(arr, i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = docs.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    # ONE corpus pass: everything downstream (unigram slot counts, the
    # grand total, the PMI join) derives from the vocab²-bounded n_xy
    # frame, never from the corpus again
    n_xy = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_xy")
    ).persist()
    n_w = (
        n_xy.select(F.col("w1").alias("w"), "n_xy")
        .unionAll(n_xy.select(F.col("w2").alias("w"), "n_xy"))
        .groupBy("w")
        .agg(F.sum("n_xy").cast("long").alias("n"))
    )
    total = n_xy.agg(F.sum("n_xy")).first()[0]  # 1-row driver scalar
    scored = (
        n_xy.join(
            F.broadcast(n_w.withColumnRenamed("w", "w1")
                        .withColumnRenamed("n", "n_x")), "w1"
        )
        .join(
            F.broadcast(n_w.withColumnRenamed("w", "w2")
                        .withColumnRenamed("n", "n_y")), "w2"
        )
        .where(F.col("n_xy") >= 5)
        .select(
            "w1", "w2", "n_xy", "n_x", "n_y",
            F.expr(f"(n_xy * {total} * 1000000) div (n_x * n_y)")
            .cast("long")
            .alias("pmi_scaled"),
        )
    )
    return scored.orderBy(
        F.col("pmi_scaled").desc(), "w1", "w2"
    ).limit(50)


def _collocations_oracle() -> str:
    return """
        WITH arrs AS (
          SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             w -> w <> '') AS ws
          FROM documents),
        big AS (
          SELECT ws[u.i + 1] AS w1, ws[u.i + 2] AS w2
          FROM arrs,
               unnest(range(0, greatest(len(ws) - 1, 0))) AS u(i)),
        nxy AS (
          SELECT w1, w2, cast(count(*) AS bigint) AS n_xy
          FROM big GROUP BY w1, w2),
        uni AS (
          SELECT w, cast(sum(n_xy) AS bigint) AS n FROM (
            SELECT w1 AS w, n_xy FROM nxy
            UNION ALL SELECT w2, n_xy FROM nxy)
          GROUP BY w),
        tot AS (SELECT cast(sum(n_xy) AS bigint) AS total FROM nxy)
        SELECT w1, w2, n_xy, x.n AS n_x, y.n AS n_y,
               cast((n_xy * tot.total * 1000000) // (x.n * y.n) AS bigint)
                 AS pmi_scaled
        FROM nxy JOIN uni x ON nxy.w1 = x.w
                 JOIN uni y ON nxy.w2 = y.w, tot
        WHERE n_xy >= 5
        ORDER BY pmi_scaled DESC, w1, w2 LIMIT 50"""


def q_syslog_bsd(spark, sf_dir):
    """RFC 3164 legacy BSD syslog e2e (operators/syslog.py): render every
    turn to the no-year, SPACE-padded-day frame, then parse ONLY the
    line back. The oracle computes every field directly from the source
    turns — encoder padding/month-table/PRI and decoder space-day regex
    both value-pinned; msg equality carries the per-turn text invariant.
    The year is honestly absent (3164's defining lossiness): event time
    comes back as (mon, day, time_str). Both directions single codegen'd
    Projects — no UDF, no shuffle."""
    from hatchery_spark.operators.syslog import parse_rfc3164, render_rfc3164

    lines = render_rfc3164(transcripts(spark, sf_dir)).select("line")
    return parse_rfc3164(lines)


def _syslog_bsd_oracle() -> str:
    from hatchery_spark.operators.syslog import syslog_bsd_oracle_sql

    return syslog_bsd_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_gelf_roundtrip(spark, sf_dir):
    """GELF UDP chunked framing e2e (operators/gelf.py): render every turn
    to its datagram(s) — multi-chunk messages explode into 0x1E0F-framed
    chunks — drop a deterministic 'lost chunk' subset, then reassemble by
    message id. The oracle computes every output field (chunk counts via
    the shared byte-length template, message ids, the loss predicate,
    reassembled fields) directly from the source turns, so the render
    byte layout AND the parse reassembly are both value-pinned;
    short_message equality carries the per-turn text invariant through
    the frame. Parse has exactly ONE shuffle (groupBy msg_id) that only
    multi-chunk traffic enters."""
    from hatchery_spark.operators.gelf import (
        drop_lost_chunks,
        parse_gelf,
        render_gelf,
    )

    frames = drop_lost_chunks(render_gelf(transcripts(spark, sf_dir)))
    return parse_gelf(frames)


def _gelf_oracle() -> str:
    from hatchery_spark.operators.gelf import gelf_oracle_sql

    return gelf_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_kafka_roundtrip(spark, sf_dir):
    """Kafka RecordBatch v2 e2e (functions/kafkawire.py): every
    conversation becomes one magic-2 wire batch (zigzag-varint records,
    CRC32C, codec rotating none/gzip/snappy/lz4/zstd per user_id — the
    snappy/LZ4/zstd legs run through the package's OWN from-scratch
    codecs), a deterministic tamper flips the last byte of every 17th
    user's batch, and the consumer parses everything back. Corrupt
    batches dead-letter as a single frame-level row (crc_ok=false,
    base_offset only — no field of a corrupt batch is trusted). The
    oracle replays good rows from the source turns and dead-letter rows
    from the tamper predicate, so framing, varint coding, all four
    compressors, CRC32C, and the dead-letter contract are all
    value-pinned; text equality carries the per-turn invariant through
    the wire. Encode = ONE conv_id shuffle; decode = shuffle-free
    mapInPandas."""
    from hatchery_spark.functions.kafkawire import (
        read_record_batches,
        write_record_batches,
    )

    batches = write_record_batches(transcripts(spark, sf_dir))
    return read_record_batches(batches)


def _kafka_oracle() -> str:
    from hatchery_spark.functions.kafkawire import kafka_oracle_sql

    return kafka_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_otlp_roundtrip(spark, sf_dir):
    """OTLP trace-export e2e (functions/otlp.py): every conversation
    becomes one opentelemetry-proto TracesData blob (nested protobuf:
    resource attrs, span chain with md5-derived trace/span/parent ids,
    fixed64 nano timestamps, severity→Status), decoded back by the
    package's generic protobuf walker. The oracle recomputes every span
    field from the source turns — md5 id derivation, the parent chain,
    the kind map, nano arithmetic, and the status branch — so both the
    writer's tag/wire-type layout and the walker are value-pinned;
    status_message equality carries the per-turn text invariant.
    Encode = ONE conv_id shuffle; decode = shuffle-free mapInPandas."""
    from hatchery_spark.functions.otlp import read_otlp_traces, write_otlp_traces

    return read_otlp_traces(write_otlp_traces(transcripts(spark, sf_dir)))


def _otlp_oracle() -> str:
    from hatchery_spark.functions.otlp import otlp_oracle_sql

    return otlp_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_ledger_verify(spark, sf_dir):
    """Tamper-evident audit ledger (operators/ledger.py): build
    per-conversation md5 hash chains with the aggregate() HOF (zero
    UDFs, ONE conv_id shuffle), deterministically edit one turn of
    every 13th user's conversation AFTER the ledger was built, then
    verify — the chain localizes the first tampered turn via a
    zip_with prefix compare. The oracle rebuilds both chains
    turn-by-turn with a DuckDB recursive CTE, so the fold order, the
    seed, and the divergence localization are all value-pinned."""
    from hatchery_spark.operators.ledger import (
        build_ledger,
        tamper,
        verify_ledger,
    )

    turns = transcripts(spark, sf_dir)
    return verify_ledger(build_ledger(turns), tamper(turns))


def _ledger_oracle() -> str:
    from hatchery_spark.operators.ledger import ledger_oracle_sql

    return ledger_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_dns_tunnel(spark, sf_dir):
    """DNS-tunneling detection (operators/dns.py): qnames derived from
    the turns (tunnel actors exfiltrate md5(text) as the label), then
    per-domain mean label length, distinct-label ratio, and Shannon
    entropy of the label character distribution — entropy folded in a
    CANONICAL order on both engines (array_sort + aggregate() HOF vs
    DuckDB ordered list + list_sum) so the doubles are bit-identical
    before the single round(4). Char explode map-side combines into
    (domain, char) partials; both exchanges carry reduced keys."""
    from hatchery_spark.operators.dns import derive_qnames, detect_tunnels

    return detect_tunnels(derive_qnames(transcripts(spark, sf_dir)))


def _dns_oracle() -> str:
    from hatchery_spark.operators.dns import dns_oracle_sql

    return dns_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_netflow_roundtrip(spark, sf_dir):
    """NetFlow v5 export e2e (operators/netflow.py): flow records packed
    into 24+N·48-byte big-endian datagrams (≤30 records each, monotone
    flow_sequence per exporter, header unix_secs = packet max ts) and
    parsed back to one row per record. Packetization is row_number
    arithmetic, so the oracle replays membership, sequence numbers,
    header fields, the 2^32 uptime wrap, and every record field straight
    from the events rows — the struct packing and IP int codec are
    value-pinned end to end."""
    from hatchery_spark.operators.netflow import (
        FLOW_FIXTURE_SQL,
        export_netflow,
        parse_netflow,
    )

    load(spark, sf_dir, "events").createOrReplaceTempView("hs_nf_events")
    flows = spark.sql(FLOW_FIXTURE_SQL.format(events="hs_nf_events"))
    return parse_netflow(export_netflow(flows))


def _netflow_oracle() -> str:
    from hatchery_spark.operators.netflow import netflow_oracle_sql

    return netflow_oracle_sql("events")


def q_ipfix_roundtrip(spark, sf_dir):
    """IPFIX / NetFlow v10 export with IN-BAND templates (operators/
    ipfix.py): two templates with different field orders (exporter
    parity), RFC 7011 §6.2 reduced-size counters in one of them, and
    templates shipped only in each exporter's FIRST message — the
    collector carries template state across messages per observation
    domain (one domain-keyed exchange) and binds fields by (ie_id,
    declared length), never by position. The oracle replays record
    fields, template ids, sequence numbers, export times, and each
    message's exact byte length from the events rows."""
    from hatchery_spark.operators.ipfix import export_ipfix, parse_ipfix
    from hatchery_spark.operators.netflow import FLOW_FIXTURE_SQL

    load(spark, sf_dir, "events").createOrReplaceTempView("hs_ipfix_events")
    flows = spark.sql(FLOW_FIXTURE_SQL.format(events="hs_ipfix_events"))
    return parse_ipfix(export_ipfix(flows))


def _ipfix_oracle() -> str:
    from hatchery_spark.operators.ipfix import ipfix_oracle_sql

    return ipfix_oracle_sql("events")


def q_x509_extract(spark, sf_dir):
    """X.509 metadata extraction e2e (functions/x509.py): one
    deterministic RFC 5280 v3 certificate per conversation (DER built
    from scratch — INTEGER/OID/UTCTime/SEQUENCE/SET, [0]/[3] EXPLICIT,
    SAN dNSNames under tag 0x82), then the ASN.1 walker extracts
    serial, signature OID, issuer/subject CNs, UTCTime validity
    (second precision), the SAN list, and a fixed-as-of expiry flag.
    The oracle recomputes every field from first-turn timestamps and
    uid arithmetic, pinning both the DER encoder and the walker."""
    from hatchery_spark.functions.x509 import extract_cert_metadata, issue_certs

    return extract_cert_metadata(issue_certs(transcripts(spark, sf_dir)))


def _x509_oracle() -> str:
    from hatchery_spark.functions.x509 import x509_oracle_sql

    return x509_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_w3c_log(spark, sf_dir):
    """W3C extended-log e2e (operators/weblog.py): per-stripe ELF files
    with #Version/#Fields/#Date directives and percent-encoded lines,
    field ORDER alternating per file — the parser binds columns by each
    file's own #Fields directive (array_position + element_at, a
    file-count-sized broadcast), so a fixed-column reader would fail.
    UA-family classification rides on the parsed rows. Both directions
    pure codegen — ZERO UDFs. The oracle recomputes every field from
    the source turns."""
    from hatchery_spark.operators.weblog import parse_w3c_logs, render_w3c_logs

    files = render_w3c_logs(transcripts(spark, sf_dir))
    return parse_w3c_logs(files.select("content"))


def _w3c_oracle() -> str:
    from hatchery_spark.operators.weblog import w3c_oracle_sql

    return w3c_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_winevent_xml(spark, sf_dir):
    """Windows Event Log XML e2e (operators/winevent.py): turns render
    to <Event> documents via one codegen'd concat with full entity
    escaping, then parse back with Spark's NATIVE from_xml — attribute
    binding, typed EventID, and the repeated <Data Name=…> array
    extracted BY NAME via a filter lambda. Zero UDFs either direction.
    A marker value containing every escapable character rides on each
    event, so the oracle (all fields recomputed from source; marker
    expected in UNESCAPED form) proves escape→unescape is an exact
    inverse on every row."""
    from hatchery_spark.operators.winevent import (
        parse_winevent,
        render_winevent,
    )

    return parse_winevent(render_winevent(transcripts(spark, sf_dir)))


def _winevent_oracle() -> str:
    from hatchery_spark.operators.winevent import winevent_oracle_sql

    return winevent_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_fluentd_forward(spark, sf_dir):
    """Fluentd Forward-protocol roundtrip (operators/fluentd.py +
    functions/msgpack.py): turns render into per-(tag, stripe) msgpack
    Forward chunks — [tag, [[EventTime, record], ...], {"size": n}] —
    then parse back to rows. The oracle recomputes every field from the
    source turns AND pins each chunk's exact serialized byte length via
    the spec's shortest-form head arithmetic (fixstr/str8/str16,
    fixint/uint widths, fixarray/array16, fixext8 EventTime), so a
    one-byte head bug fails value equality on exactly the straddling
    chunks. `message` = source text untouched (per-turn text equality
    through the binary framing)."""
    from hatchery_spark.operators.fluentd import (
        parse_forward_chunks,
        render_forward_chunks,
    )

    return parse_forward_chunks(render_forward_chunks(
        transcripts(spark, sf_dir)))


def _fluentd_oracle() -> str:
    from hatchery_spark.operators.fluentd import fluentd_oracle_sql

    return fluentd_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_webdataset_roundtrip(spark, sf_dir):
    """WebDataset tar-shard e2e (functions/tarshard.py): documents
    packed into POSIX ustar shards as <key>.txt/<key>.json member
    pairs (zero-padded keys, fixed mtime — byte-deterministic shards),
    read back by the strict from-spec walker (magic + header-checksum
    verify, incomplete-sample rejection). The oracle recomputes shard
    stripe, keys, and every sample field from the documents table, so
    the ustar byte layout, the checksum-with-spaces rule, and the
    member pairing are all value-pinned. ONE shard_id exchange to
    write; shuffle-free read."""
    from hatchery_spark.functions.tarshard import (
        read_webdataset,
        write_webdataset,
    )

    docs = load(spark, sf_dir, "documents")
    return read_webdataset(write_webdataset(docs))


def _webdataset_oracle() -> str:
    from hatchery_spark.functions.tarshard import webdataset_oracle_sql

    return webdataset_oracle_sql("documents")


def q_pcap_roundtrip(spark, sf_dir):
    """pcap capture replay e2e (operators/pcap.py): turns written as
    fully-checksummed Ethernet/IPv4/UDP frames into per-stripe classic
    pcap files, parsed back with BOTH checksums verified (RFC 1071
    ones'-complement, UDP pseudo-header, the 0→0xFFFF transmit rule).
    A deterministic post-checksum payload-byte flip on every
    turn_idx%59==11 turn dead-letters through the UDP verify — frame
    5-tuple and timestamps survive (the IP header checksum still
    passes), payload fields null out. The oracle recomputes everything
    from the source turns; payload text equality carries the per-turn
    invariant through the capture."""
    from hatchery_spark.operators.pcap import capture_turns, parse_captures

    return parse_captures(capture_turns(transcripts(spark, sf_dir)))


def _pcap_oracle() -> str:
    from hatchery_spark.operators.pcap import pcap_oracle_sql

    return pcap_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


_PROM_AS_OF_MS = 1_751_328_000_000


def q_prometheus_roundtrip(spark, sf_dir):
    """Prometheus exposition e2e (operators/prometheus.py): per-(tool,
    role) counters and gauges rendered as /metrics pages (HELP/TYPE
    headers, label escaping, millisecond sample timestamps), then ONLY
    the page text parsed back to samples. The oracle recomputes the
    aggregates directly from the turns, so the render template and the
    scrape regex are both value-pinned. Pure codegen both directions;
    the single corpus-sized exchange is the counting groupBy."""
    from hatchery_spark.operators.prometheus import (
        parse_metrics_page,
        render_metrics_page,
    )

    pages = render_metrics_page(transcripts(spark, sf_dir), _PROM_AS_OF_MS)
    return parse_metrics_page(pages.select("page"))


def _prometheus_oracle() -> str:
    from hatchery_spark.operators.prometheus import prometheus_oracle_sql

    return prometheus_oracle_sql(
        TRANSCRIPTS_SQL.format(events="events"), _PROM_AS_OF_MS
    )


def q_slo_burnrate(spark, sf_dir):
    """Multi-window multi-burn-rate SLO alerting (operators/telemetry.py
    slo_burnrate — the SRE-workbook page/ticket policy): per-(service,
    5-min) error/total counts from ONE corpus pass, 30m/1h/6h windows
    rolled up from the reduced frame, page = 14.4x burn on 1h AND 5m,
    ticket = 6x on 6h AND 30m. Thresholds are integer per-10k ratios
    compared by cross-multiplication — no float division anywhere, so
    the oracle replay is exact. Bucket keys are epoch-second BIGINTs
    (timezone-proof on both engines)."""
    from hatchery_spark.operators.telemetry import slo_burnrate

    t = transcripts(spark, sf_dir)
    lvl = F.regexp_extract(F.col("text"), r"^\[(\w+)\]", 1)
    src = t.select(
        F.col("tool").alias("svc"),
        F.col("ts"),
        lvl.isin("error", "critical").alias("is_error"),
    )
    return slo_burnrate(src, ["svc"])


def _slo_burnrate_oracle() -> str:
    from hatchery_spark.operators.telemetry import slo_burnrate_oracle_sql

    return slo_burnrate_oracle_sql(
        TRANSCRIPTS_SQL.format(events="events"),
        "tool",
        "regexp_extract(text, '^\\[(\\w+)\\]', 1) IN ('error', 'critical')",
    )


def q_rate_envelope(spark, sf_dir):
    """Token-bucket / arrival-curve conformance marking (operators/
    telemetry.py rate_envelope_violations): flag each turn whose
    conversation exceeds the declared (sigma=2, rho=1/28800s) envelope —
    more than 2 + (elapsed/8h) turns in any trailing window. The O(n^2)
    pair test collapses to a RUNNING-MIN window (network-calculus
    virtual-queue closed form), one hash shuffle per key; all arithmetic
    is BIGINT cross-multiplied by rho_den, so the oracle window replay
    is exact on both engines."""
    from hatchery_spark.operators.telemetry import rate_envelope_violations

    t = transcripts(spark, sf_dir)
    out = rate_envelope_violations(
        t, ["conv_id"], sigma=2, rho_num=1, rho_den=28800,
        tiebreak_col="turn_idx",
    )
    return out.select("conv_id", "turn_idx", "backlog_x_den", "violates")


def _rate_envelope_oracle() -> str:
    from hatchery_spark.operators.telemetry import rate_envelope_oracle_sql

    return rate_envelope_oracle_sql(
        TRANSCRIPTS_SQL.format(events="events"),
        "conv_id",
        "ts, turn_idx",
        "conv_id, turn_idx",
        sigma=2,
        rho_num=1,
        rho_den=28800,
    )


def q_logfmt_roundtrip(spark, sf_dir):
    r"""logfmt wire-format e2e: render each document as a key=value line
    (Go-logfmt conditional quoting; the msg field is wrapped in quotes +
    a trailing backslash so both escapes are exercised on every row),
    parse ONLY the line back through the regexp→map decoder, project
    typed fields out of the map. Oracle computes all fields directly
    from the source table — encoder and decoder both value-pinned."""
    from hatchery_spark.operators.logfmt import (
        kv,
        parse_logfmt,
        render_logfmt,
    )

    docs = load(spark, sf_dir, "documents")
    msg = F.concat(
        F.lit('doc "'), F.substring("text", 1, 40), F.lit('" tail\\')
    )
    lines = render_logfmt(
        docs,
        [
            ("doc", F.col("doc_id")),
            ("lang", F.col("lang")),
            ("src", F.col("source")),
            ("msg", msg),
            ("n", F.col("n_chars")),
        ],
    ).select("line")
    return parse_logfmt(lines).select(
        kv("doc").cast("long").alias("doc_id"),
        kv("lang").alias("lang"),
        kv("src").alias("src"),
        kv("msg").alias("msg"),
        kv("n").cast("long").alias("n"),
    )


_LOGFMT_ORACLE = r"""
    SELECT doc_id, lang, source AS src,
           concat('doc "', substr(text, 1, 40), '" tail\') AS msg,
           n_chars AS n
    FROM documents"""


#: nested + overlap-prone on purpose: "can"⊂"scan", "ar"⊂"park"⊂"spark",
#: "atch"⊂"batch" — exercises the fail-link output chain on every doc
_AC_PATTERNS = [
    "scan", "can", "an", "spark", "park", "ar",
    "batch", "atch", "row", "window", "dow", "err",
]


#: planted name roster for the phonetic-blocking fixture (classic
#: soundex-collision families + corpus-adjacent words)
_SOUNDEX_NAMES = [
    "Robert", "Rupert", "Roberts", "Ashcraft", "Ashcroft", "Tymczak",
    "Pfister", "Honeyman", "Jackson", "Jaxon", "Washington", "Lee",
    "Leigh", "Gutierrez", "Smith", "Smyth", "Schmidt", "Johnson",
    "Jonson", "VanDeusen",
]


def q_soundex_blocks(spark, sf_dir):
    """American Soundex phonetic blocking for entity resolution: keys
    over a planted name roster UNION the corpus vocabulary, then block
    sizes per key — same-sounding names (Robert/Rupert, Smith/Smyth)
    land in one block without any pairwise scan. The whole key is ONE
    codegen'd translate/regexp chain (RE2-safe: no backrefs, no
    lookbehind) rendered for BOTH engines from a single step table."""
    from hatchery_spark.functions.phonetic import soundex_col

    names = spark.createDataFrame(
        [(n,) for n in _SOUNDEX_NAMES], "word string"
    )
    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    words = names.unionByName(vocab).distinct()
    keyed = words.select("word", soundex_col(F.col("word")).alias("sx"))
    blocks = keyed.groupBy("sx").agg(
        F.count(F.lit(1)).alias("block_n"),
        F.concat_ws("|", F.array_sort(F.collect_list("word"))).alias("members"),
    )
    return blocks.where(F.col("sx") != "")


def _soundex_oracle() -> str:
    from hatchery_spark.functions.phonetic import soundex_sql

    vals = ", ".join(f"('{n}')" for n in _SOUNDEX_NAMES)
    return f"""
        WITH vocab AS (
          SELECT DISTINCT unnest(string_split_regex(lower(text),
                                 '\\s+')) AS word
          FROM documents),
        words AS (
          SELECT DISTINCT word FROM (
            SELECT word FROM (VALUES {vals}) n(word)
            UNION SELECT word FROM vocab WHERE word <> '')),
        keyed AS (SELECT word, {soundex_sql("word")} AS sx FROM words)
        SELECT sx, count(*) AS block_n,
               string_agg(word, '|' ORDER BY word) AS members
        FROM keyed WHERE sx <> '' GROUP BY sx"""


def q_orc_footer(spark, sf_dir):
    """ORC file-tail reader (protobuf wire format, functions/orc_meta.py)
    over files Spark's NATIVE ORC writer just produced with three codecs
    — the footers arrive zstd/snappy/zlib-compressed in ORC chunk
    framing, so the repo's from-scratch zstd, snappy, and DEFLATE
    decoders all chew real JVM-encoder bytes on the metadata path. Emits
    per-column statistics; the oracle recomputes them from the source
    table, value-pinning the protobuf walk, the zigzag stats decode, and
    all three codec paths at once."""
    import glob
    import shutil
    import tempfile

    import pandas as pd

    from hatchery_spark.functions.orc_meta import read_orc_tail

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", "source"
    )
    rows = []
    work = tempfile.mkdtemp(prefix="orc_footer_")
    try:
        for codec in ("zstd", "snappy", "zlib"):
            out = f"{work}/{codec}"
            docs.coalesce(1).sortWithinPartitions("doc_id").write.mode(
                "overwrite"
            ).option("compression", codec).orc(out)
            (path,) = glob.glob(out + "/part-*.orc")
            tail = read_orc_tail(open(path, "rb").read())
            names = tail["types"][0]["field_names"]
            for i, name in enumerate(names):
                st = tail["statistics"][i + 1]
                rows.append(
                    {
                        "codec": tail["compression"],
                        "col_name": name,
                        "num_values": st["num_values"],
                        "stat_min": str(st.get("min")),
                        "stat_max": str(st.get("max")),
                        "n_rows": tail["num_rows"],
                        "n_stripes": len(tail["stripes"]),
                    }
                )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(pd.DataFrame(rows))


def _orc_footer_oracle() -> str:
    cols = [
        ("doc_id", "cast(min(doc_id) AS varchar)", "cast(max(doc_id) AS varchar)"),
        ("lang", "min(lang)", "max(lang)"),
        ("n_chars", "cast(min(n_chars) AS varchar)", "cast(max(n_chars) AS varchar)"),
        ("source", "min(source)", "max(source)"),
    ]
    legs = "\n        UNION ALL ".join(
        f"""SELECT '{codec}' AS codec, '{name}' AS col_name,
              count(*) AS num_values, {mn} AS stat_min, {mx} AS stat_max,
              count(*) AS n_rows, 1 AS n_stripes
            FROM documents"""
        for codec in ("ZSTD", "SNAPPY", "ZLIB")
        for name, mn, mx in cols
    )
    return legs


def q_zstd_decode(spark, sf_dir):
    """From-scratch RFC 8878 zstd decoder reading REAL libzstd frames
    (pyarrow's bundled encoder, levels rotating 1/3/19 per row): FSE
    normalized counts + table spread, Huffman literals (both tree-
    description forms, 1- and 4-stream), full sequence machinery with
    repeat offsets and cross-block table reuse. The FSE primitives are
    additionally pinned CELL-FOR-CELL against libzstd's own
    FSE_readNCount/FSE_buildDTable_wksp via ctypes in pytest. Identity
    oracle row-for-row."""
    from hatchery_spark.functions.zstd_dec import (
        zstd_decompress_col,
        zstd_pa_compress_col,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    packed = docs.select(
        "doc_id",
        "lang",
        zstd_pa_compress_col(F.col("doc_id"), F.col("text")).alias("z"),
    )
    return packed.select(
        "doc_id", "lang", zstd_decompress_col(F.col("z")).alias("text")
    )


_ZSTD_DECODE_ORACLE = "SELECT doc_id, lang, text FROM documents"


def q_lz4_roundtrip(spark, sf_dir):
    """LZ4 frame decode with third-party bytes on the wire: each doc's
    text is compressed by pyarrow's bundled lz4 (an encoder we don't
    control — linked-block frames with history windows included), then
    decoded by the from-scratch frame walker (magic, FLG/BD, header-
    checksum VERIFY via our own xxh32, block decode). Identity oracle;
    the reverse direction (our frames → pyarrow decoder) is pytest-
    pinned."""
    from hatchery_spark.functions.lz4 import (
        lz4_decompress_col,
        lz4_pa_compress_col,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    packed = docs.select(
        "doc_id", "lang", lz4_pa_compress_col(F.col("text")).alias("z")
    )
    return packed.select(
        "doc_id", "lang", lz4_decompress_col(F.col("z")).alias("text")
    )


_LZ4_ORACLE = "SELECT doc_id, lang, text FROM documents"


def q_aes_roundtrip(spark, sf_dir):
    """Column-level AES-128-CTR encryption at rest (FIPS-197 + SP
    800-38A, implemented from the spec — S-box GENERATED from its GF(2^8)
    definition; the spec's own known-answer vectors are pytest-pinned):
    text encrypted under a per-row counter block derived from doc_id
    (nonce never reused under the key), then decrypted (CTR is an
    involution). Identity oracle row-for-row."""
    from hatchery_spark.functions.aescrypt import aes_ctr_col

    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.encode("text", "UTF-8").alias("raw")
    )
    enc = docs.select(
        "doc_id",
        "lang",
        aes_ctr_col(F.col("raw"), F.col("doc_id"), key).alias("ct"),
    )
    return enc.select(
        "doc_id",
        "lang",
        F.decode(
            aes_ctr_col(F.col("ct"), F.col("doc_id"), key), "UTF-8"
        ).alias("text"),
    )


_AES_ORACLE = "SELECT doc_id, lang, text FROM documents"


def q_avro_evolution(spark, sf_dir):
    """Avro schema RESOLUTION (spec §Schema Resolution): documents are
    written as OCF blobs under the writer schema, then read under an
    EVOLVED reader schema — 'text' dropped (writer-only skip), 'n_chars'
    renamed via aliases AND promoted long→double, reader-only 'score'
    filled from its default. Oracle computes the evolved rows straight
    from the source table, so every resolution rule is value-pinned."""
    from hatchery_spark.functions.avro import (
        read_avro_blobs_resolved,
        write_avro_files,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    blobs = write_avro_files(docs, files=8, order_col="doc_id")
    reader = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "lang", "type": ["null", "string"]},
            {
                "name": "chars",
                "aliases": ["n_chars"],
                "type": ["null", "double"],
            },
            {"name": "score", "type": "double", "default": 1.5},
        ],
    }
    return read_avro_blobs_resolved(
        blobs, reader, "doc_id long, lang string, chars double, score double"
    )


_AVRO_EVOLUTION_ORACLE = """
    SELECT doc_id, lang, cast(n_chars AS double) AS chars,
           cast(1.5 AS double) AS score
    FROM documents"""


def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (LBFS SOSP'01, stateless divisor
    variant): boundaries where the md5 of the trailing w-gram hits
    hash%32==0, so an edit re-chunks only its neighborhood — the
    shift-resistant counterpart of the fixed-size chunk_documents.
    Entirely relational (posexplode → window cumsum → rebuild), zero
    Python; is_first marks corpus-wide first occurrence of the chunk
    content, the delta-dedup hook."""
    from hatchery_spark.functions.cdc import cdc_chunk_documents

    return cdc_chunk_documents(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )


def _cdc_oracle() -> str:
    from hatchery_spark.functions.cdc import cdc_oracle_sql

    return cdc_oracle_sql()


def q_inflate_roundtrip(spark, sf_dir):
    """From-scratch RFC 1951 inflate decoding REAL zlib output (levels
    rotate 0/1/9 by doc_id so stored, fixed-Huffman, and dynamic-Huffman
    blocks all appear in every run) — third-party interop, not
    self-consistency. Identity oracle row-for-row."""
    from hatchery_spark.functions.inflate import deflate_col, inflate_col

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    packed = docs.select(
        "doc_id", "lang", deflate_col(F.col("doc_id"), F.col("text")).alias("z")
    )
    return packed.select(
        "doc_id", "lang", inflate_col(F.col("z")).alias("text")
    )


_INFLATE_ORACLE = "SELECT doc_id, lang, text FROM documents"


def q_deflate_encode(spark, sf_dir):
    """From-scratch RFC 1951 DEFLATE *encoder* (functions/deflate_enc.py
    — greedy hash-chain LZ77, length-limited dynamic-Huffman trees, the
    16/17/18 code-length meta-coding) whose output is decoded by stdlib
    zlib — third-party interop in the direction rel_inflate_roundtrip
    does not cover. Block type rotates stored/fixed/dynamic by doc_id%3
    so all three paths appear in every run. Identity oracle row-for-row;
    any encoder bit error breaks the zlib decode and fails value match."""
    from hatchery_spark.functions.deflate_enc import (
        deflate_encode_col,
        zlib_inflate_col,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    packed = docs.select(
        "doc_id", "lang",
        F.pmod(F.col("doc_id"), F.lit(3)).cast("long").alias("block_mode"),
        deflate_encode_col(F.col("doc_id"), F.col("text")).alias("z"),
    )
    return packed.select(
        "doc_id", "lang", "block_mode",
        zlib_inflate_col(F.col("z")).alias("text"),
    )


_DEFLATE_ENCODE_ORACLE = (
    "SELECT doc_id, lang, doc_id % 3 AS block_mode, text FROM documents"
)


def q_ip_pseudonymize(spark, sf_dir):
    """Prefix-preserving IP pseudonymization (Crypto-PAn bit lattice,
    md5 PRF): output bit i = bit i XOR PRF(i, bits 0..i-1), so subnet
    structure survives pseudonymization exactly — addresses sharing a
    k-bit prefix keep sharing exactly k bits. One codegen'd Project over
    the extracted IPs; pairs with pipeline_cidr_enrich for privacy-safe
    network analytics."""
    from hatchery_spark.operators.netenrich import (
        extract_ipv4,
        ip_pseudonymize,
        ipv4_to_long,
        long_to_ipv4,
    )

    t = transcripts(spark, sf_dir)
    out = t.withColumn("ip", extract_ipv4(F.col("text"))).where(
        F.col("ip") != ""
    )
    anon = ip_pseudonymize(ipv4_to_long(F.col("ip")))
    return out.select(
        "conv_id", "turn_idx", "ip", long_to_ipv4(anon).alias("anon_ip")
    )


def _ip_pseudonymize_oracle() -> str:
    from hatchery_spark.operators.netenrich import (
        ip_pseudonymize_oracle_terms,
    )

    t = TRANSCRIPTS_SQL.format(events="events")
    ipl = (
        "(cast(string_split(ip, '.')[1] AS bigint) * 16777216"
        " + cast(string_split(ip, '.')[2] AS bigint) * 65536"
        " + cast(string_split(ip, '.')[3] AS bigint) * 256"
        " + cast(string_split(ip, '.')[4] AS bigint))"
    )
    terms = ip_pseudonymize_oracle_terms("ipl")
    return f"""
        WITH t AS ({t}),
        w AS (
          SELECT conv_id, turn_idx,
                 regexp_extract(text,
                   '(\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}})', 1) AS ip
          FROM t),
        x AS (SELECT conv_id, turn_idx, ip, {ipl} AS ipl
              FROM w WHERE ip <> ''),
        y AS (SELECT conv_id, turn_idx, ip, ({terms}) AS anon FROM x)
        SELECT conv_id, turn_idx, ip,
               concat(cast((anon >> 24) % 256 AS varchar), '.',
                      cast((anon >> 16) % 256 AS varchar), '.',
                      cast((anon >> 8) % 256 AS varchar), '.',
                      cast(anon % 256 AS varchar)) AS anon_ip
        FROM y"""


#: (group, stride, count) legs — single source for Spark AND the oracle.
#: Engineered to hit every container kind: g0 one dense run, g1 a
#: bitmap (card ≥4096, runs too many), g2/g3 arrays (single and
#: multi-chunk), g4 run+sparse mix, g5 four array containers.
_ROARING_SPEC = [
    (0, 1, 5000),
    (1, 2, 5000),
    (2, 17, 3000),
    (3, 40, 4000),
    (4, 1, 300),
    (4, 1700, 30),
    (5, 30, 9000),
]


def q_roaring_postings(spark, sf_dir):
    """Roaring bitmap serialization (RoaringFormatSpec): six engineered
    doc-id sets → actual serialized bytes in-task; the emitted container
    counts are RE-PARSED from those bytes (cookie, run bitset, card
    threshold) and every set is deserialize-roundtripped before emitting.
    The oracle replays the full byte-layout arithmetic — cookie choice,
    offset-header rule, runOptimize container selection — from container
    cardinalities and run counts in SQL, so a single framing byte off
    breaks the match."""
    import pandas as pd

    from functools import reduce

    from hatchery_spark.functions.roaring import (
        container_stats,
        deserialize,
        serialize,
    )

    legs = [
        spark.range(cnt).select(
            F.lit(g).alias("g"), (F.col("id") * m).alias("v")
        )
        for g, m, cnt in _ROARING_SPEC
    ]
    vals = reduce(lambda a, b: a.unionAll(b), legs).distinct()

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf["g"].iloc[0])
        vs = sorted(set(int(x) for x in pdf["v"]))
        buf = serialize(vs)
        if deserialize(buf) != vs:  # roundtrip is part of the contract
            raise AssertionError(f"roaring roundtrip failed for g={g}")
        st = container_stats(buf)
        return pd.DataFrame(
            [
                {
                    "g": g,
                    "n_values": len(vs),
                    "v_min": vs[0],
                    "v_max": vs[-1],
                    **st,
                }
            ]
        )

    return vals.groupBy("g").applyInPandas(
        pack,
        "g int, n_values long, v_min long, v_max long, n_containers int,"
        " n_array int, n_bitmap int, n_run int, n_bytes int",
    )


def _roaring_oracle() -> str:
    legs = "\n            UNION ALL ".join(
        f"SELECT {g} AS g, cast(i * {m} AS bigint) AS v"
        f" FROM (SELECT unnest(range(0, {cnt})) AS i)"
        for g, m, cnt in _ROARING_SPEC
    )
    return f"""
        WITH vals AS (SELECT DISTINCT g, v FROM ({legs})),
        ch AS (
          SELECT g, v >> 16 AS k, v & 65535 AS low,
                 CASE WHEN (v & 65535)
                        - lag(v & 65535) OVER (PARTITION BY g, v >> 16
                                               ORDER BY v) = 1
                      THEN 0 ELSE 1 END AS new_run
          FROM vals),
        co AS (
          SELECT g, k, count(*) AS card,
                 sum(coalesce(new_run, 1)) AS n_runs
          FROM ch GROUP BY g, k),
        plan AS (
          SELECT g, k, card, n_runs,
            CASE WHEN 2 + 4 * n_runs <
                      (CASE WHEN card < 4096 THEN 2 * card ELSE 8192 END)
                 THEN 'run'
                 WHEN card < 4096 THEN 'array' ELSE 'bitmap' END AS kind
          FROM co),
        sized AS (
          SELECT g, k, kind,
            CASE kind WHEN 'run' THEN 2 + 4 * n_runs
                      WHEN 'array' THEN 2 * card
                      ELSE 8192 END AS body
          FROM plan),
        agg AS (
          SELECT g, count(*) AS n,
                 sum(CASE WHEN kind = 'array' THEN 1 ELSE 0 END) AS n_array,
                 sum(CASE WHEN kind = 'bitmap' THEN 1 ELSE 0 END) AS n_bitmap,
                 sum(CASE WHEN kind = 'run' THEN 1 ELSE 0 END) AS n_run,
                 sum(body) AS body_bytes
          FROM sized GROUP BY g),
        tot AS (
          SELECT g, n, n_array, n_bitmap, n_run,
            4
            + CASE WHEN n_run > 0 THEN (n + 7) // 8 ELSE 4 END
            + 4 * n
            + CASE WHEN n_run = 0 OR n >= 4 THEN 4 * n ELSE 0 END
            + body_bytes AS n_bytes
          FROM agg),
        vstat AS (SELECT g, count(*) AS n_values, min(v) AS v_min,
                         max(v) AS v_max
                  FROM vals GROUP BY g)
        SELECT v.g, v.n_values, v.v_min, v.v_max,
               cast(t.n AS int) AS n_containers,
               cast(t.n_array AS int) AS n_array,
               cast(t.n_bitmap AS int) AS n_bitmap,
               cast(t.n_run AS int) AS n_run,
               cast(t.n_bytes AS int) AS n_bytes
        FROM vstat v JOIN tot t USING (g)"""


def q_multi_pattern_scan(spark, sf_dir):
    """Aho–Corasick multi-pattern substring scan (CACM 1975) — ONE pass
    over the text for the whole pattern list (the scale path for
    thousand-term policy/PII phrase lists, vs O(patterns) regex passes);
    counts OVERLAPPING occurrences via fail-link output chains. The
    pattern list nests on purpose ("can" in "scan", "ar" in "park" in
    "spark") so suffix outputs are exercised on every document."""
    from hatchery_spark.functions.multipattern import multi_pattern_counts

    return multi_pattern_counts(
        load(spark, sf_dir, "documents"), _AC_PATTERNS
    )


def _multi_pattern_oracle() -> str:
    from hatchery_spark.functions.multipattern import multi_pattern_oracle_sql

    return multi_pattern_oracle_sql(_AC_PATTERNS)


def q_gorilla_bits(spark, sf_dir):
    """Gorilla delta-of-delta timestamp sizing per conversation stream
    (VLDB'15 §4.1 bucket table): one hash shuffle on the stream key
    serves both window passes and the final aggregate; all-integer
    output (bit totals, bucket counts, per-mille ratio) so the replay
    is tie-proof."""
    from hatchery_spark.operators.telemetry import gorilla_ts_bits

    return gorilla_ts_bits(transcripts(spark, sf_dir))


def _gorilla_oracle() -> str:
    from hatchery_spark.operators.telemetry import gorilla_oracle_sql

    return gorilla_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_template_anomaly(spark, sf_dir):
    """Template-rate anomaly detection over the mined Drain templates:
    per-template daily counts on a DENSE template×day grid (zero-days
    kept — absent days are the classic silent-outage blind spot), 3σ
    flag via the all-integer z² inequality (c·n − Σc)²·n > 9·(n·Σc² −
    (Σc)²) — no division, no sqrt, zero float-tie risk."""
    from hatchery_spark.operators.logmine import template_day_stats

    return template_day_stats(transcripts(spark, sf_dir))


def _template_anomaly_oracle() -> str:
    from hatchery_spark.operators.logmine import template_anomaly_oracle_sql

    return template_anomaly_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_parquet_footer(spark, sf_dir):
    """Parquet footer as a queryable surface: documents are bucketed
    doc_id%4, each bucket written to an in-memory parquet blob (pyarrow,
    ONE row group, snappy) inside its own task, and the blob's footer is
    parsed by the from-scratch Thrift compact-protocol reader
    (functions/parquet_meta.py) — row-group rows, per-chunk num_values,
    codec, and plain-encoded min/max statistics. The oracle recomputes
    every statistic from the source table, so the Thrift field walk and
    the stat decode are value-pinned; pytest additionally cross-checks
    the parser against DuckDB's independent parquet_metadata()."""
    import io

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hatchery_spark.functions.parquet_meta import footer_summary

    docs = load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 4).cast("int").alias("grp"),
        "doc_id",
        "lang",
        "source",
        "n_chars",
    )

    def build_and_parse(pdf: pd.DataFrame) -> pd.DataFrame:
        grp = int(pdf["grp"].iloc[0])
        tbl = pa.Table.from_pandas(
            pdf.drop(columns=["grp"]).sort_values("doc_id"),
            preserve_index=False,
        )
        bio = io.BytesIO()
        pq.write_table(
            tbl, bio, compression="snappy", row_group_size=len(pdf)
        )
        rows = footer_summary(bio.getvalue())
        return pd.DataFrame(
            [
                {
                    "grp": grp,
                    "col_name": r["column"],
                    "ptype": r["ptype"],
                    "codec": r["codec"],
                    "num_values": r["num_values"],
                    "null_count": r["null_count"],
                    "stat_min": r["stat_min"],
                    "stat_max": r["stat_max"],
                    "rg_num_rows": r["rg_num_rows"],
                }
                for r in rows
            ]
        )

    return docs.groupBy("grp").applyInPandas(
        build_and_parse,
        "grp int, col_name string, ptype string, codec string,"
        " num_values long, null_count long, stat_min string,"
        " stat_max string, rg_num_rows long",
    )


def _parquet_footer_oracle() -> str:
    cols = [
        ("doc_id", "INT64", "cast(min(doc_id) AS varchar)",
         "cast(max(doc_id) AS varchar)"),
        ("lang", "BYTE_ARRAY", "min(lang)", "max(lang)"),
        ("source", "BYTE_ARRAY", "min(source)", "max(source)"),
        ("n_chars", "INT64", "cast(min(n_chars) AS varchar)",
         "cast(max(n_chars) AS varchar)"),
    ]
    legs = "\n        UNION ALL\n".join(
        f"""SELECT cast(doc_id % 4 AS int) AS grp, '{name}' AS col_name,
              '{ptype}' AS ptype, 'SNAPPY' AS codec,
              count(*) AS num_values, cast(0 AS bigint) AS null_count,
              {mn} AS stat_min, {mx} AS stat_max,
              count(*) AS rg_num_rows
            FROM documents GROUP BY 1"""
        for name, ptype, mn, mx in cols
    )
    return legs


def q_snappy_roundtrip(spark, sf_dir):
    """Snappy block-format codec e2e (the compression inside parquet
    pages), implemented from the public format description: greedy
    hash-table LZ encoder → full tag-matrix decoder (literal/copy-1/2/4,
    overlapping-copy RLE), one Arrow-batched UDF per direction.
    Identity oracle pins decode(encode(text)) == text row-for-row."""
    from hatchery_spark.functions.snappy import (
        snappy_compress_col,
        snappy_decompress_col,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.encode("text", "UTF-8").alias("raw")
    )
    packed = docs.select(
        "doc_id", "lang", snappy_compress_col(F.col("raw")).alias("z")
    )
    return packed.select(
        "doc_id",
        "lang",
        F.decode(snappy_decompress_col(F.col("z")), "UTF-8").alias("text"),
    )


_SNAPPY_ORACLE = "SELECT doc_id, lang, text FROM documents"


_HLL_SRC_SQL = """SELECT tool,
            regexp_extract(text, 'actor=(\\S+)', 1) AS actor
          FROM ({t}) WHERE regexp_extract(text, 'actor=(\\S+)', 1) <> ''"""


def q_hll_actors(spark, sf_dir):
    """Hand-rolled HyperLogLog distinct-actor sketch per tool: explicit
    (grp, reg, m_rank) register table (mergeable across epochs with
    groupBy(reg).max — the 100 TB property approx_count_distinct can't
    give you), exact-integer 2^-M sum, estimator + linear-counting
    branch replayed by the oracle bit-for-bit. Exact distinct joined
    alongside so the sketch's error is visible in the output."""
    from hatchery_spark.operators.sketches import hll_estimate, hll_registers

    t = transcripts(spark, sf_dir)
    actor = F.regexp_extract("text", r"actor=(\S+)", 1)
    src = t.select(F.col("tool").alias("grp"), actor.alias("actor")).where(
        F.col("actor") != ""
    )
    est = hll_estimate(hll_registers(src, "actor", ["grp"]), ["grp"])
    exact = src.groupBy("grp").agg(F.countDistinct("actor").alias("exact_n"))
    return est.join(exact, "grp")


def _hll_actors_oracle() -> str:
    from hatchery_spark.operators.sketches import hll_oracle_sql

    src = _HLL_SRC_SQL.format(t=TRANSCRIPTS_SQL.format(events="events"))
    inner = hll_oracle_sql(src, "actor", "tool")
    return f"""
        WITH ex AS (
          SELECT tool AS grp, count(DISTINCT actor) AS exact_n
          FROM ({src}) GROUP BY 1)
        SELECT b.grp, b.v_zero, b.scaled_sum, b.estimate, ex.exact_n
        FROM ({inner}) b JOIN ex USING (grp)"""


def q_cms_resources(spark, sf_dir):
    """Count-min sketch over the audit resource field: d=4 md5-slice
    probe rows × w=256 counters built in ONE partially-aggregated pass
    (the counter grid is corpus-independent, so map-side combine does
    the heavy lifting); per-resource point estimate = min over probes,
    joined against the true count so the one-sided overestimate is
    visible and value-checked."""
    from hatchery_spark.operators.sketches import cms_query, cms_sketch

    t = transcripts(spark, sf_dir)
    res = F.regexp_extract("text", r"resource=(\S+)", 1)
    src = t.select(res.alias("key")).where(F.col("key") != "")
    sketch = cms_sketch(src, "key")
    truth = src.groupBy("key").agg(F.count(F.lit(1)).alias("true_n"))
    est = cms_query(sketch, truth.select("key"), "key")
    return truth.join(est, "key")


def _cms_resources_oracle() -> str:
    from hatchery_spark.operators.sketches import cms_oracle_sql

    t = TRANSCRIPTS_SQL.format(events="events")
    src = f"""SELECT regexp_extract(text, 'resource=(\\S+)', 1) AS res
          FROM ({t}) WHERE regexp_extract(text, 'resource=(\\S+)', 1) <> ''"""
    return cms_oracle_sql(src, "res")


def q_cidr_enrich(spark, sf_dir):
    """CIDR longest-prefix-match enrichment: extract the IPv4 from each
    audit turn, LPM it against a zone table inlined into the plan as
    per-prefix-length literal maps — the whole lookup is ONE codegen'd
    Project (coalesce of try_element_at), no join, no Exchange.
    Reference analog: the per-source enrich configs (source/*/config.go)
    as a network-zone lookup."""
    from hatchery_spark.operators.netenrich import cidr_enrich

    return cidr_enrich(transcripts(spark, sf_dir)).select(
        "conv_id", "turn_idx", "ip", "plen", "zone"
    )


def _cidr_enrich_oracle() -> str:
    from hatchery_spark.operators.netenrich import cidr_oracle_case_chain

    ipl = (
        "(cast(string_split(ip, '.')[1] AS bigint) * 16777216"
        " + cast(string_split(ip, '.')[2] AS bigint) * 65536"
        " + cast(string_split(ip, '.')[3] AS bigint) * 256"
        " + cast(string_split(ip, '.')[4] AS bigint))"
    )
    plen_expr, zone_expr = cidr_oracle_case_chain("ipl")
    t = TRANSCRIPTS_SQL.format(events="events")
    return f"""
        WITH t AS ({t}),
        w AS (
          SELECT conv_id, turn_idx,
                 regexp_extract(text,
                   '(\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}})', 1) AS ip
          FROM t),
        x AS (SELECT conv_id, turn_idx, ip, {ipl} AS ipl
              FROM w WHERE ip <> '')
        SELECT conv_id, turn_idx, ip,
               {plen_expr} AS plen, {zone_expr} AS zone
        FROM x"""


def q_quality_logreg(spark, sf_dir):
    """Trained quality classifier: 3-round IRLS logistic regression over
    two codegen text features with a non-space-density label; every round
    is one partially-aggregated pass (nine doubles to the driver). The
    oracle replays all three rounds — sums, cofactor solve, weight
    updates, sigmoid scoring."""
    from hatchery_spark.functions.regression import logreg_irls_fit_predict

    docs = load(spark, sf_dir, "documents")
    return logreg_irls_fit_predict(
        docs,
        x1=F.length("text") / F.lit(100.0),
        x2=F.size(F.split(F.col("text"), " ", -1)) / F.lit(10.0),
        y=(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) * 100
            > F.length("text") * 82
        ).cast("int"),
        keys=["doc_id"],
        iters=3,
    )


def _quality_logreg_oracle() -> str:
    from hatchery_spark.functions.regression import logreg_oracle_sql

    feats = """
      SELECT doc_id,
             length(text) / 100.0 AS x1,
             len(string_split(text, ' ')) / 10.0 AS x2,
             cast(length(replace(text, ' ', '')) * 100 > length(text) * 82
                  AS double) AS y
      FROM documents"""
    return logreg_oracle_sql(feats, keys="f.doc_id", iters=3)


def q_quality_regression(spark, sf_dir):
    """Corpus-wide least-squares fit (two text features + intercept →
    non-space density target) via ONE partially-aggregated normal-equation
    pass; per-doc predictions/residuals are codegen. The oracle replays
    sums, cofactor solve, and roundings literally."""
    from hatchery_spark.functions.regression import ols_fit_predict

    docs = load(spark, sf_dir, "documents")
    return ols_fit_predict(
        docs,
        x1=F.length("text") / F.lit(100.0),
        x2=F.size(F.split(F.col("text"), " ", -1)) / F.lit(10.0),
        y=F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / F.lit(100.0),
        keys=["doc_id"],
    )


def _quality_regression_oracle() -> str:
    from hatchery_spark.functions.regression import ols_oracle_sql

    feats = """
      SELECT doc_id,
             length(text) / 100.0 AS x1,
             len(string_split(text, ' ')) / 10.0 AS x2,
             length(replace(text, ' ', '')) / 100.0 AS y
      FROM documents"""
    return ols_oracle_sql(feats, keys="f.doc_id")


def q_jsonl_zst_roundtrip(spark, sf_dir):
    """.jsonl.zst corpus format e2e: documents → single-frame zstd JSONL
    files (the RedPajama/DCLM shipping format) → RFC 8878 frame-header
    size parse → decompress → from_json. Identity oracle: every field
    straight from the source table."""
    from hatchery_spark.functions.jsonl_zst import (
        read_jsonl_zst_blobs,
        write_jsonl_zst_files,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    blobs = write_jsonl_zst_files(docs, files=8)
    return read_jsonl_zst_blobs(blobs, "doc_id long, lang string, text string")


_JSONL_ZST_ORACLE = "SELECT doc_id, lang, text FROM documents"


def q_frontier_schedule(spark, sf_dir):
    """Politeness-scheduled crawl frontier over a synthesized URL set (two
    urls per doc across 17 hosts, md5-free integer priorities): wave-major
    fetch keys that touch each host at most once per wave."""
    from hatchery_spark.functions.crawl import frontier_schedule

    docs = load(spark, sf_dir, "documents")
    j = F.explode(F.array(F.lit(0), F.lit(1))).alias("j")
    urls = docs.select("doc_id", j).select(
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 17).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit("/"),
            F.col("j").cast("string"),
        ).alias("url"),
        ((F.col("doc_id") * 31 + F.col("j")) % 100).alias("priority"),
    )
    return frontier_schedule(urls)


_FRONTIER_ORACLE = """
WITH urls AS (
  SELECT concat('https://h', cast(doc_id % 17 AS varchar), '.example.com/p/',
                cast(doc_id AS varchar), '/', cast(j AS varchar)) AS url,
         (doc_id * 31 + j) % 100 AS priority
  FROM documents, (SELECT unnest(range(0, 2)) AS j)),
h AS (
  SELECT url, priority,
         regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host
  FROM urls),
s AS (
  SELECT url, host, priority,
         row_number() OVER (PARTITION BY host ORDER BY priority DESC, url) AS slot
  FROM h),
hi AS (
  SELECT host, row_number() OVER (ORDER BY host) AS host_idx
  FROM (SELECT DISTINCT host FROM s)),
nn AS (SELECT count(*) AS n_hosts FROM hi)
SELECT s.url, s.host, cast(s.slot AS int) AS slot,
       cast((s.slot - 1) * nn.n_hosts + hi.host_idx AS bigint) AS fetch_key
FROM s JOIN hi ON hi.host = s.host CROSS JOIN nn"""


def q_mojibake_repair(spark, sf_dir):
    """Mojibake repair e2e: accents/cp1252-only chars are injected (pure
    codegen, SQL-replayable), then doc_id%4 selects 2×/1×/0× layers of
    utf8-read-as-cp1252 corruption, then the repair peels them. The oracle
    reconstructs the INJECTED text directly — full restoration or bust —
    and pins the peeled-round count per corruption class."""
    from hatchery_spark.functions.encoding import corrupt_mojibake_df, fix_mojibake

    docs = load(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.lit("«"),
            F.replace(F.col("text"), F.lit("e"), F.lit("é")),
            F.lit(" — €"),
        ).alias("text"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(2))
        .when(F.col("doc_id") % 4 == 3, F.lit(0))
        .otherwise(F.lit(1))
        .alias("times"),
    )
    corrupted = corrupt_mojibake_df(injected)
    return fix_mojibake(corrupted).select("doc_id", "repaired", "rounds")


_MOJIBAKE_ORACLE = """
SELECT doc_id,
  concat('«', replace(text, 'e', 'é'), ' — €') AS repaired,
  cast(CASE WHEN doc_id % 4 = 0 THEN 2
            WHEN doc_id % 4 = 3 THEN 0 ELSE 1 END AS int) AS rounds
FROM documents"""


def q_avro_roundtrip(spark, sf_dir):
    """Third interchange format e2e: lineitem → Avro OCF blobs written by
    the package's own spec-implemented encoder (deflate + null codecs) →
    decoded back → aggregate. The oracle recomputes the aggregate from the
    ORIGINAL parquet, so any encode/decode defect (zigzag, union framing,
    block sync, codec) value-mismatches. The sandbox's PySpark has no
    spark-avro jar — this is the engine's own Avro surface."""
    from hatchery_spark.functions.avro import read_avro_blobs, write_avro_files

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"
    )
    ddl = (
        "l_orderkey bigint, l_linenumber int, l_quantity double, "
        "l_returnflag string, l_shipdate timestamp"
    )
    back = read_avro_blobs(write_avro_files(li, files=8), ddl)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.sum("l_orderkey").cast("long").alias("sum_okey"),
        F.max("l_shipdate").alias("max_ship"),
        F.sum("l_linenumber").cast("long").alias("sum_line"),
    )


_AVRO_ROUNDTRIP_ORACLE = """
SELECT l_returnflag, count(*) AS n,
       round(sum(l_quantity), 4) AS sum_qty,
       cast(sum(l_orderkey) AS bigint) AS sum_okey,
       max(l_shipdate) AS max_ship,
       cast(sum(l_linenumber) AS bigint) AS sum_line
FROM lineitem GROUP BY l_returnflag"""


def q_media_audio_adpcm(spark, sf_dir):
    """IMA ADPCM decode (WAV format tag 17) through the rfft feature path:
    constant-signal blocks (index 0, all-zero nibbles — step 7 decodes to
    diff 0) make rms = |predictor| and dominant bin DC exact; every 8th
    row advertises stereo and exercises the gated decoder_unavailable
    channel."""
    from hatchery_spark.functions.multimodal import (
        synthetic_adpcm_media_df,
        wav_spectral_features,
    )

    return wav_spectral_features(synthetic_adpcm_media_df(spark, 48))


def q_media_audio_alaw(spark, sf_dir):
    """G.711 A-law decode (WAV format tag 6) through the same rfft feature
    path: constant-byte fixtures sweep all 8 segments × mantissa grid ×
    both signs, so RMS equals the exact expansion magnitude and the
    dominant bin is DC — every value closed-form in the oracle."""
    from hatchery_spark.functions.multimodal import (
        synthetic_alaw_media_df,
        wav_spectral_features,
    )

    return wav_spectral_features(synthetic_alaw_media_df(spark, 48))


def q_media_mp4_meta(spark, sf_dir):
    """Video-corpus container triage: full ISO BMFF box walk (ftyp brand,
    mvhd timescale/duration, per-trak tkhd 16.16 dimensions + hdlr typing,
    largesize/free/v0/v1 variants) in mapInPandas; codec payloads stay
    honestly gated. Closed-form fixtures make every value oracle-checkable,
    including the decoder_unavailable / decode_error channels."""
    from hatchery_spark.functions.multimodal import (
        mp4_meta_features,
        synthetic_mp4_media_df,
    )

    return mp4_meta_features(synthetic_mp4_media_df(spark, 48))


def q_hard_negatives(spark, sf_dir):
    """DPR-style hard-negative mining: deterministic query docs (leading-
    token queries), BM25-batch scoring of the whole corpus in ONE plan
    (postings built once, query frames broadcast), per-query rank-window
    cut to the top non-positive hits. The triples an embedding trainer
    consumes; the oracle replays the full batch-BM25 math and the cut."""
    from hatchery_spark.functions.corpus import hard_negatives

    return hard_negatives(load(spark, sf_dir, "documents"))


def q_span_corruption(spark, sf_dir):
    """T5 span-corruption example construction over documents: block-
    deterministic masking (md5 arithmetic — non-overlap by construction,
    no sequential scan), sentinel numbering via ONE running-count window,
    order-restoring rebuild of inputs AND targets in one doc_id exchange.
    The oracle replays the entire derivation — hash decode, span
    placement, sentinel indices, both reconstructed strings."""
    from hatchery_spark.functions.corpus import span_corruption

    return span_corruption(load(spark, sf_dir, "documents"))


def q_blocklist_filter(spark, sf_dir):
    """C4 §2.2 banned-word page gate, BOTH plans side by side: the
    codegen'd arrays_overlap projection (zero shuffle — the real-world
    few-hundred-term list) and the broadcast-semi-join form (list-as-
    table). The query returns both verdict columns so the driver gate
    itself proves the two plans agree on every document."""
    from hatchery_spark.functions.corpus import blocklist_filter

    docs = load(spark, sf_dir, "documents")
    terms = ["spark", "vector", "slow"]
    a = blocklist_filter(docs, terms).select(
        "doc_id", F.col("blocked").alias("blocked_expr")
    )
    tdf = spark.createDataFrame([(t,) for t in terms], "term string")
    b = blocklist_filter(docs, tdf).select(
        "doc_id", F.col("blocked").alias("blocked_join")
    )
    return a.join(b, "doc_id").select("doc_id", "blocked_expr", "blocked_join")


def q_image_dhash_dedup(spark, sf_dir):
    """Cross-format image dedup via perceptual difference-hash over REAL
    decodes: every content exists twice — an RGB PNG and a byte-disjoint
    interleaved-RGB lossless JPEG (SOF3, all 7 predictors rotating) of
    IDENTICAL pixels. dHash sees decoded pixels, so each pair collapses
    into one group (a byte digest never can); distinct contents use a
    quadratic pattern so their hashes differ. The oracle states the exact
    group structure (one per content, one image per format) in closed
    form — any decoder or hash divergence splits or merges groups and
    value-mismatches."""
    from hatchery_spark.functions.multimodal import (
        image_dhash,
        synthetic_gradient_image_df,
    )

    h = image_dhash(synthetic_gradient_image_df(spark, 60))
    return (
        h.groupBy("dhash")
        .agg(
            F.min("media_id").alias("rep_id"),
            F.count(F.lit(1)).cast("int").alias("n_images"),
            F.sum(
                F.when(F.col("media_id") % 2 == 0, 1).otherwise(0)
            ).cast("int").alias("n_png"),
            F.sum(
                F.when(F.col("media_id") % 2 == 1, 1).otherwise(0)
            ).cast("int").alias("n_jpeg"),
        )
        .select("rep_id", "n_images", "n_png", "n_jpeg")
    )


def q_search_phrase(spark, sf_dir):
    """Exact-phrase retrieval (Lucene PhraseQuery shape) over positional
    postings: per-occurrence (token, doc, pos) rows, k−1 equi-joins on
    (doc, pos+offset) with term-pruned inputs. Two phrases unioned — a
    duplicate-token bigram ('table table', positions not tokens anchor the
    join) and a trigram — so the chain depth and the dup-term case are
    both oracle-checked."""
    from hatchery_spark.functions.corpus import (
        positional_postings,
        search_phrase,
    )

    docs = load(spark, sf_dir, "documents")
    p = positional_postings(docs).persist()  # the served-index stand-in
    parts = []
    for phrase in ("table table", "value table part"):
        parts.append(
            search_phrase(p, phrase).select(
                F.lit(phrase).alias("phrase"), "doc_id", "n_matches"
            )
        )
    return parts[0].unionByName(parts[1])


def q_url_canonical(spark, sf_dir):
    """URL-level dedup, stage one of every web-crawl corpus: canonicalize
    (RFC 3986 normalization + tracking-param strip + query-param sort) and
    group. Deterministic messy-URL synthesis from doc_id/source — case
    rotations, www prefixes, default ports, trailing slashes, shuffled and
    tracking-polluted query strings, fragments — so the oracle states each
    group's CANONICAL form in closed form and replays the raw-variant
    count; pure codegen string expressions, one vocabulary-ish exchange."""
    from hatchery_spark.functions.text import canonicalize_url

    d = load(spark, sf_dir, "documents")
    k = F.col("doc_id")
    host0 = F.concat(F.col("source"), F.lit(".example.com"))
    url = F.concat(
        F.when(k % 3 == 1, F.lit("HTTPS")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(k % 2 == 0, F.upper(F.concat(F.lit("www."), host0)))
        .otherwise(host0),
        F.when(k % 3 == 0, F.lit(":80"))
        .when(k % 3 == 1, F.lit(":443"))
        .otherwise(F.lit("")),
        F.lit("/docs/"),
        (k % 50).cast("string"),
        F.when(k % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(k % 5 == 0, F.lit("?utm_source=tw&b=2&a=1"))
        .when(k % 5 == 1, F.lit("?a=1&b=2&utm_campaign=x"))
        .when(k % 5 == 2, F.lit("?b=2&a=1"))
        .when(k % 5 == 3, F.lit(""))
        .otherwise(F.lit("?gclid=zzz")),
        F.when(k % 7 == 0, F.lit("#sec2")).otherwise(F.lit("")),
    )
    raw = d.select(url.alias("url"))
    return (
        raw.select("url", canonicalize_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_urls"),
            F.count_distinct("url").cast("int").alias("n_variants"),
        )
    )


def q_kn_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney word-bigram perplexity gate (Kneser & Ney
    1995; the KenLM model class CCNet filters with): reference corpus =
    docs with doc_id % 17 == 0, every other doc scored in bits-per-bigram.
    All four model frames are derived from ONE bigram aggregate; the
    vocabulary-sized ctx/cont frames are forced broadcast, the
    reference-bounded bigram join is AQE's call, and the corpus side is a
    pure codegen explode. OOV contexts back off to the continuation
    distribution with an unk floor — the oracle replays max-discount,
    interpolation weights, and both backoff branches in full."""
    from hatchery_spark.functions.corpus import (
        kneser_ney_bits,
        kneser_ney_train,
    )

    docs = load(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 17 == 0)
    score = docs.filter(F.col("doc_id") % 17 != 0)
    return kneser_ney_bits(score, *kneser_ney_train(ref))


def q_snapshot_timetravel(spark, sf_dir):
    """Snapshot-versioned table end-to-end (hatchery_spark/snapshot.py —
    the transaction-log commit protocol the Iceberg gate can't execute in
    this sandbox, run for real): create → append → copy-on-write MERGE
    (update/insert/delete) → overwrite, four ATOMIC commits, then
    time-travel reads of ALL four versions. Update math is ×2 / ÷2 only
    (exponent arithmetic — exact in binary floating point), so every row
    of every historical snapshot is replayable set algebra for the oracle.
    Reads are one manifest fetch + a plain pruned parquet scan; appends
    never touch existing files."""
    import tempfile

    from hatchery_spark.snapshot import SnapshotTable

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    key = F.col("o_orderkey")
    path = tempfile.mkdtemp(prefix="hs_snap_") + "/orders_snap"
    t = SnapshotTable.create(spark, path, o.filter(key % 7 == 0),
                             run_ts="2025-06-03 12:00:00")
    t.append(o.filter(key % 7 == 1), run_ts="2025-06-03 12:05:00")
    upd = o.filter((key % 7 == 0) & (key % 3 == 0) & (key % 5 != 0)).select(
        "o_orderkey",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit(False).alias("_del"),
    )
    ins = o.filter((key % 7 == 0) & (key % 11 == 0)).select(
        (key + 10_000_000).alias("o_orderkey"),
        (F.col("o_totalprice") / 2).alias("o_totalprice"),
        F.lit(False).alias("_del"),
    )
    dels = o.filter((key % 7 == 0) & (key % 5 == 0)).select(
        "o_orderkey",
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(True).alias("_del"),
    )
    t.merge(upd.unionByName(ins).unionByName(dels), "o_orderkey",
            delete_col="_del", run_ts="2025-06-03 12:10:00")
    t.overwrite(o.filter(key % 7 == 2), run_ts="2025-06-03 12:15:00")

    parts = []
    for h in t.history():
        parts.append(
            t.read(h["version"]).select(
                F.lit(h["version"]).cast("int").alias("version"),
                F.lit(h["action"]).alias("action"),
                "o_orderkey", "o_custkey", "o_totalprice",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_media_mp4_frames(spark, sf_dir):
    """REAL MP4 video frame decode: the sample map (stsd codec + stts
    decode times + stsc/stsz/stco chunk layout, ISO 14496-12 §8.5–8.7) is
    reconstructed per object, each frame's byte range sliced out of mdat,
    and Motion-JPEG samples decoded by the in-repo T.81 decoder — the
    video analog of the GIF frame sampler, on the container real corpora
    use. Multi-chunk stsc, co64, v1 boxes, and 4:2:0 frames rotate through
    the fixtures; 'avc1' tracks surface the honest decoder_unavailable
    channel. Solid-gray frames make every stat closed-form SQL."""
    from hatchery_spark.functions.multimodal import (
        mp4_frame_stats,
        synthetic_mjpeg_mp4_df,
    )

    return mp4_frame_stats(synthetic_mjpeg_mp4_df(spark, 48))


def q_bloom_decontaminate(spark, sf_dir):
    """ZERO-SHUFFLE decontamination: eval n-grams folded into a broadcast
    Bloom bitmap (distributed OR build), corpus scanned in one mapInPandas
    pass — no corpus-side join/explode/exchange at any scale. The small
    m (2^16) deliberately produces false positives at sf0.01 so the oracle
    (which replays the md5-slice positions gram-for-gram) PROVES the FP
    behavior is deterministic and replayable, not just the happy path.
    Same bench/train split as doc_decontaminate (doc_id % 17)."""
    from hatchery_spark.functions.dedup import bloom_decontaminate

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    train = docs.filter(F.col("doc_id") % 17 != 0)
    return bloom_decontaminate(train, bench, n=5, m_bits=1 << 16, k_hashes=3)


def q_media_real_decode(spark, sf_dir):
    """REAL codec path: stdlib-parsed PPM pixels and WAV samples, with
    closed-form expected stats (solid-color / constant-amplitude payloads)."""
    from hatchery_spark.functions.multimodal import decode_media, synthetic_real_media_df

    return decode_media(synthetic_real_media_df(spark, 64))


def q_media_jpeg_decode(spark, sf_dir):
    """REAL JPEG codec path (T.81 sequential, progressive AND arithmetic,
    stdlib+numpy, functions/jpeg.py + jpeg_arith.py): solid-gray payloads
    with unit quantization tables decode back bit-exactly, so every pixel
    stat has a closed form the DuckDB oracle recomputes. Rotates 4:4:4 /
    4:2:0 sampling and restart intervals; every 8th row is PROGRESSIVE
    (interleaved DC scan + EOB-run AC scans); every 16th is
    ARITHMETIC-CODED (SOF9 — QM-class coder, Table D.3 adaptation states,
    Annex F DC/AC models)."""
    from hatchery_spark.functions.multimodal import decode_media, synthetic_jpeg_media_df

    return decode_media(synthetic_jpeg_media_df(spark, 64))


def q_media_jpeg_lossless(spark, sf_dir):
    """Lossless JPEG (T.81 Annex H — functions/jpeg_lossless.py): REAL
    gradient content ((x+y+i)%256); the rotation covers all 7 predictors,
    point transforms, restart intervals, interleaved RGB, and BOTH entropy
    codings (Huffman SOF3 + arithmetic SOF11 via the QM coder and the
    25-context Annex-H model); decode is exact, so the oracle recomputes
    px_mean over the same grid (codec-independent by losslessness)."""
    from hatchery_spark.functions.multimodal import (
        decode_media,
        synthetic_jpeg_lossless_media_df,
    )

    return decode_media(synthetic_jpeg_lossless_media_df(spark, 28))


def q_media_jpeg12_decode(spark, sf_dir):
    """12-bit JPEG (extended sequential, SOF1): level shift 2048, 0..4095
    range, uint16 pixels — the same entropy/dequant/IDCT machinery at the
    higher precision. Solid-gray unit-quantization fixtures decode exactly,
    so px_mean == gray is a closed form; 4:4:4/4:2:0 + restart markers
    rotate as in the 8-bit fixture."""
    from hatchery_spark.functions.multimodal import (
        decode_media,
        synthetic_jpeg12_media_df,
    )

    return decode_media(synthetic_jpeg12_media_df(spark, 32))


def q_emb_kmeans(spark, sf_dir):
    """Distributed Lloyd's k-means (full corpus, not a driver sample):
    broadcast centroids in the assignment UDF closure, map-side-combined
    k×dim AVG update, ONE k-row collect per round. Deterministic md5-order
    init + per-round centroid/distance rounding make every assignment
    DuckDB-replayable across 3 full iterations."""
    from hatchery_spark.functions.similarity import kmeans_lloyd

    emb = load(spark, sf_dir, "embeddings")
    return kmeans_lloyd(emb, vec_col="embedding", id_col="vec_id", k=4, iters=3)


def _kmeans_oracle(k: int = 4, dim: int = 64, iters: int = 3, rd: int = 6) -> str:
    """Generate the recursive-CTE replay of kmeans_lloyd: init from md5
    order, per-iteration assignment (rounded squared-distance argmin with
    cluster tie-break) and centroid update (per-dim AVG, rounded, empty
    clusters keeping the previous centroid), final assignment output."""
    dist = (
        "round(list_aggregate(list_transform(range(1, %d), j -> "
        "(cast(e[j] AS double) - c[j]) * (cast(e[j] AS double) - c[j])), "
        "'sum'), %d)" % (dim + 1, rd)
    )
    parts = [
        "WITH emb AS (SELECT vec_id, embedding AS e FROM embeddings),",
        f"""c0 AS (
          SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cluster,
                 list_transform(e, x -> round(cast(x AS double), {rd})) AS c
          FROM (SELECT md5(cast(vec_id AS varchar)) AS h, vec_id, e
                FROM emb ORDER BY h, vec_id LIMIT {k}))""",
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
        a{t}_r AS (
          SELECT vec_id, e, cluster,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY {dist}, cluster) AS rk
          FROM emb, c{t - 1}),
        a{t} AS (SELECT vec_id, e, cluster FROM a{t}_r WHERE rk = 1),
        c{t} AS (
          SELECT c{t - 1}.cluster, coalesce(m.c, c{t - 1}.c) AS c
          FROM c{t - 1} LEFT JOIN (
            SELECT cluster, list(mj ORDER BY j) AS c FROM (
              SELECT cluster, j, round(avg(cast(e[j] AS double)), {rd}) AS mj
              FROM a{t}, range(1, {dim + 1}) t(j) GROUP BY cluster, j)
            GROUP BY cluster) m USING (cluster))""")
    parts.append(f""",
        fin_r AS (
          SELECT vec_id, cluster,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY {dist}, cluster) AS rk
          FROM emb, c{iters})
        SELECT vec_id, cast(cluster AS int) AS cluster FROM fin_r WHERE rk = 1""")
    return "\n".join(parts)


def q_media_thumbnail(spark, sf_dir):
    """REAL decode → grayscale → area-interpolated 8×8 resize: solid-color
    PPM/PNG payloads give closed-form thumbnails (all pixels = v, std 0).
    The comparator sees scalar stats + the vector length (array columns stay
    out of the oracle hash, same convention as media_features); the full
    pixel vector is asserted in pytest."""
    from hatchery_spark.functions.multimodal import media_thumbnails, synthetic_real_media_df

    return media_thumbnails(synthetic_real_media_df(spark, 64)).select(
        "media_id", "kind",
        F.size("thumb").alias("n_px"),
        "thumb_mean", "thumb_std", "decode_status",
    )


def q_lineage_totals(spark, sf_dir):
    """Global reduction of the per-partition lineage rows — partition ids are
    physical (rows-only), but their totals must equal the table's aggregates.
    The whole table is one route."""
    from hatchery_spark.lineage import partition_metrics

    one_route = transcripts(spark, sf_dir).withColumn("route_id", F.lit("all"))
    return partition_metrics(one_route).agg(
        F.sum("row_count").alias("total_rows"),
        F.min("min_conv_id").alias("min_conv_id"),
        F.max("max_conv_id").alias("max_conv_id"),
        F.min("min_turn_idx").alias("min_turn_idx"),
        F.max("max_turn_idx").alias("max_turn_idx"),
        F.min("min_ts").alias("min_ts"),
        F.max("max_ts").alias("max_ts"),
    )


# ----------------------------------------------------------------------------
# oracle SQL
# ----------------------------------------------------------------------------

_LEGACY_PATTERN = r"sev=(debug|info|warn|error|critical) user=(\S+) op=(\S+) obj=(\S+)"

def _group_split_oracle() -> str:
    """Replay of sampling.group_split(documents, 'source', train/val/test,
    salt='r4'): same md5-prefix → [0,1) mapping (hex digits decoded
    positionally — DuckDB has no conv()) and the same cumulative-boundary
    CASE, with boundaries computed by the SAME Python float additions the
    Spark side uses, so the IEEE rounding of 0.8 + 0.1 agrees exactly."""
    digits = "0123456789abcdef"
    terms = " + ".join(
        f"(strpos('{digits}', substr(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    fracs = {"train": 0.8, "val": 0.1, "test": 0.1}
    acc, whens = 0.0, []
    names = list(fracs)
    for name in names[:-1]:
        acc += fracs[name]
        whens.append(f"WHEN u < {acc!r} THEN '{name}'")
    case = f"CASE {' '.join(whens)} ELSE '{names[-1]}' END"
    return f"""
        WITH g AS (SELECT doc_id, source,
                     substr(md5('r4' || CAST(source AS VARCHAR)), 1, 8) AS h
                   FROM documents),
        u AS (SELECT doc_id, source,
                CAST({terms} AS DOUBLE) / 4294967296.0 AS u FROM g)
        SELECT doc_id, source, {case} AS split FROM u"""


_GROUP_SPLIT_ORACLE = _group_split_oracle()


def _zorder_oracle() -> str:
    """Replay of sinks.zorder_values(events, [user_id, value], bits=10): the
    same uniform-grid cell arithmetic (identical operation order, so IEEE
    doubles agree bit-for-bit) and the same column-major bit interleave,
    generated as 20 flat shift terms."""
    terms = " + ".join(
        f"(((c{j} >> {i}) & 1) << {i * 2 + j})"
        for j in range(2)
        for i in range(10)
    )

    def cell(j: int, expr: str) -> str:
        return (
            f"CASE WHEN {expr} IS NULL THEN NULL "
            f"WHEN hi{j} = lo{j} THEN 0 ELSE least(1023, greatest(0, "
            f"CAST(floor((({expr} - lo{j}) * 1024.0) / (hi{j} - lo{j})) "
            f"AS BIGINT))) END"
        )

    return f"""
        WITH r AS (SELECT min(CAST(user_id AS DOUBLE)) AS lo0,
                          max(CAST(user_id AS DOUBLE)) AS hi0,
                          min("value") AS lo1, max("value") AS hi1
                   FROM events),
        c AS (SELECT event_id,
                {cell(0, "CAST(user_id AS DOUBLE)")} AS c0,
                {cell(1, '"value"')} AS c1
              FROM events, r)
        SELECT event_id, CAST({terms} AS BIGINT) AS zvalue FROM c"""


_ZORDER_ORACLE = _zorder_oracle()


_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

_QUALITY_ORACLE = """
WITH t AS (
  SELECT doc_id, text,
         concat(' ', lower(text), ' ') AS padded,
         greatest(cast(len(string_split(text, ' ')) AS int), 1) AS n_tok,
         greatest(length(text), 1) AS n_chr
  FROM documents
),
hits AS (
  SELECT doc_id, text, n_tok, n_chr,
    ( cast((length(padded) - length(replace(padded, ' the ', ''))) / 5 AS int)
    + cast((length(padded) - length(replace(padded, ' a ', ''))) / 3 AS int)
    + cast((length(padded) - length(replace(padded, ' and ', ''))) / 5 AS int)
    + cast((length(padded) - length(replace(padded, ' of ', ''))) / 4 AS int)
    + cast((length(padded) - length(replace(padded, ' to ', ''))) / 4 AS int)
    + cast((length(padded) - length(replace(padded, ' in ', ''))) / 4 AS int)
    + cast((length(padded) - length(replace(padded, ' is ', ''))) / 4 AS int)
    + cast((length(padded) - length(replace(padded, ' it ', ''))) / 4 AS int)
    + cast((length(padded) - length(replace(padded, ' that ', ''))) / 6 AS int)
    + cast((length(padded) - length(replace(padded, ' for ', ''))) / 5 AS int)
    ) AS stop_hits,
    (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) AS punct_n
  FROM t
)
SELECT doc_id,
  round(stop_hits / n_tok, 4) AS stop_ratio,
  round(punct_n / n_chr, 4) AS punct_ratio,
  round(
      least(length(text) / 500.0, 1.0) * 0.4
    + least(round(stop_hits / n_tok, 4) * 4, 1.0) * 0.4
    + (1.0 - least(round(punct_n / n_chr, 4) * 5, 1.0)) * 0.2
  , 4) AS quality
FROM hits
"""

_LANG_ORACLE = """
WITH t AS (
  SELECT doc_id, concat(' ', lower(text), ' ') AS s FROM documents
),
scores AS (
  SELECT doc_id,
    ( cast((length(s) - length(replace(s, ' the ', ''))) / 5 AS int)
    + cast((length(s) - length(replace(s, ' and ', ''))) / 5 AS int)
    + cast((length(s) - length(replace(s, ' is ', ''))) / 4 AS int)) AS en,
    ( cast((length(s) - length(replace(s, ' der ', ''))) / 5 AS int)
    + cast((length(s) - length(replace(s, ' und ', ''))) / 5 AS int)
    + cast((length(s) - length(replace(s, ' ist ', ''))) / 5 AS int)) AS de,
    ( cast((length(s) - length(replace(s, ' el ', ''))) / 4 AS int)
    + cast((length(s) - length(replace(s, ' que ', ''))) / 5 AS int)
    + cast((length(s) - length(replace(s, ' es ', ''))) / 4 AS int)) AS es,
    ( cast((length(s) - length(replace(s, ' le ', ''))) / 4 AS int)
    + cast((length(s) - length(replace(s, ' et ', ''))) / 4 AS int)
    + cast((length(s) - length(replace(s, ' est ', ''))) / 5 AS int)) AS fr
  FROM t
)
SELECT doc_id,
  CASE
    WHEN greatest(en, de, es, fr) > 0 AND en = greatest(en, de, es, fr) THEN 'en'
    WHEN greatest(en, de, es, fr) > 0 AND de = greatest(en, de, es, fr) THEN 'de'
    WHEN greatest(en, de, es, fr) > 0 AND es = greatest(en, de, es, fr) THEN 'es'
    WHEN greatest(en, de, es, fr) > 0 AND fr = greatest(en, de, es, fr) THEN 'fr'
    ELSE 'unknown'
  END AS lang_guess
FROM scores
"""

_TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, cast(embedding AS double[]) AS qv
  FROM embeddings WHERE vec_id IN (0, 1, 2)
),
c AS (SELECT vec_id, cast(embedding AS double[]) AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id,
    round(list_dot_product(c.cv, q.qv)
      / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 4)
    AS cosine
  FROM c CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, cosine,
    cast(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS int) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
"""


# Brute-force char-5-shingle Jaccard over all doc pairs (ground truth for the
# minhash/simhash LSH paths). The size prefilter is sound for thresholds ≥ 1/3:
# jaccard ≥ t implies |smaller|/|larger| ≥ t.
_JACCARD_PAIRS_CTE = """
sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, greatest(length(text)-4, 1)+1),
                                 i -> substring(text, i, 5))) AS s
  FROM documents WHERE doc_id < 500
),
jpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    round(cast(len(list_intersect(a.s, b.s)) AS double)
          / len(list_distinct(a.s || b.s)), 4) AS jaccard
  FROM sh a JOIN sh b
    ON a.doc_id < b.doc_id
   AND len(a.s) * 3 >= len(b.s) AND len(b.s) * 3 >= len(a.s)
)
"""

_MINHASH_ORACLE = (
    "WITH " + _JACCARD_PAIRS_CTE
    + "SELECT id_a, id_b, jaccard FROM jpairs WHERE jaccard >= 0.5"
)

# connected components over the ≥0.4 ground-truth pairs: transitive closure by
# recursive label reachability, then min label per node
_DEDUP_RESOLVE_ORACLE = (
    "WITH RECURSIVE " + _JACCARD_PAIRS_CTE
    + """,
thr AS (SELECT id_a, id_b FROM jpairs WHERE jaccard >= 0.4),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM thr
  UNION
  SELECT id_b AS src, id_a AS dst FROM thr
),
walk(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
)
SELECT node AS doc_id, min(label) AS canonical_id FROM walk GROUP BY node"""
)

# resolve + representative selection: longest member wins, smallest id on
# ties. arg_max has no struct ordering in DuckDB, so the (n_chars desc,
# doc_id asc) rule rides a composite integer key — exact because doc_id < 500
# in this query.
_CLUSTER_REPS_ORACLE = (
    "WITH RECURSIVE " + _JACCARD_PAIRS_CTE
    + """,
thr AS (SELECT id_a, id_b FROM jpairs WHERE jaccard >= 0.4),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM thr
  UNION
  SELECT id_b AS src, id_a AS dst FROM thr
),
walk(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
),
resolved AS (
  SELECT node AS doc_id, min(label) AS canonical_id FROM walk GROUP BY node
),
labeled AS (
  SELECT d.doc_id, d.n_chars,
         coalesce(r.canonical_id, d.doc_id) AS canonical_id
  FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id < 500) d
  LEFT JOIN resolved r USING (doc_id)
),
winners AS (
  SELECT canonical_id,
         arg_max(doc_id, n_chars * 1000 + (999 - doc_id)) AS rep_id
  FROM labeled GROUP BY canonical_id
)
SELECT l.doc_id, l.canonical_id, w.rep_id,
       l.doc_id = w.rep_id AS is_rep
FROM labeled l JOIN winners w USING (canonical_id)"""
)

# corpus augmented with graded perturbed variants of the query vectors —
# MUST mirror _perturb / _emb_augmented_queries exactly (same op order)
_EMB_AUG_CTE = """
base AS (SELECT vec_id, cast(embedding AS double[]) AS e FROM embeddings),
variants AS (
  SELECT j * 1000 + vec_id AS vec_id,
         list_transform(range(1, 65), i -> e[i] + 0.1 * j * e[(i % 64) + 1]) AS e
  FROM base, (SELECT unnest([1, 2, 3, 4]) AS j)
  WHERE vec_id IN (0, 1, 2)
),
aug AS (SELECT * FROM base UNION ALL SELECT * FROM variants)
"""

_TOPK_AUG_ORACLE = (
    "WITH " + _EMB_AUG_CTE
    + """,
q AS (SELECT vec_id AS query_id, e AS qv FROM base WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT q.query_id, a.vec_id,
    round(list_dot_product(a.e, q.qv)
      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(q.qv, q.qv))), 4)
    AS cosine
  FROM aug a CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, cosine,
    cast(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS int) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5"""
)

_NEARDUP_EMB_ORACLE = """
WITH base AS (
  SELECT vec_id, cast(embedding AS double[]) AS e FROM embeddings WHERE vec_id < 500
),
twins AS (
  SELECT vec_id + 1000 AS vec_id,
         list_transform(range(1, 65), i -> e[i] + 0.1 * e[(i % 64) + 1]) AS e
  FROM base
),
aug AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
cpairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round(list_dot_product(a.e, b.e)
      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) AS cosine
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM cpairs WHERE cosine >= 0.9"""

def _bpe_oracle(k: int, encode: bool = False, tokenize: bool = False) -> str:
    """k chained CTE stages replaying train_bpe_merges merge-by-merge:
    p<i> counts adjacent symbol pairs (weighted by word count), b<i> is the
    argmax with the (freq desc, l, r) tie-break, w<i> applies the literal
    sentinel replace. With encode=True the final vocab w<k> instead
    tokenizes the corpus (bpe_encode's per-doc word/token counts); with
    tokenize=True it additionally rebuilds the closed-form TOKEN-ID
    sequence per doc (chars a-z = 0-25, merge step s = 26+s-1, min step
    per surface string) — replaying bpe_tokenize_arrow end to end.
    Generated, but static ANSI SQL once built."""
    stages = [
        """w0 AS (
  SELECT w, '<' || array_to_string(string_split(w, ''), '><') || '>' AS repr, cnt
  FROM (SELECT w, count(*) AS cnt
        FROM (SELECT unnest(string_split_regex(lower(text), '[ \t\n\f\r\x0b]+')) AS w
              FROM documents)
        WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w))"""
    ]
    for i in range(1, k + 1):
        stages.append(f"""p{i} AS (
  SELECT syms[i] AS l, syms[i + 1] AS r, sum(cnt) AS freq
  FROM (SELECT string_split(trim(repr, '<>'), '><') AS syms, cnt FROM w{i - 1}),
       unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2),
b{i} AS (SELECT l, r, freq FROM p{i} ORDER BY freq DESC, l, r LIMIT 1),
w{i} AS (
  SELECT w, replace(repr, '<' || b.l || '><' || b.r || '>', '<' || b.l || b.r || '>') AS repr, cnt
  FROM w{i - 1}, b{i} b)""")
    if tokenize:
        merge_ids = "\nUNION ALL\n".join(
            f"SELECT l || r AS sym, 26 + {i} - 1 AS id FROM b{i}"
            for i in range(1, k + 1)
        )
        final = f""",
symid AS (
  SELECT sym, min(id) AS id FROM (
    SELECT chr(cast(i AS int)) AS sym, cast(i - 97 AS int) AS id
    FROM (SELECT unnest(range(97, 123)) AS i)
    UNION ALL
    {merge_ids}
  ) GROUP BY sym),
wtok AS (
  SELECT s.w,
         string_agg(cast(m.id AS varchar), ',' ORDER BY u.i) AS ids_csv,
         cast(len(s.syms) AS int) AS n_tok
  FROM (SELECT w, string_split(trim(repr, '<>'), '><') AS syms FROM w{k}) s,
       unnest(range(1, len(s.syms) + 1)) AS u(i)
  JOIN symid m ON m.sym = s.syms[u.i]
  GROUP BY s.w, len(s.syms)),
docw AS (
  SELECT doc_id, ws[u.i] AS w, u.i AS wpos
  FROM (SELECT doc_id,
               string_split_regex(lower(text), '[ \t\n\f\r\x0b]+') AS ws
        FROM documents),
       unnest(range(1, len(ws) + 1)) AS u(i)
  WHERE regexp_matches(ws[u.i], '^[a-z]+$'))
SELECT d.doc_id,
  cast(count(*) AS int) AS n_words,
  cast(sum(t.n_tok) AS int) AS n_tokens,
  string_agg(t.ids_csv, ',' ORDER BY d.wpos) AS ids
FROM docw d JOIN wtok t USING (w) GROUP BY d.doc_id"""
        return "WITH " + ",\n".join(stages) + final
    if encode:
        final = f""",
tok AS (SELECT w, cast(len(string_split(repr, '><')) AS int) AS n_tok FROM w{k}),
docw AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '[ \t\n\f\r\x0b]+')) AS w
        FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$'))
SELECT d.doc_id, cast(count(*) AS int) AS n_words, cast(sum(t.n_tok) AS int) AS n_tokens
FROM docw d JOIN tok t USING (w) GROUP BY d.doc_id"""
        return "WITH " + ",\n".join(stages) + final
    selects = "\nUNION ALL\n".join(
        f"SELECT cast({i} AS int) AS step, l AS left_sym, r AS right_sym,"
        f" cast(freq AS bigint) AS freq FROM b{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n".join(stages) + "\n" + selects


# same twin augmentation; global brute-force components over >=0.9 pairs.
# rep = min id in component, keep = (id == rep), unpaired ids keep themselves.
_SEMDEDUP_ORACLE = """
WITH RECURSIVE base AS (
  SELECT vec_id, cast(embedding AS double[]) AS e FROM embeddings WHERE vec_id < 500
),
twins AS (
  SELECT vec_id + 1000 AS vec_id,
         list_transform(range(1, 65), i -> e[i] + 0.1 * e[(i % 64) + 1]) AS e
  FROM base
),
aug AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
cpairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round(list_dot_product(a.e, b.e)
      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) AS cosine
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
),
thr AS (SELECT id_a, id_b FROM cpairs WHERE cosine >= 0.9),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM thr
  UNION
  SELECT id_b AS src, id_a AS dst FROM thr
),
walk(node, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node
),
resolved AS (SELECT node, min(label) AS canonical FROM walk GROUP BY node)
SELECT a.vec_id,
       coalesce(r.canonical, a.vec_id) AS rep_id,
       coalesce(r.canonical, a.vec_id) = a.vec_id AS keep
FROM aug a LEFT JOIN resolved r ON r.node = a.vec_id"""

_MEDIA_ORACLE = """
SELECT i AS media_id,
       (['image', 'audio', 'video'])[(i % 3) + 1] AS kind,
       cast(128 + (i % 5) * 64 AS int) AS n_bytes,
       'ok_fake' AS decode_status
FROM (SELECT unnest(range(0, 64)) AS i)"""

_FRAME_GRID_ORACLE = """
SELECT i AS media_id,
       cast(unnest(generate_series(0, 1000 + i * 10, 500)) AS int) AS frame_ms
FROM (SELECT unnest(range(0, 64)) AS i) WHERE i % 3 = 2"""

_KV_EXPLODE_ORACLE = r"""
SELECT conv_id,
  unnest(list_concat(
    CASE WHEN starts_with(text, '[') THEN ['severity'] ELSE CAST([] AS VARCHAR[]) END,
    regexp_extract_all(text, '(\w+)=(\S+)', 1))) AS key,
  unnest(list_concat(
    CASE WHEN starts_with(text, '[') THEN [regexp_extract(text, '^\[(\w+)\]', 1)]
         ELSE CAST([] AS VARCHAR[]) END,
    regexp_extract_all(text, '(\w+)=(\S+)', 2))) AS value
FROM transcripts WHERE turn_idx = 0"""


# ----------------------------------------------------------------------------
# round-5 session-3 additions: link analysis, preference fitting, SCD2, PCA
# ----------------------------------------------------------------------------


def q_readability(spark, sf_dir):
    """Flesch reading-ease / FK grade — zero-shuffle codegen projection."""
    from hatchery_spark.functions.corpus import readability

    docs = load(spark, sf_dir, "documents")
    return readability(docs).select(
        "doc_id", "n_words", "n_sentences", "n_syllables", "fk_ease", "fk_grade"
    )


def q_scd2(spark, sf_dir):
    """SCD Type 2 history of each user's event_type attribute — one shuffle
    on the dimension key serves both window passes."""
    from hatchery_spark.operators.scd import scd2_build

    ev = load(spark, sf_dir, "events")
    out = scd2_build(ev, "user_id", "event_type", "ts", "event_id")
    return out.select(
        "user_id",
        "version",
        "event_type",
        "valid_from",
        "valid_to",
        F.col("is_current").cast("int").alias("is_current"),
    )


def q_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank over the deterministic event-derived link
    graph; per-iteration rounding makes the 3 rounds DuckDB-replayable."""
    from hatchery_spark.functions.graph import derive_event_edges, pagerank

    ev = load(spark, sf_dir, "events")
    return pagerank(derive_event_edges(ev), iters=3)


def q_sitemap_extract(spark, sf_dir):
    """Sitemap.xml discovery parsing (sitemaps.org protocol): documents →
    deterministic urlset blobs (20 files) → namespace-tolerant
    ElementTree extraction of loc/lastmod/changefreq/priority with in-file
    order. The oracle replays every field closed-form from doc_id — an
    entry lost, reordered, or misparsed value-mismatches."""
    from hatchery_spark.functions.crawl import build_sitemaps, parse_sitemaps

    docs = load(spark, sf_dir, "documents")
    return parse_sitemaps(build_sitemaps(docs, files=20))


_SITEMAP_ORACLE = """
SELECT doc_id % 20 AS file_id, 'urlset' AS kind,
       cast(row_number() OVER (PARTITION BY doc_id % 20 ORDER BY doc_id) - 1
            AS int) AS entry_idx,
       concat('https://example.com/doc/', cast(doc_id AS varchar)) AS loc,
       concat('2025-01-', lpad(cast(doc_id % 28 + 1 AS varchar), 2, '0'))
         AS lastmod,
       CASE doc_id % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
            ELSE 'monthly' END AS changefreq,
       cast(concat('0.', cast(doc_id % 10 AS varchar)) AS double) AS priority
FROM documents"""


def q_wordpiece_encode(spark, sf_dir):
    """Greedy longest-match WordPiece (the BERT tokenizer family) against
    the fixed demonstration vocabulary; tok_md5 pins the full piece stream
    in word order. The oracle replays greedy matching with a recursive CTE
    whose longest-match argmax is a NOT EXISTS over longer vocab hits."""
    from hatchery_spark.functions.corpus import wordpiece_encode

    docs = load(spark, sf_dir, "documents")
    return wordpiece_encode(docs)


def _wordpiece_oracle() -> str:
    from hatchery_spark.functions.corpus import WORDPIECE_VOCAB

    values = ", ".join(f"('{p}')" for p in WORDPIECE_VOCAB)
    return f"""
WITH RECURSIVE
vocab AS (
  SELECT piece,
         CASE WHEN piece LIKE '##%' ESCAPE '\\'
              THEN substr(piece, 3) ELSE piece END AS raw,
         piece LIKE '##%' ESCAPE '\\' AS is_cont,
         length(CASE WHEN piece LIKE '##%' ESCAPE '\\'
                     THEN substr(piece, 3) ELSE piece END) AS rawlen
  FROM (VALUES {values}) t(piece)),
docw AS (
  SELECT doc_id, ws[u.i] AS w, u.i AS wpos
  FROM (SELECT doc_id,
               string_split_regex(lower(coalesce(text, '')),
                                  '[ \t\n\f\r\x0b]+') AS ws
        FROM documents),
       unnest(range(1, len(ws) + 1)) AS u(i)
  WHERE regexp_matches(ws[u.i], '^[a-z]+$')),
dw AS (SELECT DISTINCT w FROM docw),
seg AS (
  SELECT w, 0 AS pos, cast(NULL AS varchar) AS tok, 0 AS ti FROM dw
  UNION ALL
  SELECT s.w, s.pos + v.rawlen, v.piece, s.ti + 1
  FROM seg s JOIN vocab v
    ON v.is_cont = (s.pos > 0)
   AND substr(s.w, s.pos + 1, v.rawlen) = v.raw
  WHERE s.pos < length(s.w)
    AND NOT EXISTS (
      SELECT 1 FROM vocab v2
      WHERE v2.is_cont = (s.pos > 0) AND v2.rawlen > v.rawlen
        AND substr(s.w, s.pos + 1, v2.rawlen) = v2.raw)),
wtok AS (
  SELECT w, string_agg(tok, ' ' ORDER BY ti) AS toks,
         count(*) AS n_tok
  FROM seg WHERE tok IS NOT NULL GROUP BY w)
SELECT d.doc_id, cast(count(*) AS int) AS n_words,
       cast(sum(t.n_tok) AS int) AS n_tokens,
       md5(string_agg(t.toks, ' ' ORDER BY d.wpos)) AS tok_md5
FROM docw d JOIN wtok t USING (w) GROUP BY d.doc_id"""


def q_hits(spark, sf_dir):
    """Fixed-iteration HITS hubs/authorities over the event-derived link
    graph — the second classic link-quality prior next to PageRank; L1
    fixed-point integer renormalization makes 3 rounds DuckDB-replayable."""
    from hatchery_spark.functions.graph import derive_event_edges, hits

    ev = load(spark, sf_dir, "events")
    return hits(derive_event_edges(ev), iters=3)


def q_best_of_n(spark, sf_dir):
    """Best-of-n rejection sampling (RFT data construction): per
    conversation, pick the highest-reward assistant turn (earliest turn
    breaks reward ties) from the candidate pool. Reward passes through
    untouched — no float arithmetic exists to diverge. One conv_id
    exchange with map-side partial aggregation (max_by, no window sort)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("hs_events")
    t = spark.sql(TRANSCRIPTS_VALUE_SQL.format(events="hs_events"))
    cand = t.where(F.col("role") == "assistant")
    return cand.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_candidates"),
        F.expr("max_by(turn_idx, struct(value, -turn_idx))")
        .cast("int")
        .alias("best_turn_idx"),
        F.max("value").alias("reward"),
        F.expr("max_by(text, struct(value, -turn_idx))").alias("response"),
    )


def _best_of_n_oracle() -> str:
    t = TRANSCRIPTS_VALUE_SQL.format(events="events")
    return f"""
WITH t AS ({t}),
cand AS (
  SELECT conv_id, turn_idx, text, value,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY value DESC, turn_idx) AS rn,
         count(*) OVER (PARTITION BY conv_id) AS n_candidates,
         max(value) OVER (PARTITION BY conv_id) AS reward
  FROM t WHERE role = 'assistant')
SELECT conv_id, cast(n_candidates AS int) AS n_candidates,
       cast(turn_idx AS int) AS best_turn_idx,
       reward, text AS response
FROM cand WHERE rn = 1"""


def q_mbox_roundtrip(spark, sf_dir):
    """mbox mailing-list framing e2e: documents → mbox blobs (RFC 5322
    headers, quoted-printable bodies, mboxrd From-munging) → distributed
    splitter + parser. The oracle derives every field INCLUDING the body
    text straight from the source table, so any QP/munging/folding
    asymmetry value-mismatches."""
    from hatchery_spark.functions.mbox import build_mbox_files, parse_mbox

    docs = load(spark, sf_dir, "documents")
    return parse_mbox(build_mbox_files(docs, files=25))


_MBOX_ORACLE = """
SELECT doc_id % 25 AS file_id,
  cast(row_number() OVER (PARTITION BY doc_id % 25 ORDER BY doc_id) - 1 AS int)
    AS msg_idx,
  concat('msg-', cast(doc_id AS varchar), '@example.com') AS msg_id,
  concat('Re: document ', cast(doc_id AS varchar), ' ingest') AS subject,
  concat('user', cast(doc_id AS varchar), '@example.com') AS sender,
  coalesce(text, '') AS body
FROM documents"""


def q_lpa(spark, sf_dir):
    """Synchronous label-propagation communities (3 rounds, min-label ties)
    over the event-derived link graph — integer labels end to end."""
    from hatchery_spark.functions.graph import derive_event_edges, label_propagation

    return label_propagation(derive_event_edges(load(spark, sf_dir, "events")), iters=3)


def _lpa_oracle(iters: int = 3) -> str:
    parts = [
        f"WITH {_EVENT_EDGE_CTE},",
        """
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
adj AS (SELECT a AS node, b AS nb FROM und UNION ALL SELECT b AS node, a AS nb FROM und),
l0 AS (SELECT DISTINCT node, node AS lab FROM adj)""",
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
c{t} AS (SELECT a.node, l.lab, count(*) AS cnt
         FROM adj a JOIN l{t - 1} l ON l.node = a.nb GROUP BY a.node, l.lab),
l{t} AS (SELECT node, lab FROM (
           SELECT node, lab,
             row_number() OVER (PARTITION BY node ORDER BY cnt DESC, lab) AS rn
           FROM c{t}) WHERE rn = 1)""")
    parts.append(f"\nSELECT node, cast(lab AS bigint) AS label FROM l{iters}")
    return "".join(parts)


def q_markdown_extract(spark, sf_dir):
    """Markdown → plain text over synthesized README-shaped docs (heading,
    bullets, bold/link/inline-code/image line, code fence, hrule, quoted
    body). The oracle chain is GENERATED from the same pattern table."""
    from hatchery_spark.functions.markdown import markdown_to_text

    docs = load(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    md = F.concat(
        F.lit("# Title "), i, F.lit("\n\n- item one\n- item two\n\n**bold intro** "),
        F.lit("with [a link](https://example.com/p/"), i,
        F.lit(") and `inline code` plus ![logo](img.png).\n\n"),
        F.lit("```\ncode block # to drop [x](y)\n```\n\n---\n\n> "),
        F.coalesce(F.col("text"), F.lit("")),
    )
    return docs.select("doc_id", markdown_to_text(md).alias("plain"))


def _markdown_oracle() -> str:
    from hatchery_spark.functions.markdown import oracle_expr

    md = (
        "concat('# Title ', cast(doc_id AS varchar), e'\\n\\n', "
        "'- item one', e'\\n', '- item two', e'\\n\\n', '**bold intro** ', "
        "'with [a link](https://example.com/p/', cast(doc_id AS varchar), "
        "') and `inline code` plus ![logo](img.png).', e'\\n\\n', "
        "'```', e'\\n', 'code block # to drop [x](y)', e'\\n', '```', "
        "e'\\n\\n', '---', e'\\n\\n', '> ', coalesce(text, ''))"
    )
    return f"SELECT doc_id, {oracle_expr(md)} AS plain FROM documents"


def q_cdx_index(spark, sf_dir):
    """CDX capture index over the package-built WARC files: SURT urlkey,
    14-digit timestamp, byte offset + record length + digest. The oracle
    recomputes offsets/lengths from ASCII header-length arithmetic and the
    urlkey from the same string derivation."""
    from hatchery_spark.functions.warc import build_warc_files, cdx_index

    docs = load(spark, sf_dir, "documents")
    return cdx_index(build_warc_files(docs, files=25))


_CDX_ORACLE = """
WITH r AS (
  SELECT doc_id % 25 AS file_id, doc_id,
         coalesce(text, '') AS payload,
         octet_length(encode(coalesce(text, ''))) AS plen,
         concat('https://example.com/doc/', cast(doc_id AS varchar)) AS uri
  FROM documents),
h AS (
  SELECT *,
         length(concat(
           'WARC/1.0', e'\\r\\n',
           'WARC-Type: response', e'\\r\\n',
           'WARC-Record-ID: <urn:doc:', cast(doc_id AS varchar), '>', e'\\r\\n',
           'WARC-Target-URI: ', uri, e'\\r\\n',
           'WARC-Date: 2025-01-01T00:00:00Z', e'\\r\\n',
           'Content-Type: text/plain', e'\\r\\n',
           'Content-Length: ', cast(plen AS varchar), e'\\r\\n', e'\\r\\n'
         )) AS hlen
  FROM r),
scanned AS (
  SELECT file_id, uri AS target_uri, payload, plen, hlen,
         cast(coalesce(sum(hlen + plen + 4) OVER (
           PARTITION BY file_id ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint)
           AS rec_offset,
         cast(hlen + plen + 4 AS bigint) AS rec_len
  FROM h)
SELECT
  concat(array_to_string(list_reverse(string_split(
           lower(regexp_extract(target_uri, '^[a-z]+://([^/]+)', 1)), '.')), ','),
         ')',
         lower(regexp_extract(target_uri, '^[a-z]+://[^/]+(/.*)?$', 1))) AS urlkey,
  translate('2025-01-01T00:00:00Z', '-:TZ', '') AS timestamp,
  target_uri,
  'text/plain' AS mime,
  md5(payload) AS digest,
  rec_offset,
  rec_len,
  concat('crawl-', cast(file_id AS varchar), '.warc') AS filename
FROM scanned"""


def q_license_detect(spark, sf_dir):
    """SPDX-style license fingerprint detection over document heads.
    License headers are planted deterministically (md5-gated quarter of
    docs, md5-chosen license) so the match path is exercised on the
    synthetic corpus; the oracle replays planting AND detection."""
    from hatchery_spark.functions.license import LICENSE_SNIPPETS, detect_license

    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    idx = F.conv(F.substring(h, 2, 1), 16, 10).cast("int") % 4
    lic_arr = F.array(*[F.lit(t) for _, t in LICENSE_SNIPPETS])
    planted = docs.select(
        "doc_id",
        F.when(
            F.substring(h, 1, 1) < "4",
            F.concat(F.element_at(lic_arr, idx + 1), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return detect_license(planted)


def _license_oracle(head_words: int = 120, ngram: int = 5, min_pct: int = 80) -> str:
    from hatchery_spark.functions.license import LICENSE_SNIPPETS

    vals = ", ".join(
        f"({i}, '{lid}', '{txt}')" for i, (lid, txt) in enumerate(LICENSE_SNIPPETS)
    )
    k = ngram - 1
    return f"""
WITH lic(idx, license, ltext) AS (VALUES {vals}),
hd AS (SELECT doc_id, text, substr(md5(cast(doc_id AS varchar)), 1, 1) AS g,
         (strpos('0123456789abcdef',
                 substr(md5(cast(doc_id AS varchar)), 2, 1)) - 1) % 4 AS li
       FROM documents),
planted AS (SELECT h.doc_id,
         CASE WHEN h.g < '4' THEN concat(l.ltext, ' ', h.text) ELSE h.text END AS text
       FROM hd h JOIN lic l ON l.idx = h.li),
docw AS (SELECT doc_id,
         list_filter(string_split(
             regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
             x -> x <> '') AS w
       FROM planted),
dochead AS (SELECT doc_id, w[1:{head_words}] AS w FROM docw),
docsh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+{k}], ' ') AS sh
       FROM dochead, unnest(range(1, greatest(len(w) - {k}, 0) + 1)) AS u(i)),
licw AS (SELECT license,
         list_filter(string_split(
             regexp_replace(lower(ltext), '[^a-z0-9]+', ' ', 'g'), ' '),
             x -> x <> '') AS w
       FROM lic),
licsh AS (SELECT DISTINCT license, array_to_string(w[i:i+{k}], ' ') AS sh
       FROM licw, unnest(range(1, greatest(len(w) - {k}, 0) + 1)) AS u(i)),
lictot AS (SELECT license, count(*) AS total FROM licsh GROUP BY license),
m AS (SELECT d.doc_id, l.license, count(*) AS matched
      FROM docsh d JOIN licsh l ON d.sh = l.sh GROUP BY d.doc_id, l.license),
scored AS (SELECT m.doc_id, m.license, m.matched, t.total,
             m.matched * 1000000 // t.total AS score
           FROM m JOIN lictot t ON t.license = m.license
           WHERE m.matched * 100 >= t.total * {min_pct}),
best AS (SELECT doc_id, license, matched, total,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, license) AS rn
         FROM scored)
SELECT doc_id, license, cast(matched AS int) AS matched_shingles,
       cast(total AS int) AS license_shingles
FROM best WHERE rn = 1"""


def q_triangles(spark, sf_dir):
    """Per-node triangle + wedge counts over the event-derived link graph
    via degree-ordering orientation — the link-farm density prior."""
    from hatchery_spark.functions.graph import derive_event_edges, triangles

    return triangles(derive_event_edges(load(spark, sf_dir, "events")))


def q_bradley_terry(spark, sf_dir):
    """Bradley-Terry strengths from the event-derived comparison log (3 MM
    rounds, Hunter 2004), sum-normalized — the arena-preference reduction."""
    from hatchery_spark.functions.preferences import (
        bradley_terry,
        derive_event_comparisons,
    )

    ev = load(spark, sf_dir, "events")
    return bradley_terry(derive_event_comparisons(ev), iters=3)


def q_pca_project(spark, sf_dir):
    """First-principal-component projection: mapInPandas partition Gram →
    rounded covariance → driver power iteration → codegen fold per row."""
    from hatchery_spark.functions.similarity import pca_power_project

    emb = load(spark, sf_dir, "embeddings")
    return pca_power_project(emb, iters=6)


def q_dpo_pairs(spark, sf_dir):
    """(prompt, chosen, rejected) DPO rows from the per-turn transcript log,
    using events.value as the per-turn preference signal."""
    from hatchery_spark.functions.preferences import dpo_pairs

    load(spark, sf_dir, "events").createOrReplaceTempView("hs_events")
    t = spark.sql(TRANSCRIPTS_VALUE_SQL.format(events="hs_events"))
    return dpo_pairs(t)


def q_context_truncate(spark, sf_dir):
    """Context-window packing: per conversation keep the longest suffix of
    turns fitting a 48-token budget (final turn always kept) — the
    serving-log → training-example truncation rule. One conv_id exchange."""
    from hatchery_spark.operators.transcripts import truncate_context

    out = truncate_context(transcripts(spark, sf_dir), budget_tokens=48)
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "n_tokens",
        F.col("cum_from_end").cast("int").alias("cum_from_end"),
    )


def q_turn_qc(spark, sf_dir):
    """Chat-format structural QC per conversation: role-alternation
    violations, unparseable turns, opening-role check, composite verdict."""
    from hatchery_spark.operators.transcripts import turn_structure_qc

    return turn_structure_qc(transcripts(spark, sf_dir))


def q_tool_loops(spark, sf_dir):
    """Degenerate agent-loop detection: gaps-and-islands runs of >=3
    consecutive same-tool turns per conversation — no self-joins."""
    from hatchery_spark.operators.transcripts import tool_call_loops

    return tool_call_loops(transcripts(spark, sf_dir), min_run=3)


def q_fuzzy_pairs(spark, sf_dir):
    """Edit-distance-1 typo-pair mining over the corpus vocabulary via
    deletion-neighborhood blocking (FastSS/SymSpell): variant-keyed
    self-join candidates + exact levenshtein verify — no all-pairs, no
    whale first-letter blocks."""
    from hatchery_spark.functions.dedup import deletion_neighborhood_pairs

    docs = load(spark, sf_dir, "documents")
    base = (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.coalesce(F.col("text"), F.lit(""))),
                    F.lit("[a-z]+"),
                    0,
                )
            ).alias("token")
        )
        .where(F.length("token").between(4, 12))
        .distinct()
    )
    # the synthetic vocabulary is typo-free — plant deterministic typos
    # (3rd char deleted, md5-gated half of tokens) so the operator's match
    # path is actually exercised; the oracle replays the same derivation
    typos = base.where(F.substring(F.md5("token"), 1, 1) < "8").select(
        F.concat(
            F.substring("token", 1, 2), F.expr("substring(token, 4)")
        ).alias("token")
    )
    toks = base.union(typos).distinct()
    return deletion_neighborhood_pairs(toks).select(
        "t1", "t2", F.col("dist").cast("int").alias("dist")
    )


def q_orc_roundtrip(spark, sf_dir):
    """Second columnar format end-to-end: lineitem → ORC (Spark's built-in
    writer) → read back → aggregate. Proves the engine is not
    parquet-bound; the oracle recomputes the aggregate from the original
    parquet, so any ORC round-trip corruption value-mismatches."""
    import tempfile

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"
    )
    path = tempfile.mkdtemp(prefix="hs_orc_") + "/lineitem_orc"
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


def _hex_decode_terms(col: str = "h") -> str:
    """Positional decode of an 8-hex-char column to BIGINT (no conv in
    DuckDB) — mirrors graph._md5_prefix_long."""
    digits = "0123456789abcdef"
    return " + ".join(
        f"(strpos('{digits}', substr({col}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )


def q_fim_transform(spark, sf_dir):
    """Fill-in-the-middle pretraining restructure (Bavarian 2207.14255):
    PSM re-ordering at two md5-derived cut points for ~50% of docs, pure
    codegen passthrough for the rest — zero shuffle, zero Python."""
    from hatchery_spark.functions.corpus import fim_transform

    return fim_transform(load(spark, sf_dir, "documents"))


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing + per-bucket mixture
    (Wenzek 1911.00359): char-bigram LM trained on the doc_id%10==0
    trusted slice scores every doc; per-language rank tertiles; md5
    keep-gate at rates 1.0/0.5/0.1."""
    from hatchery_spark.functions.corpus import ccnet_bucket_mix

    docs = load(spark, sf_dir, "documents")
    out = ccnet_bucket_mix(docs, F.col("doc_id") % 10 == 0)
    return out.select(
        "doc_id",
        "lang",
        "bits_per_char",
        "bucket",
        F.col("kept").cast("int").alias("kept"),
    )


def q_warc_roundtrip(spark, sf_dir):
    """WARC container framing e2e: documents → WARC/1.0 blobs (25 files,
    applyInPandas encoder) → byte-exact record splitter (mapInPandas). The
    oracle recomputes every record's byte offset from ASCII header lengths
    and payload octet_length, and md5(text) pins the payload slice —
    any off-by-one in the scan value-mismatches."""
    from hatchery_spark.functions.warc import build_warc_files, parse_warc

    docs = load(spark, sf_dir, "documents")
    return parse_warc(build_warc_files(docs, files=25))


def q_mime_sniff(spark, sf_dir):
    """Magic-byte MIME routing — the first decision a crawl pipeline makes
    per payload. Blobs are built by the package's own REAL encoders (PNG,
    JPEG, GIF, BMP, TIFF, WAV, gzip member, ZIP, PDF, ISO-BMFF ftyp, WARC
    record, plain text), one format per doc_id residue; the sniff itself is
    a single pure-codegen hex/substring/when expression (no UDF, no
    shuffle). The oracle replays the residue→mime map closed-form: any
    misclassification by the magic table value-mismatches."""
    import pandas as pd
    from typing import Iterator

    import numpy as np

    from hatchery_spark.functions.mime import mp4_stub, sniff_mime, zip_stub

    docs = load(spark, sf_dir, "documents").select("doc_id")

    def _blobs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hatchery_spark.functions.bmp import encode_bmp_rgb
        from hatchery_spark.functions.gif import encode_gif
        from hatchery_spark.functions.jpeg import encode_jpeg
        from hatchery_spark.functions.multimodal import encode_png, encode_wav
        from hatchery_spark.functions.tiff import encode_tiff
        from hatchery_spark.functions.warc import encode_warc_record, gzip_member

        gray8 = np.full((8, 8), 99, dtype=np.uint8)
        rgb8 = np.full((8, 8, 3), 50, dtype=np.uint8)
        pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
        builders = [
            lambda i: encode_png(4, 4, (i % 256, 0, 0)),
            lambda i: encode_jpeg(8, 8, 90 + i % 32),
            lambda i: encode_gif([(gray8 % 2)], pal),
            lambda i: encode_bmp_rgb(rgb8),
            lambda i: encode_tiff(gray8),
            lambda i: encode_wav(16, 8000, 100 + i % 50),
            lambda i: gzip_member(f"payload {i}".encode()),
            lambda i: zip_stub("a.txt", f"z{i}".encode()),
            lambda i: b"%PDF-1.4\n1 0 obj\nendobj\n%%EOF",
            lambda i: mp4_stub(),
            lambda i: encode_warc_record(i, b"warc body"),
            lambda i: f"plain text {i}".encode("utf-8"),
        ]
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "content": [builders[i % 12](int(i)) for i in ids],
                }
            )

    blobs = docs.mapInPandas(_blobs, "doc_id long, content binary")
    return blobs.select("doc_id", sniff_mime(F.col("content")).alias("mime"))


_MIME_SNIFF_ORACLE = """
SELECT doc_id,
       CASE doc_id % 12
         WHEN 0 THEN 'image/png'       WHEN 1 THEN 'image/jpeg'
         WHEN 2 THEN 'image/gif'       WHEN 3 THEN 'image/bmp'
         WHEN 4 THEN 'image/tiff'      WHEN 5 THEN 'audio/wav'
         WHEN 6 THEN 'application/gzip' WHEN 7 THEN 'application/zip'
         WHEN 8 THEN 'application/pdf' WHEN 9 THEN 'video/mp4'
         WHEN 10 THEN 'application/warc'
         ELSE 'application/octet-stream' END AS mime
FROM documents"""


def q_warc_gz_members(spark, sf_dir):
    """.warc.gz member framing — the format Common Crawl actually ships:
    every WARC record is its OWN gzip member; members are concatenated so
    readers can split at the COMPRESSED layer. documents → member-per-record
    gzip blobs → zlib member scan (DEFLATE stream-end boundaries, never
    magic-byte search) → byte-exact WARC split inside each member. The
    oracle reconstructs every decompressed member closed-form (header
    string + payload + separator) and md5s it — a member boundary off by
    one byte value-mismatches."""
    from hatchery_spark.functions.warc import build_warc_gz_files, parse_warc_gz

    docs = load(spark, sf_dir, "documents")
    return parse_warc_gz(build_warc_gz_files(docs, files=25))


_WARC_GZ_ORACLE = """
WITH r AS (
  SELECT doc_id % 25 AS file_id, doc_id,
         coalesce(text, '') AS payload,
         octet_length(encode(coalesce(text, ''))) AS plen,
         concat('https://example.com/doc/', cast(doc_id AS varchar)) AS uri
  FROM documents),
h AS (
  SELECT *,
         concat(
           'WARC/1.0', e'\\r\\n',
           'WARC-Type: response', e'\\r\\n',
           'WARC-Record-ID: <urn:doc:', cast(doc_id AS varchar), '>', e'\\r\\n',
           'WARC-Target-URI: ', uri, e'\\r\\n',
           'WARC-Date: 2025-01-01T00:00:00Z', e'\\r\\n',
           'Content-Type: text/plain', e'\\r\\n',
           'Content-Length: ', cast(plen AS varchar), e'\\r\\n', e'\\r\\n'
         ) AS hdr
  FROM r)
SELECT file_id,
       cast(row_number() OVER (PARTITION BY file_id ORDER BY doc_id) - 1
            AS int) AS member_idx,
       'response' AS warc_type,
       uri AS target_uri,
       cast(plen AS bigint) AS content_length,
       md5(concat(hdr, payload, e'\\r\\n\\r\\n')) AS record_md5,
       md5(payload) AS payload_md5
FROM h"""


_WARC_ORACLE = """
WITH r AS (
  SELECT doc_id % 25 AS file_id, doc_id,
         coalesce(text, '') AS payload,
         octet_length(encode(coalesce(text, ''))) AS plen,
         concat('https://example.com/doc/', cast(doc_id AS varchar)) AS uri
  FROM documents),
h AS (
  SELECT *,
         length(concat(
           'WARC/1.0', e'\\r\\n',
           'WARC-Type: response', e'\\r\\n',
           'WARC-Record-ID: <urn:doc:', cast(doc_id AS varchar), '>', e'\\r\\n',
           'WARC-Target-URI: ', uri, e'\\r\\n',
           'WARC-Date: 2025-01-01T00:00:00Z', e'\\r\\n',
           'Content-Type: text/plain', e'\\r\\n',
           'Content-Length: ', cast(plen AS varchar), e'\\r\\n', e'\\r\\n'
         )) AS hlen
  FROM r)
SELECT file_id,
       cast(row_number() OVER w - 1 AS int) AS rec_idx,
       cast(coalesce(sum(hlen + plen + 4) OVER (
         PARTITION BY file_id ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint) AS rec_offset,
       'response' AS warc_type,
       uri AS target_uri,
       cast(plen AS bigint) AS content_length,
       md5(payload) AS payload_md5
FROM h WINDOW w AS (PARTITION BY file_id ORDER BY doc_id)"""


_FIM_ORACLE = f"""
WITH h AS (
  SELECT doc_id, coalesce(text, '') AS t, length(coalesce(text, '')) AS ln,
         substr(md5(concat(cast(doc_id AS varchar), ':fim-gate')), 1, 8) AS hg,
         substr(md5(concat(cast(doc_id AS varchar), ':fim-a')), 1, 8) AS ha,
         substr(md5(concat(cast(doc_id AS varchar), ':fim-b')), 1, 8) AS hb
  FROM documents),
c AS (
  SELECT doc_id, t, ln,
         (({_hex_decode_terms("hg")}) % 100) < 50 AND ln >= 2 AS gate,
         ({_hex_decode_terms("ha")}) % (ln + 1) AS c1,
         ({_hex_decode_terms("hb")}) % (ln + 1) AS c2
  FROM h),
s AS (SELECT doc_id, t, ln, gate, least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM c)
SELECT doc_id,
       CASE WHEN gate THEN 'psm' ELSE 'plain' END AS mode,
       CASE WHEN gate THEN concat('<PRE>', substr(t, 1, cast(lo AS int)),
                                  '<SUF>', substr(t, cast(hi + 1 AS int), cast(ln - hi AS int)),
                                  '<MID>', substr(t, cast(lo + 1 AS int), cast(hi - lo AS int)))
            ELSE t END AS fim_text
FROM s"""


_CCNET_BUCKETS_ORACLE = f"""
WITH pairs AS (
  SELECT doc_id, substr(text, i, 1) AS ctx, substr(text, i + 1, 1) AS nxt
  FROM documents, unnest(range(1, length(text))) AS t(i)
  WHERE text IS NOT NULL AND length(text) >= 2),
counts AS (SELECT ctx, nxt, count(*) AS c FROM pairs
           WHERE doc_id % 10 = 0 GROUP BY 1, 2),
totals AS (SELECT ctx, sum(c) AS tot FROM counts GROUP BY 1),
vocab AS (SELECT count(DISTINCT ch) AS v FROM (
            SELECT ctx AS ch FROM pairs WHERE doc_id % 10 = 0
            UNION ALL
            SELECT nxt FROM pairs WHERE doc_id % 10 = 0) u),
scored AS (
  SELECT p.doc_id,
         round(-avg(log2((coalesce(c.c, 0) + 1.0)
                         / (coalesce(t.tot, 0) + v.v))), 4) AS bits_per_char
  FROM pairs p
  LEFT JOIN counts c ON p.ctx = c.ctx AND p.nxt = c.nxt
  LEFT JOIN totals t ON p.ctx = t.ctx
  CROSS JOIN vocab v
  GROUP BY p.doc_id),
tiled AS (
  SELECT s.doc_id, d.lang, s.bits_per_char,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY s.bits_per_char, s.doc_id) AS tile,
         substr(md5(concat(cast(s.doc_id AS varchar), ':ccnet')), 1, 8) AS hk
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id)
SELECT doc_id, lang, bits_per_char,
       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       cast(({_hex_decode_terms("hk")}) / 4294967296.0
            < (CASE tile WHEN 1 THEN 1.0 WHEN 2 THEN 0.5 ELSE 0.1 END) AS int) AS kept
FROM tiled"""


_FUZZY_PAIRS_ORACLE = """
WITH base AS (
  SELECT DISTINCT tok AS t FROM (
    SELECT unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+')) AS tok
    FROM documents)
  WHERE len(tok) BETWEEN 4 AND 12),
toks AS (
  SELECT DISTINCT t FROM (
    SELECT t FROM base
    UNION ALL
    SELECT substr(t, 1, 2) || substr(t, 4) AS t
    FROM base WHERE substr(md5(t), 1, 1) < '8')),
var AS (
  SELECT DISTINCT t, v FROM (
    SELECT t, unnest(list_append(
      list_transform(range(1, len(t) + 1),
                     i -> substr(t, 1, i - 1) || substr(t, i + 1, len(t) - i)),
      t)) AS v
    FROM toks)),
p AS (SELECT DISTINCT a.t AS t1, b.t AS t2
      FROM var a JOIN var b ON a.v = b.v AND a.t < b.t)
SELECT t1, t2, cast(levenshtein(t1, t2) AS int) AS dist
FROM p WHERE levenshtein(t1, t2) <= 1"""


_ORC_ROUNDTRIP_ORACLE = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 4) AS sum_qty
FROM lineitem GROUP BY l_returnflag, l_linestatus"""


#: deterministic event-derived edge list shared by the pagerank and
#: Bradley-Terry oracles — replays graph.derive_event_edges verbatim
_EVENT_EDGE_CTE = f"""
mx AS (SELECT cast(max(user_id) + 1 AS bigint) AS m FROM events),
eh AS (SELECT cast(user_id AS bigint) AS a,
              substr(md5(cast(event_id AS varchar)), 1, 8) AS h, mx.m AS m
       FROM events, mx),
edges AS (SELECT a AS src, dst FROM (
            SELECT a, cast(({_hex_decode_terms("h")}) % m AS bigint) AS dst FROM eh)
          WHERE a <> dst)"""


def _pagerank_oracle(
    iters: int = 3, damping_pct: int = 85, scale: int = 10**12
) -> str:
    """Unrolled-CTE replay of graph.pagerank's FIXED-POINT integer form:
    every share/contribution/teleport term is BIGINT div/sum — no float
    rounding exists to disagree on (decimal-tie rank values divided by small
    outdegrees made round()-based replay systematically engine-dependent)."""
    parts = [
        f"WITH {_EVENT_EDGE_CTE},",
        f"""
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, {scale} // nn.n AS r FROM nodes, nn)""",
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
sh{t} AS (SELECT r.node AS src, r.r // d.outdeg AS share
          FROM r{t - 1} r JOIN deg d ON d.src = r.node),
c{t} AS (SELECT e.dst AS node, sum(s.share) AS contrib
         FROM edges e JOIN sh{t} s ON s.src = e.src GROUP BY e.dst),
dg{t} AS (SELECT coalesce(sum(r.r), 0) AS dang
          FROM r{t - 1} r LEFT JOIN deg d ON d.src = r.node WHERE d.src IS NULL),
r{t} AS (SELECT nodes.node,
           (({100 - damping_pct} * {scale}) // (100 * nn.n))
           + ({damping_pct} * (coalesce(c.contrib, 0) + dg.dang // nn.n)) // 100 AS r
         FROM nodes CROSS JOIN nn CROSS JOIN dg{t} dg
              LEFT JOIN c{t} c ON c.node = nodes.node)""")
    parts.append(
        f"\nSELECT node, cast(r AS double) / {scale}e0 AS pagerank FROM r{iters}"
    )
    return "".join(parts)


def _hits_oracle(iters: int = 3, scale: int = 10**9) -> str:
    """Unrolled-CTE replay of graph.hits — pure BIGINT sums, floor
    divisions, and L1 renormalization scalars, so both engines compute the
    identical integers (same rationale as _pagerank_oracle)."""
    parts = [
        f"WITH {_EVENT_EDGE_CTE},",
        f"""
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
h0 AS (SELECT node, {scale} // nn.n AS h FROM nodes, nn)""",
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
ar{t} AS (SELECT nodes.node, coalesce(s.a_raw, 0) AS a_raw FROM nodes LEFT JOIN (
            SELECT e.dst AS node, sum(h.h) AS a_raw
            FROM edges e JOIN h{t - 1} h ON h.node = e.src GROUP BY e.dst) s
          ON s.node = nodes.node),
sa{t} AS (SELECT greatest(sum(a_raw) // {scale}, 1) AS s FROM ar{t}),
a{t} AS (SELECT node, a_raw // sa{t}.s AS a FROM ar{t}, sa{t}),
hr{t} AS (SELECT nodes.node, coalesce(s.h_raw, 0) AS h_raw FROM nodes LEFT JOIN (
            SELECT e.src AS node, sum(a.a) AS h_raw
            FROM edges e JOIN a{t} a ON a.node = e.dst GROUP BY e.src) s
          ON s.node = nodes.node),
sh{t} AS (SELECT greatest(sum(h_raw) // {scale}, 1) AS s FROM hr{t}),
h{t} AS (SELECT node, h_raw // sh{t}.s AS h FROM hr{t}, sh{t})""")
    parts.append(
        f"""
SELECT h.node, cast(h.h AS double) / {scale}e0 AS hub,
       cast(a.a AS double) / {scale}e0 AS authority
FROM h{iters} h JOIN a{iters} a ON a.node = h.node"""
    )
    return "".join(parts)


def _bt_oracle(iters: int = 3, rd: int = 7) -> str:
    """Unrolled replay of preferences.bradley_terry (MM updates + sum-to-N
    rescale, all aggregates rounded)."""
    parts = [
        f"WITH {_EVENT_EDGE_CTE},",
        """
cp AS (SELECT src AS winner, dst AS loser FROM edges),
wn AS (SELECT winner AS item, cast(count(*) AS double) AS w_cnt FROM cp GROUP BY winner),
g AS (SELECT i, j, cast(count(*) AS double) AS n FROM (
        SELECT winner AS i, loser AS j FROM cp
        UNION ALL SELECT loser AS i, winner AS j FROM cp) GROUP BY i, j),
base AS (SELECT winner AS item FROM cp UNION SELECT loser FROM cp),
it AS (SELECT base.item, coalesce(wn.w_cnt, 0e0) AS w_cnt
       FROM base LEFT JOIN wn ON wn.item = base.item),
ni AS (SELECT cast(count(*) AS double) AS n FROM it),
p0 AS (SELECT item, cast(1 AS double) AS w FROM it)""",
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
d{t} AS (SELECT g.i AS item, round(sum(g.n / (wi.w + wj.w)), {rd}) AS denom
         FROM g JOIN p{t - 1} wi ON wi.item = g.i JOIN p{t - 1} wj ON wj.item = g.j
         GROUP BY g.i),
raw{t} AS (SELECT it.item,
             round(CASE WHEN it.w_cnt > 0 THEN it.w_cnt / d.denom ELSE 0e0 END, {rd}) AS w_raw
           FROM it LEFT JOIN d{t} d ON d.item = it.item),
s{t} AS (SELECT round(sum(w_raw), {rd}) AS s FROM raw{t}),
p{t} AS (SELECT item, round(ni.n * w_raw / s{t}.s, {rd}) AS w FROM raw{t}, s{t}, ni)""")
    parts.append(f"\nSELECT item, w AS bt_score FROM p{iters}")
    return "".join(parts)


def _pca_oracle(
    dim: int = 64, iters: int = 6, rd_cov: int = 6, rd_vec: int = 9, out_rd: int = 6
) -> str:
    """Unrolled replay of similarity.pca_power_project: rounded mean →
    rounded covariance (coarser rd — its sums span the whole corpus) →
    power iteration with per-step rounding → rounded projection."""
    parts = [
        f"""WITH emb AS (SELECT vec_id, embedding AS e FROM embeddings),
nn AS (SELECT cast(count(*) AS double) AS n FROM emb),
m AS (SELECT j, round(avg(cast(e[j] AS double)), {rd_vec}) AS mj
      FROM emb, range(1, {dim + 1}) t(j) GROUP BY j),
cs AS (SELECT ma.j AS a, mb.j AS b,
              sum((cast(e[ma.j] AS double) - ma.mj)
                  * (cast(e[mb.j] AS double) - mb.mj)) AS s
       FROM emb, m ma, m mb GROUP BY ma.j, mb.j),
cov AS (SELECT a, b, round(s / nn.n, {rd_cov}) AS c FROM cs, nn),
v0 AS (SELECT j, round(cast(1 AS double) / sqrt(cast({dim} AS double)), {rd_vec}) AS r
       FROM range(1, {dim + 1}) t(j))"""
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
u{t} AS (SELECT cov.a AS j, round(sum(cov.c * v.r), {rd_vec}) AS u
         FROM cov JOIN v{t - 1} v ON v.j = cov.b GROUP BY cov.a),
nm{t} AS (SELECT round(sqrt(sum(u * u)), {rd_vec}) AS s FROM u{t}),
v{t} AS (SELECT j, round(u / s, {rd_vec}) AS r FROM u{t}, nm{t})""")
    parts.append(f""",
fin AS (SELECT (SELECT list(mj ORDER BY j) FROM m) AS ml,
               (SELECT list(r ORDER BY j) FROM v{iters}) AS vl)
SELECT vec_id, round(list_aggregate(list_transform(range(1, {dim + 1}),
         j -> (cast(e[j] AS double) - ml[j]) * vl[j]), 'sum'), {out_rd}) AS pc1
FROM emb, fin""")
    return "".join(parts)


def _dpo_oracle() -> str:
    t = TRANSCRIPTS_VALUE_SQL.format(events="events")
    return f"""
WITH t AS ({t}),
p AS (SELECT conv_id, text AS prompt FROM (
        SELECT conv_id, text,
               row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
        FROM t WHERE role = 'user') WHERE rn = 1),
r AS (SELECT conv_id, text, value, turn_idx,
        row_number() OVER (PARTITION BY conv_id
                           ORDER BY value DESC, turn_idx ASC) AS rkb,
        row_number() OVER (PARTITION BY conv_id
                           ORDER BY value ASC, turn_idx DESC) AS rkw,
        count(*) OVER (PARTITION BY conv_id) AS nr
      FROM t WHERE role = 'assistant'),
c AS (SELECT conv_id, text AS chosen, value AS cv, turn_idx AS ct
      FROM r WHERE rkb = 1 AND nr >= 2),
x AS (SELECT conv_id, text AS rejected, value AS rv, turn_idx AS rt
      FROM r WHERE rkw = 1 AND nr >= 2)
SELECT p.conv_id, p.prompt, c.chosen, x.rejected,
       round(c.cv, 6) AS chosen_value, round(x.rv, 6) AS rejected_value
FROM p JOIN c ON c.conv_id = p.conv_id JOIN x ON x.conv_id = p.conv_id
WHERE c.ct <> x.rt"""


_READABILITY_ORACLE = """
WITH b AS (SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents),
c AS (SELECT doc_id,
        len(regexp_extract_all(t, '[a-z]+')) AS words,
        len(regexp_extract_all(t, '[aeiouy]+')) AS syl,
        greatest(len(regexp_extract_all(t, '[.!?]+')), 1) AS sent
      FROM b)
SELECT doc_id,
  cast(words AS int) AS n_words,
  cast(sent AS int) AS n_sentences,
  cast(syl AS int) AS n_syllables,
  round(206.835e0 - 1.015e0 * (cast(greatest(words, 1) AS double) / cast(sent AS double))
        - 84.6e0 * (cast(syl AS double) / cast(greatest(words, 1) AS double)), 4) AS fk_ease,
  round(0.39e0 * (cast(greatest(words, 1) AS double) / cast(sent AS double))
        + 11.8e0 * (cast(syl AS double) / cast(greatest(words, 1) AS double))
        - 15.59e0, 4) AS fk_grade
FROM c"""


_SCD2_ORACLE = """
WITH s AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN row_number() OVER w = 1 THEN TRUE
              WHEN event_type IS DISTINCT FROM lag(event_type) OVER w THEN TRUE
              ELSE FALSE END AS chg
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
v AS (SELECT user_id, event_type, ts, event_id FROM s WHERE chg)
SELECT user_id,
       cast(row_number() OVER w2 AS int) AS version,
       event_type,
       ts AS valid_from,
       lead(ts) OVER w2 AS valid_to,
       cast(CASE WHEN lead(ts) OVER w2 IS NULL THEN 1 ELSE 0 END AS int) AS is_current
FROM v WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)"""


def oracle_catalog() -> dict[str, str]:
    p = ORACLE_PIPELINE_CTE
    from hatchery_spark.operators.sketches import hdr_oracle_sql
    from hatchery_spark.operators.telemetry import beacon_oracle_sql

    oracles = {
        "graph_components": _graph_components_oracle(),
        "graph_kcore": _kcore_oracle(),
        "rel_bloom_join": _BLOOM_JOIN_ORACLE,
        "pipeline_itemsets": _frequent_itemsets_oracle(),
        "pipeline_sequence_match": _sequence_match_oracle(),
        "pipeline_rendezvous_shards": _rendezvous_oracle(),
        "pipeline_benford": _benford_oracle(),
        "pipeline_theta_setops": _theta_setops_oracle(),
        "rel_zip_roundtrip": _ZIP_ROUNDTRIP_ORACLE,
        "rel_xlsx_roundtrip": _XLSX_ORACLE,
        "rel_csv_roundtrip": _CSV_ROUNDTRIP_ORACLE,
        "rel_quality_checks": _QUALITY_CHECKS_ORACLE,
        "doc_docx_extract": _DOCX_ORACLE,
        "doc_epub_extract": _EPUB_ORACLE,
        "doc_pptx_extract": _PPTX_ORACLE,
        "doc_tfrecord_roundtrip": _TFRECORD_ORACLE,
        "rel_arrow_ipc_roundtrip": _ARROW_IPC_ORACLE,
        "rel_bzip2_decode": _BZIP2_ORACLE,
        "rel_xz_decode": _XZ_ORACLE,
        "rel_deflate_encode": _DEFLATE_ENCODE_ORACLE,
        "pipeline_leef_parse": _leef_oracle(),
        "pipeline_mg_heavyhitters": _mg_oracle(),
        "pipeline_syslog_tcp": _syslog_tcp_oracle(),
        "pipeline_http_extract": _http_extract_oracle(),
        "pipeline_holt_trend": _holt_oracle(),
        "rel_record_linkage": _linkage_oracle(),
        "pipeline_l_diversity": _l_diversity_oracle(),
        "pipeline_dp_counts": _dp_counts_oracle(),
        "pipeline_route_digest": _route_digest_oracle(),
        "doc_collocations": _collocations_oracle(),
        "pipeline_topk_certified": _topk_oracle(),
        "pipeline_first_seen": _first_seen_oracle(),
        "pipeline_lttb_downsample": _lttb_oracle(),
        "pipeline_tcp_reassembly": _tcp_oracle(),
        "pipeline_fluentd_forward": _fluentd_oracle(),
        "pipeline_cusum_drift": _cusum_oracle(),
        "pipeline_seasonal_anomaly": _seasonal_oracle(),
        "pipeline_gorilla_roundtrip": _gorilla_roundtrip_oracle(),
        "pipeline_ipfix_roundtrip": _ipfix_oracle(),
        "pipeline_winevent_xml": _winevent_oracle(),
        "pipeline_gelf_roundtrip": _gelf_oracle(),
        "pipeline_kafka_roundtrip": _kafka_oracle(),
        "pipeline_otlp_roundtrip": _otlp_oracle(),
        "pipeline_ledger_verify": _ledger_oracle(),
        "pipeline_dns_tunnel": _dns_oracle(),
        "pipeline_netflow_roundtrip": _netflow_oracle(),
        "media_x509_extract": _x509_oracle(),
        "pipeline_prometheus_scrape": _prometheus_oracle(),
        "pipeline_pcap_roundtrip": _pcap_oracle(),
        "doc_webdataset_roundtrip": _webdataset_oracle(),
        "pipeline_w3c_log": _w3c_oracle(),
        "pipeline_stack_stitch": _stack_stitch_oracle(),
        "pipeline_kmv_actors": _kmv_actors_oracle(),
        "pipeline_ewma_spikes": _ewma_spikes_oracle(),
        "pipeline_flow_stitch": _flow_stitch_oracle(),
        "pipeline_impossible_travel": _impossible_travel_oracle(),
        "pipeline_jwt_parse": _jwt_parse_oracle(),
        "rel_ulid_roundtrip": _ulid_roundtrip_oracle(),
        "rel_cbor_roundtrip": _cbor_roundtrip_oracle(),
        "doc_idn_decode": _idn_decode_oracle(),
        "pipeline_sigma_rules": _sigma_rules_oracle(),
        "pipeline_span_tree": _span_tree_oracle(),
        "pipeline_schema_drift": _schema_drift_oracle(),
        "pipeline_lateness_stats": _lateness_oracle(),
        "pipeline_rollup_cascade": _rollup_cascade_oracle(),
        "pipeline_tail_sample": _tail_sample_oracle(),
        "pipeline_cef_parse": _cef_oracle(),
        "pipeline_access_log": _access_log_oracle(),
        "pipeline_beacon_detect": beacon_oracle_sql(),
        "pipeline_hdr_quantiles": hdr_oracle_sql(
            "SELECT * FROM events", HDR_VALUE_SQL, "event_type"
        ),
        "pipeline_transcripts_view": p + "SELECT * FROM transcripts",
        "pipeline_parse": p + "SELECT * FROM parsed",
        "pipeline_parse_pandas": p + "SELECT * FROM parsed",
        "pipeline_enrich": p + "SELECT * FROM enriched",
        "pipeline_route_fanout": p + "SELECT * FROM routed",
        "pipeline_sink_counts": p
        + "SELECT route_id, count(*) AS row_count FROM routed GROUP BY route_id",
        "pipeline_select_by_tag": p
        + "SELECT * FROM routed WHERE route_id IN ('evt-errors','evt-auth')",
        "pipeline_run_summary": p
        + """SELECT route_id, count(*) AS row_count, min(ts) AS min_ts,
                    max(ts) AS max_ts, count(DISTINCT conv_id) AS n_convs
             FROM routed GROUP BY route_id""",
        "pipeline_asof_last_event": p
        + """, r AS (
              SELECT key, ts, event_type FROM (
                SELECT concat('conv-', cast(user_id AS string)) AS key, ts, event_type,
                       row_number() OVER (PARTITION BY user_id, ts
                                          ORDER BY event_id DESC) AS rn
                FROM events) x
              WHERE rn = 1
            )
            SELECT t.conv_id, t.turn_idx, r.event_type AS last_event_type
            FROM transcripts t
            ASOF LEFT JOIN r ON t.conv_id = r.key AND t.ts >= r.ts""",
        "rel_range_join_windows": """
            WITH w AS (
              SELECT tick AS window_start, tick + INTERVAL 90 MINUTE AS window_end
              FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                                  TIMESTAMP '2024-01-30 18:00:00',
                                                  INTERVAL 6 HOUR)) AS tick)
            )
            SELECT e.event_id, w.window_start
            FROM events e JOIN w
              ON e.ts BETWEEN w.window_start AND w.window_end""",
        "pipeline_multi_pattern_parse": p
        + f"""SELECT conv_id, turn_idx, role, text, tool, ts,
               coalesce(nullif(regexp_extract(text, '{AUDIT_PATTERN}', 2), ''),
                        nullif(regexp_extract(text, '{_LEGACY_PATTERN}', 2), '')) AS actor,
               coalesce(nullif(regexp_extract(text, '{AUDIT_PATTERN}', 3), ''),
                        nullif(regexp_extract(text, '{_LEGACY_PATTERN}', 3), '')) AS action,
               coalesce(nullif(regexp_extract(text, '{AUDIT_PATTERN}', 4), ''),
                        nullif(regexp_extract(text, '{_LEGACY_PATTERN}', 4), '')) AS resource,
               coalesce(nullif(regexp_extract(text, '{AUDIT_PATTERN}', 1), ''),
                        nullif(regexp_extract(text, '{_LEGACY_PATTERN}', 1), '')) AS severity
             FROM (
               SELECT conv_id, turn_idx, role,
                 CASE WHEN NOT starts_with(text, '[') AND turn_idx % 2 = 0
                      THEN concat('sev=info user=legacy', conv_id,
                                  ' op=migrated obj=archive:/x')
                      ELSE text END AS text,
                 tool, ts
               FROM transcripts) t""",
        "doc_quality_filter": f"""
            SELECT q.doc_id, d.lang, q.quality
            FROM ({_QUALITY_ORACLE.replace('stop_ratio', '_sr').replace('punct_ratio', '_pr')}) q
            JOIN documents d ON q.doc_id = d.doc_id
            WHERE q.quality >= 0.5 AND d.lang IN ('en', 'de', 'es')""",
        "pipeline_error_burst": p
        + """, flags AS (
              SELECT conv_id, turn_idx,
                CASE WHEN severity IN ('error','critical') THEN 1 ELSE 0 END AS f
              FROM parsed
            ), grp AS (
              SELECT conv_id, f,
                row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
                - row_number() OVER (PARTITION BY conv_id, f ORDER BY turn_idx) AS g
              FROM flags
            ), runs AS (
              SELECT conv_id, count(*) AS run_len FROM grp WHERE f = 1
              GROUP BY conv_id, g
            ), best AS (
              SELECT conv_id, max(run_len) AS mx FROM runs GROUP BY conv_id
            ), sizes AS (
              SELECT conv_id, count(*) AS n FROM parsed GROUP BY conv_id
            )
            SELECT s.conv_id, round(coalesce(b.mx, 0) * 1.0 / s.n, 4) AS burst
            FROM sizes s LEFT JOIN best b ON s.conv_id = b.conv_id""",
        "pipeline_conv_stats": p
        + """SELECT conv_id, count(*) AS n_turns, max(turn_idx) AS max_turn_idx,
                    min(ts) AS first_ts, max(ts) AS last_ts,
                    count(DISTINCT tool) AS n_tools,
                    cast(sum(CASE WHEN severity IN ('error','critical') THEN 1 ELSE 0 END)
                         AS bigint) AS n_error_turns
             FROM parsed GROUP BY conv_id""",
        "pipeline_conv_reconstruct": p
        + """SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS conv_text,
                    count(*) AS n_turns
             FROM transcripts GROUP BY conv_id""",
        "rel_sessionize": """
            WITH o AS (
              SELECT user_id, event_id,
                CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS is_new,
                ts
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, event_id,
              cast(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS bigint) AS session_id
            FROM o""",
        "doc_bpe_tokens": r"""
            SELECT doc_id,
              cast(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]')) AS int)
                AS n_pieces
            FROM documents""",
        "pipeline_time_window": p
        + """SELECT conv_id, turn_idx, ts FROM transcripts
             WHERE ts BETWEEN TIMESTAMP '2024-01-14 00:00:00'
                          AND TIMESTAMP '2024-01-15 00:00:00'""",
        "pipeline_ticks": """
            SELECT unnest(generate_series(TIMESTAMP '2024-01-01 00:00:00',
                                          TIMESTAMP '2024-01-02 00:00:00',
                                          INTERVAL 6 HOUR)) AS tick""",
        "pipeline_cursor_extract": """
            SELECT event_id, cast(json_extract_string(props, '$.k') AS int) AS cursor_k
            FROM events""",
        "pipeline_schema_hint": """
            WITH t AS (
              SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN concat('data/x/', source)
                     WHEN doc_id % 3 = 1 THEN concat('fdrv2/x/', source)
                     ELSE concat('raw/x/', source) END AS path
              FROM documents)
            SELECT doc_id, path,
              CASE WHEN split_part(path, '/', 1) = 'data' THEN 'data'
                   WHEN split_part(path, '/', 1) = 'fdrv2'
                     THEN concat('fdrv2_', split_part(path, '/', 3))
                   ELSE 'unknown' END AS hint
            FROM t""",
        "pipeline_slug": "SELECT doc_id, substring(sha256(text), 1, 8) AS slug FROM documents",
        "doc_ngram_jaccard": r"""
            WITH g AS (
              SELECT doc_id,
                list_distinct(list_transform(
                  range(1, greatest(len(regexp_split_to_array(text, '\s+')) - 2, 1) + 1),
                  i -> array_to_string(regexp_split_to_array(text, '\s+')[i:i+2], ' ')
                )) AS grams
              FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              round(cast(len(list_intersect(a.grams, b.grams)) AS double)
                    / len(list_distinct(a.grams || b.grams)), 4) AS ngram_jaccard
            FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
            WHERE a.doc_id < 99""",
        "doc_fingerprint_buckets": """
            SELECT doc_id, cast(count(*) OVER (PARTITION BY text) AS int) AS bucket_size
            FROM documents""",
        "doc_sample_rate": """
            SELECT doc_id FROM documents
            WHERE substring(md5(text), 1, 4) < '4000'""",
        "doc_mixture_sample": """
            SELECT doc_id, source FROM documents
            WHERE substring(md5(coalesce(text, '')), 1, 4) <
              CASE source WHEN 'src0' THEN 'g'
                          WHEN 'src1' THEN '8000'
                          WHEN 'src2' THEN '4000'
                          ELSE '199a' END""",
        "doc_stratified_sample": """
            SELECT doc_id, source, sample_rank FROM (
              SELECT doc_id, source,
                cast(row_number() OVER (PARTITION BY source
                                        ORDER BY md5(coalesce(text, '')), doc_id)
                     AS int) AS sample_rank
              FROM documents) t
            WHERE sample_rank <= 20""",
        "doc_gopher_filter": """
            WITH sig AS (
              SELECT doc_id,
                cast(len(ws) AS int) AS n_words,
                round(length(regexp_replace(text, '[ \t\n\f\r\v]+', '', 'g'))
                      / cast(len(ws) AS double), 4) AS mean_word_len,
                round(((length(text) - length(replace(text, '#', '')))
                       + (length(text) - length(replace(text, '...', ''))) / 3)
                      / cast(len(ws) AS double), 4) AS symbol_word_ratio,
                round(len(list_filter(ls, x -> ends_with(x, '...')))
                      / cast(len(ls) AS double), 4) AS ellipsis_line_frac,
                round(len(list_filter(ls, x -> starts_with(x, chr(8226))
                                            OR starts_with(x, '-')
                                            OR starts_with(x, '*')))
                      / cast(len(ls) AS double), 4) AS bullet_line_frac,
                round(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))
                      / cast(len(ws) AS double), 4) AS alpha_word_frac,
                cast(len(list_intersect(
                       list_distinct(list_transform(ws, x -> lower(x))),
                       ['the','be','to','of','and','that','have','with']))
                     AS int) AS n_stopwords,
                round(1.0 - len(list_distinct(ls)) / cast(len(ls) AS double), 4)
                  AS dup_line_frac
              FROM (SELECT doc_id,
                           string_split_regex(text, '[ \t\n\f\r\v]+') AS ws,
                           string_split(text, chr(10)) AS ls,
                           text
                    FROM documents WHERE text IS NOT NULL) b)
            SELECT *,
              (n_words BETWEEN 20 AND 100000) AS ok_word_count,
              (mean_word_len BETWEEN 2.0 AND 10.0) AS ok_word_len,
              (symbol_word_ratio <= 0.1) AS ok_symbols,
              (ellipsis_line_frac <= 0.3) AS ok_ellipsis,
              (bullet_line_frac <= 0.9) AS ok_bullets,
              (alpha_word_frac >= 0.8) AS ok_alpha,
              (n_stopwords >= 1) AS ok_stopwords,
              (dup_line_frac <= 0.3) AS ok_dup_lines,
              ((n_words BETWEEN 20 AND 100000)
               AND (mean_word_len BETWEEN 2.0 AND 10.0)
               AND symbol_word_ratio <= 0.1 AND ellipsis_line_frac <= 0.3
               AND bullet_line_frac <= 0.9 AND alpha_word_frac >= 0.8
               AND n_stopwords >= 1 AND dup_line_frac <= 0.3) AS keep
            FROM sig""",
        "doc_line_dedup": """
            WITH lines AS (
              SELECT b.doc_id, u.i - 1 AS pos, ls[u.i] AS line,
                     b.doc_id * 1000000 + (u.i - 1) AS key
              FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                    FROM documents) b,
                   unnest(range(1, len(b.ls) + 1)) AS u(i)),
            firsts AS (SELECT md5(line) AS h, min(key) AS first_key
                       FROM lines GROUP BY 1)
            SELECT l.doc_id,
              coalesce(string_agg(CASE WHEN l.key = f.first_key THEN l.line END,
                                  chr(10) ORDER BY l.pos), '') AS clean_text,
              cast(count(CASE WHEN l.key = f.first_key THEN 1 END) AS int)
                AS kept_lines,
              cast(count(*) - count(CASE WHEN l.key = f.first_key THEN 1 END)
                   AS int) AS removed_lines
            FROM lines l JOIN firsts f ON md5(l.line) = f.h
            GROUP BY l.doc_id""",
        "doc_temperature_sample": """
            WITH by_s AS (SELECT lang AS s, count(*) AS n_s
                          FROM documents GROUP BY 1),
            st AS (SELECT sum(pow(n_s, 0.5)) AS z, sum(n_s) AS n_total
                   FROM by_s),
            w AS (SELECT s, least(1.0, 0.3 * n_total * pow(n_s, 0.5) / z / n_s)
                         AS rate
                  FROM by_s, st),
            thr AS (SELECT s, rate,
                      CASE WHEN cast(round(rate * 65536) AS int) >= 65536 THEN 'g'
                           ELSE lpad(lower(to_hex(cast(round(rate * 65536) AS int))),
                                     4, '0') END AS t
                    FROM w)
            SELECT d.doc_id, d.lang, round(w.rate, 6) AS rate
            FROM documents d JOIN thr w ON d.lang = w.s
            WHERE substring(md5(coalesce(d.text, '')), 1, 4) < w.t""",
        "doc_token_temperature_sample": """
            WITH by_s AS (SELECT lang AS s,
                            sum(len(string_split_regex(text, '[ \t\n\f\r\x0b]+')))
                              AS n_s
                          FROM documents GROUP BY 1),
            st AS (SELECT sum(pow(n_s, 0.5)) AS z, sum(n_s) AS n_total
                   FROM by_s),
            w AS (SELECT s, least(1.0, 0.3 * n_total * pow(n_s, 0.5) / z / n_s)
                         AS rate
                  FROM by_s, st),
            thr AS (SELECT s, rate,
                      CASE WHEN cast(round(rate * 65536) AS int) >= 65536 THEN 'g'
                           ELSE lpad(lower(to_hex(cast(round(rate * 65536) AS int))),
                                     4, '0') END AS t
                    FROM w)
            SELECT d.doc_id, d.lang, round(w.rate, 6) AS rate
            FROM documents d JOIN thr w ON d.lang = w.s
            WHERE substring(md5(coalesce(d.text, '')), 1, 4) < w.t""",
        "pipeline_sft_render": p + """, r AS (
              SELECT conv_id, turn_idx, role, text,
                     '<|' || role || '|>' || chr(10) || text || chr(10) AS rt
              FROM transcripts),
            o AS (
              SELECT *, coalesce(sum(len(rt)) OVER (
                  PARTITION BY conv_id ORDER BY turn_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
              FROM r)
            SELECT conv_id,
              cast(count(*) AS int) AS n_turns,
              cast(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS int)
                AS n_loss_turns,
              cast(sum(len(rt)) AS int) AS n_chars,
              round(sum(CASE WHEN role = 'assistant' THEN len(text) ELSE 0 END)
                    * 1.0 / sum(len(rt)), 6) AS loss_frac,
              string_agg(rt, '' ORDER BY turn_idx) AS text,
              coalesce(string_agg(CASE WHEN role = 'assistant'
                  THEN (off + len(role) + 5) || ':'
                       || (off + len(role) + 5 + len(text)) END,
                  ',' ORDER BY turn_idx), '') AS loss_spans
            FROM o GROUP BY conv_id""",
        "doc_substring_dedup": """
            WITH docs AS (SELECT doc_id, text FROM documents),
            pos AS (SELECT doc_id, text,
                      unnest(range(1, greatest(len(text) - 19, 0) + 1)) AS p
                    FROM docs),
            h AS (SELECT doc_id, p, md5(substring(text, p, 20)) AS hh FROM pos),
            counts AS (SELECT hh, count(*) AS n FROM h GROUP BY hh),
            dup AS (SELECT doc_id, p FROM h JOIN counts USING (hh)
                    WHERE n >= 2),
            fl AS (SELECT doc_id, p,
                     CASE WHEN lag(p) OVER w IS NULL
                               OR p > lag(p) OVER w + 20 THEN 1 ELSE 0 END AS nw
                   FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
            isl0 AS (SELECT doc_id, p,
                       sum(nw) OVER (PARTITION BY doc_id ORDER BY p) AS island
                     FROM fl),
            isl AS (SELECT doc_id, island, min(p) AS s, max(p) + 20 AS e
                    FROM isl0 GROUP BY doc_id, island),
            seg AS (SELECT doc_id, s, e,
                      coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
                        AS seg_from
                    FROM isl),
            agg AS (SELECT g.doc_id,
                      cast(count(*) AS int) AS n_islands,
                      cast(sum(g.e - g.s) AS int) AS n_removed,
                      string_agg(substring(d.text, g.seg_from, g.s - g.seg_from),
                                 '' ORDER BY g.s) AS head,
                      max(g.e) AS tail_from
                    FROM seg g JOIN docs d USING (doc_id) GROUP BY g.doc_id)
            SELECT d.doc_id,
              CASE WHEN a.doc_id IS NULL THEN d.text
                   ELSE a.head || substring(d.text, cast(a.tail_from AS int)) END
                AS text,
              coalesce(a.n_islands, 0) AS n_islands,
              coalesce(a.n_removed, 0) AS n_removed
            FROM docs d LEFT JOIN agg a ON d.doc_id = a.doc_id""",
        "doc_bm25_topk": """
            WITH toks AS (
              SELECT doc_id,
                unnest(string_split_regex(lower(text), '[ \t\n\f\r\x0b]+'))
                  AS token
              FROM documents),
            tk AS (SELECT * FROM toks WHERE token <> ''),
            dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
            st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM tk
                   WHERE token IN ('spark', 'hash', 'join', 'window', 'merge')
                   GROUP BY doc_id, token),
            dft AS (SELECT token, count(*) AS df_t FROM tf GROUP BY token),
            sc AS (SELECT tf.doc_id,
                     ln(1 + (st.n_docs - dft.df_t + 0.5) / (dft.df_t + 0.5))
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))
                       AS s
                   FROM tf JOIN dl ON tf.doc_id = dl.doc_id
                           JOIN dft ON tf.token = dft.token, st)
            SELECT doc_id, cast(count(*) AS int) AS n_terms_hit,
                   round(sum(s), 4) AS score
            FROM sc GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT 25""",
        "doc_hybrid_topk": """
            WITH toks AS (
              SELECT doc_id,
                unnest(string_split_regex(lower(text), '[ \t\n\f\r\x0b]+'))
                  AS token
              FROM documents),
            tk AS (SELECT * FROM toks WHERE token <> ''),
            dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
            st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
            tf AS (SELECT doc_id, token, count(*) AS tf FROM tk
                   WHERE token IN ('spark', 'hash', 'join', 'window', 'merge')
                   GROUP BY doc_id, token),
            dft AS (SELECT token, count(*) AS df_t FROM tf GROUP BY token),
            sc AS (SELECT tf.doc_id,
                     ln(1 + (st.n_docs - dft.df_t + 0.5) / (dft.df_t + 0.5))
                       * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))
                       AS s
                   FROM tf JOIN dl ON tf.doc_id = dl.doc_id
                           JOIN dft ON tf.token = dft.token, st),
            bm AS (SELECT doc_id, round(sum(s), 4) AS score
                   FROM sc GROUP BY doc_id
                   ORDER BY score DESC, doc_id LIMIT 50),
            bmr AS (SELECT doc_id,
                      cast(row_number() OVER (ORDER BY score DESC, doc_id)
                        AS int) AS bm25_rank
                    FROM bm),
            qv AS (SELECT cast(embedding AS double[]) AS qv
                   FROM embeddings WHERE vec_id = 0),
            cv AS (SELECT vec_id, cast(embedding AS double[]) AS cv
                   FROM embeddings),
            cos AS (SELECT vec_id,
                      round(list_dot_product(cv.cv, qv.qv)
                        / (sqrt(list_dot_product(cv.cv, cv.cv))
                           * sqrt(list_dot_product(qv.qv, qv.qv))), 4)
                        AS cosine
                    FROM cv, qv),
            csr AS (SELECT vec_id,
                      cast(row_number() OVER (ORDER BY cosine DESC, vec_id)
                        AS int) AS cosine_rank
                    FROM cos ORDER BY cosine DESC, vec_id LIMIT 50),
            f AS (SELECT coalesce(bmr.doc_id, csr.vec_id) AS doc_id,
                         bmr.bm25_rank, csr.cosine_rank
                  FROM bmr FULL OUTER JOIN csr ON bmr.doc_id = csr.vec_id)
            SELECT doc_id,
              round(coalesce(1.0 / (60 + bm25_rank), 0.0)
                    + coalesce(1.0 / (60 + cosine_rank), 0.0), 6) AS rrf_score,
              bm25_rank, cosine_rank
            FROM f ORDER BY rrf_score DESC, doc_id LIMIT 10""",
        "rel_zorder": _ZORDER_ORACLE,
        "doc_group_split": _GROUP_SPLIT_ORACLE,
        "doc_search_and": """
            WITH toks AS (
              SELECT doc_id,
                unnest(string_split_regex(lower(text), '[ \t\n\f\r\x0b]+'))
                  AS token
              FROM documents),
            tk AS (SELECT * FROM toks WHERE token <> ''),
            p AS (SELECT token, doc_id, count(*) AS tf FROM tk
                  WHERE token IN ('spark', 'join', 'window')
                  GROUP BY token, doc_id)
            SELECT doc_id, CAST(sum(tf) AS int) AS total_tf
            FROM p GROUP BY doc_id
            HAVING count(DISTINCT token) = 3""",
        "doc_substring_dedup_within": """
            WITH docs AS (SELECT doc_id, text FROM documents),
            pos AS (SELECT doc_id, text,
                      unnest(range(1, greatest(len(text) - 9, 0) + 1)) AS p
                    FROM docs),
            h AS (SELECT doc_id, p, md5(substring(text, p, 10)) AS hh FROM pos),
            counts AS (SELECT doc_id, hh, count(*) AS n
                       FROM h GROUP BY doc_id, hh),
            dup AS (SELECT doc_id, p FROM h JOIN counts USING (doc_id, hh)
                    WHERE n >= 2),
            fl AS (SELECT doc_id, p,
                     CASE WHEN lag(p) OVER w IS NULL
                               OR p > lag(p) OVER w + 10 THEN 1 ELSE 0 END AS nw
                   FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
            isl0 AS (SELECT doc_id, p,
                       sum(nw) OVER (PARTITION BY doc_id ORDER BY p) AS island
                     FROM fl),
            isl AS (SELECT doc_id, island, min(p) AS s, max(p) + 10 AS e
                    FROM isl0 GROUP BY doc_id, island),
            seg AS (SELECT doc_id, s, e,
                      coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
                        AS seg_from
                    FROM isl),
            agg AS (SELECT g.doc_id,
                      cast(count(*) AS int) AS n_islands,
                      cast(sum(g.e - g.s) AS int) AS n_removed,
                      string_agg(substring(d.text, g.seg_from, g.s - g.seg_from),
                                 '' ORDER BY g.s) AS head,
                      max(g.e) AS tail_from
                    FROM seg g JOIN docs d USING (doc_id) GROUP BY g.doc_id)
            SELECT d.doc_id,
              CASE WHEN a.doc_id IS NULL THEN d.text
                   ELSE a.head || substring(d.text, cast(a.tail_from AS int)) END
                AS text,
              coalesce(a.n_islands, 0) AS n_islands,
              coalesce(a.n_removed, 0) AS n_removed
            FROM docs d LEFT JOIN agg a ON d.doc_id = a.doc_id""",
        "rel_upsert_merge": """
            WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
            u AS (
              SELECT o_orderkey, round(o_totalprice * 2, 2) AS o_totalprice,
                     FALSE AS _del
              FROM orders WHERE o_orderkey % 97 = 0
              UNION ALL
              SELECT o_orderkey + 10000000, round(o_totalprice / 2, 2), FALSE
              FROM orders WHERE o_orderkey % 181 = 0
              UNION ALL
              SELECT o_orderkey, CAST(NULL AS DOUBLE), TRUE
              FROM orders WHERE o_orderkey % 131 = 0 AND o_orderkey % 97 <> 0)
            SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
                   b.o_custkey,
                   CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                        ELSE b.o_totalprice END AS o_totalprice
            FROM b FULL OUTER JOIN u ON b.o_orderkey = u.o_orderkey
            WHERE NOT coalesce(u._del, FALSE)""",
        "doc_c4_clean": """
            WITH s AS (
              SELECT doc_id, text,
                string_split(text, chr(10)) AS lines,
                list_filter(string_split(text, chr(10)), l ->
                  regexp_matches(l, '[.!?"] *$')
                  AND len(string_split_regex(trim(l), '[ \t\f\r\x0b]+')) >= 5
                  AND NOT contains(lower(l), 'javascript')) AS kept
              FROM documents)
            SELECT doc_id,
              coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
              CAST(len(kept) AS int) AS kept_lines,
              CAST(len(lines) - len(kept) AS int) AS dropped_lines,
              len(kept) >= 3 AND NOT contains(text, '{')
                AND NOT contains(lower(text), 'lorem ipsum') AS page_kept
            FROM s""",
        "doc_k_anonymize": """
            SELECT doc_id,
              CASE WHEN group_n < 25 THEN '[SUPPRESSED]' ELSE lang END
                AS lang,
              CASE WHEN group_n < 25 THEN '[SUPPRESSED]' ELSE source END
                AS source,
              group_n, group_n < 25 AS suppressed
            FROM (SELECT doc_id, lang, source,
                    count(*) OVER (PARTITION BY lang, source) AS group_n
                  FROM documents)""",
        "doc_nb_quality": """
            WITH lab AS (SELECT doc_id, lang = 'en' AS pos, lower(text) AS lt
                         FROM documents),
            tok AS (SELECT doc_id, pos,
                      unnest(string_split_regex(lt, '[ \t\n\f\r\x0b]+')) AS token
                    FROM lab),
            tk AS (SELECT * FROM tok WHERE token <> ''),
            counts AS (SELECT token,
                         sum(CASE WHEN pos THEN 1 ELSE 0 END) AS c_pos,
                         sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS c_neg
                       FROM tk GROUP BY token),
            ts AS (SELECT sum(c_pos) AS n_pos, sum(c_neg) AS n_neg,
                          count(*) AS v
                   FROM counts),
            ds AS (SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS d_pos,
                          sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS d_neg
                   FROM lab),
            agg AS (SELECT k.doc_id, count(*) AS n_tokens,
                      sum(ln(coalesce(c.c_pos, 0) + 1.0)
                          - ln(coalesce(c.c_neg, 0) + 1.0)) AS s
                    FROM tk k LEFT JOIN counts c ON k.token = c.token
                    GROUP BY k.doc_id)
            SELECT doc_id, n_tokens, nb_logit, nb_logit > 0 AS keep FROM (
              SELECT a.doc_id, cast(a.n_tokens AS int) AS n_tokens,
                round(ln((d_pos + 1.0) / (d_neg + 1.0)) + a.s
                      + a.n_tokens * (ln(n_neg + v * 1.0) - ln(n_pos + v * 1.0)),
                      4) AS nb_logit
              FROM agg a, ts, ds)""",
        "doc_dsir_select": """
            WITH lab AS (SELECT doc_id, lang = 'en' AS t, text,
                           list_filter(string_split_regex(lower(text),
                             '[ \t\n\f\r\x0b]+'), x -> x <> '') AS a
                         FROM documents),
            uni AS (SELECT doc_id, t, unnest(a) AS f FROM lab),
            big AS (SELECT doc_id, t, a[i] || ' ' || a[i + 1] AS f
                    FROM lab, unnest(range(1, len(a))) AS u(i)),
            feats AS (SELECT doc_id, t,
                        cast('0x' || substring(md5(f), 1, 8) AS bigint) % 8192 AS b
                      FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
            bc AS (SELECT b, sum(CASE WHEN t THEN 1 ELSE 0 END) AS c_t,
                          sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS c_r
                   FROM feats GROUP BY b),
            tot AS (SELECT sum(c_t) AS n_t, sum(c_r) AS n_r FROM bc),
            agg AS (SELECT f.doc_id, count(*) AS n_feats,
                      sum(ln(coalesce(c.c_t, 0) + 1.0)
                          - ln(coalesce(c.c_r, 0) + 1.0)) AS s
                    FROM feats f LEFT JOIN bc c ON f.b = c.b
                    WHERE NOT f.t GROUP BY f.doc_id),
            w AS (SELECT a.doc_id, cast(a.n_feats AS int) AS n_feats,
                    round(a.s + a.n_feats * (ln(n_r + 8192.0) - ln(n_t + 8192.0)),
                          4) AS log_w
                  FROM agg a, tot),
            g AS (SELECT w.*,
                    round(w.log_w - ln(-ln(
                      (cast('0x' || substring(md5(d.text), 1, 8) AS bigint) + 0.5)
                      / 4294967296.0)), 4) AS gumbel_key
                  FROM w JOIN documents d ON w.doc_id = d.doc_id)
            SELECT * FROM g ORDER BY gumbel_key DESC, doc_id DESC LIMIT 40""",
        "doc_lm_perplexity": """
            WITH pairs AS (
              SELECT doc_id, substr(text, i, 1) AS ctx, substr(text, i + 1, 1) AS nxt
              FROM documents, unnest(range(1, length(text))) AS t(i)
              WHERE text IS NOT NULL AND length(text) >= 2),
            counts AS (SELECT ctx, nxt, count(*) AS c FROM pairs
                       WHERE doc_id % 10 = 0 GROUP BY 1, 2),
            totals AS (SELECT ctx, sum(c) AS tot FROM counts GROUP BY 1),
            vocab AS (SELECT count(DISTINCT ch) AS v FROM (
                        SELECT ctx AS ch FROM pairs WHERE doc_id % 10 = 0
                        UNION ALL
                        SELECT nxt FROM pairs WHERE doc_id % 10 = 0) u)
            SELECT p.doc_id, cast(count(*) AS int) AS n_bigrams,
                   round(-avg(log2((coalesce(c.c, 0) + 1.0)
                                   / (coalesce(t.tot, 0) + v.v))), 4)
                     AS bits_per_char
            FROM pairs p
            LEFT JOIN counts c ON p.ctx = c.ctx AND p.nxt = c.nxt
            LEFT JOIN totals t ON p.ctx = t.ctx
            CROSS JOIN vocab v
            WHERE p.doc_id % 10 <> 0
            GROUP BY p.doc_id""",
        "doc_shuffle_order": """
            SELECT doc_id, shuffle_key,
                   cast(row_number() OVER (ORDER BY shuffle_key) AS int) AS pos
            FROM (SELECT doc_id,
                         md5(concat('ep1', cast(doc_id AS varchar))) AS shuffle_key
                  FROM documents
                  ORDER BY shuffle_key LIMIT 200) t""",
        "doc_pack_sequences": """
            SELECT doc_id, source,
              cast(coalesce(sum(n_tokens) OVER (
                PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint)
                AS bin_offset,
              cast(floor(coalesce(sum(n_tokens) OVER (
                PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0) AS int)
                AS bin_id
            FROM (SELECT doc_id, source,
                         len(string_split(text, ' ')) AS n_tokens
                  FROM documents) d""",
        "pipeline_redact_pii": p
        + r"""SELECT conv_id, turn_idx,
               regexp_replace(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g'),
                 '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<ip>', 'g'),
                 '\d{12,19}', '<longnum>', 'g') AS redacted
             FROM transcripts""",
        "pipeline_sink_names": p
        + """SELECT conv_id, turn_idx,
               concat('logs/', tool, '/', strftime(ts, '%Y/%m/%d/%H'), '/',
                      strftime(ts, '%Y%m%dT%H%M%S'), '_',
                      substring(sha256(text), 1, 8), '_',
                      printf('%04d', turn_idx), '.parquet') AS object_name
             FROM transcripts""",
        "pipeline_sink_names_custom": p
        + """SELECT conv_id, turn_idx,
               concat_ws('-', tool, strftime(ts, '%Y%m%d%H'),
                         substring(sha256(text), 1, 8),
                         cast(turn_idx AS string)) AS object_name
             FROM transcripts""",
        "rel_agg_pricing": _Q1_ORACLE,
        "rel_join_segment_revenue": """
            SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment""",
        "rel_window_first_events": """
            SELECT user_id, event_id, rn FROM (
              SELECT user_id, event_id,
                cast(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS int) AS rn
              FROM events) t
            WHERE rn <= 3""",
        "rel_topk_users": """
            SELECT user_id, count(*) AS n FROM events GROUP BY user_id
            ORDER BY n DESC, user_id LIMIT 10""",
        "rel_setop_purchasers_no_error": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
            EXCEPT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'error'""",
        "rel_distinct_event_days": "SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS d FROM events",
        "rel_rollup_pricing": """
            SELECT l_returnflag, l_linestatus, count(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
        "rel_cube_events": """
            SELECT event_type, strftime(ts, '%Y-%m-%d') AS d, count(*) AS n
            FROM events GROUP BY CUBE (event_type, strftime(ts, '%Y-%m-%d'))""",
        "rel_grouping_sets": """
            SELECT event_type, cast(user_id % 10 AS int) AS bucket, count(*) AS n
            FROM events
            GROUP BY GROUPING SETS ((event_type), (cast(user_id % 10 AS int)),
                                    (event_type, cast(user_id % 10 AS int)))""",
        "rel_intersect_users": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'""",
        "rel_semi_join_customers": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
        "rel_anti_join_customers": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
        "rel_pivot_user_events": """
            SELECT user_id,
              cast(count(*) FILTER (WHERE event_type = 'click') AS bigint) AS click,
              cast(count(*) FILTER (WHERE event_type = 'view') AS bigint) AS view,
              cast(count(*) FILTER (WHERE event_type = 'purchase') AS bigint) AS purchase,
              cast(count(*) FILTER (WHERE event_type = 'signup') AS bigint) AS signup,
              cast(count(*) FILTER (WHERE event_type = 'error') AS bigint) AS error
            FROM events GROUP BY user_id""",
        "rel_string_funcs": """
            SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
                   lpad(p_type, 20, '_') AS padded, substring(p_name, 2, 5) AS sub,
                   replace(p_name, 'a', '@') AS repl,
                   concat_ws('|', p_brand, p_type) AS joined,
                   cast(length(p_name) AS int) AS len, reverse(p_brand) AS rev,
                   trim('  x  ') AS trimmed
            FROM part""",
        "rel_datetime_funcs": """
            SELECT event_id, cast(year(ts) AS int) AS y, cast(month(ts) AS int) AS mo,
                   cast(day(ts) AS int) AS d, cast(hour(ts) AS int) AS h,
                   cast(minute(ts) AS int) AS mi,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS trunc_h,
                   cast(epoch(date_trunc('second', ts)) AS bigint) AS epoch_s
            FROM events""",
        "doc_repetition_stats": """
            WITH base AS (
              SELECT doc_id,
                string_split_regex(text, '\\s+') AS ts,
                string_split(text, chr(10)) AS ls
              FROM documents
            ),
            lstats AS (
              SELECT doc_id,
                cast(len(ls) AS int) AS n_lines,
                round(1.0 - len(list_distinct(ls)) / cast(len(ls) AS double), 4)
                  AS dup_line_frac,
                len(ts) AS n_tok
              FROM base
            ),
            bg AS (
              SELECT b.doc_id, b.ts[u.i] || ' ' || b.ts[u.i + 1] AS bigram
              FROM base b, unnest(range(1, len(b.ts))) AS u(i)
              WHERE len(b.ts) >= 2
            ),
            top AS (
              SELECT doc_id, max(c) AS max_bg FROM (
                SELECT doc_id, bigram, count(*) AS c FROM bg
                GROUP BY doc_id, bigram) GROUP BY doc_id
            )
            SELECT l.doc_id, l.n_lines, l.dup_line_frac,
              round(max_bg / cast(n_tok - 1 AS double), 4) AS top_bigram_frac
            FROM lstats l LEFT JOIN top USING (doc_id)""",
        "doc_tfidf_topk": """
            WITH terms AS (
              SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term
              FROM documents
            ),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
            dft AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM documents),
            scored AS (
              SELECT doc_id, term, round(tf * ln(n_docs / df_t), 4) AS score
              FROM tf JOIN dft USING (term) CROSS JOIN n
            ),
            ranked AS (
              SELECT doc_id, term, score,
                cast(row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, term) AS int) AS rank
              FROM scored)
            SELECT doc_id, term, score, rank FROM ranked WHERE rank <= 3""",
        "doc_char_entropy": """
            WITH chars AS (
              SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
            ),
            counts AS (
              SELECT doc_id, ch, cast(count(*) AS double) AS c
              FROM chars GROUP BY doc_id, ch
            ),
            totals AS (SELECT doc_id, sum(c) AS L FROM counts GROUP BY doc_id)
            SELECT doc_id, round(-sum((c / L) * ln(c / L)), 4) AS entropy
            FROM counts JOIN totals USING (doc_id) GROUP BY doc_id""",
        "rel_array_funcs": """
            SELECT doc_id,
              array_to_string(list_sort(string_split(text, ' '))[1:3], '|')
                AS first3_sorted,
              cast(len(list_filter(string_split(text, ' '), t -> length(t) > 4))
                AS int) AS n_long,
              array_to_string(list_transform(string_split(text, ' ')[1:2],
                                             t -> upper(t)), '|') AS head_upper,
              cast(len(list_distinct(string_split(text, ' '))) AS int) AS n_distinct
            FROM documents""",
        "rel_map_funcs": """
            SELECT user_id,
              cast(count(*) FILTER (WHERE event_type = 'click') AS bigint) AS clicks,
              cast(count(DISTINCT event_type) AS int) AS n_types
            FROM events GROUP BY user_id""",
        "rel_math_funcs": """
            SELECT l_orderkey, l_linenumber,
              round(sqrt(l_quantity), 4) AS sqrt_qty,
              round(ln(l_extendedprice), 4) AS ln_price,
              round(pow(l_discount, 2), 6) AS disc_sq,
              cast(ceil(l_quantity) AS bigint) AS qty_ceil,
              abs(l_quantity - 25) AS qty_dev,
              cast(l_linenumber % 3 AS int) AS ln_mod
            FROM lineitem WHERE l_orderkey < 1000""",
        "pipeline_from_json_decode": """
            SELECT event_id,
              json_extract_string(envelope, '$.kind') AS kind,
              cast(json_extract(envelope, '$.uid') AS bigint) AS uid,
              cast(json_extract(envelope, '$.inner.k') AS bigint) AS k
            FROM (
              SELECT event_id,
                concat('{"kind": "', event_type, '", "uid": ',
                       cast(user_id AS string), ', "inner": ', props, '}') AS envelope
              FROM events) t""",
        "rel_unpivot": """
            SELECT l_orderkey, l_linenumber, metric, round(val, 4) AS val
            FROM (
              UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
                       FROM lineitem WHERE l_orderkey < 500)
              ON l_quantity, l_discount, l_tax INTO NAME metric VALUE val)""",
        "rel_window_frames": """
            SELECT event_id, user_id,
              round(lag(value, 1) OVER w, 4) AS prev_value,
              round(lead(value, 1) OVER w, 4) AS next_value,
              cast(ntile(4) OVER w AS int) AS quartile,
              round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS rolling3_sum
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
        "rel_exists_subquery": """
            SELECT c_custkey, c_name FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 200000)""",
        "rel_scalar_subquery": """
            SELECT o_orderkey, round(o_totalprice, 2) AS total
            FROM orders
            WHERE o_totalprice >= (SELECT max(o_totalprice) FROM orders) * 0.8""",
        "rel_lateral_topn": """
            SELECT c.c_custkey, l.o_orderkey, l.total
            FROM customer c,
            LATERAL (SELECT o_orderkey, round(o_totalprice, 2) AS total
                     FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                     ORDER BY o_totalprice DESC, o_orderkey
                     LIMIT 1) l""",
        "rel_having_active_users": """
            SELECT user_id, count(*) AS n FROM events
            GROUP BY user_id HAVING count(*) >= 10""",
        "rel_percentiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                   round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
                   round(min(l_extendedprice), 2) AS mn,
                   round(max(l_extendedprice), 2) AS mx
            FROM lineitem GROUP BY l_returnflag""",
        "doc_token_count": """
            SELECT doc_id, cast(len(string_split(text, ' ')) AS int) AS n_tokens
            FROM documents""",
        "doc_text_quality": _QUALITY_ORACLE,
        "doc_lang_id": _LANG_ORACLE,
        "doc_exact_dedup": """
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM documents GROUP BY text""",
        "doc_incremental_dedup": """
            WITH batch AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
            survivors AS (
              SELECT min(doc_id) AS doc_id, count(*) AS dup_count
              FROM batch GROUP BY text
            )
            SELECT s.doc_id, s.dup_count
            FROM survivors s JOIN batch b USING (doc_id)
            WHERE b.text NOT IN
              (SELECT text FROM documents WHERE doc_id % 2 = 0)""",
        "doc_decontaminate": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(text, '\\s+') AS ws
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                list_distinct(list_transform(
                  range(1, greatest(len(ws) - 4, 1) + 1),
                  i -> array_to_string(ws[i:i+4], ' '))) AS g
              FROM toks
            ),
            bench AS (
              SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 17 = 0
            ),
            hits AS (
              SELECT t.doc_id, count(*) AS matched
              FROM (SELECT doc_id, unnest(g) AS gram
                    FROM grams WHERE doc_id % 17 <> 0) t
              JOIN bench USING (gram)
              GROUP BY t.doc_id
            )
            SELECT g.doc_id,
                   cast(len(g.g) AS int) AS total_grams,
                   cast(coalesce(h.matched, 0) AS bigint) AS matched_grams,
                   coalesce(h.matched, 0) > 0 AS contaminated
            FROM grams g LEFT JOIN hits h USING (doc_id)
            WHERE g.doc_id % 17 <> 0""",
        "doc_boilerplate_removal": """
            WITH pages AS (
              SELECT doc_id // 5 AS page_id,
                     string_agg(text, chr(10) ORDER BY doc_id) AS body
              FROM documents GROUP BY doc_id // 5
            ),
            pg1 AS (
              SELECT page_id,
                CASE WHEN page_id % 2 = 0
                     THEN 'NAV HOME ABOUT CONTACT' || chr(10) || body
                     ELSE body END AS t1
              FROM pages
            ),
            pg AS (
              SELECT page_id,
                CASE WHEN page_id % 3 = 0
                     THEN t1 || chr(10) || '(c) example corp all rights reserved'
                     ELSE t1 END AS text
              FROM pg1
            ),
            lines AS (
              SELECT page_id, pos, ls[pos] AS line
              FROM (SELECT page_id, string_split(text, chr(10)) AS ls FROM pg) t,
                   LATERAL (SELECT unnest(range(1, len(ls) + 1)) AS pos) p
            ),
            boiler AS (
              SELECT line FROM lines
              GROUP BY line HAVING count(DISTINCT page_id) >= 10
            ),
            kept AS (
              SELECT * FROM lines l
              WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.line = l.line)
            ),
            rebuilt AS (
              SELECT page_id,
                     string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     cast(count(*) AS int) AS kept_lines
              FROM kept GROUP BY page_id
            )
            SELECT p.page_id,
                   coalesce(r.clean_text, '') AS clean_text,
                   coalesce(r.kept_lines, 0) AS kept_lines,
                   cast(len(string_split(p.text, chr(10)))
                        - coalesce(r.kept_lines, 0) AS int) AS removed_lines
            FROM pg p LEFT JOIN rebuilt r USING (page_id)""",
        "doc_profile_columns": " UNION ALL ".join(
            f"""
            SELECT '{c}' AS col_name, count(*) AS n_rows,
                   count(*) - count({c}) AS n_nulls,
                   count(DISTINCT {c}) AS n_distinct,
                   cast(min({c}) AS varchar) AS min_value,
                   cast(max({c}) AS varchar) AS max_value
            FROM documents"""
            for c in ["doc_id", "text", "lang", "source", "n_chars"]
        ),
        "pipeline_funnel": """
            WITH s1 AS (
              SELECT user_id, min(ts) AS step_1_ts FROM events
              WHERE event_type = 'signup' GROUP BY user_id
            ),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS step_2_ts
              FROM events e JOIN s1 USING (user_id)
              WHERE e.event_type = 'click' AND e.ts > s1.step_1_ts
              GROUP BY e.user_id
            ),
            s3 AS (
              SELECT e.user_id, min(e.ts) AS step_3_ts
              FROM events e JOIN s2 USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > s2.step_2_ts
              GROUP BY e.user_id
            )
            SELECT s1.user_id, s1.step_1_ts, s2.step_2_ts, s3.step_3_ts,
                   cast(1 + (s2.step_2_ts IS NOT NULL)::int
                          + (s3.step_3_ts IS NOT NULL)::int AS int)
                     AS steps_completed
            FROM s1
            LEFT JOIN s2 USING (user_id)
            LEFT JOIN s3 USING (user_id)""",
        "pipeline_retention": """
            WITH first AS (
              SELECT user_id, min(cast(ts AS date)) AS cohort_date
              FROM events GROUP BY user_id
            ),
            activity AS (
              SELECT DISTINCT e.user_id, cast(e.ts AS date) AS d
              FROM events e
            ),
            counts AS (
              SELECT f.cohort_date, a.d - f.cohort_date AS day_offset,
                     count(DISTINCT a.user_id) AS n_users
              FROM activity a JOIN first f USING (user_id)
              GROUP BY f.cohort_date, a.d - f.cohort_date
            ),
            sizes AS (
              SELECT cohort_date, count(*) AS cohort_size
              FROM first GROUP BY cohort_date
            )
            SELECT strftime(c.cohort_date, '%Y-%m-%d') AS cohort_date,
                   cast(c.day_offset AS int) AS day_offset,
                   c.n_users, s.cohort_size,
                   round(c.n_users / cast(s.cohort_size AS double), 4)
                     AS retention
            FROM counts c JOIN sizes s USING (cohort_date)""",
        "doc_vocab_topk": """
            SELECT token, n_total, n_docs,
                   cast(row_number() OVER (ORDER BY n_total DESC, token)
                        AS int) AS vocab_rank
            FROM (
              SELECT token, count(*) AS n_total,
                     count(DISTINCT doc_id) AS n_docs
              FROM (SELECT doc_id,
                           unnest(string_split_regex(text, '\\s+')) AS token
                    FROM documents) t
              GROUP BY token
            ) ORDER BY n_total DESC, token LIMIT 50""",
        "pipeline_rate_cap": """
            SELECT event_id, user_id, rate_rank FROM (
              SELECT event_id, user_id,
                     cast(row_number() OVER (
                       PARTITION BY user_id, date_trunc('day', ts)
                       ORDER BY ts, event_id) AS int) AS rate_rank
              FROM events
            ) WHERE rate_rank <= 3""",
        "pipeline_group_zscores": """
            SELECT event_id, user_id,
                   round(CASE WHEN sd > 0 THEN (value - mu) / sd END, 4)
                     AS zscore
            FROM (
              SELECT event_id, user_id, value,
                     avg(value) OVER (PARTITION BY user_id) AS mu,
                     stddev_samp(value) OVER (PARTITION BY user_id) AS sd
              FROM events
            )""",
        "doc_curation_e2e": """
            WITH n AS (
              SELECT doc_id, source,
                     trim(regexp_replace(lower(nfc_normalize(text)),
                                         '\\s+', ' ', 'g')) AS text
              FROM documents
            ),
            d AS (
              SELECT doc_id, source, text FROM (
                SELECT *, row_number() OVER (PARTITION BY text
                                             ORDER BY doc_id) AS rn
                FROM n
              ) WHERE rn = 1
            ),
            f AS (
              SELECT * FROM d
              WHERE len(string_split_regex(text, '\\s+')) >= 30
            ),
            s AS (
              SELECT * FROM f
              WHERE substring(md5(text), 1, 4) <
                CASE source WHEN 'src0' THEN 'g'
                            WHEN 'src1' THEN 'g'
                            ELSE '4ccd' END
            ),
            c AS (
              SELECT doc_id, source,
                     string_split_regex(text, '\\s+') AS ws
              FROM s
            ),
            cc AS (
              SELECT doc_id, source, ws,
                     greatest((len(ws) - 8 + 23) // 24, 1) AS nc
              FROM c
            ),
            e AS (
              SELECT doc_id, source, ws,
                     unnest(range(0, nc)) AS chunk_idx
              FROM cc
            )
            SELECT doc_id, source, cast(chunk_idx AS int) AS chunk_idx,
                   md5(array_to_string(ws[chunk_idx*24 + 1 : chunk_idx*24 + 32],
                                       ' ')) AS chunk_digest,
                   cast(least(32, len(ws) - chunk_idx*24) AS int) AS n_tokens
            FROM e""",
        "doc_chunk_documents": """
            WITH t AS (
              SELECT doc_id, string_split_regex(text, '\\s+') AS ws
              FROM documents
            ),
            c AS (
              SELECT doc_id, ws,
                     greatest((len(ws) - 8 + 23) // 24, 1) AS nc
              FROM t
            ),
            e AS (
              SELECT doc_id, ws, unnest(range(0, nc)) AS chunk_idx FROM c
            )
            SELECT doc_id, cast(chunk_idx AS int) AS chunk_idx,
                   array_to_string(ws[chunk_idx*24 + 1 : chunk_idx*24 + 32],
                                   ' ') AS chunk_text,
                   cast(least(32, len(ws) - chunk_idx*24) AS int) AS n_tokens
            FROM e""",
        "pipeline_json_tolerant": """
            WITH c AS (
              SELECT event_id,
                     CASE WHEN event_id % 7 = 0 THEN substring(props, 1, 5)
                          ELSE props END AS j
              FROM events
            )
            SELECT event_id,
                   CASE WHEN json_valid(j) THEN cast(j->>'k' AS bigint) END AS k,
                   CASE WHEN j IS NULL THEN 'missing'
                        WHEN json_valid(j) THEN 'ok'
                        ELSE 'malformed' END AS json_status
            FROM c""",
        "doc_normalize_text": """
            SELECT doc_id,
                   trim(regexp_replace(
                     lower(nfc_normalize(
                       'Cafe' || chr(769) || '  ' || text || chr(9) || 'END')),
                     '\\s+', ' ', 'g')) AS norm_text
            FROM documents""",
        "doc_winnow_fingerprints": """
            WITH sh AS (
              SELECT doc_id,
                list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                               i -> md5(substring(text, i, 5))) AS hs
              FROM documents
            ),
            fp AS (
              SELECT doc_id,
                list_distinct(list_transform(
                  range(1, greatest(len(hs) - 3, 1) + 1),
                  i -> list_min(hs[i:i+3]))) AS fps
              FROM sh
            )
            SELECT doc_id, unnest(fps) AS fingerprint FROM fp""",
        "emb_quantize": """
            WITH base AS (
              SELECT vec_id, cast(embedding AS double[]) AS e FROM embeddings
            ),
            sc AS (
              SELECT vec_id, e,
                     list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
              FROM base
            ),
            q AS (
              SELECT vec_id, e, scale,
                CASE WHEN scale > 0
                     THEN list_transform(e, x -> cast(floor(x / scale + 0.5) AS int))
                     ELSE list_transform(e, x -> 0) END AS qvec
              FROM sc
            )
            SELECT vec_id, round(scale, 6) AS scale,
                   array_to_string(qvec, ',') AS qvec,
                   round(list_sum(list_transform(range(1, len(e) + 1),
                         i -> pow(e[i] - qvec[i] * scale, 2))) / len(e), 8)
                     AS recon_mse
            FROM q""",
        "emb_cosine_topk": _TOPK_ORACLE,
        "doc_minhash_neardup": _MINHASH_ORACLE,
        "doc_simhash_neardup": _MINHASH_ORACLE,
        "doc_dedup_resolve": _DEDUP_RESOLVE_ORACLE,
        "doc_cluster_reps": _CLUSTER_REPS_ORACLE,
        "emb_lsh_topk": _TOPK_AUG_ORACLE,
        "emb_ivf_topk": _TOPK_AUG_ORACLE,
        "emb_pq_topk": _TOPK_AUG_ORACLE,
        "emb_near_dup": _NEARDUP_EMB_ORACLE,
        "emb_semdedup": _SEMDEDUP_ORACLE,
        "doc_bpe_train": _bpe_oracle(8),
        "doc_bpe_encode": _bpe_oracle(8, encode=True),
        "doc_bpe_tokenize": _bpe_oracle(8, tokenize=True),
        "media_features": _MEDIA_ORACLE,
        "media_frame_grid": _FRAME_GRID_ORACLE,
        "media_real_decode": """
            SELECT i AS media_id,
              (['image', 'audio', 'video'])[(i % 3) + 1] AS kind,
              CASE WHEN i % 3 = 0 THEN cast(16 + i % 8 AS int) END AS width,
              CASE WHEN i % 3 = 0 THEN cast(12 + i % 4 AS int) END AS height,
              CASE WHEN i % 3 = 1
                   THEN cast(floor((800 + i * 10) / 8.0) AS int) END AS duration_ms,
              CASE WHEN i % 3 = 0 THEN cast((i * 7) % 256 AS double)
                   WHEN i % 3 = 1 THEN cast((i * 3) % 1000 AS double)
              END AS px_mean,
              CASE WHEN i % 6 = 0 THEN 'ok_ppm'
                   WHEN i % 3 = 0 THEN 'ok_png'
                   WHEN i % 3 = 1 THEN 'ok_wav'
                   ELSE 'decoder_unavailable' END AS decode_status
            FROM (SELECT unnest(range(0, 64)) AS i)""",
        "emb_kmeans": _kmeans_oracle(k=4, dim=64, iters=3, rd=6),
        "doc_readability": _READABILITY_ORACLE,
        "doc_fuzzy_pairs": _FUZZY_PAIRS_ORACLE,
        "rel_orc_roundtrip": _ORC_ROUNDTRIP_ORACLE,
        "doc_fim_transform": _FIM_ORACLE,
        "doc_warc_roundtrip": _WARC_ORACLE,
        "doc_warc_gz_members": _WARC_GZ_ORACLE,
        "media_mime_sniff": _MIME_SNIFF_ORACLE,
        "media_qoi_decode": _QOI_ORACLE,
        "doc_ccnet_buckets": _CCNET_BUCKETS_ORACLE,
        "rel_scd2": _SCD2_ORACLE,
        "graph_pagerank": _pagerank_oracle(iters=3),
        "doc_license_detect": _license_oracle(),
        "doc_cdx_index": _CDX_ORACLE,
        "doc_markdown_extract": _markdown_oracle(),
        "graph_lpa": _lpa_oracle(iters=3),
        "doc_mbox_roundtrip": _MBOX_ORACLE,
        "pipeline_best_of_n": _best_of_n_oracle(),
        "rel_avro_roundtrip": _AVRO_ROUNDTRIP_ORACLE,
        "doc_mojibake_repair": _MOJIBAKE_ORACLE,
        "doc_frontier_schedule": _FRONTIER_ORACLE,
        "rel_jsonl_zst_roundtrip": _JSONL_ZST_ORACLE,
        "doc_quality_regression": _quality_regression_oracle(),
        "doc_quality_logreg": _quality_logreg_oracle(),
        "pipeline_log_templates": _log_templates_oracle(),
        "pipeline_cidr_enrich": _cidr_enrich_oracle(),
        "pipeline_syslog_rfc5424": _syslog_oracle(),
        "pipeline_syslog_bsd": _syslog_bsd_oracle(),
        "pipeline_slo_burnrate": _slo_burnrate_oracle(),
        "pipeline_rate_envelope": _rate_envelope_oracle(),
        "pipeline_logfmt_roundtrip": _LOGFMT_ORACLE,
        "pipeline_hll_actors": _hll_actors_oracle(),
        "rel_snappy_roundtrip": _SNAPPY_ORACLE,
        "rel_parquet_footer": _parquet_footer_oracle(),
        "pipeline_template_anomaly": _template_anomaly_oracle(),
        "pipeline_gorilla_bits": _gorilla_oracle(),
        "doc_multi_pattern_scan": _multi_pattern_oracle(),
        "rel_roaring_postings": _roaring_oracle(),
        "pipeline_ip_pseudonymize": _ip_pseudonymize_oracle(),
        "rel_inflate_roundtrip": _INFLATE_ORACLE,
        "doc_cdc_chunks": _cdc_oracle(),
        "rel_avro_evolution": _AVRO_EVOLUTION_ORACLE,
        "rel_aes_roundtrip": _AES_ORACLE,
        "rel_lz4_roundtrip": _LZ4_ORACLE,
        "rel_zstd_decode": _ZSTD_DECODE_ORACLE,
        "rel_orc_footer": _orc_footer_oracle(),
        "doc_soundex_blocks": _soundex_oracle(),
        "pipeline_cms_resources": _cms_resources_oracle(),
        "graph_triangles": f"""
            WITH {_EVENT_EDGE_CTE},
            und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                    FROM edges WHERE src <> dst),
            deg AS (SELECT node, count(*) AS degree FROM (
                      SELECT a AS node FROM und
                      UNION ALL SELECT b FROM und) GROUP BY node),
            o AS (SELECT
                    CASE WHEN da.degree < db.degree
                           OR (da.degree = db.degree AND u.a < u.b)
                         THEN u.a ELSE u.b END AS src,
                    CASE WHEN da.degree < db.degree
                           OR (da.degree = db.degree AND u.a < u.b)
                         THEN u.b ELSE u.a END AS dst,
                    CASE WHEN da.degree < db.degree
                           OR (da.degree = db.degree AND u.a < u.b)
                         THEN db.degree ELSE da.degree END AS dd
                  FROM und u
                  JOIN deg da ON da.node = u.a
                  JOIN deg db ON db.node = u.b),
            tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
                    FROM o e1
                    JOIN o e2 ON e1.src = e2.src
                     AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))
                    JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
            pern AS (SELECT node, count(*) AS n_triangles FROM (
                       SELECT u AS node FROM tri
                       UNION ALL SELECT v FROM tri
                       UNION ALL SELECT w FROM tri) GROUP BY node)
            SELECT d.node, cast(d.degree AS int) AS degree,
                   cast(coalesce(p.n_triangles, 0) AS bigint) AS n_triangles,
                   cast(d.degree * (d.degree - 1) // 2 AS bigint) AS n_wedges
            FROM deg d LEFT JOIN pern p ON p.node = d.node""",
        "graph_hits": _hits_oracle(iters=3),
        "doc_wordpiece_encode": _wordpiece_oracle(),
        "doc_sitemap_extract": _SITEMAP_ORACLE,
        "pref_bradley_terry": _bt_oracle(iters=3, rd=7),
        "emb_pca_project": _pca_oracle(dim=64, iters=6),
        "pipeline_dpo_pairs": _dpo_oracle(),
        "pipeline_context_truncate": p
        + """, tok AS (
              SELECT conv_id, turn_idx, role,
                     cast(len(string_split(text, ' ')) AS int) AS n_tokens
              FROM transcripts
            ), cum AS (
              SELECT conv_id, turn_idx, role, n_tokens,
                cast(sum(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS int)
                  AS cum_from_end,
                row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx DESC)
                  AS rev_pos
              FROM tok
            )
            SELECT conv_id, turn_idx, role, n_tokens, cum_from_end
            FROM cum WHERE cum_from_end <= 48 OR rev_pos = 1""",
        "pipeline_turn_qc": p
        + """, f AS (
              SELECT conv_id, turn_idx, role,
                CASE WHEN role = lag(role) OVER
                       (PARTITION BY conv_id ORDER BY turn_idx)
                     THEN 1 END AS same_as_prev,
                CASE WHEN text LIKE '[%' THEN 0 ELSE 1 END AS unparseable
              FROM transcripts
            )
            SELECT conv_id,
              cast(count(*) AS int) AS n_turns,
              cast(coalesce(sum(same_as_prev), 0) AS int) AS role_violations,
              cast(sum(unparseable) AS int) AS unparseable_turns,
              cast(max(CASE WHEN turn_idx = 0
                            THEN role IN ('system','user') END) AS int)
                AS starts_ok,
              cast((coalesce(sum(same_as_prev), 0) = 0
                    AND max(CASE WHEN turn_idx = 0
                                 THEN role IN ('system','user') END)) AS int)
                AS valid
            FROM f GROUP BY conv_id""",
        "pipeline_tool_loops": p
        + """, isl AS (
              SELECT conv_id, tool, turn_idx,
                turn_idx - row_number() OVER
                  (PARTITION BY conv_id, tool ORDER BY turn_idx) AS island
              FROM transcripts
            )
            SELECT conv_id, tool,
              cast(min(turn_idx) AS int) AS start_idx,
              cast(count(*) AS int) AS run_len
            FROM isl GROUP BY conv_id, tool, island
            HAVING count(*) >= 3""",
        "media_jpeg_lossless": """
            WITH g AS (
              SELECT i, x.j AS xj, y.j AS yj, c.j AS ch
              FROM (SELECT unnest(range(0, 28)) AS i),
                   range(0, 24) x(j), range(0, 16) y(j), range(0, 3) c(j)
              WHERE x.j < 16 + i % 9 AND y.j < 12 + i % 5
                AND (i % 4 = 1 OR c.j = 0))
            SELECT i AS media_id, 'image' AS kind,
              cast(16 + i % 9 AS int) AS width,
              cast(12 + i % 5 AS int) AS height,
              cast(NULL AS int) AS duration_ms,
              round(avg(CASE WHEN i % 4 = 1
                             THEN cast((xj + yj + i + ch) % 256 AS double)
                             ELSE cast((((xj + yj + i) % 256) >> (i % 3))
                                       << (i % 3) AS double) END), 4) AS px_mean,
              'ok_jpeg' AS decode_status
            FROM g GROUP BY i""",
        "media_jpeg12_decode": """
            SELECT i AS media_id, 'image' AS kind,
              cast(16 + i % 9 AS int) AS width,
              cast(12 + i % 5 AS int) AS height,
              cast(NULL AS int) AS duration_ms,
              cast(2048 + ((i * 37) % 511) - 255 AS double) AS px_mean,
              'ok_jpeg' AS decode_status
            FROM (SELECT unnest(range(0, 32)) AS i)""",
        "media_mp4_meta": """
            SELECT i AS media_id,
              CASE WHEN i % 16 IN (11, 15) THEN NULL
                   ELSE ['isom', 'mp42', 'avc1'][1 + i % 3] END AS major_brand,
              CASE WHEN i % 16 IN (11, 15) THEN NULL
                   ELSE (3 + i % 5) + 0.5 * (i % 2) END AS duration_sec,
              CASE WHEN i % 16 IN (11, 15) THEN NULL
                   ELSE cast(1 + i % 2 AS int) END AS n_tracks,
              CASE WHEN i % 16 IN (11, 15) THEN NULL
                   ELSE cast(1 AS int) END AS video_tracks,
              CASE WHEN i % 16 IN (11, 15) THEN NULL
                   ELSE cast(i % 2 AS int) END AS audio_tracks,
              CASE WHEN i % 16 IN (11, 15) THEN NULL
                   ELSE cast(16 * (10 + i % 6) AS double) END AS width,
              CASE WHEN i % 16 IN (11, 15) THEN NULL
                   ELSE cast(16 * (6 + i % 4) AS double) END AS height,
              CASE WHEN i % 16 = 11 THEN 'decoder_unavailable'
                   WHEN i % 16 = 15 THEN 'decode_error'
                   ELSE 'ok' END AS decode_status
            FROM (SELECT unnest(range(0, 48)) AS i)""",
        "doc_bloom_decontaminate": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(text, '\\s+') AS ws
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                list_distinct(list_transform(
                  range(1, greatest(len(ws) - 4, 1) + 1),
                  i -> array_to_string(ws[i:i+4], ' '))) AS g
              FROM toks
            ),
            bench AS (
              SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 17 = 0
            ),
            seeds AS (SELECT unnest([0, 1, 2]) AS s),
            bits AS (
              SELECT DISTINCT
                cast('0x' || substring(md5(gram), 1 + 8 * s, 8) AS bigint)
                  % 65536 AS pos
              FROM bench, seeds
            ),
            train AS (
              SELECT doc_id, len(g) AS total_grams, unnest(g) AS gram
              FROM grams WHERE doc_id % 17 <> 0
            ),
            per_gram AS (
              SELECT doc_id, total_grams, gram,
                min(CASE WHEN cast('0x' || substring(md5(gram), 1 + 8 * s, 8)
                                   AS bigint) % 65536
                              IN (SELECT pos FROM bits)
                         THEN 1 ELSE 0 END) AS hit
              FROM train, seeds
              GROUP BY doc_id, total_grams, gram
            )
            SELECT doc_id, max(total_grams) AS total_grams,
                   cast(sum(hit) AS bigint) AS matched_grams,
                   sum(hit) > 0 AS contaminated
            FROM per_gram GROUP BY doc_id""",
        "media_audio_spectral": """
            SELECT i AS media_id,
              cast(8000 + 4000 * (i % 3) AS int) AS sr,
              cast(1024 + 256 * (i % 4) AS int) AS n_samples,
              CASE WHEN i % 3 = 0 THEN round(sqrt(
                     cast(1000 + 500 * (i % 5) AS double)
                     * (1000 + 500 * (i % 5)) / 2.0), 4)
                   WHEN i % 3 = 1 THEN cast(100 * (i % 7) AS double)
                   ELSE cast((((i * 3) % 16) * 8 + 132) * power(2, i % 8)
                             - 132 AS double) END AS rms,
              CASE WHEN i % 3 = 0
                   THEN cast(8000 + 4000 * (i % 3) AS double) / 4
                   ELSE 0.0 END AS dominant_freq_hz,
              'ok' AS decode_status
            FROM (SELECT unnest(range(0, 48)) AS i)""",
        "doc_robots_filter": _ROBOTS_ORACLE,
        "rel_incremental_agg": _INCREMENTAL_AGG_ORACLE,
        "pipeline_pii_entities": p + _PII_ENTITIES_ORACLE_BODY,
        "doc_interleave_sources": _INTERLEAVE_ORACLE,
        "doc_homoglyph_fold": _homoglyph_oracle(),
        "doc_html_extract": _HTML_EXTRACT_ORACLE,
        "doc_html_outlinks": _HTML_OUTLINKS_ORACLE,
        "doc_warc_wet_chain": _WARC_WET_ORACLE,
        "doc_length_buckets": _LENGTH_BUCKETS_ORACLE,
        "media_bmp_decode": """
            WITH g AS (
              SELECT i, x.j AS xj, y.j AS yj
              FROM (SELECT unnest(range(0, 40)) AS i),
                   range(0, 24) x(j), range(0, 16) y(j)
              WHERE x.j < 16 + i % 9 AND y.j < 12 + i % 5)
            SELECT i AS media_id, 'image' AS kind,
              cast(16 + i % 9 AS int) AS width,
              cast(12 + i % 5 AS int) AS height,
              cast(NULL AS int) AS duration_ms,
              round(avg(CASE
                WHEN i % 4 < 2 THEN
                  (cast((xj * 3 + yj * 7 + i) % 256 AS double)
                   + (xj * 3 + yj * 7 + i + 40) % 256
                   + (xj * 3 + yj * 7 + i + 80) % 256) / 3
                ELSE (255.0 + ((xj + yj) % 16 * 5 + i) % 256) / 3 END), 4)
                AS px_mean,
              'ok_bmp' AS decode_status
            FROM g GROUP BY i""",
        "media_tiff_decode": """
            WITH g AS (
              SELECT i, x.j AS xj, y.j AS yj
              FROM (SELECT unnest(range(0, 40)) AS i),
                   range(0, 24) x(j), range(0, 16) y(j)
              WHERE x.j < 16 + i % 9 AND y.j < 12 + i % 5)
            SELECT i AS media_id, 'image' AS kind,
              cast(16 + i % 9 AS int) AS width,
              cast(12 + i % 5 AS int) AS height,
              cast(NULL AS int) AS duration_ms,
              round(avg(CASE
                WHEN i % 5 = 3 THEN
                  (cast((xj + yj + i) % 256 AS double)
                   + (xj + yj + i + 30) % 256
                   + (xj + yj + i + 60) % 256) / 3
                WHEN i % 5 = 4 THEN
                  (255.0 + ((xj + yj) % 16 * 3 + i) % 256) / 3
                ELSE cast((xj * 5 + yj * 9 + i) % 256 AS double) END), 4)
                AS px_mean,
              'ok_tiff' AS decode_status
            FROM g GROUP BY i""",
        "media_jpeg_hier": """
            WITH g AS (
              SELECT i, x.j AS xj, y.j AS yj
              FROM (SELECT unnest(range(0, 32)) AS i),
                   range(0, 24) x(j), range(0, 16) y(j)
              WHERE x.j < 16 + i % 9 AND y.j < 12 + i % 5)
            SELECT i AS media_id, 'image' AS kind,
              cast(16 + i % 9 AS int) AS width,
              cast(12 + i % 5 AS int) AS height,
              cast(NULL AS int) AS duration_ms,
              round(avg(cast((xj * 7 + yj * 13 + i * 29) % 256 AS double)), 4)
                AS px_mean,
              'ok_jpeg' AS decode_status
            FROM g GROUP BY i""",
        "media_audio_adpcm": """
            SELECT i AS media_id,
              CASE WHEN i % 8 = 7 THEN NULL
                   ELSE cast(8000 + 4000 * (i % 3) AS int) END AS sr,
              CASE WHEN i % 8 = 7 THEN NULL
                   ELSE cast(17 * (30 + i % 5) AS int) END AS n_samples,
              CASE WHEN i % 8 = 7 THEN NULL
                   ELSE cast(abs((i * 2741) % 4001 - 2000) AS double) END AS rms,
              CASE WHEN i % 8 = 7 THEN NULL ELSE 0.0 END AS dominant_freq_hz,
              CASE WHEN i % 8 = 7 THEN 'decoder_unavailable'
                   ELSE 'ok' END AS decode_status
            FROM (SELECT unnest(range(0, 48)) AS i)""",
        "media_audio_alaw": """
            SELECT i AS media_id,
              cast(8000 + 8000 * (i % 2) AS int) AS sr,
              cast(800 + 160 * (i % 5) AS int) AS n_samples,
              cast(CASE WHEN i % 8 = 0 THEN ((i * 5) % 16) * 16 + 8
                   ELSE (((i * 5) % 16) * 16 + 264) * power(2, i % 8 - 1)
                   END AS double) AS rms,
              0.0 AS dominant_freq_hz,
              'ok' AS decode_status
            FROM (SELECT unnest(range(0, 48)) AS i)""",
        "media_gif_frames": """
            WITH g AS (
              SELECT i, j,
                     ((i + j) % 3 + 1) * 2 AS delay
              FROM (SELECT unnest(range(0, 48)) AS i),
                   (SELECT unnest(range(0, 4)) AS j)
              WHERE j < i % 4 + 1)
            SELECT i AS media_id, cast(j AS int) AS frame_idx,
              cast(coalesce(sum(delay) OVER (
                     PARTITION BY i ORDER BY j
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) * 10 AS int) AS ts_ms,
              cast(16 + i % 7 AS int) AS width,
              cast(10 + i % 5 AS int) AS height,
              cast(10 + 60 * ((i + j) % 4) AS double) AS frame_mean
            FROM g""",
        "pipeline_hard_negatives": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                 '[ \t\n\f\r\x0b]+'), x -> x <> '') AS t
              FROM documents),
            tk AS (SELECT doc_id, unnest(t) AS token FROM toks),
            postings AS (
              SELECT token, doc_id, count(*) AS tf FROM tk GROUP BY 1, 2),
            dl AS (SELECT doc_id, sum(tf) AS dl FROM postings GROUP BY 1),
            st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
            q AS (
              SELECT doc_id AS qid,
                     unnest(list_distinct(t[1:5])) AS token
              FROM toks WHERE doc_id % 61 = 0),
            dft AS (
              SELECT p.token, count(*) AS df_t FROM postings p
              WHERE p.token IN (SELECT DISTINCT token FROM q)
              GROUP BY p.token),
            sc AS (
              SELECT q.qid, p.doc_id,
                round(sum(
                  ln(1 + (st.n_docs - dft.df_t + 0.5) / (dft.df_t + 0.5))
                  * (p.tf * 2.2)
                  / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))
                ), 4) AS score
              FROM postings p
              JOIN q ON p.token = q.token
              JOIN dl ON p.doc_id = dl.doc_id
              JOIN dft ON p.token = dft.token, st
              WHERE p.doc_id <> q.qid
              GROUP BY q.qid, p.doc_id),
            rk AS (
              SELECT qid, doc_id, score,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY score DESC, doc_id) AS r
              FROM sc)
            SELECT qid AS query_id, qid AS pos_id, cast(r AS int) AS neg_rank,
                   doc_id AS neg_id, score
            FROM rk WHERE r <= 4""",
        "doc_span_corruption": f"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                 '[ \t\n\f\r\x0b]+'), x -> x <> '') AS t
              FROM documents),
            tk AS (
              SELECT doc_id, t[i + 1] AS token, i AS pos,
                     i // 8 AS blk, i % 8 AS off
              FROM toks, unnest(range(0, len(t))) AS u(i)),
            hv AS (
              SELECT *, ({_hex_decode_terms('hx')}) AS h
              FROM (SELECT *, substr(md5(cast(doc_id AS varchar) || ':'
                                     || cast(blk AS varchar)), 1, 8) AS hx
                    FROM tk)),
            mk AS (
              SELECT *,
                     (h % 100) < 30 AND off >= (h // 100) % 6
                       AND off < (h // 100) % 6 + 3 AS in_span,
                     (h % 100) < 30 AND off = (h // 100) % 6 AS is_start
              FROM hv),
            kk AS (
              SELECT *, sum(CASE WHEN is_start THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS k
              FROM mk),
            pieces AS (
              SELECT doc_id, pos, k,
                CASE WHEN is_start
                     THEN '<extra_id_' || cast(k - 1 AS varchar) || '>'
                     WHEN in_span THEN NULL ELSE token END AS inp,
                CASE WHEN is_start
                     THEN '<extra_id_' || cast(k - 1 AS varchar) || '> '
                          || token
                     WHEN in_span THEN token ELSE NULL END AS tgt
              FROM kk),
            agg AS (
              SELECT doc_id, cast(max(k) AS int) AS n_spans,
                coalesce(string_agg(inp, ' ' ORDER BY pos), '') AS inputs,
                coalesce(string_agg(tgt, ' ' ORDER BY pos), '') AS t0
              FROM pieces GROUP BY doc_id)
            SELECT doc_id, n_spans, inputs,
              CASE WHEN t0 = ''
                   THEN '<extra_id_' || cast(n_spans AS varchar) || '>'
                   ELSE t0 || ' <extra_id_' || cast(n_spans AS varchar)
                        || '>' END AS targets
            FROM agg""",
        "doc_blocklist": """
            SELECT doc_id,
              list_has_any(list_filter(string_split_regex(lower(text),
                           '[ \t\n\f\r\x0b]+'), x -> x <> ''),
                           ['spark', 'vector', 'slow']) AS blocked_expr,
              list_has_any(list_filter(string_split_regex(lower(text),
                           '[ \t\n\f\r\x0b]+'), x -> x <> ''),
                           ['spark', 'vector', 'slow']) AS blocked_join
            FROM documents""",
        "media_image_dhash": """
            SELECT cast(2 * c AS bigint) AS rep_id,
                   cast(2 AS int) AS n_images,
                   cast(1 AS int) AS n_png,
                   cast(1 AS int) AS n_jpeg
            FROM (SELECT unnest(range(0, 30)) AS c)""",
        "doc_search_phrase": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                 '[ \t\n\f\r\x0b]+'), x -> x <> '') AS t
              FROM documents),
            p AS (
              SELECT doc_id, t[i] AS token, i AS pos
              FROM toks, unnest(range(1, len(t) + 1)) AS u(i))
            SELECT 'table table' AS phrase, a.doc_id,
                   cast(count(*) AS int) AS n_matches
            FROM p a
            JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                    AND b.token = 'table'
            WHERE a.token = 'table'
            GROUP BY a.doc_id
            UNION ALL
            SELECT 'value table part', a.doc_id, cast(count(*) AS int)
            FROM p a
            JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                    AND b.token = 'table'
            JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
                    AND c.token = 'part'
            WHERE a.token = 'value'
            GROUP BY a.doc_id""",
        "doc_url_canonical": """
            WITH raw AS (
              SELECT doc_id,
                (CASE WHEN doc_id % 3 = 1 THEN 'HTTPS' ELSE 'http' END)
                || '://'
                || (CASE WHEN doc_id % 2 = 0
                         THEN upper('www.' || source || '.example.com')
                         ELSE source || '.example.com' END)
                || (CASE WHEN doc_id % 3 = 0 THEN ':80'
                         WHEN doc_id % 3 = 1 THEN ':443' ELSE '' END)
                || '/docs/' || cast(doc_id % 50 AS varchar)
                || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
                || (CASE doc_id % 5
                      WHEN 0 THEN '?utm_source=tw&b=2&a=1'
                      WHEN 1 THEN '?a=1&b=2&utm_campaign=x'
                      WHEN 2 THEN '?b=2&a=1'
                      WHEN 3 THEN ''
                      ELSE '?gclid=zzz' END)
                || (CASE WHEN doc_id % 7 = 0 THEN '#sec2' ELSE '' END)
                AS url,
                (CASE WHEN doc_id % 3 = 1 THEN 'https' ELSE 'http' END)
                || '://' || source || '.example.com'
                || '/docs/' || cast(doc_id % 50 AS varchar)
                || (CASE WHEN doc_id % 5 IN (0, 1, 2) THEN '?a=1&b=2'
                         ELSE '' END) AS canonical_url
              FROM documents)
            SELECT canonical_url, cast(count(*) AS int) AS n_urls,
                   cast(count(DISTINCT url) AS int) AS n_variants
            FROM raw GROUP BY canonical_url""",
        "doc_kn_perplexity": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                                 '[ \t\n\f\r\x0b]+'), x -> x <> '') AS t
              FROM documents),
            big AS (
              SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
              FROM toks, unnest(range(1, len(t))) AS u(i)
              WHERE len(t) >= 2),
            bc AS (
              SELECT w1, w2, count(*) AS c FROM big
              WHERE doc_id % 17 = 0 GROUP BY 1, 2),
            ctx AS (
              SELECT w1, sum(c) AS tot, count(*) AS n_follow
              FROM bc GROUP BY 1),
            cont AS (SELECT w2, count(*) AS n_prec FROM bc GROUP BY 1),
            totals AS (
              SELECT (SELECT count(*) FROM bc) AS t_types,
                     (SELECT count(DISTINCT w) FROM (
                        SELECT w1 AS w FROM bc
                        UNION ALL SELECT w2 FROM bc)) + 1 AS v1),
            scored AS (
              SELECT b.doc_id,
                CASE WHEN ctx.tot IS NOT NULL THEN
                  greatest(coalesce(bc.c, 0) - 0.75, 0.0) / ctx.tot
                  + 0.75 * ctx.n_follow / ctx.tot
                    * (coalesce(cont.n_prec, 0) + 1)
                      / (totals.t_types + totals.v1)
                ELSE (coalesce(cont.n_prec, 0) + 1)
                     / (totals.t_types + totals.v1) END AS p
              FROM big b
              LEFT JOIN bc USING (w1, w2)
              LEFT JOIN ctx USING (w1)
              LEFT JOIN cont USING (w2)
              CROSS JOIN totals
              WHERE b.doc_id % 17 <> 0)
            SELECT doc_id, cast(count(*) AS int) AS n_bigrams,
                   round(-avg(log2(p)), 4) AS kn_bits
            FROM scored GROUP BY doc_id""",
        "rel_snapshot_timetravel": """
            WITH o AS (
              SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
            v1 AS (SELECT * FROM o WHERE o_orderkey % 7 = 0),
            v2 AS (SELECT * FROM o WHERE o_orderkey % 7 IN (0, 1)),
            v3 AS (
              SELECT o_orderkey, o_custkey,
                     CASE WHEN o_orderkey % 7 = 0 AND o_orderkey % 3 = 0
                               AND o_orderkey % 5 <> 0
                          THEN o_totalprice * 2
                          ELSE o_totalprice END AS o_totalprice
              FROM v2
              WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 5 = 0)
              UNION ALL
              SELECT o_orderkey + 10000000, NULL, o_totalprice / 2
              FROM o WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 = 0),
            v4 AS (SELECT * FROM o WHERE o_orderkey % 7 = 2)
            SELECT cast(1 AS int) AS version, 'create' AS action, * FROM v1
            UNION ALL
            SELECT cast(2 AS int), 'append', * FROM v2
            UNION ALL
            SELECT cast(3 AS int), 'merge', * FROM v3
            UNION ALL
            SELECT cast(4 AS int), 'overwrite', * FROM v4""",
        "media_mp4_frames": """
            WITH g AS (
              SELECT i, j, (i + j) % 3 + 1 AS dur,
                     (i * 17 + j * 31) % 256 AS gray
              FROM (SELECT unnest(range(0, 48)) AS i),
                   (SELECT unnest(range(0, 5)) AS j)
              WHERE j < i % 4 + 2 AND i % 12 <> 11)
            SELECT i AS media_id, cast(j AS int) AS frame_idx,
              cast(coalesce(sum(dur) OVER (
                     PARTITION BY i ORDER BY j
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) * 100 AS int) AS ts_ms,
              cast(16 + i % 9 AS int) AS width,
              cast(12 + i % 5 AS int) AS height,
              cast(gray AS double) AS frame_mean,
              'ok' AS decode_status
            FROM g
            UNION ALL
            SELECT i, NULL, NULL, NULL, NULL, NULL, 'decoder_unavailable'
            FROM (SELECT unnest(range(0, 48)) AS i)
            WHERE i % 12 = 11""",
        "media_jpeg_decode": """
            SELECT i AS media_id, 'image' AS kind,
              cast(16 + i % 9 AS int) AS width,
              cast(12 + i % 5 AS int) AS height,
              cast(NULL AS int) AS duration_ms,
              cast((i * 11) % 256 AS double) AS px_mean,
              'ok_jpeg' AS decode_status
            FROM (SELECT unnest(range(0, 64)) AS i)""",
        "media_thumbnail": """
            SELECT i AS media_id,
              (['image', 'audio', 'video'])[(i % 3) + 1] AS kind,
              CASE WHEN i % 3 = 0 THEN cast(64 AS int) END AS n_px,
              CASE WHEN i % 3 = 0 THEN cast((i * 7) % 256 AS double) END AS thumb_mean,
              CASE WHEN i % 3 = 0 THEN 0.0 END AS thumb_std,
              CASE WHEN i % 3 = 0 THEN 'ok' ELSE 'decoder_unavailable' END
                AS decode_status
            FROM (SELECT unnest(range(0, 64)) AS i)""",
        "pipeline_kv_explode": p + _KV_EXPLODE_ORACLE,
        "pipeline_lineage_totals": p
        + """SELECT count(*) AS total_rows,
                    min(conv_id) AS min_conv_id, max(conv_id) AS max_conv_id,
                    min(turn_idx) AS min_turn_idx, max(turn_idx) AS max_turn_idx,
                    min(ts) AS min_ts, max(ts) AS max_ts
             FROM transcripts""",
    }
    # variant queries whose output contract is IDENTICAL to the base form —
    # the driver gate itself proves the equivalence
    oracles["doc_exact_dedup_window"] = oracles["doc_exact_dedup"]
    oracles["pipeline_funnel_single_scan"] = oracles["pipeline_funnel"]
    oracles["emb_quantized_topk"] = oracles["emb_cosine_topk"]
    oracles["pipeline_asof_salted"] = oracles["pipeline_asof_last_event"]
    oracles["doc_substring_dedup_xx"] = oracles["doc_substring_dedup"]
    oracles["doc_bpe_train_local"] = oracles["doc_bpe_train"]
    oracles["doc_bpe_encode_arrow"] = oracles["doc_bpe_encode"]
    oracles["doc_substring_dedup_sa"] = oracles["doc_substring_dedup"]
    oracles["doc_substring_dedup_sa_within"] = oracles["doc_substring_dedup_within"]
    return oracles


def query_catalog() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver samples a prefix-biased subset of this dict per
    # round, so the riskiest entries come FIRST — the six queries that failed in
    # round 1 (sketch/ANN paths, since fixed and judge-verified) followed by
    # every query that has never received a driver CORRECTNESS row, then the
    # long-green remainder.
    return {
        "graph_components": q_graph_components,
        "graph_kcore": q_kcore,
        "rel_bloom_join": q_bloom_join,
        "pipeline_itemsets": q_frequent_itemsets,
        "pipeline_sequence_match": q_sequence_match,
        "pipeline_rendezvous_shards": q_rendezvous_shards,
        "pipeline_benford": q_benford,
        "pipeline_theta_setops": q_theta_setops,
        "rel_zip_roundtrip": q_zip_roundtrip,
        "rel_xlsx_roundtrip": q_xlsx_roundtrip,
        "rel_csv_roundtrip": q_csv_roundtrip,
        "rel_quality_checks": q_quality_checks,
        "doc_docx_extract": q_docx_extract,
        "doc_epub_extract": q_epub_extract,
        "doc_pptx_extract": q_pptx_extract,
        "doc_tfrecord_roundtrip": q_tfrecord_roundtrip,
        "rel_arrow_ipc_roundtrip": q_arrow_ipc_roundtrip,
        "rel_bzip2_decode": q_bzip2_decode,
        "rel_xz_decode": q_xz_decode,
        "rel_deflate_encode": q_deflate_encode,
        "pipeline_leef_parse": q_leef_parse,
        "pipeline_mg_heavyhitters": q_mg_heavyhitters,
        "pipeline_syslog_tcp": q_syslog_tcp,
        "pipeline_http_extract": q_http_extract,
        "pipeline_holt_trend": q_holt_trend,
        "rel_record_linkage": q_record_linkage,
        "pipeline_l_diversity": q_l_diversity,
        "pipeline_dp_counts": q_dp_counts,
        "pipeline_route_digest": q_route_digest,
        "doc_collocations": q_collocations,
        # round-5 additions first, then round-4 queries with exactly one
        # green driver row; multi-round-green queries rotate to the tail
        "pipeline_topk_certified": q_topk_certified,
        "pipeline_first_seen": q_first_seen,
        "pipeline_lttb_downsample": q_lttb_downsample,
        "pipeline_tcp_reassembly": q_tcp_reassembly,
        "pipeline_fluentd_forward": q_fluentd_forward,
        "pipeline_cusum_drift": q_cusum_drift,
        "pipeline_seasonal_anomaly": q_seasonal_anomaly,
        "pipeline_gorilla_roundtrip": q_gorilla_roundtrip,
        "pipeline_ipfix_roundtrip": q_ipfix_roundtrip,
        "pipeline_winevent_xml": q_winevent_xml,
        "pipeline_gelf_roundtrip": q_gelf_roundtrip,
        "pipeline_kafka_roundtrip": q_kafka_roundtrip,
        "pipeline_otlp_roundtrip": q_otlp_roundtrip,
        "pipeline_ledger_verify": q_ledger_verify,
        "pipeline_dns_tunnel": q_dns_tunnel,
        "pipeline_netflow_roundtrip": q_netflow_roundtrip,
        "media_x509_extract": q_x509_extract,
        "pipeline_prometheus_scrape": q_prometheus_roundtrip,
        "pipeline_pcap_roundtrip": q_pcap_roundtrip,
        "doc_webdataset_roundtrip": q_webdataset_roundtrip,
        "pipeline_w3c_log": q_w3c_log,
        "pipeline_syslog_bsd": q_syslog_bsd,
        "pipeline_slo_burnrate": q_slo_burnrate,
        "pipeline_rate_envelope": q_rate_envelope,
        "pipeline_stack_stitch": q_stack_stitch,
        "pipeline_kmv_actors": q_kmv_actors,
        "pipeline_ewma_spikes": q_ewma_spikes,
        "pipeline_flow_stitch": q_flow_stitch,
        "pipeline_impossible_travel": q_impossible_travel,
        "pipeline_jwt_parse": q_jwt_parse,
        "rel_ulid_roundtrip": q_ulid_roundtrip,
        "rel_cbor_roundtrip": q_cbor_roundtrip,
        "doc_idn_decode": q_idn_decode,
        "pipeline_sigma_rules": q_sigma_rules,
        "pipeline_span_tree": q_span_tree,
        "pipeline_schema_drift": q_schema_drift,
        "pipeline_lateness_stats": q_lateness_stats,
        "pipeline_rollup_cascade": q_rollup_cascade,
        "pipeline_tail_sample": q_tail_sample,
        "pipeline_cef_parse": q_cef_parse,
        "pipeline_access_log": q_access_log,
        "pipeline_beacon_detect": q_beacon_detect,
        "pipeline_hdr_quantiles": q_hdr_quantiles,
        "pipeline_cidr_enrich": q_cidr_enrich,
        "pipeline_syslog_rfc5424": q_syslog_rfc5424,
        "pipeline_logfmt_roundtrip": q_logfmt_roundtrip,
        "pipeline_hll_actors": q_hll_actors,
        "rel_snappy_roundtrip": q_snappy_roundtrip,
        "rel_parquet_footer": q_parquet_footer,
        "pipeline_template_anomaly": q_template_anomaly,
        "pipeline_gorilla_bits": q_gorilla_bits,
        "doc_multi_pattern_scan": q_multi_pattern_scan,
        "rel_roaring_postings": q_roaring_postings,
        "pipeline_ip_pseudonymize": q_ip_pseudonymize,
        "rel_inflate_roundtrip": q_inflate_roundtrip,
        "doc_cdc_chunks": q_cdc_chunks,
        "rel_avro_evolution": q_avro_evolution,
        "rel_aes_roundtrip": q_aes_roundtrip,
        "rel_lz4_roundtrip": q_lz4_roundtrip,
        "rel_zstd_decode": q_zstd_decode,
        "rel_orc_footer": q_orc_footer,
        "doc_soundex_blocks": q_soundex_blocks,
        "pipeline_cms_resources": q_cms_resources,
        "pipeline_log_templates": q_log_templates,
        "doc_quality_logreg": q_quality_logreg,
        "doc_quality_regression": q_quality_regression,
        "rel_jsonl_zst_roundtrip": q_jsonl_zst_roundtrip,
        "doc_frontier_schedule": q_frontier_schedule,
        "doc_mojibake_repair": q_mojibake_repair,
        "rel_avro_roundtrip": q_avro_roundtrip,
        "media_audio_adpcm": q_media_audio_adpcm,
        "pipeline_best_of_n": q_best_of_n,
        "doc_mbox_roundtrip": q_mbox_roundtrip,
        "graph_lpa": q_lpa,
        "doc_markdown_extract": q_markdown_extract,
        "doc_cdx_index": q_cdx_index,
        "doc_license_detect": q_license_detect,
        "graph_triangles": q_triangles,
        "pipeline_context_truncate": q_context_truncate,
        "pipeline_turn_qc": q_turn_qc,
        "pipeline_tool_loops": q_tool_loops,
        "doc_html_outlinks": q_html_outlinks,
        "doc_fim_transform": q_fim_transform,
        "doc_warc_roundtrip": q_warc_roundtrip,
        "doc_warc_gz_members": q_warc_gz_members,
        "media_mime_sniff": q_mime_sniff,
        "media_qoi_decode": q_media_qoi_decode,
        "media_audio_alaw": q_media_audio_alaw,
        "media_jpeg_hier": q_media_jpeg_hier,
        "media_tiff_decode": q_media_tiff_decode,
        "media_bmp_decode": q_media_bmp_decode,
        "doc_robots_filter": q_robots_filter,
        "rel_incremental_agg": q_incremental_agg,
        "pipeline_pii_entities": q_pii_entities,
        "doc_interleave_sources": q_interleave_sources,
        "doc_homoglyph_fold": q_homoglyph_fold,
        "doc_html_extract": q_html_extract,
        "doc_warc_wet_chain": q_warc_wet_chain,
        "doc_length_buckets": q_length_buckets,
        "doc_ccnet_buckets": q_ccnet_buckets,
        "pipeline_hard_negatives": q_hard_negatives,
        "doc_span_corruption": q_span_corruption,
        "doc_blocklist": q_blocklist_filter,
        "media_image_dhash": q_image_dhash_dedup,
        "doc_search_phrase": q_search_phrase,
        "doc_url_canonical": q_url_canonical,
        "doc_kn_perplexity": q_kn_perplexity,
        "rel_snapshot_timetravel": q_snapshot_timetravel,
        "media_mp4_frames": q_media_mp4_frames,
        "graph_pagerank": q_pagerank,
        "graph_hits": q_hits,
        "doc_wordpiece_encode": q_wordpiece_encode,
        "doc_sitemap_extract": q_sitemap_extract,
        "media_jpeg_lossless": q_media_jpeg_lossless,
        "pref_bradley_terry": q_bradley_terry,
        "emb_pca_project": q_pca_project,
        "pipeline_dpo_pairs": q_dpo_pairs,
        "rel_scd2": q_scd2,
        "doc_fuzzy_pairs": q_fuzzy_pairs,
        "rel_orc_roundtrip": q_orc_roundtrip,
        "doc_readability": q_readability,
        "doc_bpe_train_local": q_bpe_train_local,
        "doc_bpe_encode_arrow": q_bpe_encode_arrow,
        "doc_substring_dedup_sa": q_substring_dedup_sa,
        "doc_substring_dedup_sa_within": q_substring_dedup_sa_within,
        "media_gif_frames": q_media_gif_frames,
        "doc_bpe_tokenize": q_bpe_tokenize,
        "media_audio_spectral": q_media_audio_spectral,
        "media_mp4_meta": q_media_mp4_meta,
        "doc_bloom_decontaminate": q_bloom_decontaminate,
        "media_jpeg12_decode": q_media_jpeg12_decode,
        "emb_kmeans": q_emb_kmeans,
        # round-4 additions with a single green row
        "rel_zorder": q_zorder,
        "doc_group_split": q_group_split,
        "doc_hybrid_topk": q_hybrid_topk,
        "doc_unigram_tokens": q_unigram_tokens,
        "doc_c4_clean": q_c4_clean,
        "doc_substring_dedup_xx": q_substring_dedup_xx,
        "doc_substring_dedup_within": q_substring_dedup_within,
        "doc_search_and": q_search_and,
        "rel_upsert_merge": q_upsert_merge,
        "doc_bpe_train": q_bpe_train,
        "doc_bpe_encode": q_bpe_encode,
        "doc_token_temperature_sample": q_token_temperature_sample,
        "pipeline_sft_render": q_sft_render,
        "doc_nb_quality": q_nb_quality,
        "doc_dsir_select": q_dsir_select,
        "doc_substring_dedup": q_substring_dedup,
        "doc_bm25_topk": q_bm25_topk,
        "doc_k_anonymize": q_k_anonymize,
        "emb_semdedup": q_semdedup,
        "emb_pq_topk": q_pq_topk,
        "pipeline_funnel_single_scan": q_funnel_single_scan,
        "media_jpeg_decode": q_media_jpeg_decode,
        "doc_lm_perplexity": q_lm_perplexity,
        "doc_temperature_sample": q_temperature_sample,
        "doc_shuffle_order": q_shuffle_order,
        "doc_gopher_filter": q_gopher_filter,
        "doc_line_dedup": q_line_dedup,
        # round-1 failures (fixed in r2; need a driver-green row)
        "doc_minhash_neardup": q_minhash_neardup,
        "doc_simhash_neardup": q_simhash_neardup,
        "doc_dedup_resolve": q_dedup_resolve,
        "emb_ivf_topk": q_ivf_topk,
        "emb_lsh_topk": q_lsh_topk,
        "emb_near_dup": q_embedding_near_dup,
        # never driver-sampled through r2 (plus round-3 additions)
        "doc_repetition_stats": q_repetition_stats,
        "doc_decontaminate": q_decontaminate,
        "doc_boilerplate_removal": q_boilerplate_removal,
        "doc_profile_columns": q_profile_columns,
        "doc_winnow_fingerprints": q_winnow_fingerprints,
        "doc_mixture_sample": q_mixture_sample,
        "emb_quantize": q_quantize_embeddings,
        "emb_quantized_topk": q_quantized_topk,
        "doc_normalize_text": q_normalize_text,
        "pipeline_json_tolerant": q_json_tolerant,
        "doc_chunk_documents": q_chunk_documents,
        "doc_curation_e2e": q_curation_e2e,
        "pipeline_rate_cap": q_rate_cap,
        "pipeline_group_zscores": q_group_zscores,
        "doc_vocab_topk": q_vocab_topk,
        "doc_cluster_reps": q_cluster_representatives,
        "pipeline_funnel": q_funnel,
        "pipeline_retention": q_retention,
        "doc_incremental_dedup": q_incremental_dedup,
        "doc_exact_dedup_window": q_exact_dedup_window,
        "pipeline_asof_salted": q_asof_salted,
        "doc_ngram_jaccard": q_ngram_jaccard,
        "doc_fingerprint_buckets": q_fingerprint_buckets,
        "doc_sample_rate": q_sample_rate,
        "doc_stratified_sample": q_stratified_sample,
        "doc_pack_sequences": q_pack_sequences,
        "pipeline_redact_pii": q_redact_pii,
        "media_features": q_media_features,
        "media_real_decode": q_media_real_decode,
        "media_thumbnail": q_media_thumbnail,
        "media_frame_grid": q_media_frame_grid,
        "pipeline_lineage_totals": q_lineage_totals,
        "pipeline_error_burst": q_error_burst,
        "pipeline_kv_explode": q_kv_explode,
        "pipeline_lineage_metrics": q_lineage_metrics,
        # pipeline operators
        "pipeline_transcripts_view": q_transcripts_view,
        "pipeline_parse": q_parse,
        "pipeline_parse_pandas": q_parse_pandas,
        "pipeline_enrich": q_enrich,
        "pipeline_route_fanout": q_route_fanout,
        "pipeline_sink_counts": q_sink_counts,
        "pipeline_select_by_tag": q_select_by_tag,
        "pipeline_run_summary": q_run_summary,
        "pipeline_asof_last_event": q_asof_last_event,
        "rel_range_join_windows": q_range_join_windows,
        "pipeline_multi_pattern_parse": q_multi_pattern_parse,
        "doc_quality_filter": q_quality_filter,
        "pipeline_conv_stats": q_conv_stats,
        "pipeline_conv_reconstruct": q_conv_reconstruct,
        "rel_sessionize": q_sessionize,
        "doc_bpe_tokens": q_bpe_tokens,
        "pipeline_time_window": q_time_window,
        "pipeline_ticks": q_ticks,
        "pipeline_cursor_extract": q_cursor_extract,
        "pipeline_schema_hint": q_schema_hint,
        "pipeline_slug": q_slug,
        "pipeline_sink_names": q_sink_names,
        "pipeline_sink_names_custom": q_sink_names_custom,
        # generic relational operators
        "rel_agg_pricing": q_agg_pricing,
        "rel_join_segment_revenue": q_join_segment_revenue,
        "rel_window_first_events": q_window_first_events,
        "rel_topk_users": q_topk_users,
        "rel_setop_purchasers_no_error": q_setop_purchasers_no_error,
        "rel_distinct_event_days": q_distinct_event_days,
        "rel_rollup_pricing": q_rollup_pricing,
        "rel_cube_events": q_cube_events,
        "rel_grouping_sets": q_grouping_sets,
        "rel_intersect_users": q_intersect_users,
        "rel_semi_join_customers": q_semi_join_customers,
        "rel_anti_join_customers": q_anti_join_customers,
        "rel_pivot_user_events": q_pivot_user_events,
        "rel_string_funcs": q_string_funcs,
        "rel_datetime_funcs": q_datetime_funcs,
        "rel_having_active_users": q_having_active_users,
        "doc_tfidf_topk": q_tfidf_topk,
        "doc_char_entropy": q_char_entropy,
        "rel_array_funcs": q_array_funcs,
        "rel_map_funcs": q_map_funcs,
        "rel_math_funcs": q_math_funcs,
        "pipeline_from_json_decode": q_from_json_decode,
        "rel_unpivot": q_unpivot,
        "rel_window_frames": q_window_frames,
        "rel_exists_subquery": q_exists_subquery,
        "rel_scalar_subquery": q_scalar_subquery,
        "rel_lateral_topn": q_lateral_topn,
        "rel_percentiles": q_percentiles,
        # training-data ops
        "doc_token_count": q_token_count,
        "doc_text_quality": q_text_quality,
        "doc_lang_id": q_lang_id,
        "doc_exact_dedup": q_exact_dedup,
        "emb_cosine_topk": q_embedding_topk,
    }


# ---------------------------------------------------------------------------
# round-5 session-8 additions: secmon/trace-shaped log-pipeline operators
# ---------------------------------------------------------------------------

HDR_VALUE_SQL = "greatest(1, CAST(floor(value * 100) AS BIGINT) + 1)"


def q_beacon_detect(spark, sf_dir):
    """C2-beaconing triage over the raw event stream: integer-exact CV²
    of per-(actor, channel) inter-arrival gaps; one shuffle, no floats.
    Reference analog: the alert routes (evt-errors) consume exactly this
    detection class (source/*/config.go severity routing)."""
    from hatchery_spark.operators.telemetry import beacon_intervals

    return beacon_intervals(load(spark, sf_dir, "events"))


def q_hdr_quantiles(spark, sf_dir):
    """Mergeable HDR-histogram latency quantiles per event_type: exact
    integer bucketing (unit buckets below 16, 8 sub-buckets per octave
    above), p50/p90/p99 read off the cumulative bucket table."""
    from hatchery_spark.operators.sketches import hdr_buckets, hdr_quantiles

    ev = load(spark, sf_dir, "events")
    b = hdr_buckets(ev, F.expr(HDR_VALUE_SQL), ["event_type"])
    return hdr_quantiles(b, ["event_type"]).withColumnRenamed(
        "event_type", "g"
    )


# lines fixture for the multiline stitcher — neutral SQL (identical text runs
# in Spark and DuckDB) deriving a raw log-line stream from the transcripts:
# every turn is a header line; tool turns trail two stack-frame continuation
# lines; each conversation whose turn 0 is a tool turn also gets one ORPHAN
# continuation at line −1 (a mid-file pickup), exercising the dead-letter path.
LOG_LINES_SQL = """
SELECT conv_id, cast(turn_idx AS bigint) * 4 AS line_no, text AS line FROM {t}
UNION ALL
SELECT conv_id, cast(turn_idx AS bigint) * 4 + 1,
       concat('    at svc.handler(Handler.java:', cast(turn_idx AS string), ')')
FROM {t} WHERE role = 'tool'
UNION ALL
SELECT conv_id, cast(turn_idx AS bigint) * 4 + 2,
       concat('    at svc.main(Main.java:', cast(length(text) AS string), ')')
FROM {t} WHERE role = 'tool'
UNION ALL
SELECT conv_id, cast(-1 AS bigint), '    at orphan(Boot.java:0)'
FROM {t} WHERE turn_idx = 0 AND role = 'tool'
"""


def q_stack_stitch(spark, sf_dir):
    """Multiline record stitching (filebeat multiline / fluentd concat
    semantics): continuation lines ('    at …' stack frames) attach to the
    nearest preceding header within their conversation stream; orphan
    continuations surface as a rec_no=−1 dead-letter record. One hash
    shuffle on the stream id, a running max window (no global sort), and
    an array_sort-stabilized concat — see operators/logship.py."""
    from hatchery_spark.operators.logship import stitch_multiline

    transcripts(spark, sf_dir).createOrReplaceTempView("hs_stitch_t")
    lines = spark.sql(LOG_LINES_SQL.format(t="hs_stitch_t"))
    return stitch_multiline(lines, ~F.col("line").startswith("    at "))


def _stack_stitch_oracle() -> str:
    t = TRANSCRIPTS_SQL.format(events="events")
    lines = LOG_LINES_SQL.format(t="t")
    return f"""
        WITH t AS ({t}),
        lines AS ({lines}),
        marked AS (
          SELECT conv_id AS stream, line_no, line,
                 max(CASE WHEN line NOT LIKE '    at %' THEN line_no END)
                   OVER (PARTITION BY conv_id ORDER BY line_no
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS rec
          FROM lines)
        SELECT stream, coalesce(rec, -1) AS rec_no,
               count(*) AS n_lines,
               string_agg(line, chr(10) ORDER BY line_no) AS message
        FROM marked GROUP BY stream, coalesce(rec, -1)"""


# access-log fixture — neutral SQL deriving the structured request row that
# the combined-log renderer serializes (and the oracle re-derives directly)
ACCESS_SRC_SQL = """
SELECT
  concat('10.0.', cast(user_id % 256 AS string), '.',
         cast(event_id % 256 AS string)) AS ip,
  '-' AS ident,
  concat('user', cast(user_id AS string)) AS auth,
  ts,
  CASE event_type WHEN 'signup' THEN 'POST' WHEN 'purchase' THEN 'PUT'
       WHEN 'error' THEN 'DELETE' ELSE 'GET' END AS method,
  concat('/r/', cast(event_id % 1000 AS string)) AS path,
  CASE WHEN value < 100 THEN 200 WHEN value < 200 THEN 404 ELSE 500 END
    AS status,
  CASE WHEN value < 10 THEN NULL
       ELSE cast(floor(value * 17) AS bigint) END AS bytes,
  concat('https://ref.example/', event_type) AS referrer,
  concat('agent/', cast(user_id % 7 AS string)) AS agent
FROM {events}
"""


def q_access_log(spark, sf_dir):
    """Grok pattern-library e2e: render every event as an Apache
    combined-log line, then parse ONLY the line back through the
    %{IPV4:clientip}…-style compiled template (operators/grok.py —
    COMBINEDAPACHELOG over the recursive pattern registry). One regex
    evaluation per row via the match→rewrite trick, typed casts, and a
    dead-letter flag: planted 'panic:' garbage lines (event_id%97=0)
    come out all-NULL with matched=false instead of vanishing. The
    oracle recomputes every field straight from events, value-pinning
    renderer, registry expansion, and parser at once."""
    from hatchery_spark.operators.grok import (
        COMBINEDAPACHELOG,
        grok_parse,
        render_access_log,
    )

    load(spark, sf_dir, "events").createOrReplaceTempView("hs_access_ev")
    src = spark.sql(ACCESS_SRC_SQL.format(events="hs_access_ev"))
    garbage = spark.sql(
        "SELECT concat('panic: not a log line ', cast(event_id AS string))"
        " AS line FROM hs_access_ev WHERE event_id % 97 = 0"
    )
    parsed = grok_parse(
        render_access_log(src).unionByName(garbage),
        COMBINEDAPACHELOG,
        types={"response": "int", "bytes": "bigint"},
    )
    return parsed.select(
        "clientip", "ident", "auth",
        F.col("timestamp").alias("ts_str"),
        "verb", "request", "httpversion", "response", "bytes",
        "referrer", "agent",
        F.col("_grok_matched").alias("matched"),
    )


def _access_log_oracle() -> str:
    src = ACCESS_SRC_SQL.format(events="events")
    return f"""
        WITH src AS ({src})
        SELECT ip AS clientip, ident, auth,
               strftime(ts, '%d/%b/%Y:%H:%M:%S +0000') AS ts_str,
               method AS verb, path AS request, '1.1' AS httpversion,
               status AS response, bytes, referrer, agent,
               true AS matched
        FROM src
        UNION ALL
        SELECT NULL, NULL, NULL, NULL, NULL, NULL, NULL,
               cast(NULL AS int), cast(NULL AS bigint), NULL, NULL, false
        FROM events WHERE event_id % 97 = 0"""


def q_kmv_actors(spark, sf_dir):
    """KMV distinct-actor sketch per event_type: k smallest distinct 48-bit
    hashes (one partial-agg distinct shuffle + a WindowGroupLimit rank cut),
    estimator (k−1)·2^48 div h_k in pure BIGINT arithmetic — the third
    mergeable sketch family next to HLL and count-min, with a bit-exact
    oracle replay instead of HLL's rounded-float estimate."""
    from hatchery_spark.operators.sketches import kmv_estimate, kmv_sketch

    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.concat(F.lit("user"), F.col("user_id").cast("string")).alias("actor"),
    )
    return kmv_estimate(kmv_sketch(ev, F.col("actor"), ["g"]), ["g"])


def _kmv_actors_oracle() -> str:
    from hatchery_spark.operators.sketches import kmv_oracle_sql

    return kmv_oracle_sql(
        "SELECT event_type, user_id FROM events",
        "concat('user', cast(user_id AS string))",
        "event_type",
    )


def q_ewma_spikes(spark, sf_dir):
    """EWMA burst detection over per-(event_type, hour) counts: α=1/2
    fixed-point weighted history of the 8 preceding buckets, spike when
    255·n > 3·ewma — every term integer, cold-start gated. The streaming-
    rate-guard twin of pipeline_error_burst's windowed z-score."""
    from hatchery_spark.operators.telemetry import ewma_spikes

    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), "ts"
    )
    return ewma_spikes(ev, ["g"])


def _ewma_spikes_oracle() -> str:
    from hatchery_spark.operators.telemetry import ewma_oracle_sql

    return ewma_oracle_sql("SELECT event_type AS g, ts FROM events", "g")


# unidirectional flow fixture — neutral SQL; most events get a reverse flow
# (+1 s), every (id%7==3) event's reverse PRECEDES the forward record by 2 s
# (a server-initiated exchange), and id%5==0 events stay one-directional.
FLOWS_SQL = """
SELECT
  concat('10.0.', cast(user_id % 256 AS string), '.',
         cast(user_id % 100 AS string)) AS src_ip,
  cast(1024 + event_id % 60000 AS int) AS src_port,
  concat('192.168.', cast(event_id % 200 AS string), '.',
         cast(event_id % 250 AS string)) AS dst_ip,
  cast(443 AS int) AS dst_port,
  ts,
  cast(40 + floor(value * 11) AS bigint) AS bytes
FROM {events}
UNION ALL
SELECT
  concat('192.168.', cast(event_id % 200 AS string), '.',
         cast(event_id % 250 AS string)),
  cast(443 AS int),
  concat('10.0.', cast(user_id % 256 AS string), '.',
         cast(user_id % 100 AS string)),
  cast(1024 + event_id % 60000 AS int),
  ts + INTERVAL 1 SECOND,
  cast(40 + floor(value * 29) AS bigint)
FROM {events} WHERE event_id % 5 <> 0 AND event_id % 7 <> 3
UNION ALL
SELECT
  concat('192.168.', cast(event_id % 200 AS string), '.',
         cast(event_id % 250 AS string)),
  cast(443 AS int),
  concat('10.0.', cast(user_id % 256 AS string), '.',
         cast(user_id % 100 AS string)),
  cast(1024 + event_id % 60000 AS int),
  ts - INTERVAL 2 SECOND,
  cast(40 + floor(value * 29) AS bigint)
FROM {events} WHERE event_id % 5 <> 0 AND event_id % 7 = 3
"""


def q_flow_stitch(spark, sf_dir):
    """RFC 5103 biflow stitching: A→B and B→A unidirectional flow records
    collapse into one canonical bidirectional row via a SINGLE
    partially-aggregated groupBy on the lexicographic (lo,hi) endpoint key
    — no reversed-tuple self-join, half the exchanges. Per-direction byte
    totals, span, bidirectional flag, and a deterministic initiator
    (earliest record's endpoint; the fixture plants server-initiated and
    one-directional minorities to exercise every branch)."""
    from hatchery_spark.operators.netenrich import stitch_flows

    load(spark, sf_dir, "events").createOrReplaceTempView("hs_flow_ev")
    return stitch_flows(spark.sql(FLOWS_SQL.format(events="hs_flow_ev")))


def _flow_stitch_oracle() -> str:
    from hatchery_spark.operators.netenrich import flow_stitch_oracle_sql

    return flow_stitch_oracle_sql(FLOWS_SQL.format(events="events"))


# login fixture with hash-scattered coordinates — neutral SQL (integer hash,
# /100.0 decimal grid; both engines compute identical doubles)
LOGINS_SQL = """
SELECT concat('user', cast(user_id AS string)) AS actor,
       event_id, ts,
       cast((((user_id % 256) * 256 + event_id % 256) * 2654435761) % 18000
            AS bigint) / 100.0 - 90 AS lat,
       cast((((user_id % 256) * 256 + event_id % 256) * 40503) % 36000
            AS bigint) / 100.0 - 180 AS lon
FROM {events}
"""


def q_impossible_travel(spark, sf_dir):
    """Impossible-travel login triage: per-actor lag window over login
    coordinates, one-shot haversine, speed vs the 900 km/h jet line.
    Δt=0 pairs yield NULL speed (never flagged); (ts, event_id) ordering
    keeps same-timestamp replays deterministic."""
    from hatchery_spark.operators.netenrich import impossible_travel

    load(spark, sf_dir, "events").createOrReplaceTempView("hs_login_ev")
    return impossible_travel(spark.sql(LOGINS_SQL.format(events="hs_login_ev")))


def _impossible_travel_oracle() -> str:
    from hatchery_spark.operators.netenrich import impossible_travel_oracle_sql

    return impossible_travel_oracle_sql(LOGINS_SQL.format(events="events"))


TOPK_STRIPES = 8
TOPK_K = 10

# hot/cold talker key: 5 hot keys carry half the stream (~1000 rows each at
# sf0.01), ~500 cold keys share the rest (~10 each) — the power-law shape the
# certificate exists for: hot ranks get PROVEN exact, the cold tail is
# honestly flagged open (rank_certified=false), and the full keyspace never
# crosses the wire.
_TOPK_KEY_CASE = (
    "CASE WHEN event_id % 1000 < 500"
    " THEN 'hot-' || cast(event_id % 5 AS varchar)"
    " ELSE 'cold-' || cast(event_id % 1000 AS varchar) END"
)


def q_topk_certified(spark, sf_dir):
    """Communication-bounded distributed top-k with per-row rank
    certificates (operators/topk.py — TPUT / threshold-algorithm
    family): only each stripe's local top-k crosses the wire; the sum
    of stripe thresholds upper-bounds every unseen key, so a row with
    total > ub_absent carries a PROOF its global rank is exact. On the
    hot/cold fixture the 5 hot keys certify true and the cold tail
    rows certify false — both branches live in one query. Stripe =
    md5(event_id) % 8, replayed positionally by the oracle."""
    from hatchery_spark.functions.graph import _md5_prefix_long
    from hatchery_spark.operators.topk import topk_certified

    ev = load(spark, sf_dir, "events")
    key = F.when(
        F.col("event_id") % 1000 < 500,
        F.concat(F.lit("hot-"), (F.col("event_id") % 5).cast("string")),
    ).otherwise(
        F.concat(F.lit("cold-"), (F.col("event_id") % 1000).cast("string"))
    )
    df = ev.select(
        key.alias("key"),
        F.pmod(_md5_prefix_long(F.col("event_id")), F.lit(TOPK_STRIPES))
        .cast("long").alias("stripe"),
    )
    return topk_certified(df, ["key"], "stripe", k=TOPK_K)


def _topk_oracle() -> str:
    from hatchery_spark.operators.topk import topk_oracle_sql

    src = (
        f"SELECT {_TOPK_KEY_CASE} AS key,"
        " substr(md5(cast(event_id AS varchar)), 1, 8) AS h FROM events"
    )
    return topk_oracle_sql(
        src, "key", f"(({_hex_decode_terms('h')}) % {TOPK_STRIPES})",
        k=TOPK_K,
    )


def q_first_seen(spark, sf_dir):
    """First-seen (actor, action) novelty rollup (operators/telemetry.py
    `first_seen_novelty`): per actor-day event volume, distinct actions,
    and actions whose corpus-wide first occurrence for that actor lands
    on that day — new_pairs decays from the onboarding burst to the
    occasional genuine novelty, which is the alerting signal. ONE
    corpus-sized aggregate; the min-window and re-aggregate run on the
    (actor, action, day) frame."""
    from hatchery_spark.operators.telemetry import first_seen_novelty

    p = (
        parse_turns(transcripts(spark, sf_dir))
        .where(F.col("actor").isNotNull() & F.col("action").isNotNull())
    )
    out = first_seen_novelty(p, "actor", "action")
    return out.select(
        "actor", F.col("day").cast("string").alias("day"),
        "events", "active_pairs", "new_pairs",
    )


def _first_seen_oracle() -> str:
    from hatchery_spark.operators.telemetry import first_seen_oracle_sql

    src = (ORACLE_PIPELINE_CTE
           + "SELECT actor, action, ts FROM parsed"
           + " WHERE actor IS NOT NULL AND action IS NOT NULL")
    inner = first_seen_oracle_sql(src, "actor", "action")
    return (f"SELECT actor, cast(day AS varchar) AS day, events,"
            f" active_pairs, new_pairs FROM ({inner})")


LTTB_M = 12


def q_lttb_downsample(spark, sf_dir):
    """LTTB visual downsampling per conversation stream (operators/
    lttb.py — Steinarsson 2013): each (ts, value) series shrinks to 12
    points keeping first/last and the largest-triangle winner of each
    interior bucket. The area comparison is multiplied through by the
    next-bucket count so it's pure BIGINT — the sequential anchor chain
    replays in DuckDB as one rank-1 CTE per bucket. Values pre-scaled
    to integer cents (floor(value*100)) BEFORE the operator; ties break
    to the smallest index on both engines."""
    from pyspark.sql import Window as W

    from hatchery_spark.operators.lttb import lttb_downsample

    load(spark, sf_dir, "events").createOrReplaceTempView("hs_lttb_ev")
    t = spark.sql(TRANSCRIPTS_VALUE_SQL.format(events="hs_lttb_ev"))
    w = W.partitionBy("conv_id").orderBy("ts", "turn_idx")
    pts = t.select(
        F.col("conv_id"),
        F.row_number().over(w).cast("long").alias("idx"),
        F.unix_timestamp("ts").cast("long").alias("t_s"),
        F.floor(F.col("value") * 100).cast("long").alias("v_i"),
    )
    return lttb_downsample(pts, "conv_id", "idx", "t_s", "v_i", m=LTTB_M)


def _lttb_oracle() -> str:
    from hatchery_spark.operators.lttb import lttb_oracle_sql

    t = TRANSCRIPTS_VALUE_SQL.format(events="events")
    return lttb_oracle_sql(
        t, "conv_id",
        "cast(floor(epoch(ts)) AS bigint)",
        "cast(floor(value * 100) AS bigint)",
        "ts, turn_idx",
        m=LTTB_M,
    )


def q_tcp_reassembly(spark, sf_dir):
    """TCP stream reassembly e2e (operators/tcpstream.py): each
    conversation's rebuilt text is cut into 64-char segments with
    md5-planted exact retransmits, overlapping retransmits (+16 chars
    into the next segment), and capture holes (gated flows lose their
    middle segment); reassembly is ONE window pass (running-max
    high-water mark, piece trimming) + one order-proof aggregate.
    ``ok`` proves the reassembled stream EQUALS the original text for
    every complete flow — per-turn text equality through segmentation,
    duplication, overlap trimming, and shuffle order; holed flows
    dead-letter as complete=false."""
    from hatchery_spark.operators.tcpstream import (
        reassemble_streams,
        segment_streams,
    )

    t = transcripts(spark, sf_dir)
    ordered = F.array_sort(F.collect_list(F.struct("turn_idx", "text")))
    conv = t.groupBy("conv_id").agg(
        F.concat_ws("\n", F.transform(ordered, lambda s: s.text))
        .alias("conv_text")
    )
    out = reassemble_streams(segment_streams(conv))
    return out.join(conv, "conv_id").select(
        "conv_id", "n_segments", "n_redundant", "complete", "stream_len",
        (F.col("stream") == F.col("conv_text")).alias("ok"),
    )


def _tcp_oracle() -> str:
    from hatchery_spark.operators.tcpstream import tcp_oracle_sql

    conv = (ORACLE_PIPELINE_CTE
            + "SELECT conv_id, string_agg(text, chr(10)"
            + " ORDER BY turn_idx) AS conv_text"
            + " FROM transcripts GROUP BY conv_id")
    inner = tcp_oracle_sql(conv)
    return f"""
        WITH r AS ({inner}),
        c AS ({conv})
        SELECT r.conv_id, r.n_segments, r.n_redundant, r.complete,
               r.stream_len, r.stream = c.conv_text AS ok
        FROM r JOIN c ON r.conv_id = c.conv_id"""


CUSUM_K_GAP_S = 28800   # reference inter-arrival: 8 h (data median ≈ 7.3 h)
CUSUM_H_S = 172800      # alarm at two days of accumulated schedule-debt


def q_cusum_drift(spark, sf_dir):
    """CUSUM emission-rate changepoint per actor (operators/telemetry.py
    `cusum_rate_shift`): Page's lower-CUSUM over inter-arrival gaps,
    computed exactly via the running-min closed form (C_i − min(0,
    min_{j≤i} C_j)) — ONE actor shuffle, two window passes over a single
    Sort, BIGINT seconds throughout so no engine float ties. Alarm =
    ≥ 48 h of accumulated too-fast mass vs the 8 h reference gap (24 of
    150 actors alarm at sf0.01 — selective, not degenerate); the oracle
    replays the windows form-for-form."""
    from hatchery_spark.operators.telemetry import cusum_rate_shift

    p = (
        parse_turns(transcripts(spark, sf_dir))
        .where(F.col("actor").isNotNull())
        .select("actor", "conv_id", "turn_idx", "ts")
    )
    out = cusum_rate_shift(
        p, ["actor"], ts_col="ts", k_gap_s=CUSUM_K_GAP_S, h_s=CUSUM_H_S,
        tiebreak_col="turn_idx",
    )
    return out.select(
        "actor", "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "ts", "gap_s", "cusum_s", "alarm", "first_alarm_ts",
    )


def _cusum_oracle() -> str:
    from hatchery_spark.operators.telemetry import cusum_oracle_sql

    src = (ORACLE_PIPELINE_CTE
           + "SELECT actor, conv_id, turn_idx, ts FROM parsed"
           + " WHERE actor IS NOT NULL")
    return cusum_oracle_sql(
        src, "actor", "ts, turn_idx",
        "actor, conv_id, cast(turn_idx AS bigint) AS turn_idx, ts",
        k_gap_s=CUSUM_K_GAP_S, h_s=CUSUM_H_S,
    )


def q_seasonal_anomaly(spark, sf_dir):
    """Day-of-week robust volume baseline per severity (operators/
    telemetry.py `seasonal_baseline_anomaly`): daily counts per
    (severity, day), LOWER-MEDIAN + MAD per (severity, dow) via rank
    arithmetic — all-integer, so no engine interpolation/float ties —
    flag days above median + 3·MAD. One corpus-sized aggregate; the
    median/MAD passes and joins run on the O(severities × days) grid.
    Spark's dayofweek() is 1=Sunday, DuckDB's 0=Sunday; the operator
    shifts Spark's so slots align."""
    from hatchery_spark.operators.telemetry import seasonal_baseline_anomaly

    e = enriched(spark, sf_dir).select(F.col("severity").alias("k"), "ts")
    out = seasonal_baseline_anomaly(e, ["k"], ts_col="ts", slot="dow")
    return out.select(
        "k", F.col("day").cast("string").alias("day"),
        "slot", "c", "med_c", "mad_c", "anomalous",
    )


def _seasonal_oracle() -> str:
    from hatchery_spark.operators.telemetry import seasonal_oracle_sql

    src = ORACLE_PIPELINE_CTE + "SELECT severity, ts FROM enriched"
    return seasonal_oracle_sql(src, "severity", slot="dow")


def q_gorilla_roundtrip(spark, sf_dir):
    """Full Gorilla block codec roundtrip (functions/gorilla.py, VLDB'15
    §4.1+§4.2 — real bitstream, both directions): per-conversation
    (timestamp, value) streams encode in one applyInPandas group each
    (per-stream state is strictly sequential; streams fan out), decode
    back via mapInPandas. The oracle pins the DECODED points — second
    timestamps AND float64 values BIT-exact — against the source rows,
    so any drift in either direction fails value equality; compressed
    sizing is pinned in pytest vs an independent per-rule accounting
    and the gorilla_ts_bits bucket totals."""
    from hatchery_spark.operators.telemetry import gorilla_roundtrip

    load(spark, sf_dir, "events").createOrReplaceTempView("hs_events")
    t = spark.sql(TRANSCRIPTS_VALUE_SQL.format(events="hs_events"))
    out = gorilla_roundtrip(t, "conv_id", "ts", "value", "turn_idx")
    # comp_bytes is not SQL-replayable (float bit patterns); sizing is
    # pytest-pinned instead — the oracle gates the decoded points
    return out.select("g", "rn", "t_s", "value", "n_points")


def _gorilla_roundtrip_oracle() -> str:
    t = TRANSCRIPTS_VALUE_SQL.format(events="events")
    return f"""
        WITH t AS ({t}),
        s AS (
          SELECT conv_id AS g,
                 cast(row_number() OVER (PARTITION BY conv_id
                                         ORDER BY ts, turn_idx) AS bigint)
                   AS rn,
                 cast(floor(epoch(ts)) AS bigint) AS t_s,
                 cast(value AS double) AS value,
                 cast(count(*) OVER (PARTITION BY conv_id) AS bigint)
                   AS n_points
          FROM t)
        SELECT g, rn, t_s, value, n_points FROM s"""


JWT_SECRET = "hs-demo-secret"  # test fixture secret, not a credential
JWT_AS_OF = "2024-01-15 00:00:00"  # mid-corpus: both expiry branches populate

# claims JSON assembled with a FIXED key order so render and oracle agree
JWT_CLAIMS_SQL = """
SELECT event_id,
       concat('{{"sub":"user', cast(user_id AS string), '","iat":',
              cast({epoch} AS string), ',"exp":', cast({epoch} + 3600 AS string),
              ',"scope":"', event_type, '"}}') AS cj
FROM {events}
"""


def q_jwt_parse(spark, sf_dir):
    """JWT render→tamper→parse/verify e2e (operators/jwtauth.py): HS256
    tokens minted over per-event claims, every 13th token's signature
    corrupted in flight, then ONLY the token string goes through the
    cracker — base64url/split/from_json all JVM codegen, HMAC-SHA256 in
    one Arrow-batched pandas_udf. The oracle recomputes claims, expiry
    vs the as-of epoch, and the tamper rule straight from events, so the
    mint, the decode, AND the verify round-trip are value-pinned (a bug
    in either HMAC path would flip sig_valid on the 12/13 clean rows)."""
    from hatchery_spark.operators.jwtauth import parse_jwt, render_jwt

    load(spark, sf_dir, "events").createOrReplaceTempView("hs_jwt_ev")
    claims = spark.sql(
        JWT_CLAIMS_SQL.format(
            events="hs_jwt_ev", epoch="unix_timestamp(ts)"
        )
    )
    minted = render_jwt(claims, F.col("cj"), JWT_SECRET)
    tampered = minted.withColumn(
        "token",
        F.when(
            F.col("event_id") % 13 == 0, F.concat(F.col("token"), F.lit("A"))
        ).otherwise(F.col("token")),
    )
    return parse_jwt(tampered, JWT_SECRET, JWT_AS_OF)


def _jwt_parse_oracle() -> str:
    return f"""
        SELECT 'HS256' AS alg, 'JWT' AS typ,
               concat('user', cast(user_id AS string)) AS sub,
               event_type AS scope,
               cast(floor(epoch(ts)) AS bigint) AS iat,
               cast(floor(epoch(ts)) AS bigint) + 3600 AS exp,
               cast(floor(epoch(ts)) AS bigint) + 3600
                 < cast(floor(epoch(timestamp '{JWT_AS_OF}')) AS bigint)
                 AS expired,
               NOT (event_id % 13 = 0) AS sig_valid
        FROM events"""


# ULID inputs — 40-bit random halves from integer hashes (no md5 needed;
# products stay far inside BIGINT at every SF)
ULID_SRC_SQL = """
SELECT event_id,
       ({epoch}) * 1000 + event_id % 1000 AS ts_ms,
       (user_id * 2654435761 + event_id * 97) % {m40} AS r_hi,
       (event_id * 2654435761 + 12345) % {m40} AS r_lo
FROM {events}
"""


def q_ulid_roundtrip(spark, sf_dir):
    """ULID mint + decode as ONE dual-engine SQL surface
    (functions/encoding.py): 26 Crockford-base32 substr terms encode a
    48-bit ms timestamp + 80-bit randomness, instr terms decode the
    timestamp back; `ok` pins the roundtrip per row. Pure codegen'd
    Project — the sortable-object-key generator for sink names at scale
    (lexicographic ULID order == timestamp order by construction)."""
    from hatchery_spark.functions.encoding import (
        ulid_decode_ms_sql,
        ulid_encode_sql,
    )

    load(spark, sf_dir, "events").createOrReplaceTempView("hs_ulid_ev")
    src = ULID_SRC_SQL.format(
        events="hs_ulid_ev", m40=1 << 40, epoch="unix_timestamp(ts)"
    )
    enc = ulid_encode_sql("ts_ms", "r_hi", "r_lo")
    dec = ulid_decode_ms_sql("ulid")
    return spark.sql(
        f"""SELECT event_id, ulid, {dec} AS ts_ms_back,
                   {dec} = ts_ms AS ok
            FROM (SELECT event_id, ts_ms, {enc} AS ulid FROM ({src}))"""
    )


def _ulid_roundtrip_oracle() -> str:
    from hatchery_spark.functions.encoding import (
        ulid_decode_ms_sql,
        ulid_encode_sql,
    )

    src = ULID_SRC_SQL.format(
        events="events", m40=1 << 40,
        epoch="cast(floor(epoch(ts)) AS bigint)",
    )
    enc = ulid_encode_sql("ts_ms", "r_hi", "r_lo")
    dec = ulid_decode_ms_sql("ulid")
    return f"""SELECT event_id, ulid, {dec} AS ts_ms_back,
                      {dec} = ts_ms AS ok
               FROM (SELECT event_id, ts_ms, {enc} AS ulid FROM ({src}))"""


def _cbor_usz(e: str) -> str:
    """SQL for the RFC 8949 shortest-form head size of uint(e)."""
    return (
        f"(CASE WHEN {e} < 24 THEN 1 WHEN {e} < 256 THEN 2"
        f" WHEN {e} < 65536 THEN 3 WHEN {e} < 4294967296 THEN 5"
        f" ELSE 9 END)"
    )


def q_cbor_roundtrip(spark, sf_dir):
    """CBOR (RFC 8949) encode→decode roundtrip over per-event records
    (functions/cbor.py — Appendix-A-pinned codec): a 7-pair map with
    uint/negint/text/bool/tag(1 epoch)/array members is serialized and
    re-parsed per row in ONE Arrow-batched mapInPandas pass. The oracle
    recomputes every decoded field from `events` AND — the wire pin —
    the exact serialized byte length via the shortest-form head-size
    arithmetic, so a head-width bug shifts `byte_len` on exactly the
    rows whose values straddle a 24/256/65536 boundary."""
    import pandas as pd

    from hatchery_spark.functions.cbor import Tag, decode, encode

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_timestamp("ts").alias("epoch_s"),
    )

    def rt(batches):
        for b in batches:
            out = []
            # .tolist() up front: the loop then works on plain Python ints/
            # strs instead of numpy scalars (whose arithmetic and int()
            # conversions dominate a tight per-row loop)
            for eid, uid, etype, cents, ep in zip(
                b["event_id"].tolist(), b["user_id"].tolist(),
                b["event_type"].tolist(), b["cents"].tolist(),
                b["epoch_s"].tolist(),
            ):
                rec = {
                    "i": int(eid),
                    "t": str(etype),
                    "c": int(cents),
                    "n": -1 - int(eid) % 50,
                    "o": bool(int(eid) % 2 == 0),
                    "s": Tag(1, int(ep)),
                    "a": [int(uid), int(eid) % 7],
                }
                wire = encode(rec)
                d = decode(wire)
                out.append((
                    d["i"], len(wire), d["t"], d["c"], d["n"], d["o"],
                    d["s"].value, ",".join(str(x) for x in d["a"]),
                ))
            yield pd.DataFrame(
                out,
                columns=[
                    "event_id", "byte_len", "t", "c", "n", "o",
                    "s_epoch", "a_str",
                ],
            )

    return ev.mapInPandas(
        rt,
        "event_id long, byte_len int, t string, c long, n long, "
        "o boolean, s_epoch long, a_str string",
    )


def _cbor_roundtrip_oracle() -> str:
    ep = "cast(floor(epoch(ts)) AS bigint)"
    c = "cast(floor(value * 100) AS bigint)"
    blen = " + ".join([
        "1",                       # map head (7 pairs)
        "14",                      # seven 1-char text keys
        _cbor_usz("event_id"),
        f"(1 + length(event_type))",
        _cbor_usz(c),
        _cbor_usz("event_id % 50"),  # negint −1−m stores uint(m)
        "1",                       # bool
        f"(1 + {_cbor_usz(ep)})",  # tag 1 + epoch uint
        f"(1 + {_cbor_usz('user_id')} + {_cbor_usz('event_id % 7')})",
    ])
    return f"""
        SELECT event_id,
               cast({blen} AS int) AS byte_len,
               event_type AS t,
               {c} AS c,
               -1 - event_id % 50 AS n,
               event_id % 2 = 0 AS o,
               {ep} AS s_epoch,
               concat(cast(user_id AS string), ',',
                      cast(event_id % 7 AS string)) AS a_str
        FROM events"""


def _idn_fixture() -> list[tuple[str, str]]:
    """(ACE label, expected Unicode) pairs. The expectation comes from
    Python's STDLIB punycode codec — an independent RFC 3492
    implementation — so the oracle literals independently pin our
    from-scratch decoder (functions/punycode.py), the robots.txt
    hand-derived-oracle posture."""
    planted = [
        "bücher", "mañana", "café", "βόλος", "правда", "中文", "日本語",
        "täst", "déjà-vu", "☃unicode", "💩", "ascii-only", "a", "ñ",
        "ü-ü", "ёлка-2024",
    ]
    rows = []
    for u in planted:
        if all(ord(c) < 128 for c in u):
            rows.append((u, u))
        else:
            rows.append(("xn--" + u.encode("punycode").decode("ascii"), u))
    return rows


def q_idn_decode(spark, sf_dir):
    """IDN ACE-label decode (RFC 3492 bootstring, functions/punycode.py):
    xn-- labels back to Unicode plus a re-encode column proving the
    round-trip, Arrow-batched. Expectations in the oracle come from the
    stdlib codec — a genuinely independent implementation."""
    from hatchery_spark.functions.punycode import (
        idna_decode_col,
        idna_encode_col,
    )

    df = spark.createDataFrame(_idn_fixture(), "label string, expected string")
    return df.select(
        "label",
        idna_decode_col(F.col("label")).alias("decoded"),
        idna_encode_col(idna_decode_col(F.col("label"))).alias("reenc"),
    )


def _idn_decode_oracle() -> str:
    vals = ", ".join(
        f"('{ace}', '{u}')" for ace, u in _idn_fixture()
    )
    return f"""
        SELECT label, u AS decoded, label AS reenc
        FROM (VALUES {vals}) t(label, u)"""


def _sigma_rules():
    from hatchery_spark.operators.sigma import Rule

    return [
        Rule(
            "R1-critical-errors", "error/critical audit turns",
            {"selection": {"severity": ["error", "critical"],
                           "action": {"endswith": "_event"}}},
            "selection", level="high",
        ),
        Rule(
            "R2-upper-net-purchase", "purchases from the upper /17",
            {"selection": {"ip": {"cidr": "10.0.128.0/17"},
                           "action": "purchase_event"}},
            "selection", level="medium",
        ),
        Rule(
            "R3-signup-not-user1x", "signups excluding the user1* cohort",
            {"selection": {"action": {"startswith": "signup"}},
             "filter": {"actor": {"contains": "user1"}}},
            "selection and not filter", level="low",
        ),
        Rule(
            "R4-short-resource", "1-2 digit resource ids",
            {"selection": {"resource": {"re": "^doc:/r[0-9]{1,2}$"}}},
            "selection", level="low",
        ),
        Rule(
            "R5-verbose-not-user1x", "warn/debug outside the user1* cohort",
            {"a": {"severity": "warn"}, "b": {"severity": "debug"},
             "c": {"actor": {"contains": "user1"}}},
            "(a or b) and not c", level="low",
        ),
        Rule(
            "R6-deep-turns", "audit turns late in a conversation",
            {"selection": {"turn_idx": {"gt": 40},
                           "severity": {"re": "^(warn|error|critical)$"}}},
            "selection", level="medium",
        ),
    ]


def q_sigma_rules(spark, sf_dir):
    """Sigma-style rule-pack evaluation (operators/sigma.py): six
    declarative detection rules — equals/list-OR/contains/startswith/
    endswith/regex/CIDR/numeric-gt modifiers, boolean conditions with
    and/or/not/parens — compiled into ONE codegen'd projection over ONE
    scan of the parsed stream, alerts fanned out by a single explode
    (the router shape). The oracle runs the pack's own dual-rendered SQL
    predicates, value-pinning compiler, NULL-coalescing, and condition
    parser at once."""
    from hatchery_spark.operators.netenrich import extract_ipv4
    from hatchery_spark.operators.sigma import apply_rules

    src = parse_turns(transcripts(spark, sf_dir)).withColumn(
        "ip", F.nullif(extract_ipv4(F.col("text")), F.lit(""))
    )
    return apply_rules(src, _sigma_rules(), ["conv_id", "turn_idx"])


def _sigma_rules_oracle() -> str:
    from hatchery_spark.operators.sigma import rules_oracle_sql

    t = TRANSCRIPTS_SQL.format(events="events")
    src = f"""
        WITH t AS ({t})
        SELECT conv_id, turn_idx,
          nullif(regexp_extract(text, '{AUDIT_PATTERN}', 2), '') AS actor,
          nullif(regexp_extract(text, '{AUDIT_PATTERN}', 3), '') AS action,
          nullif(regexp_extract(text, '{AUDIT_PATTERN}', 4), '') AS resource,
          nullif(regexp_extract(text, '{AUDIT_PATTERN}', 1), '') AS severity,
          nullif(regexp_extract(text,
            '(\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}})', 1), '')
            AS ip
        FROM t"""
    return rules_oracle_sql(src, _sigma_rules(), ["conv_id", "turn_idx"])


# span fixture — binary-heap parent pointers per conversation, with every
# 23rd conversation's turn-5 subtree detached (parent 999 never exists) to
# exercise the orphan dead-letter path
SPANS_SQL = """
SELECT conv_id AS trace_id,
       cast(turn_idx AS int) AS span_id,
       CASE WHEN turn_idx = 0 THEN NULL
            WHEN turn_idx = 5 AND length(conv_id) % 23 = 7 THEN 999
            ELSE cast(floor((turn_idx - 1) / 2) AS int) END AS parent_id
FROM {t}
"""


def q_span_tree(spark, sf_dir):
    """Distributed trace assembly (operators/spans.py): flat parent-pointer
    spans → depth / root path / leaf flags via BFS level joins (no
    recursive CTE in Spark — the loop is DEPTH-bounded, each level one
    trace-keyed hash join over the persisted frontier). Orphaned subtrees
    (dropped parent span) surface as depth −1 dead letters. Oracle:
    DuckDB WITH RECURSIVE — an independent fixpoint evaluation."""
    from hatchery_spark.operators.spans import assemble_span_tree

    transcripts(spark, sf_dir).createOrReplaceTempView("hs_span_t")
    spans = spark.sql(SPANS_SQL.format(t="hs_span_t"))
    return assemble_span_tree(spans)


def _span_tree_oracle() -> str:
    from hatchery_spark.operators.spans import span_tree_oracle_sql

    t = TRANSCRIPTS_SQL.format(events="events")
    spans = SPANS_SQL.format(t=f"({t})")
    return span_tree_oracle_sql(spans)


# payload fixture: a mid-month upstream schema change is PLANTED — on
# 2024-01-16 the error payload's `code` flips string→number and a new
# `fatal` bool appears. Neutral SQL (substituted via replace, no .format
# brace-doubling); Spark re-derives the profile from the WIRE TEXT.
PAYLOADS_SQL = """
SELECT ts,
  CASE WHEN event_type = 'purchase' THEN
         concat('{"amount":', cast(cast(floor(value * 100) AS bigint) AS string),
                ',"cur":"USD"}')
       WHEN event_type = 'error' AND ts >= timestamp '2024-01-16 00:00:00' THEN
         concat('{"code":', cast(event_id % 500 AS string), ',"fatal":',
                CASE WHEN value > 150 THEN 'true' ELSE 'false' END, '}')
       WHEN event_type = 'error' THEN
         concat('{"code":"E', cast(event_id % 500 AS string), '"}')
       ELSE concat('{"page":"/r/', cast(event_id % 1000 AS string), '"}')
  END AS payload
FROM __EVENTS__
"""


def q_schema_drift(spark, sf_dir):
    """Schema-drift report (operators/drift.py): per-(day, key) type sets
    + counts profiled straight off the raw JSON wire text (two aligned
    regexp_extract_all passes — from_json would erase the very type
    signal drift needs), then a per-key day-over-day lag flags new keys
    and type flips. The fixture plants a mid-month upstream change; the
    oracle derives the expected profile from the GENERATING rule, never
    re-parsing the JSON — profiler and differ both value-pinned."""
    from hatchery_spark.operators.drift import schema_drift

    load(spark, sf_dir, "events").createOrReplaceTempView("hs_drift_ev")
    payloads = spark.sql(PAYLOADS_SQL.replace("__EVENTS__", "hs_drift_ev"))
    return schema_drift(payloads, "payload")


def _schema_drift_oracle() -> str:
    from hatchery_spark.operators.drift import drift_oracle_sql

    cut = "timestamp '2024-01-16 00:00:00'"
    prof = f"""
        SELECT date_trunc('day', ts) AS day, 'amount' AS key,
               'number' AS vtype, count(*) AS n
        FROM events WHERE event_type = 'purchase' GROUP BY 1
        UNION ALL
        SELECT date_trunc('day', ts), 'cur', 'string', count(*)
        FROM events WHERE event_type = 'purchase' GROUP BY 1
        UNION ALL
        SELECT date_trunc('day', ts), 'code', 'number', count(*)
        FROM events WHERE event_type = 'error' AND ts >= {cut} GROUP BY 1
        UNION ALL
        SELECT date_trunc('day', ts), 'fatal', 'bool', count(*)
        FROM events WHERE event_type = 'error' AND ts >= {cut} GROUP BY 1
        UNION ALL
        SELECT date_trunc('day', ts), 'code', 'string', count(*)
        FROM events WHERE event_type = 'error' AND ts < {cut} GROUP BY 1
        UNION ALL
        SELECT date_trunc('day', ts), 'page', 'string', count(*)
        FROM events WHERE event_type NOT IN ('purchase', 'error') GROUP BY 1"""
    return drift_oracle_sql(prof)


# deterministic processing-time jitter: mostly seconds-scale, every 11th
# event minutes-late, every 97th over the 10-minute watermark line
PROC_JITTER_SQL = (
    "5 + event_id % 7"
    " + CASE WHEN event_id % 11 = 0 THEN 120 ELSE 0 END"
    " + CASE WHEN event_id % 97 = 0 THEN 1200 ELSE 0 END"
)

# interval-add spells differently per engine: __ADD__ is
# timestampadd(SECOND, j, ts) on Spark, ts + to_seconds(j) on DuckDB
PROC_TS_SQL = """
SELECT event_type AS g, ts, __ADD__ AS proc_ts
FROM __EVENTS__
"""


def _proc_ts_sql(events: str, spark_dialect: bool) -> str:
    add = (
        f"timestampadd(SECOND, {PROC_JITTER_SQL}, ts)"
        if spark_dialect
        else f"ts + to_seconds({PROC_JITTER_SQL})"
    )
    return PROC_TS_SQL.replace("__ADD__", add).replace("__EVENTS__", events)


def q_lateness_stats(spark, sf_dir):
    """Event-time lateness profile (operators/telemetry.py): per
    (event_type, processing hour) integer-exact lag min/max/discrete-p95
    and the count a 10-minute watermark would have dropped — the
    measurement that justifies stream.py's withWatermark threshold.
    Deterministic jitter plants seconds-scale, minutes-late, and
    over-watermark cohorts."""
    from hatchery_spark.operators.telemetry import lateness_stats

    load(spark, sf_dir, "events").createOrReplaceTempView("hs_late_ev")
    df = spark.sql(_proc_ts_sql("hs_late_ev", spark_dialect=True))
    return lateness_stats(df, group_cols=["g"])


def _lateness_oracle() -> str:
    from hatchery_spark.operators.telemetry import lateness_oracle_sql

    return lateness_oracle_sql(
        _proc_ts_sql("events", spark_dialect=False), group_expr="g"
    )


def q_rollup_cascade(spark, sf_dir):
    """Continuous-aggregate cascade (operators/telemetry.py): raw events
    aggregate ONCE into minute buckets, then hours roll up from minutes
    and days from hours — every level closed under merge (count/sum/min/
    max; avg is derived at read time, never stored). The oracle computes
    the DAY level directly from raw rows, so the whole two-hop cascade
    must be exactly lossless."""
    from hatchery_spark.operators.telemetry import rollup_bucket, rollup_cascade

    ev = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        "ts",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    minutes = rollup_bucket(ev, "cents", ["g"], "minute")
    hours = rollup_cascade(minutes, ["g"], "hour")
    return rollup_cascade(hours, ["g"], "day")


def _rollup_cascade_oracle() -> str:
    from hatchery_spark.operators.telemetry import rollup_oracle_sql

    return rollup_oracle_sql(
        "SELECT event_type, ts, cast(floor(value * 100) AS bigint) AS cents"
        " FROM events",
        "cents",
        "event_type",
        "day",
    )


def q_tail_sample(spark, sf_dir):
    """Tail-based trace sampling (operators/telemetry.py): the keep/drop
    decision happens per TRACE after all spans are seen — error traces
    kept whole, slow traces kept whole, a deterministic md5-keyed 10% of
    the healthy rest. One shuffle, map-side partials; the baseline leg is
    stable under repartition (same traces on 8 or 1000 executors). Traces
    here are (conversation, day); severity comes off the parsed wire text.
    The oracle replays the decision from the generating rule."""
    from hatchery_spark.operators.telemetry import tail_sample_traces

    spans = parse_turns(transcripts(spark, sf_dir)).select(
        "conv_id",
        F.to_date("ts").cast("string").alias("trace_day"),
        "severity",
        "ts",
    )
    return tail_sample_traces(
        spans, ["conv_id", "trace_day"], slow_s=6 * 3600, rate=0.1
    )


def _tail_sample_oracle() -> str:
    from hatchery_spark.operators.telemetry import tail_sample_oracle_sql

    spans = """
        SELECT concat('conv-', cast(user_id AS varchar)) AS conv_id,
               cast(cast(ts AS date) AS varchar) AS trace_day,
               CASE WHEN event_id % 37 = 0 THEN NULL
                    WHEN value < 10 THEN 'debug' WHEN value < 50 THEN 'info'
                    WHEN value < 100 THEN 'warn' WHEN value < 200 THEN 'error'
                    ELSE 'critical' END AS severity,
               ts
        FROM events"""
    return tail_sample_oracle_sql(
        spans, ["conv_id", "trace_day"], slow_s=6 * 3600, rate=0.1
    )


def q_cef_parse(spark, sf_dir):
    """ArcSight CEF framing e2e (operators/cef.py): render every turn to
    a CEF line (header escapes \\| and \\\\ exercised by a pipes-and-
    backslash Name; extension escapes \\= exercised by the raw audit
    text riding in msg), then parse ONLY the line back. The oracle
    computes every field directly from the source turns — both encoder
    and decoder value-pinned; msg equality carries the per-turn text
    invariant through the frame. Both directions single codegen'd
    Projects — no UDF, no shuffle, no explode."""
    from hatchery_spark.operators.cef import parse_cef, render_cef

    lines = render_cef(transcripts(spark, sf_dir)).select("line")
    return parse_cef(lines)


def _cef_oracle() -> str:
    from hatchery_spark.operators.cef import cef_oracle_sql

    return cef_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


def q_mg_heavyhitters(spark, sf_dir):
    """Misra-Gries heavy hitters (operators/sketches.py, the fifth
    mergeable sketch family): per-shard MG-k summaries from EXACT shard
    counts (arrival-order-free, hence replayable), merged into one
    summary carrying its own exact error budget. The output certifies
    the classic MG sandwich per surviving key: est ≤ true ≤ est +
    deficit — both bounds checked against exact counts in-row. Plan:
    one (shard, key) partial agg + WindowGroupLimit rank cuts; the
    merge runs on ≤ shards·k rows."""
    from hatchery_spark.functions.graph import _md5_prefix_long
    from hatchery_spark.operators.sketches import (
        MG_SHARDS,
        mg_merge_all,
        mg_sketch,
    )

    t = transcripts(spark, sf_dir)
    rows = t.where(F.col("text").startswith("[")).select(
        F.regexp_extract("text", r"actor=(\S+)", 1).alias("actor"),
        F.pmod(
            _md5_prefix_long(
                F.concat_ws("#", F.col("conv_id"), F.col("turn_idx"))
            ),
            F.lit(MG_SHARDS),
        ).alias("shard"),
    )
    merged = mg_merge_all(mg_sketch(rows, F.col("actor"), F.col("shard")))
    exact = rows.groupBy(F.col("actor").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    return merged.join(exact, "key").select(
        "key", "est", "deficit", "true_n",
        (F.col("est") <= F.col("true_n")).alias("lower_ok"),
        (F.col("true_n") <= F.col("est") + F.col("deficit")).alias("upper_ok"),
    )


def _mg_oracle() -> str:
    from hatchery_spark.operators.sketches import mg_oracle_sql

    src = (
        ORACLE_PIPELINE_CTE
        + "SELECT conv_id, turn_idx,"
        + " regexp_extract(text, 'actor=(\\S+)', 1) AS actor"
        + " FROM transcripts WHERE text LIKE '[%'"
    )
    return mg_oracle_sql(
        src,
        "actor",
        "substr(md5(conv_id || '#' || cast(turn_idx AS varchar)), 1, 8)",
    )


def q_leef_parse(spark, sf_dir):
    """IBM QRadar LEEF 2.0 framing e2e (operators/leef.py): render every
    turn to a LEEF line — the attribute delimiter rotates between hex
    (``x09`` tab) and literal (``^``) header spellings by turn parity,
    exercising the parser's delimiter-resolution branch — then parse
    ONLY the line back. The oracle computes every field directly from
    the source turns, so either direction breaking (hex decode, attr
    split, header split) fails value equality; msg carries the per-turn
    text invariant through the frame. Both directions single codegen'd
    Projects — no UDF, no shuffle, no explode."""
    from hatchery_spark.operators.leef import parse_leef, render_leef

    lines = render_leef(transcripts(spark, sf_dir)).select("line")
    return parse_leef(lines)


def _leef_oracle() -> str:
    from hatchery_spark.operators.leef import leef_oracle_sql

    return leef_oracle_sql(TRANSCRIPTS_SQL.format(events="events"))


# ----------------------------------------------------------------------------
# connected components (large-star/small-star)
# ----------------------------------------------------------------------------


def q_graph_components(spark, sf_dir):
    """Connected components over the sparse event-derived graph via the
    alternating large-star/small-star iteration (Kiveris et al. SoCC'14).
    The fixpoint labels every node with its component MINIMUM — a quantity
    the oracle replays exactly with a recursive-CTE reachability closure,
    independent of how many rounds Spark needed to converge."""
    from hatchery_spark.functions.graph import (
        connected_components,
        derive_component_edges,
    )

    ev = load(spark, sf_dir, "events")
    return connected_components(derive_component_edges(ev))


def _graph_components_oracle() -> str:
    return f"""
WITH RECURSIVE
mm AS (SELECT cast(4 * count(*) AS bigint) AS m FROM events),
eh AS (SELECT substr(md5(concat('s', cast(event_id AS varchar))), 1, 8) AS hs,
              substr(md5(concat('d', cast(event_id AS varchar))), 1, 8) AS hd,
              mm.m AS m
       FROM events, mm),
cedges AS (SELECT cast(({_hex_decode_terms("hs")}) % m AS bigint) AS src,
                  cast(({_hex_decode_terms("hd")}) % m AS bigint) AS dst
           FROM eh),
cnodes AS (SELECT DISTINCT src AS node FROM cedges
           UNION SELECT dst FROM cedges),
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM cedges WHERE src <> dst),
sym AS (SELECT a AS u, b AS v FROM und UNION SELECT b, a FROM und),
reach(node, r) AS (
  SELECT node, node FROM cnodes
  UNION
  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.node
),
lab AS (SELECT node, min(r) AS comp FROM reach GROUP BY node)
SELECT node, comp, cast(count(*) OVER (PARTITION BY comp) AS int) AS comp_size
FROM lab"""


def q_bloom_join(spark, sf_dir):
    """Bloom-prefiltered fact⋈dim join: the dim subset's keys are folded
    into a broadcast Bloom bitmap and the orders table is pre-filtered in
    one zero-shuffle Arrow scan before the exact join. A deliberately tiny
    m (2^8 bits for ~60 keys → double-digit FP%) proves the exact join
    scrubs every false positive: the aggregate below value-matches the
    plain-join oracle at any m."""
    from hatchery_spark.operators.joins import bloom_join

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").where(
        "c_mktsegment = 'BUILDING' AND c_nationkey < 5"
    )
    j = bloom_join(orders, cust, "o_custkey", "c_custkey", m_bits=1 << 8)
    return j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_BLOOM_JOIN_ORACLE = """
SELECT c_nationkey, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND c_nationkey < 5
GROUP BY c_nationkey"""


def q_frequent_itemsets(spark, sf_dir):
    """Apriori frequent (tool:severity) itemsets of size 1..3 over
    per-conversation baskets, support floor 60% of conversations; candidate
    pruning is broadcast-semi at every level and result-neutral by support
    monotonicity, so the oracle's plain lattice replay agrees exactly."""
    from hatchery_spark.operators.itemsets import frequent_itemsets

    load(spark, sf_dir, "events").createOrReplaceTempView("hs_events")
    t = spark.sql(TRANSCRIPTS_VALUE_SQL.format(events="hs_events"))
    item = F.concat(
        F.col("tool"),
        F.lit(":"),
        F.when(F.col("value") < 10, "debug")
        .when(F.col("value") < 50, "info")
        .when(F.col("value") < 100, "warn")
        .when(F.col("value") < 200, "error")
        .otherwise("critical"),
    )
    return frequent_itemsets(t, item, min_support_pct=60, max_size=3)


def _frequent_itemsets_oracle() -> str:
    t = TRANSCRIPTS_VALUE_SQL.format(events="events")
    return f"""
WITH t AS ({t}),
items AS (SELECT DISTINCT conv_id AS bk,
            concat(tool, ':',
              CASE WHEN value < 10 THEN 'debug' WHEN value < 50 THEN 'info'
                   WHEN value < 100 THEN 'warn' WHEN value < 200 THEN 'error'
                   ELSE 'critical' END) AS item
          FROM t),
thr AS (SELECT cast(ceil(count(DISTINCT bk) * 60 / 100.0) AS bigint) AS s
        FROM items),
l1 AS (SELECT item, count(*) AS support FROM items GROUP BY item
       HAVING count(*) >= (SELECT s FROM thr)),
bf AS (SELECT i.bk, i.item FROM items i JOIN l1 USING (item)),
p AS (SELECT x.bk, x.item AS i1, y.item AS i2
      FROM bf x JOIN bf y ON x.bk = y.bk AND x.item < y.item),
l2 AS (SELECT i1, i2, count(*) AS support FROM p GROUP BY i1, i2
       HAVING count(*) >= (SELECT s FROM thr)),
pb AS (SELECT p.bk, p.i1, p.i2 FROM p JOIN l2 USING (i1, i2)),
tr AS (SELECT pb.bk, pb.i1, pb.i2, z.item AS i3
       FROM pb JOIN bf z ON z.bk = pb.bk AND z.item > pb.i2),
tr2 AS (SELECT tr.bk, tr.i1, tr.i2, tr.i3 FROM tr
        JOIN l2 a ON a.i1 = tr.i1 AND a.i2 = tr.i3
        JOIN l2 b ON b.i1 = tr.i2 AND b.i2 = tr.i3),
l3 AS (SELECT i1, i2, i3, count(*) AS support FROM tr2 GROUP BY i1, i2, i3
       HAVING count(*) >= (SELECT s FROM thr))
SELECT cast(1 AS int) AS sz, item AS i1, cast(NULL AS varchar) AS i2,
       cast(NULL AS varchar) AS i3, support FROM l1
UNION ALL SELECT 2, i1, i2, NULL, support FROM l2
UNION ALL SELECT 3, i1, i2, i3, support FROM l3"""


def q_sequence_match(spark, sf_dir):
    """Row-pattern detection over role-code sequences: >=2 consecutive tool
    turns resolved by an assistant turn (`t{2,}a`), matched non-overlapping
    per conversation."""
    from hatchery_spark.operators.transcripts import sequence_match

    return sequence_match(transcripts(spark, sf_dir), r"t{2,}a")


def _sequence_match_oracle() -> str:
    t = TRANSCRIPTS_SQL.format(events="events")
    return f"""
WITH t AS ({t}),
seq AS (SELECT conv_id, cast(count(*) AS int) AS n_turns,
               string_agg(substr(role, 1, 1), '' ORDER BY turn_idx) AS s
        FROM t GROUP BY conv_id)
SELECT conv_id, n_turns,
       cast(len(regexp_extract_all(s, 't{{2,}}a')) AS int) AS n_matches,
       regexp_extract_all(s, 't{{2,}}a') AS matches
FROM seq WHERE len(regexp_extract_all(s, 't{{2,}}a')) > 0"""


def q_zip_roundtrip(spark, sf_dir):
    """documents → 20 ZIP archives (store/deflate alternating by doc_id
    parity, in-repo DEFLATE both directions) → strict central-directory
    walk back out; text, method, CRC and size flags all oracle-pinned."""
    from hatchery_spark.functions.ziparc import zip_roundtrip_members

    return zip_roundtrip_members(load(spark, sf_dir, "documents"))


_ZIP_ROUNDTRIP_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'store' ELSE 'deflate' END AS method,
       true AS crc_ok, true AS size_ok, text
FROM documents"""


def q_docx_extract(spark, sf_dir):
    """Per-document DOCX build → ZIP walk → WordprocessingML text
    extraction (runs joined within paragraphs, paragraphs by newline);
    the two-run body split pins run rejoining byte-exact."""
    from hatchery_spark.functions.ziparc import docx_roundtrip

    return docx_roundtrip(load(spark, sf_dir, "documents"))


_DOCX_ORACLE = """
SELECT doc_id, cast(2 AS int) AS n_paragraphs,
       concat('doc-', cast(doc_id AS varchar), chr(10), text) AS text
FROM documents"""


def q_xlsx_roundtrip(spark, sf_dir):
    """orders → 10 one-sheet XLSX workbooks (shared-string, inline-string
    and numeric cells; repr-serialized doubles) → cell-reference rebuild.
    Every reconstructed value must equal the source column exactly."""
    from hatchery_spark.functions.xlsx import xlsx_roundtrip

    return xlsx_roundtrip(load(spark, sf_dir, "orders"))


_XLSX_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice
FROM orders"""


def q_rendezvous_shards(spark, sf_dir):
    """HRW shard map for every conversation at 8 and 9 shards with the
    moved flag — rendezvous hashing's minimal-movement rebalance, winner
    computed as a pure codegen struct-array argmax (no explode/shuffle)."""
    from hatchery_spark.operators.shards import rendezvous_reshard

    return rendezvous_reshard(transcripts(spark, sf_dir), "conv_id", 8, 9)


def _rendezvous_oracle() -> str:
    t = TRANSCRIPTS_SQL.format(events="events")
    return f"""
WITH t AS ({t}),
keys AS (SELECT DISTINCT conv_id AS key FROM t),
ex AS (SELECT key, r.s,
              md5(concat(key, ':', cast(r.s AS varchar))) AS h
       FROM keys, (SELECT unnest(range(9)) AS s) r),
a8 AS (SELECT key, cast(arg_max(s, h) AS int) AS shard_before
       FROM ex WHERE s < 8 GROUP BY key),
a9 AS (SELECT key, cast(arg_max(s, h) AS int) AS shard_after
       FROM ex GROUP BY key)
SELECT key, shard_before, shard_after, shard_before <> shard_after AS moved
FROM a8 JOIN a9 USING (key)"""


def q_csv_roundtrip(spark, sf_dir):
    """RFC 4180 CSV render (codegen quoting) → 10 file blobs → strict
    state-machine parse. The tricky field embeds commas, doubled quotes
    and a bare newline, so naive line-splitting or quote handling breaks
    the value match; the oracle replays the ORIGINAL field expression."""
    from hatchery_spark.functions.csvio import csv_roundtrip

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("event_id"),
        F.concat(
            F.lit("x,"), F.substring(F.col("props"), 1, 10), F.lit('"q"'),
            F.lit("\n"), F.col("event_type"),
        ).alias("tricky"),
        "event_type",
        F.col("event_id").alias("ord"),
    )
    rt = csv_roundtrip(
        ev, ["event_id", "tricky", "event_type"],
        F.pmod(F.col("ord"), F.lit(10)), "ord",
    )
    return rt.select(
        F.col("event_id_out").cast("long").alias("event_id"),
        F.col("tricky_out").alias("tricky"),
        F.col("event_type_out").alias("event_type"),
    )


_CSV_ROUNDTRIP_ORACLE = """
SELECT event_id,
       concat('x,', substr(props, 1, 10), '"q"', chr(10), event_type) AS tricky,
       event_type
FROM events"""


def q_kcore(spark, sf_dir):
    """3-core of the dense event-derived graph via simultaneous peeling to
    fixpoint; the oracle unrolls 18 peel rounds (> the rounds either SF
    needs) so both engines land on the same unique k-core."""
    from hatchery_spark.functions.graph import derive_dense_edges, kcore

    return kcore(derive_dense_edges(load(spark, sf_dir, "events")), k=3)


def _kcore_oracle(k: int = 3, rounds: int = 18) -> str:
    parts = [
        f"""
WITH mm AS (SELECT cast(count(*) // 2 AS bigint) AS m FROM events),
keh AS (SELECT substr(md5(concat('s', cast(event_id AS varchar))), 1, 8) AS hs,
               substr(md5(concat('d', cast(event_id AS varchar))), 1, 8) AS hd,
               mm.m AS m
        FROM events, mm),
kedges AS (SELECT cast(({_hex_decode_terms("hs")}) % m AS bigint) AS src,
                  cast(({_hex_decode_terms("hd")}) % m AS bigint) AS dst
           FROM keh),
e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       FROM kedges WHERE src <> dst)"""
    ]
    # every e{t} is referenced three times by round t+1 — without
    # MATERIALIZED, CTE inlining makes the plan 3^rounds large (observed as
    # a file-handle explosion re-scanning the base parquet)
    for t in range(1, rounds + 1):
        parts.append(f""",
d{t} AS MATERIALIZED (SELECT u, count(*) AS d FROM (
           SELECT a AS u FROM e{t - 1} UNION ALL SELECT b FROM e{t - 1})
         GROUP BY u HAVING count(*) >= {k}),
e{t} AS MATERIALIZED (SELECT a, b FROM e{t - 1}
         WHERE a IN (SELECT u FROM d{t}) AND b IN (SELECT u FROM d{t}))""")
    parts.append(f"""
SELECT u AS node, cast(count(*) AS int) AS degree FROM (
  SELECT a AS u FROM e{rounds} UNION ALL SELECT b FROM e{rounds})
GROUP BY u""")
    return "".join(parts)


def q_epub_extract(spark, sf_dir):
    """Per-document EPUB 3 build (stored-first mimetype, container→OPF→
    spine) → chapter text extraction; two-chapter split pins spine order."""
    from hatchery_spark.functions.ziparc import epub_roundtrip

    return epub_roundtrip(load(spark, sf_dir, "documents"))


_EPUB_ORACLE = """
SELECT doc_id, concat('book-', cast(doc_id AS varchar)) AS title,
       cast(2 AS int) AS n_chapters,
       concat(substr(text, 1, 40), chr(10), substr(text, 41)) AS text
FROM documents"""


def q_benford(spark, sf_dir):
    """Per-event-type Benford first-digit deviation over event_id+1 —
    integer-exact: shared fixed-point p_d constants, |O·10^9 − n·p_d|."""
    from hatchery_spark.operators.drift import benford_deviation

    ev = load(spark, sf_dir, "events")
    return benford_deviation(ev, F.col("event_id") + 1, "event_type")


def _benford_oracle() -> str:
    from hatchery_spark.operators.drift import BENFORD_P_SCALED

    p_case = " ".join(
        f"WHEN {d} THEN {BENFORD_P_SCALED[d]}" for d in range(1, 10)
    )
    return f"""
WITH src AS (SELECT event_type AS g,
                    cast(substr(cast(event_id + 1 AS varchar), 1, 1) AS int) AS digit
             FROM events),
cnt AS (SELECT g, digit, count(*) AS o FROM src GROUP BY g, digit),
tot AS (SELECT g, count(*) AS n FROM src GROUP BY g),
grid AS (SELECT tot.g, tot.n, dd.digit
         FROM tot, (SELECT unnest(range(1, 10)) AS digit) dd)
SELECT grid.g AS event_type, cast(grid.digit AS int) AS digit,
       coalesce(o, 0) AS observed,
       grid.n * (CASE grid.digit {p_case} END) AS expected_scaled,
       abs(coalesce(o, 0) * 1000000000
           - grid.n * (CASE grid.digit {p_case} END)) AS dev_scaled
FROM grid LEFT JOIN cnt ON cnt.g = grid.g AND cnt.digit = grid.digit"""


def q_pptx_extract(spark, sf_dir):
    """Per-document PPTX build → sldIdLst-ordered DrawingML text
    extraction; title + two-paragraph content slide pin ordering/joining.
    Completes the OOXML matrix (DOCX, XLSX, PPTX) on the in-repo ZIP."""
    from hatchery_spark.functions.xlsx import pptx_roundtrip

    return pptx_roundtrip(load(spark, sf_dir, "documents"))


_PPTX_ORACLE = """
SELECT doc_id, cast(2 AS int) AS n_slides,
       concat('deck-', cast(doc_id AS varchar), chr(10), chr(10),
              substr(text, 1, cast(length(text) // 2 AS int)), chr(10),
              substr(text, cast(length(text) // 2 AS int) + 1)) AS text
FROM documents"""


def q_quality_checks(spark, sf_dir):
    """Deequ-style suite over orders: completeness, key uniqueness, price
    range (one deliberately failing tight bound), priority regex, status
    membership (one deliberately excluding 'P'), FK integrity vs customer
    — row-level checks share ONE aggregate pass; exact violation counts."""
    from hatchery_spark.operators.quality import quality_checks

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    checks = [
        {"name": "custkey_complete", "type": "not_null", "col": "o_custkey"},
        {"name": "price_range_wide", "type": "range", "col": "o_totalprice",
         "min": 0.0, "max": 600000.0},
        {"name": "price_range_tight", "type": "range", "col": "o_totalprice",
         "min": 0.0, "max": 100000.0},
        {"name": "priority_shape", "type": "pattern", "col": "o_orderpriority",
         "regex": "^[1-5]-[A-Z ]+$"},
        {"name": "status_known", "type": "in_set", "col": "o_orderstatus",
         "values": ["O", "F", "P"]},
        {"name": "status_closed_only", "type": "in_set", "col": "o_orderstatus",
         "values": ["O", "F"]},
        {"name": "orderkey_unique", "type": "unique", "cols": ["o_orderkey"]},
        {"name": "custkey_fk", "type": "ref_integrity", "col": "o_custkey",
         "ref": "customer", "ref_col": "c_custkey"},
    ]
    return quality_checks(orders, checks, refs={"customer": cust})


_QUALITY_CHECKS_ORACLE = """
WITH n AS (SELECT count(*) AS n_rows FROM orders)
SELECT 'custkey_complete' AS check_name, 'not_null' AS check_type,
       (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS violations,
       n.n_rows, (SELECT count(*) FROM orders WHERE o_custkey IS NULL) <= 0
         AS passed FROM n
UNION ALL SELECT 'price_range_wide', 'range',
       (SELECT count(*) FROM orders
        WHERE o_totalprice IS NOT NULL
          AND (o_totalprice < 0 OR o_totalprice > 600000)),
       n.n_rows,
       (SELECT count(*) FROM orders
        WHERE o_totalprice IS NOT NULL
          AND (o_totalprice < 0 OR o_totalprice > 600000)) <= 0 FROM n
UNION ALL SELECT 'price_range_tight', 'range',
       (SELECT count(*) FROM orders
        WHERE o_totalprice IS NOT NULL
          AND (o_totalprice < 0 OR o_totalprice > 100000)),
       n.n_rows,
       (SELECT count(*) FROM orders
        WHERE o_totalprice IS NOT NULL
          AND (o_totalprice < 0 OR o_totalprice > 100000)) <= 0 FROM n
UNION ALL SELECT 'priority_shape', 'pattern',
       (SELECT count(*) FROM orders
        WHERE o_orderpriority IS NOT NULL
          AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')),
       n.n_rows,
       (SELECT count(*) FROM orders
        WHERE o_orderpriority IS NOT NULL
          AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')) <= 0
       FROM n
UNION ALL SELECT 'status_known', 'in_set',
       (SELECT count(*) FROM orders
        WHERE o_orderstatus IS NOT NULL
          AND o_orderstatus NOT IN ('O', 'F', 'P')),
       n.n_rows,
       (SELECT count(*) FROM orders
        WHERE o_orderstatus IS NOT NULL
          AND o_orderstatus NOT IN ('O', 'F', 'P')) <= 0 FROM n
UNION ALL SELECT 'status_closed_only', 'in_set',
       (SELECT count(*) FROM orders
        WHERE o_orderstatus IS NOT NULL
          AND o_orderstatus NOT IN ('O', 'F')),
       n.n_rows,
       (SELECT count(*) FROM orders
        WHERE o_orderstatus IS NOT NULL
          AND o_orderstatus NOT IN ('O', 'F')) <= 0 FROM n
UNION ALL SELECT 'orderkey_unique', 'unique',
       (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders),
       n.n_rows,
       (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) <= 0 FROM n
UNION ALL SELECT 'custkey_fk', 'ref_integrity',
       (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
       n.n_rows,
       (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer)) <= 0 FROM n"""


def q_theta_setops(spark, sf_dir):
    """Theta-sketch set operations over two actor-resource sets (browsing
    vs converting events): union/intersection/difference estimated from
    two k=64 KMV sketches with θ = min(θ_A, θ_B) — all-BIGINT arithmetic,
    exact-degenerate when a side fits its sketch."""
    from hatchery_spark.operators.sketches import kmv_theta_setops

    ev = load(spark, sf_dir, "events")
    key = F.concat(
        F.col("user_id").cast("string"), F.lit(":"),
        (F.col("event_id") % 97).cast("string"),
    )
    a = ev.where(F.col("event_type").isin("click", "view"))
    b = ev.where(F.col("event_type").isin("purchase", "error"))
    return kmv_theta_setops(a, b, key, key, k=64)


def _theta_setops_oracle() -> str:
    from hatchery_spark.operators.sketches import theta_setops_oracle_sql

    key = "concat(cast(user_id AS varchar), ':', cast(event_id % 97 AS varchar))"
    return theta_setops_oracle_sql(
        "SELECT * FROM events WHERE event_type IN ('click', 'view')",
        "SELECT * FROM events WHERE event_type IN ('purchase', 'error')",
        key, key, k=64,
    )


def q_tfrecord_roundtrip(spark, sf_dir):
    """documents → TFRecord shards of tf.train.Example (masked-CRC32C
    framing, packed Int64List + BytesList features) → parse back with
    per-record CRC verification."""
    from hatchery_spark.functions.tfrecord import tfrecord_roundtrip

    return tfrecord_roundtrip(load(spark, sf_dir, "documents"))


_TFRECORD_ORACLE = r"""
SELECT doc_id,
       cast(len(list_filter(regexp_split_to_array(text, '[ \t\n\f\r\x0b]+'),
                            x -> x <> '')) AS int) AS n_tokens,
       true AS crc_ok, text
FROM documents"""


def q_arrow_ipc_roundtrip(spark, sf_dir):
    """Per-shard Arrow IPC stream serialize → parse: the zero-copy
    interchange wire format for non-JVM consumers, content-pinned."""
    from hatchery_spark.functions.tfrecord import arrow_ipc_roundtrip

    return arrow_ipc_roundtrip(load(spark, sf_dir, "documents"))


_ARROW_IPC_ORACLE = """
SELECT doc_id, cast(1 AS int) AS n_batches, text FROM documents"""


def q_bzip2_decode(spark, sf_dir):
    """documents → real bzip2 archives (stdlib bz2 encoder, levels 1/9 by
    doc parity) → from-scratch decoder (functions/bzip2.py): Huffman
    selectors, MTF, inverse BWT, RLE1, both CRCs. Text equality pins it."""
    import bz2 as _bz2

    from hatchery_spark.functions.bzip2 import bzip2_decode_col

    docs = load(spark, sf_dir, "documents")

    def _enc(batches):
        import pandas as pd

        for b in batches:
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "blob": [
                        _bz2.compress(t.encode("utf-8"), 1 if i % 2 == 0 else 9)
                        for i, t in zip(b["doc_id"], b["text"])
                    ],
                }
            )

    blobs = docs.select("doc_id", "text").mapInPandas(
        _enc, "doc_id long, blob binary"
    )
    return bzip2_decode_col(blobs).select("doc_id", "text", "n_bytes", "ok")


_BZIP2_ORACLE = """
SELECT doc_id, text, cast(strlen(text) AS bigint) AS n_bytes, true AS ok
FROM documents"""


def q_xz_decode(spark, sf_dir):
    """Every 4th document → real .xz archives (stdlib liblzma encoder,
    preset 1/6 and CRC32/CRC64 checks rotating by doc parity) →
    from-scratch LZMA2 range decoder + container walk (functions/xz.py).
    The doc_id%4 subset and preset cap keep the pure-Python range decoder
    (inherently ~100 KB/s) a bounded bench row — the decoder itself is
    pinned on the FULL preset/check matrix incl. 9|EXTREME in pytest."""
    import lzma as _lzma

    from hatchery_spark.functions.xz import xz_decode_col

    docs = load(spark, sf_dir, "documents").where("doc_id % 4 = 0")

    def _enc(batches):
        import pandas as pd

        for b in batches:
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "blob": [
                        _lzma.compress(
                            t.encode("utf-8"),
                            format=_lzma.FORMAT_XZ,
                            check=_lzma.CHECK_CRC32 if i % 2 == 0
                            else _lzma.CHECK_CRC64,
                            preset=1 if i % 8 < 4 else 6,
                        )
                        for i, t in zip(b["doc_id"], b["text"])
                    ],
                }
            )

    blobs = docs.select("doc_id", "text").mapInPandas(
        _enc, "doc_id long, blob binary"
    )
    return xz_decode_col(blobs).select("doc_id", "text", "n_bytes", "ok")


_XZ_ORACLE = """
SELECT doc_id, text, cast(strlen(text) AS bigint) AS n_bytes, true AS ok
FROM documents WHERE doc_id % 4 = 0"""
