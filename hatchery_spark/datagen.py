"""Deterministic, shuffle-free synthetic transcripts generator.

Produces the input table shape mandated by BASELINE.json `input_hint`:
    transcripts(conv_id string, turn_idx int, role string, text string,
                tool string, ts timestamp)

Design points (all scale-minded):
  * Every column is a pure expression of `spark.range(n)`'s id + a seed — no RNG
    state, no wall clock, no shuffle. The same (n, seed) gives byte-identical
    data at any parallelism, which is what lets bench compare local[8] vs
    local[32] on the identical input. (The reference's crypto-random slug —
    /root/reference/pkg/metadata/data.go:22-34 — is deliberately NOT copied;
    determinism follows its sha256 slug pattern instead,
    /root/reference/source/falcon_data_replicator/client.go:200-204.)
  * Conversations are contiguous id ranges, so turn_idx is plain modular
    arithmetic (no window shuffle) and ts is monotone within each conv.
  * Skew: a few "whale" conversations hold ~15% of all rows, to exercise salted
    repartition + AQE skew handling downstream.
  * `text` embeds a grok-able audit line (modeled on the Slack audit entry shape
    the reference crawls, /root/reference/source/slack/testdata/resp1.json) with
    ~3% non-matching prose rows, mirroring the `schemaHint = "unknown"` fallback
    (/root/reference/source/falcon_data_replicator/client.go:195-198).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEVERITIES = ["debug", "info", "info", "info", "info", "warn", "warn", "error", "critical"]
ROLES = ["user", "assistant", "system", "tool"]
ACTIONS = [
    "file_shared",
    "user_login",
    "token_created",
    "message_posted",
    "permission_granted",
    "file_downloaded",
    "config_changed",
    "secret_accessed",
]
RESOURCE_TYPES = ["file", "channel", "vault", "token", "workspace"]
# 10 catalogued tools + 2 intentionally absent from the service catalog (~join misses)
CATALOG_TOOLS = [
    "slack",
    "one_password",
    "falcon",
    "twilio",
    "github",
    "gdrive",
    "okta",
    "zoom",
    "jira",
    "pagerduty",
]
MISS_TOOLS = ["shadowtool", "legacy_sync"]
ALL_TOOLS = CATALOG_TOOLS + MISS_TOOLS

N_WHALES = 5
WHALE_FRACTION = 0.15


def _pick(seed_tag: int, options: list[str], seed: int):
    """Deterministic element choice from a list, keyed on row id + seed."""
    arr = F.array(*[F.lit(o) for o in options])
    idx = F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(seed_tag)), F.lit(len(options)))
    return F.element_at(arr, (idx + 1).cast("int"))


def transcripts_df(
    spark: SparkSession,
    n_rows: int,
    n_convs: int | None = None,
    seed: int = 42,
    start_ts: str = "2025-06-01 00:00:00",
    span_hours: int = 72,
    num_partitions: int | None = None,
) -> DataFrame:
    """Build the synthetic transcripts DataFrame (lazy; nothing is executed)."""
    if n_convs is None:
        n_convs = max(10, n_rows // 40)
    n_convs = min(n_convs, n_rows)
    whale_rows = int(n_rows * WHALE_FRACTION)
    n_whales = min(N_WHALES, n_convs)
    whale_size = max(1, whale_rows // n_whales)
    tail_convs = max(1, n_convs - n_whales)
    tail_rows = n_rows - n_whales * whale_size
    base_size = max(1, (tail_rows + tail_convs - 1) // tail_convs)

    df = spark.range(0, n_rows, 1, num_partitions or spark.sparkContext.defaultParallelism)

    whale_cut = n_whales * whale_size
    in_whale = F.col("id") < whale_cut
    conv_rank = F.when(in_whale, (F.col("id") / whale_size).cast("long")).otherwise(
        n_whales + ((F.col("id") - whale_cut) / base_size).cast("long")
    )
    turn_idx = F.when(in_whale, F.col("id") % whale_size).otherwise(
        (F.col("id") - whale_cut) % base_size
    )

    severity = _pick(1, SEVERITIES, seed)
    action = _pick(2, ACTIONS, seed)
    rtype = _pick(3, RESOURCE_TYPES, seed)
    role = _pick(4, ROLES, seed)
    tool = _pick(5, ALL_TOOLS, seed)
    actor_id = F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(6)), F.lit(5000))
    res_id = F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(8)), F.lit(100000))
    ip_a = F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(9)), F.lit(256))
    ip_b = F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(10)), F.lit(256))

    audit_line = F.format_string(
        "[%s] actor=user%d@example.com action=%s resource=%s:/r%d ip=10.0.%d.%d session end of line",
        severity,
        actor_id,
        action,
        rtype,
        res_id,
        ip_a,
        ip_b,
    )
    prose = F.format_string(
        "free form discussion turn number %d with no audit payload at all", F.col("id")
    )
    is_prose = F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(11)), F.lit(100)) < 3

    step_secs = (span_hours * 3600) / max(n_rows, 1)
    ts = F.to_timestamp(F.lit(start_ts)) + F.make_dt_interval(
        secs=(F.col("id") * F.lit(step_secs))
    )

    return df.select(
        F.format_string("conv-%08d", conv_rank).alias("conv_id"),
        turn_idx.cast("int").alias("turn_idx"),
        role.alias("role"),
        F.when(is_prose, prose).otherwise(audit_line).alias("text"),
        # ~2% null tool (reference payloads without a known source)
        F.when(
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(12)), F.lit(100)) < 2, F.lit(None)
        )
        .otherwise(tool)
        .alias("tool"),
        ts.alias("ts"),
    )


def service_catalog_rows() -> list[tuple[str, str, str, str, str]]:
    """Static (tool, role, service, category, default_severity) lookup.

    Mirrors the reference's four per-SaaS source configs (/root/reference/source/*/)
    generalized to 10 tools x 4 roles. Tiny by construction → always broadcast.
    """
    category = {
        "slack": "chat",
        "one_password": "secrets",
        "falcon": "edr",
        "twilio": "telephony",
        "github": "scm",
        "gdrive": "storage",
        "okta": "idp",
        "zoom": "chat",
        "jira": "ticketing",
        "pagerduty": "oncall",
    }
    default_sev = {"user": "info", "assistant": "info", "system": "warn", "tool": "debug"}
    return [
        (tool, role, tool, category[tool], default_sev[role])
        for tool in CATALOG_TOOLS
        for role in ROLES
    ]


def service_catalog_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        service_catalog_rows(),
        schema="tool string, role string, service string, category string, default_severity string",
    )
