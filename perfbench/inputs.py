"""Seeded benchmark inputs, generated by the benchmark itself.

Nothing here imports ``hatchery_spark``: a change to the program cannot move
the inputs. The same seed gives byte-identical tables. The properties the
pipeline's cost depends on are fixed here and recorded in ``PROPERTIES``:

* 15% of rows sit in 5 whale conversations (write-side skew);
* about 3% of rows are prose that the audit parse misses;
* about 2% of rows have a NULL ``tool``;
* 2 of the 12 tools are absent from the service catalog (enrich misses).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

PROPERTIES = {
    "whale_convs": 5,
    "whale_row_frac": 0.15,
    "prose_frac": 0.03,
    "null_tool_frac": 0.02,
    "tools": 12,
    "tools_missing_from_catalog": 2,
    "turns_per_tail_conv": 40,
    "span_hours": 72,
}

START_US = 1_748_736_000_000_000  # 2025-06-01 00:00:00 UTC, in microseconds
HOUR_US = 3_600_000_000

SEVERITIES = ("debug", "info", "info", "info", "info", "warn", "warn", "error", "critical")
ROLES = ("user", "assistant", "system", "tool")
ACTIONS = (
    "file_shared", "user_login", "token_created", "message_posted",
    "permission_granted", "file_downloaded", "config_changed", "secret_accessed",
)
RESOURCE_TYPES = ("file", "channel", "vault", "token", "workspace")
CATALOG_CATEGORY = {
    "slack": "chat", "one_password": "secrets", "falcon": "edr",
    "twilio": "telephony", "github": "scm", "gdrive": "storage", "okta": "idp",
    "zoom": "chat", "jira": "ticketing", "pagerduty": "oncall",
}
MISS_TOOLS = ("shadowtool", "legacy_sync")
TOOLS = tuple(CATALOG_CATEGORY) + MISS_TOOLS
DEFAULT_SEVERITY = {"user": "info", "assistant": "info", "system": "warn", "tool": "debug"}

CATALOG_DDL = (
    "tool string, role string, service string, category string, default_severity string"
)
CATALOG_ROWS = [
    (tool, role, tool, CATALOG_CATEGORY[tool], DEFAULT_SEVERITY[role])
    for tool in CATALOG_CATEGORY
    for role in ROLES
]

# The four DEFAULT_ROUTES predicates of hatchery_spark.config, copied so a
# program change cannot move what the benchmark routes.
ROUTE_PREDICATES = (
    ("sec-alerts", "severity IN ('error','critical')"),
    ("chat-archive", "category = 'chat'"),
    ("auth-audit", "action IN ('user_login','token_created','permission_granted')"),
    ("firehose-sample", "pmod(xxhash64(conv_id, turn_idx), 100) < 5"),
)
ROUTE_IDS = tuple(r for r, _ in ROUTE_PREDICATES)

WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch line "
    "sort window spark order data column join small customer query stream "
    "filter group big vector"
).split()
LANGS = ("en", "en", "en", "de", "fr", "ja", "zh")


# --------------------------------------------------------------------------
# Spark's xxhash64 (seed 42), so the reference can evaluate the firehose route
# --------------------------------------------------------------------------

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _round(lane: np.ndarray) -> np.ndarray:
    return _rotl(lane * _P2, 31) * _P1


def xxh64_fixed(data: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of each row of an (n, L) uint8 array, L < 32, one seed per row.
    (Inputs of 32 bytes or more take a striped path this benchmark never
    needs.)"""
    n, length = data.shape
    if length >= 32:
        raise ValueError("xxh64_fixed handles rows shorter than 32 bytes")

    def words(off: int, width: int) -> np.ndarray:
        chunk = np.ascontiguousarray(data[:, off:off + width])
        return chunk.view(np.uint64 if width == 8 else np.uint32).reshape(n).astype(np.uint64)

    with np.errstate(over="ignore"):
        off = 0
        h = seed + _P5 + np.uint64(length)
        while off + 8 <= length:
            h = _rotl(h ^ _round(words(off, 8)), 27) * _P1 + _P4
            off += 8
        if off + 4 <= length:
            h = _rotl(h ^ (words(off, 4) * _P1), 23) * _P2 + _P3
            off += 4
        while off < length:
            h = _rotl(h ^ (data[:, off].astype(np.uint64) * _P5), 11) * _P1
            off += 1
        return _fmix(h)


def spark_xxhash64_str_int(strings: pa.StringArray, ints: np.ndarray) -> np.ndarray:
    """Spark ``xxhash64(s, i)`` for equal-length strings and int32s, as
    signed int64."""
    n = len(strings)
    offsets = np.frombuffer(strings.buffers()[1], np.int32)[strings.offset:][: n + 1]
    width = int(offsets[1] - offsets[0]) if n else 0
    if n and not (np.diff(offsets) == width).all():
        raise ValueError("strings must all have the same byte length")
    raw = np.frombuffer(strings.buffers()[2], np.uint8)[offsets[0]:offsets[0] + n * width]
    h = xxh64_fixed(raw.reshape(n, width), np.full(n, 42, np.uint64))
    as_bytes = ints.astype("<i4").view(np.uint8).reshape(len(ints), 4)
    return xxh64_fixed(as_bytes, h).view(np.int64)


# --------------------------------------------------------------------------
# transcripts
# --------------------------------------------------------------------------


@dataclass
class Transcripts:
    """One generated transcripts table plus the reference-only columns."""

    table: pa.Table  # conv_id, turn_idx, role, text, tool, ts — sorted by ts
    ts_us: np.ndarray  # int64 microseconds, for window references
    firehose: np.ndarray  # bool: pmod(xxhash64(conv_id, turn_idx), 100) < 5

    @property
    def rows(self) -> int:
        return self.table.num_rows


def _pick(rng: np.random.Generator, options: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(options).take(pa.array(rng.integers(0, len(options), n)))


def _ints(values: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def make_transcripts(rows: int, seed: int) -> Transcripts:
    """``rows`` turns over 72 hours. Whale conversations are spread over the
    whole span; turn_idx follows ts within each conversation."""
    rng = np.random.default_rng([seed, 1])
    n_tail = max(1, rows // PROPERTIES["turns_per_tail_conv"])
    whales = PROPERTIES["whale_convs"]
    in_whale = rng.random(rows) < PROPERTIES["whale_row_frac"]
    conv = np.where(
        in_whale, rng.integers(0, whales, rows), whales + rng.integers(0, n_tail, rows)
    )
    span = PROPERTIES["span_hours"] * HOUR_US
    ts_us = np.sort(START_US + rng.integers(0, span, rows))
    order = np.lexsort((ts_us, conv))  # by conv, then ts
    turn = np.empty(rows, np.int64)
    sorted_conv = conv[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_conv)) + 1]
    run_len = np.diff(np.r_[starts, rows])
    turn[order] = np.arange(rows) - np.repeat(starts, run_len)
    turn = turn.astype(np.int32)
    conv_ids = pc.binary_join_element_wise(
        "conv-", pc.utf8_lpad(_ints(conv), 8, "0"), ""
    )

    audit = pc.binary_join_element_wise(
        "[", _pick(rng, SEVERITIES, rows), "] actor=user",
        _ints(rng.integers(0, 5000, rows)), "@example.com action=",
        _pick(rng, ACTIONS, rows), " resource=", _pick(rng, RESOURCE_TYPES, rows),
        ":/r", _ints(rng.integers(0, 100_000, rows)), " ip=10.0.",
        _ints(rng.integers(0, 256, rows)), ".", _ints(rng.integers(0, 256, rows)),
        " session end of line", "",
    )
    prose = pc.binary_join_element_wise(
        "free form discussion turn number ", _ints(np.arange(rows)),
        " with no audit payload at all", "",
    )
    is_prose = rng.random(rows) < PROPERTIES["prose_frac"]
    null_tool = rng.random(rows) < PROPERTIES["null_tool_frac"]
    table = pa.table(
        {
            "conv_id": conv_ids,
            "turn_idx": pa.array(turn),
            "role": _pick(rng, ROLES, rows),
            "text": pc.if_else(pa.array(is_prose), prose, audit),
            "tool": pc.if_else(
                pa.array(null_tool), pa.scalar(None, pa.string()), _pick(rng, TOOLS, rows)
            ),
            "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        }
    )
    firehose = spark_xxhash64_str_int(conv_ids, turn) % 100 < 5
    return Transcripts(table=table, ts_us=ts_us, firehose=firehose)


def fingerprint(table: pa.Table) -> str:
    """Row count plus a content hash over the table's column buffers."""
    digest = hashlib.blake2b(digest_size=8)
    for column in table.combine_chunks().columns:
        for buf in column.chunk(0).buffers():
            if buf is not None:
                digest.update(buf)
    return f"{table.num_rows}:{digest.hexdigest()}"


def write_files(table: pa.Table, path: str, files: int) -> None:
    """Split ``table`` into ``files`` equal parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * per, per),
                       os.path.join(path, f"part-{i:05d}.parquet"), compression="zstd")


def write_dt_partitioned(table: pa.Table, ts_us: np.ndarray, path: str) -> None:
    """Hive ``dt=YYYY-MM-DD`` partitions, rows sorted by ts, small row groups,
    so a ts window prunes row groups the way it does on the real table."""
    day = (ts_us - START_US) // (24 * HOUR_US)
    for d in np.unique(day):
        lo, hi = np.searchsorted(day, [d, d + 1])
        dt = np.datetime64(START_US // 1_000_000, "s") + np.timedelta64(int(d), "D")
        part = os.path.join(path, f"dt={str(dt)[:10]}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(
            table.slice(lo, hi - lo), os.path.join(part, "part-00000.parquet"),
            compression="zstd", row_group_size=65_536,
        )


# --------------------------------------------------------------------------
# documents (codec catalog input)
# --------------------------------------------------------------------------


def make_documents(docs: int, seed: int) -> pa.Table:
    """``documents`` table in the shape the codec queries read: short
    word-salad texts over a small vocabulary, as in the project's test data."""
    rng = np.random.default_rng([seed, 2])
    lengths = rng.integers(10, 90, docs)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(chunk) for chunk in np.split(words, cuts)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, docs),
            "source": pa.array([f"src{i % 7}" for i in range(docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
