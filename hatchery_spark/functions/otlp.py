r"""OTLP trace export framing: render transcript turns as OpenTelemetry
`TracesData` protobuf blobs (one blob per conversation = one trace) and
decode them back with the package's generic protobuf walker
(functions/orc_meta.py parse_protobuf) — the third telemetry wire
format after syslog/GELF and the Kafka record batch.

The message layout follows the public opentelemetry-proto schema
(trace/v1/trace.proto):

    TracesData        { repeated ResourceSpans resource_spans = 1 }
    ResourceSpans     { Resource resource = 1; repeated ScopeSpans scope_spans = 2 }
    Resource          { repeated KeyValue attributes = 1 }
    ScopeSpans        { repeated Span spans = 2 }
    Span              { bytes trace_id=1; bytes span_id=2;
                        bytes parent_span_id=4; string name=5;
                        SpanKind kind=6; fixed64 start_time_unix_nano=7;
                        fixed64 end_time_unix_nano=8;
                        repeated KeyValue attributes=9; Status status=15 }
    Status            { string message=2; StatusCode code=3 }
    KeyValue          { string key=1; AnyValue value=2 }
    AnyValue          { oneof { string string_value=1; int64 int_value=3 } }

Identity is fully data-derived so the oracle can replay every field:
trace_id = md5(conv_id) (16 bytes), span_id = first 8 bytes of
md5('conv_id:turn_idx'), parent = previous turn's span (turn 0 is the
root and omits field 4 — proto3 presence-by-omission); start nanos =
epoch_ms(ts)·10⁶, end = start + len(text)·10⁶ (a deterministic
duration); kind maps the role (user→CLIENT, assistant/system→SERVER,
tool→INTERNAL); status ERROR iff the turn renders at error/critical
severity, with the status message carrying the turn text (the per-turn
text-equality invariant through the wire).

Scale shape: encode = ONE conv_id shuffle (traces are
conversation-bounded); decode = shuffle-free mapInPandas, one pass per
blob. All varints here are UNSIGNED protobuf varints (no zigzag — the
schema has no sint fields); fixed64 timestamps exercise the walker's
wire-type-1 path.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hatchery_spark.functions.npwire import write_uvarint
from hatchery_spark.functions.orc_meta import _one, parse_protobuf

KIND = {"user": 3, "assistant": 2, "system": 2, "tool": 1}  # CLIENT/SERVER/INTERNAL
KIND_NAME = {3: "CLIENT", 2: "SERVER", 1: "INTERNAL"}
STATUS_OK, STATUS_ERROR = 1, 2


def _tag(out: bytearray, field: int, wire: int) -> None:
    write_uvarint(out, (field << 3) | wire)


def _ld(out: bytearray, field: int, payload: bytes) -> None:
    _tag(out, field, 2)
    write_uvarint(out, len(payload))
    out += payload


def _varint_field(out: bytearray, field: int, n: int) -> None:
    _tag(out, field, 0)
    write_uvarint(out, n)


def _fixed64(out: bytearray, field: int, n: int) -> None:
    _tag(out, field, 1)
    out += n.to_bytes(8, "little")


def _kv_str(key: str, val: str) -> bytes:
    av = bytearray()
    _ld(av, 1, val.encode())            # AnyValue.string_value
    kv = bytearray()
    _ld(kv, 1, key.encode())
    _ld(kv, 2, bytes(av))
    return bytes(kv)


def _kv_int(key: str, val: int) -> bytes:
    av = bytearray()
    _varint_field(av, 3, val)           # AnyValue.int_value
    kv = bytearray()
    _ld(kv, 1, key.encode())
    _ld(kv, 2, bytes(av))
    return bytes(kv)


def encode_trace(conv_id: str, turns: list[tuple[int, str, str, str, int]]) -> bytes:
    """turns = [(turn_idx, role, text, tool, ts_ms)] sorted by turn_idx →
    one TracesData blob."""
    trace_id = hashlib.md5(conv_id.encode()).digest()
    spans = bytearray()
    for turn_idx, role, text, tool, ts_ms in turns:
        span = bytearray()
        _ld(span, 1, trace_id)
        _ld(span, 2, hashlib.md5(f"{conv_id}:{turn_idx}".encode()).digest()[:8])
        if turn_idx > 0:
            _ld(span, 4,
                hashlib.md5(f"{conv_id}:{turn_idx - 1}".encode()).digest()[:8])
        _ld(span, 5, tool.encode())                       # name
        _varint_field(span, 6, KIND.get(role, 0))
        _fixed64(span, 7, ts_ms * 1_000_000)
        _fixed64(span, 8, (ts_ms + len(text)) * 1_000_000)
        _ld(span, 9, _kv_int("turn_idx", turn_idx))
        _ld(span, 9, _kv_str("role", role))
        status = bytearray()
        _ld(status, 2, text.encode())                      # Status.message
        is_err = text.startswith("[error]") or text.startswith("[critical]")
        _varint_field(status, 3, STATUS_ERROR if is_err else STATUS_OK)
        _ld(span, 15, bytes(status))
        _ld(spans, 2, bytes(span))                         # ScopeSpans.spans

    resource = bytearray()
    _ld(resource, 1, _kv_str("service.name", f"hatchery:{conv_id}"))
    rs = bytearray()
    _ld(rs, 1, bytes(resource))
    _ld(rs, 2, bytes(spans))                               # scope_spans (one)
    td = bytearray()
    _ld(td, 1, bytes(rs))
    return bytes(td)


def decode_traces(blob: bytes) -> list[dict]:
    """TracesData blob → one dict per span, via the generic walker."""
    out = []
    td = parse_protobuf(blob)
    for rs_raw in td.get(1, []):
        rs = parse_protobuf(rs_raw)
        resource = parse_protobuf(_one(rs, 1, b""))
        service = None
        for kv_raw in resource.get(1, []):
            kv = parse_protobuf(kv_raw)
            if _one(kv, 1, b"").decode() == "service.name":
                service = _one(parse_protobuf(_one(kv, 2, b"")), 1, b"").decode()
        for ss_raw in rs.get(2, []):
            ss = parse_protobuf(ss_raw)
            for sp_raw in ss.get(2, []):
                sp = parse_protobuf(sp_raw)
                attrs = {}
                for kv_raw in sp.get(9, []):
                    kv = parse_protobuf(kv_raw)
                    av = parse_protobuf(_one(kv, 2, b""))
                    key = _one(kv, 1, b"").decode()
                    attrs[key] = (
                        _one(av, 1).decode() if 1 in av else _one(av, 3)
                    )
                status = parse_protobuf(_one(sp, 15, b""))
                parent = _one(sp, 4)
                out.append({
                    "service": service,
                    "trace_id": _one(sp, 1, b"").hex(),
                    "span_id": _one(sp, 2, b"").hex(),
                    "parent_span_id": parent.hex() if parent else None,
                    "name": _one(sp, 5, b"").decode(),
                    "kind": KIND_NAME.get(_one(sp, 6, 0), "UNSPECIFIED"),
                    "start_ms": _one(sp, 7, 0) // 1_000_000,
                    "end_ms": _one(sp, 8, 0) // 1_000_000,
                    "status_code": _one(status, 3, 0),
                    "status_message": _one(status, 2, b"").decode(),
                    "turn_idx": attrs.get("turn_idx"),
                    "role": attrs.get("role"),
                })
    return out


# ---------------------------------------------------------------------------
# DataFrame surface
# ---------------------------------------------------------------------------


def write_otlp_traces(turns: DataFrame) -> DataFrame:
    """transcript turns → (blob binary), one TracesData per conversation.
    ONE shuffle (the conv_id grouping)."""
    prepared = turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role", "text", "tool",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )

    def _encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        rows = list(zip(  # plain-int/str lists beat numpy-scalar itertuples
            pdf["turn_idx"].tolist(), pdf["role"].tolist(),
            pdf["text"].tolist(), pdf["tool"].tolist(),
            pdf["ts_ms"].tolist(),
        ))
        return pd.DataFrame(
            {"blob": [encode_trace(pdf["conv_id"].iloc[0], rows)]}
        )

    from hatchery_spark.functions.udx import grouped_apply

    # one Python call per partition, not per conversation (see udx)
    return grouped_apply(prepared, ["conv_id"], _encode, "blob binary")


def read_otlp_traces(df: DataFrame, blob_col: str = "blob") -> DataFrame:
    """TracesData blobs → one row per span. Shuffle-free."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf[blob_col]:
                rows.extend(decode_traces(bytes(raw)))
            yield pd.DataFrame(
                rows,
                columns=["service", "trace_id", "span_id", "parent_span_id",
                         "name", "kind", "start_ms", "end_ms", "status_code",
                         "status_message", "turn_idx", "role"],
            )

    return df.mapInPandas(
        _decode,
        "service string, trace_id string, span_id string, "
        "parent_span_id string, name string, kind string, start_ms bigint, "
        "end_ms bigint, status_code int, status_message string, "
        "turn_idx int, role string",
    )


def otlp_oracle_sql(transcripts_sql: str) -> str:
    """DuckDB replay: every span field recomputed from the source turns
    (md5 ids, kind map, nano arithmetic, severity→status). The protobuf
    bytes are never touched."""
    return f"""
        WITH t AS ({transcripts_sql})
        SELECT
          'hatchery:' || conv_id AS service,
          md5(conv_id) AS trace_id,
          substring(md5(conv_id || ':' || cast(turn_idx AS varchar)), 1, 16)
            AS span_id,
          CASE WHEN turn_idx > 0 THEN
            substring(md5(conv_id || ':' || cast(turn_idx - 1 AS varchar)), 1, 16)
          END AS parent_span_id,
          tool AS name,
          CASE role WHEN 'user' THEN 'CLIENT' WHEN 'tool' THEN 'INTERNAL'
               ELSE 'SERVER' END AS kind,
          epoch_ms(ts) AS start_ms,
          epoch_ms(ts) + length(text) AS end_ms,
          CASE WHEN text LIKE '[error]%' OR text LIKE '[critical]%'
               THEN {STATUS_ERROR} ELSE {STATUS_OK} END AS status_code,
          text AS status_message,
          turn_idx, role
        FROM t"""
