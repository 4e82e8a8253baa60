r"""Kafka RecordBatch v2 wire framing: render transcript turns into the
log-shipper interchange format (one batch per conversation) and parse
the batches back — encode is ONE conv_id shuffle (applyInPandas), decode
is a shuffle-free mapInPandas explode; CRC32C failures dead-letter the
whole batch, exactly as a consumer must.

The batch layout is the public Kafka protocol's magic-2 record batch
(KIP-98 era, documented in the Apache Kafka protocol guide):

    baseOffset        int64   big-endian
    batchLength       int32   bytes AFTER this field
    partitionLeaderEpoch int32
    magic             int8    (=2)
    crc               uint32  CRC32C of everything after this field
    attributes        int16   bits 0-2 = compression codec
    lastOffsetDelta   int32
    baseTimestamp     int64   (ms)
    maxTimestamp      int64   (ms)
    producerId        int64
    producerEpoch     int16
    baseSequence      int32
    recordCount       int32
    records           bytes   (codec-compressed record stream)

Each record in the stream is varint-framed with ZIGZAG varints:

    length attributes(int8) timestampDelta offsetDelta
    keyLen key valueLen value headerCount [hdrKeyLen hdrKey hdrValLen hdrVal]*

The interesting engineering here is the codec matrix: the batch
compressors are the package's OWN from-scratch codecs — snappy
(functions/snappy.py), LZ4 frame (functions/lz4.py), zstd decode
(functions/zstd_dec.py, pyarrow's bundled zstd on the encode side only)
— plus stdlib gzip, rotated per conversation (user_id % 5), so one
query exercises every decoder against wire data it did not write
itself via gzip and zstd, and self-roundtrips the rest.

The batch CRC is CRC32C (Castagnoli, reflected poly 0x82F63B78), NOT
zlib.crc32; it and the varints come from functions/npwire.py, and the
CRC is pinned against the RFC 3720 check vector. A
deterministic tamper fixture flips the last byte of every batch whose
user_id % 17 == 3: the consumer detects the mismatch and emits a
dead-letter row carrying only the frame-level base_offset (no field of
a corrupt batch is trusted). base_offset = user_id * 1_000_000 is
data-derived, so the oracle can replay the dead-letter rows too.

Reference analog: the raw-source decode stage hatchery's per-SaaS
clients run before field extraction (source/*/client.go); scale shape:
encode's only exchange is the per-conversation grouping (batches are
conversation-bounded, never corpus-sized); decode touches each batch
once with no shuffle at all.
"""

from __future__ import annotations

import gzip
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hatchery_spark.functions.lz4 import lz4_frame_compress, lz4_frame_decompress
from hatchery_spark.functions.npwire import (
    crc32c,
    read_uvarint,
    unzigzag,
    write_uvarint,
    zigzag,
)
from hatchery_spark.functions.snappy import snappy_compress, snappy_decompress
from hatchery_spark.functions.zstd_dec import zstd_decompress

MAGIC = 2
CODEC_NAMES = ["none", "gzip", "snappy", "lz4", "zstd"]

def _compress(codec: int, raw: bytes) -> bytes:
    if codec == 0:
        return raw
    if codec == 1:
        return gzip.compress(raw, compresslevel=6, mtime=0)
    if codec == 2:
        return snappy_compress(raw)
    if codec == 3:
        return lz4_frame_compress(raw)
    if codec == 4:
        import pyarrow as pa

        return bytes(pa.Codec("zstd", compression_level=3).compress(raw))
    raise ValueError(f"kafka: unknown codec {codec}")


def _decompress(codec: int, buf: bytes) -> bytes:
    if codec == 0:
        return buf
    if codec == 1:
        return gzip.decompress(buf)
    if codec == 2:
        return snappy_decompress(buf)
    if codec == 3:
        return lz4_frame_decompress(buf)
    if codec == 4:
        return zstd_decompress(buf)
    raise ValueError(f"kafka: unknown codec {codec}")


def encode_batch(
    base_offset: int,
    codec: int,
    rows: list[tuple[int, int, bytes, bytes, list[tuple[bytes, bytes]]]],
) -> bytes:
    """rows = [(offset_delta, ts_ms, key, value, headers)] sorted by
    offset_delta; returns one wire batch."""
    base_ts = min(r[1] for r in rows)
    max_ts = max(r[1] for r in rows)
    stream = bytearray()
    for off_d, ts_ms, key, value, headers in rows:
        body = bytearray()
        body.append(0)  # record attributes (unused by the protocol today)
        write_uvarint(body, zigzag(ts_ms - base_ts))
        write_uvarint(body, zigzag(off_d))
        write_uvarint(body, zigzag(len(key)))
        body += key
        write_uvarint(body, zigzag(len(value)))
        body += value
        write_uvarint(body, zigzag(len(headers)))
        for hk, hv in headers:
            write_uvarint(body, zigzag(len(hk)))
            body += hk
            write_uvarint(body, zigzag(len(hv)))
            body += hv
        rec = bytearray()
        write_uvarint(rec, zigzag(len(body)))
        stream += rec + body
    payload = _compress(codec, bytes(stream))

    after_crc = bytearray()
    after_crc += struct.pack(">hiqqqhii", codec, rows[-1][0], base_ts, max_ts,
                             -1, -1, -1, len(rows))
    after_crc += payload
    crc = crc32c(bytes(after_crc))
    body2 = struct.pack(">iBI", 0, MAGIC, crc) + after_crc  # epoch, magic, crc
    return struct.pack(">qi", base_offset, len(body2)) + body2


def decode_batch(buf: bytes) -> dict:
    """Parse one wire batch; crc_ok=False ⇒ only base_offset is trusted
    and no records are returned (the dead-letter contract)."""
    base_offset, batch_len = struct.unpack_from(">qi", buf, 0)
    if batch_len + 12 != len(buf):
        return {"base_offset": base_offset, "crc_ok": False, "records": []}
    _epoch, magic, crc = struct.unpack_from(">iBI", buf, 12)
    if magic != MAGIC or crc32c(buf[21:]) != crc:
        return {"base_offset": base_offset, "crc_ok": False, "records": []}
    codec, last_off, base_ts, _max_ts, _pid, _pep, _bseq, n_rec = \
        struct.unpack_from(">hiqqqhii", buf, 21)
    codec &= 0x07
    stream = _decompress(codec, buf[21 + struct.calcsize(">hiqqqhii"):])
    pos, records = 0, []
    for _ in range(n_rec):
        length, pos = read_uvarint(stream, pos)
        end = pos + unzigzag(length)
        _attr = stream[pos]
        pos += 1
        ts_d, pos = read_uvarint(stream, pos)
        off_d, pos = read_uvarint(stream, pos)
        ts_d, off_d = unzigzag(ts_d), unzigzag(off_d)
        klen, pos = read_uvarint(stream, pos)
        klen = unzigzag(klen)
        key = bytes(stream[pos:pos + klen]) if klen >= 0 else None
        pos += max(klen, 0)
        vlen, pos = read_uvarint(stream, pos)
        vlen = unzigzag(vlen)
        value = bytes(stream[pos:pos + vlen]) if vlen >= 0 else None
        pos += max(vlen, 0)
        n_hdr, pos = read_uvarint(stream, pos)
        headers = {}
        for _ in range(unzigzag(n_hdr)):
            hklen, pos = read_uvarint(stream, pos)
            hklen = unzigzag(hklen)
            hk = stream[pos:pos + hklen].decode()
            pos += hklen
            hvlen, pos = read_uvarint(stream, pos)
            hvlen = unzigzag(hvlen)
            headers[hk] = bytes(stream[pos:pos + hvlen])
            pos += hvlen
        if pos != end:
            raise ValueError("kafka: record length mismatch")
        records.append(
            {"offset_delta": off_d, "ts_ms": base_ts + ts_d, "key": key,
             "value": value, "headers": headers}
        )
    if records and records[-1]["offset_delta"] != last_off:
        raise ValueError("kafka: lastOffsetDelta mismatch")
    return {"base_offset": base_offset, "crc_ok": True,
            "codec": CODEC_NAMES[codec], "records": records}


# ---------------------------------------------------------------------------
# DataFrame surface
# ---------------------------------------------------------------------------


def write_record_batches(turns: DataFrame, tamper_every: int = 17) -> DataFrame:
    """transcript turns → (batch binary) — one batch per conversation,
    codec = user_id % 5, base_offset = user_id * 1_000_000; batches of
    conversations with user_id % tamper_every == 3 get their last byte
    flipped (the deterministic corruption fixture, replayed — never
    parsed — by the oracle). ONE shuffle: the conv_id grouping."""
    prepared = turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role", "text", "tool",
        # ts arrives TIMESTAMP_NTZ from parquet; session TZ is UTC so the
        # cast is identity and matches DuckDB's naive epoch_ms
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.substring("conv_id", 6, 32).cast("long").alias("_uid"),
    )

    def _encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx")
        uid = int(pdf["_uid"].iloc[0])
        rows = [
            (ti, ts, cid.encode(), tx.encode(),
             [(b"role", ro.encode()), (b"tool", to.encode())])
            for ti, ts, cid, tx, ro, to in zip(
                pdf["turn_idx"].tolist(), pdf["ts_ms"].tolist(),
                pdf["conv_id"].tolist(), pdf["text"].tolist(),
                pdf["role"].tolist(), pdf["tool"].tolist(),
            )
        ]
        buf = bytearray(encode_batch(uid * 1_000_000, uid % 5, rows))
        if uid % tamper_every == 3:
            buf[-1] ^= 0xFF
        return pd.DataFrame({"batch": [bytes(buf)]})

    from hatchery_spark.functions.udx import grouped_apply

    # one Python call per partition, not per conversation (grouped_apply):
    # at thousands of 1-row output groups the applyInPandas per-group
    # frame setup dominated the encode stage
    return grouped_apply(prepared, ["conv_id"], _encode, "batch binary")


def read_record_batches(df: DataFrame, batch_col: str = "batch") -> DataFrame:
    """Wire batches → one row per record, or one dead-letter row per
    corrupt batch (crc_ok=false, frame-level base_offset only). No
    shuffle — each batch is self-contained."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("base_offset", "crc_ok", "codec", "conv_id", "turn_idx",
                    "role", "tool", "text", "ts_ms")}

            def push(bo, ok, codec=None, conv=None, ti=None, role=None,
                     tool=None, text=None, ts=None):
                out["base_offset"].append(bo)
                out["crc_ok"].append(ok)
                out["codec"].append(codec)
                out["conv_id"].append(conv)
                out["turn_idx"].append(ti)
                out["role"].append(role)
                out["tool"].append(tool)
                out["text"].append(text)
                out["ts_ms"].append(ts)

            for raw in pdf[batch_col]:
                b = decode_batch(bytes(raw))
                if not b["crc_ok"]:
                    push(b["base_offset"], False)
                    continue
                for r in b["records"]:
                    push(b["base_offset"], True, b["codec"],
                         r["key"].decode(), r["offset_delta"],
                         r["headers"]["role"].decode(),
                         r["headers"]["tool"].decode(),
                         r["value"].decode(), r["ts_ms"])
            yield pd.DataFrame(out)

    return df.mapInPandas(
        _decode,
        "base_offset bigint, crc_ok boolean, codec string, conv_id string, "
        "turn_idx int, role string, tool string, text string, ts_ms bigint",
    )


def kafka_oracle_sql(transcripts_sql: str, tamper_every: int = 17) -> str:
    """DuckDB replay: good rows are the source turns verbatim (codec and
    base_offset are user_id arithmetic); corrupt batches are replayed
    from the tamper predicate as one dead-letter row per conversation.
    The wire bytes are never touched."""
    return f"""
        WITH t AS ({transcripts_sql}),
        u AS (
          SELECT *, cast(substring(conv_id, 6) AS bigint) AS uid FROM t
        )
        SELECT uid * 1000000 AS base_offset, true AS crc_ok,
               CASE uid % 5 WHEN 0 THEN 'none' WHEN 1 THEN 'gzip'
                    WHEN 2 THEN 'snappy' WHEN 3 THEN 'lz4'
                    ELSE 'zstd' END AS codec,
               conv_id, turn_idx, role, tool, text,
               epoch_ms(ts) AS ts_ms
        FROM u WHERE uid % {tamper_every} != 3
        UNION ALL
        SELECT DISTINCT uid * 1000000, false,
               NULL, NULL, NULL, NULL, NULL, NULL, NULL
        FROM u WHERE uid % {tamper_every} = 3"""
