"""ORC file-tail reader: protobuf wire format + ORC chunk framing.

The ORC counterpart of ``parquet_meta`` (Thrift) — ORC's metadata is
protocol-buffers (orc-format's orc_proto.proto): the file ends with

    ... [metadata][footer][postscript][u8 postscript_len]

* **postscript** (never compressed): footerLength(1), compression(2),
  compressionBlockSize(3), version(4), metadataLength(5), magic "ORC".
* **footer** (compressed with the file's codec, in ORC's chunked
  framing: 3-byte LE header ``(len << 1) | is_original`` per chunk):
  contentLength, stripes (offset/indexLength/dataLength/footerLength/
  numberOfRows), types (kind + subtypes + fieldNames), numberOfRows,
  per-column statistics (IntStatistics min/max sint64-zigzag,
  StringStatistics min/max, hasNull).

The protobuf reader is generic (varint / 64-bit / length-delimited /
32-bit wire types) and written from the public encoding spec.

Interop is the point: Spark's native ORC writer compresses footers
with SNAPPY (its default codec) and zlib — so this reader routes
through the repo's from-scratch snappy and DEFLATE decoders, giving
both codecs real third-party bytes to chew on (Java snappy / zlib
encoders), and the parsed statistics are value-pinned by the SQL
oracle against the source table.

Scale shape: tails are KB-sized and parse inside the task holding the
file bytes; row data never moves.
"""

from __future__ import annotations

from typing import Any

from hatchery_spark.functions.npwire import read_uvarint, unzigzag

_COMPRESSION = {0: "NONE", 1: "ZLIB", 2: "SNAPPY", 3: "LZO", 4: "LZ4", 5: "ZSTD"}
_TYPE_KIND = {
    0: "BOOLEAN", 1: "BYTE", 2: "SHORT", 3: "INT", 4: "LONG", 5: "FLOAT",
    6: "DOUBLE", 7: "STRING", 8: "BINARY", 9: "TIMESTAMP", 10: "LIST",
    11: "MAP", 12: "STRUCT", 13: "UNION", 14: "DECIMAL", 15: "DATE",
    16: "VARCHAR", 17: "CHAR", 18: "TIMESTAMP_INSTANT",
}


def parse_protobuf(buf: bytes) -> dict[int, list[Any]]:
    """Generic protobuf message → {field_number: [raw values]}; nested
    messages stay as bytes for the caller to parse."""
    out: dict[int, list[Any]] = {}
    pos = 0
    while pos < len(buf):
        tag, pos = read_uvarint(buf, pos)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            v, pos = read_uvarint(buf, pos)
        elif wire == 1:
            v = int.from_bytes(buf[pos : pos + 8], "little")
            pos += 8
        elif wire == 2:
            ln, pos = read_uvarint(buf, pos)
            v = buf[pos : pos + ln]
            pos += ln
        elif wire == 5:
            v = int.from_bytes(buf[pos : pos + 4], "little")
            pos += 4
        else:
            raise ValueError(f"orc: unsupported protobuf wire type {wire}")
        out.setdefault(field, []).append(v)
    return out


def _one(msg: dict, field: int, default=None):
    return msg[field][0] if field in msg else default


def _decompress_stream(buf: bytes, compression: str) -> bytes:
    """ORC compressed-stream framing: 3-byte LE chunk headers,
    LSB = is_original."""
    if compression == "NONE":
        return buf
    out = bytearray()
    pos = 0
    while pos < len(buf):
        hdr = int.from_bytes(buf[pos : pos + 3], "little")
        pos += 3
        ln, original = hdr >> 1, hdr & 1
        chunk = buf[pos : pos + ln]
        pos += ln
        if original:
            out += chunk
        elif compression == "SNAPPY":
            from hatchery_spark.functions.snappy import snappy_decompress

            out += snappy_decompress(chunk)
        elif compression == "ZLIB":  # raw deflate per the ORC spec
            from hatchery_spark.functions.inflate import inflate

            out += inflate(chunk)
        elif compression == "ZSTD":
            from hatchery_spark.functions.zstd_dec import zstd_decompress

            out += zstd_decompress(chunk)
        elif compression == "LZ4":
            from hatchery_spark.functions.lz4 import lz4_block_decompress

            out += lz4_block_decompress(chunk)
        else:
            raise ValueError(f"orc: unsupported compression {compression}")
    return bytes(out)


def read_orc_tail(buf: bytes) -> dict[str, Any]:
    """Postscript + footer → structured dict (stripes, schema,
    per-column statistics)."""
    try:
        return _read_orc_tail(buf)
    except IndexError as e:
        raise ValueError(f"orc: truncated or corrupt tail ({e})") from e


def _read_orc_tail(buf: bytes) -> dict[str, Any]:
    ps_len = buf[-1]
    ps = parse_protobuf(buf[-1 - ps_len : -1])
    magic = _one(ps, 8000, b"").decode("latin1")
    if magic != "ORC":
        raise ValueError("orc: bad postscript magic")
    compression = _COMPRESSION.get(_one(ps, 2, 0), "?")
    footer_len = _one(ps, 1)
    footer_end = len(buf) - 1 - ps_len
    raw_footer = buf[footer_end - footer_len : footer_end]
    footer = parse_protobuf(_decompress_stream(raw_footer, compression))
    stripes = []
    for sb in footer.get(3, []):
        sm = parse_protobuf(sb)
        stripes.append(
            {
                "offset": _one(sm, 1),
                "index_length": _one(sm, 2),
                "data_length": _one(sm, 3),
                "footer_length": _one(sm, 4),
                "num_rows": _one(sm, 5),
            }
        )
    types = []
    for tb in footer.get(4, []):
        tm = parse_protobuf(tb)
        types.append(
            {
                "kind": _TYPE_KIND.get(_one(tm, 1, 0), "?"),
                "subtypes": tm.get(2, []),
                "field_names": [b.decode() for b in tm.get(3, [])],
            }
        )
    stats = []
    for cb in footer.get(7, []):
        cm = parse_protobuf(cb)
        st: dict[str, Any] = {"num_values": _one(cm, 1)}
        if 2 in cm:  # IntStatistics
            im = parse_protobuf(cm[2][0])
            st["min"] = unzigzag(_one(im, 1)) if 1 in im else None
            st["max"] = unzigzag(_one(im, 2)) if 2 in im else None
        if 4 in cm:  # StringStatistics
            sm2 = parse_protobuf(cm[4][0])
            st["min"] = sm2[1][0].decode() if 1 in sm2 else None
            st["max"] = sm2[2][0].decode() if 2 in sm2 else None
        stats.append(st)
    return {
        "compression": compression,
        "num_rows": _one(footer, 6),
        "content_length": _one(footer, 2),
        "stripes": stripes,
        "types": types,
        "statistics": stats,
    }
