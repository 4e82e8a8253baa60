"""Parquet footer reader: Thrift compact protocol, from the public spec.

The pipeline's scan-pruning story (footer min/max skipping, the Z-order
row, partition pruning) rests on what lives in the parquet footer; this
module reads it directly — a from-scratch Thrift *compact protocol*
parser (THRIFT-110 spec) plus the FileMetaData field layout from
apache/parquet-format's parquet.thrift — so footer contents are a
first-class, queryable surface rather than something only the engine
sees.

Layout recap: a parquet file ends with ``[metadata][u32 len]['PAR1']``;
the metadata is one compact-protocol ``FileMetaData`` struct:

  FileMetaData: 1 version(i32), 2 schema(list<SchemaElement>),
                3 num_rows(i64), 4 row_groups(list<RowGroup>),
                6 created_by(string)
  RowGroup:     1 columns(list<ColumnChunk>), 2 total_byte_size(i64),
                3 num_rows(i64)
  ColumnChunk:  2 file_offset(i64), 3 meta_data(ColumnMetaData)
  ColumnMetaData: 1 type(enum), 4 codec(enum), 5 num_values(i64),
                6 total_uncompressed_size, 7 total_compressed_size,
                9 data_page_offset, 12 statistics(Statistics)
  Statistics:   1 max(binary, deprecated), 2 min(binary, deprecated),
                3 null_count(i64), 5 max_value, 6 min_value

Compact protocol: ULEB128 varints, zigzag ints, struct field headers
``(id_delta << 4) | type`` with a long form when the delta overflows,
list headers ``(size << 4) | elem_type`` with a varint escape at 15.

Verification: row-group statistics are value-pinned by the SQL oracle
over the same deterministic grouping, and pytest cross-checks this
parser against DuckDB's ``parquet_metadata()`` — an independent
implementation — on real files.

Scale shape: footers are KB-sized; parsing happens inside the same
Arrow batch task that holds the blob. Nothing here touches row data.
"""

from __future__ import annotations

from typing import Any

from hatchery_spark.functions.npwire import read_uvarint, unzigzag

MAGIC = b"PAR1"

_PARQUET_TYPES = {
    0: "BOOLEAN",
    1: "INT32",
    2: "INT64",
    3: "INT96",
    4: "FLOAT",
    5: "DOUBLE",
    6: "BYTE_ARRAY",
    7: "FIXED_LEN_BYTE_ARRAY",
}
_CODECS = {
    0: "UNCOMPRESSED",
    1: "SNAPPY",
    2: "GZIP",
    3: "LZO",
    4: "BROTLI",
    5: "LZ4",
    6: "ZSTD",
    7: "LZ4_RAW",
}

# compact-protocol wire types
_STOP, _TRUE, _FALSE, _BYTE, _I16, _I32, _I64 = 0, 1, 2, 3, 4, 5, 6
_DOUBLE, _BINARY, _LIST, _SET, _MAP, _STRUCT = 7, 8, 9, 10, 11, 12


def _read_value(buf: bytes, pos: int, vtype: int) -> tuple[Any, int]:
    if vtype in (_TRUE, _FALSE):  # bool as a container ELEMENT is a byte
        return buf[pos] == 1, pos + 1
    if vtype == _BYTE:
        b = buf[pos]
        return b - 256 if b >= 128 else b, pos + 1
    if vtype in (_I16, _I32, _I64):
        n, pos = read_uvarint(buf, pos)
        return unzigzag(n), pos
    if vtype == _DOUBLE:
        import struct as _s

        return _s.unpack("<d", buf[pos : pos + 8])[0], pos + 8
    if vtype == _BINARY:
        ln, pos = read_uvarint(buf, pos)
        return buf[pos : pos + ln], pos + ln
    if vtype in (_LIST, _SET):
        hdr = buf[pos]
        pos += 1
        size, etype = hdr >> 4, hdr & 0x0F
        if size == 15:
            size, pos = read_uvarint(buf, pos)
        out = []
        for _ in range(size):
            v, pos = _read_value(buf, pos, etype)
            out.append(v)
        return out, pos
    if vtype == _MAP:
        size, pos = read_uvarint(buf, pos)
        if size == 0:
            return {}, pos
        kv = buf[pos]
        pos += 1
        ktype, etype = kv >> 4, kv & 0x0F
        out = {}
        for _ in range(size):
            k, pos = _read_value(buf, pos, ktype)
            v, pos = _read_value(buf, pos, etype)
            out[k] = v
        return out, pos
    if vtype == _STRUCT:
        return _read_struct(buf, pos)
    raise ValueError(f"thrift: unknown wire type {vtype}")


def _read_struct(buf: bytes, pos: int) -> tuple[dict[int, Any], int]:
    out: dict[int, Any] = {}
    last_id = 0
    while True:
        hdr = buf[pos]
        pos += 1
        if hdr == _STOP:
            return out, pos
        delta, vtype = hdr >> 4, hdr & 0x0F
        if delta:
            fid = last_id + delta
        else:  # long form: zigzag field id follows
            n, pos = read_uvarint(buf, pos)
            fid = unzigzag(n)
        last_id = fid
        if vtype in (_TRUE, _FALSE):  # bool value lives in the header
            out[fid] = vtype == _TRUE
        else:
            out[fid], pos = _read_value(buf, pos, vtype)


def read_footer(buf: bytes) -> dict[int, Any]:
    """Raw FileMetaData as nested ``{field_id: value}`` dicts."""
    if buf[:4] != MAGIC or buf[-4:] != MAGIC:
        raise ValueError("not a parquet file (missing PAR1 magic)")
    meta_len = int.from_bytes(buf[-8:-4], "little")
    start = len(buf) - 8 - meta_len
    if start < 4:
        raise ValueError("parquet footer length overruns file")
    meta, _ = _read_struct(buf, start)
    return meta


#: ConvertedType enum values we render logically (parquet.thrift)
_CT_DATE, _CT_TS_MILLIS, _CT_TS_MICROS = 6, 9, 10


def _schema_converted_types(meta: dict[int, Any]) -> dict[str, int]:
    """Walk the flattened pre-order schema tree (FileMetaData field 2)
    into ``{dotted.path: converted_type}`` using num_children (field 5)."""
    elems = meta.get(2, [])
    out: dict[str, int] = {}
    pos = 1  # elems[0] is the root

    def walk(prefix: str, n_children: int) -> None:
        nonlocal pos
        for _ in range(n_children):
            el = elems[pos]
            pos += 1
            name = el.get(4, b"").decode()
            path = f"{prefix}.{name}" if prefix else name
            if 6 in el:
                out[path] = el[6]
            kids = el.get(5, 0)
            if kids:
                walk(path, kids)

    if elems:
        walk("", elems[0].get(5, 0))
    return out


def _decode_stat(
    raw: bytes | None, ptype: str, converted: int | None = None
) -> str | None:
    """Plain-encoded min/max statistic → display string (logical
    rendering for timestamp/date converted types)."""
    if raw is None:
        return None
    if ptype in ("INT32", "INT64") and converted in (
        _CT_DATE,
        _CT_TS_MILLIS,
        _CT_TS_MICROS,
    ):
        import datetime as _dt

        n = int.from_bytes(raw, "little", signed=True)
        if converted == _CT_DATE:
            d = _dt.date(1970, 1, 1) + _dt.timedelta(days=n)
            return d.isoformat()
        us = n * 1000 if converted == _CT_TS_MILLIS else n
        t = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=us)
        s = t.strftime("%Y-%m-%d %H:%M:%S.%f").rstrip("0").rstrip(".")
        return s
    if ptype == "INT32":
        return str(int.from_bytes(raw, "little", signed=True))
    if ptype == "INT64":
        return str(int.from_bytes(raw, "little", signed=True))
    if ptype == "DOUBLE":
        import struct as _s

        return repr(_s.unpack("<d", raw)[0])
    if ptype == "FLOAT":
        import struct as _s

        import numpy as np

        return str(np.float32(_s.unpack("<f", raw)[0]))
    if ptype == "BYTE_ARRAY":
        return raw.decode("utf-8", errors="replace")
    return raw.hex()


def footer_summary(buf: bytes) -> list[dict[str, Any]]:
    """One row per (row_group, column chunk): the queryable footer."""
    meta = read_footer(buf)
    ctypes = _schema_converted_types(meta)
    rows: list[dict[str, Any]] = []
    for rg_idx, rg in enumerate(meta.get(4, [])):
        for col in rg.get(1, []):
            cm = col.get(3)
            if cm is None:
                continue
            ptype = _PARQUET_TYPES.get(cm.get(1), f"?{cm.get(1)}")
            stats = cm.get(12, {})
            # prefer the new min_value/max_value (5/6) over deprecated 1/2
            mn = stats.get(6, stats.get(2))
            mx = stats.get(5, stats.get(1))
            path = ".".join(p.decode() for p in cm.get(3, []))
            ct = ctypes.get(path)
            rows.append(
                {
                    "rg_idx": rg_idx,
                    "rg_num_rows": rg.get(3),
                    "column": path,
                    "ptype": ptype,
                    "codec": _CODECS.get(cm.get(4), f"?{cm.get(4)}"),
                    "num_values": cm.get(5),
                    "null_count": stats.get(3),
                    "stat_min": _decode_stat(mn, ptype, ct),
                    "stat_max": _decode_stat(mx, ptype, ct),
                }
            )
    return rows
