"""Avro Object Container File (OCF) reader + writer, stdlib-only.

The sandbox's PySpark ships without the external spark-avro module, but an
analytics engine for heterogeneous lakes cannot be parquet/ORC-bound —
Avro is the dominant row-oriented interchange format (Kafka dumps, sqoop
exports). This implements the public Avro 1.11 specification directly:

* OCF framing: ``Obj\\x01`` magic, metadata map (``avro.schema`` JSON,
  ``avro.codec``), 16-byte sync marker, then blocks of
  (record count, byte size, payload, sync) — spec §"Object Container
  Files". Codecs: ``null`` and ``deflate`` (raw zlib, RFC 1951).
* Binary encoding: zigzag-varint ints/longs, little-endian IEEE
  float/double, length-prefixed bytes/strings, index-prefixed unions,
  block-framed arrays/maps, records as field concatenation — spec
  §"Binary Encoding". Logical types timestamp-micros and date pass
  through as their underlying long/int.

Distribution model mirrors the WARC/mbox pairs: the writer builds one OCF
blob per ``file_id`` group (applyInPandas, one shuffle, deterministic
membership/order), the reader splits blocks and decodes records inside
mapInPandas — per-task work is bounded by file size, and a production
deployment points the same decode at ``spark.read.format("binaryFile")``.
"""

from __future__ import annotations

import json
import struct
import zlib
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hatchery_spark.functions.npwire import (
    read_uvarint,
    unzigzag,
    write_uvarint,
    zigzag,
)

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------------------
# primitive codecs (longs are zigzag varints: functions/npwire.py)
# ---------------------------------------------------------------------------


def write_bytes(out: bytearray, data: bytes) -> None:
    write_uvarint(out, zigzag(len(data)))
    out += data


def read_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = read_uvarint(buf, pos)
    n = unzigzag(n)
    return buf[pos : pos + n], pos + n


# ---------------------------------------------------------------------------
# schema-driven value codec
# ---------------------------------------------------------------------------


def _encode_value(out: bytearray, schema: Any, v: Any) -> None:
    if isinstance(schema, list):  # union: index then value
        if v is None and "null" in schema:
            write_uvarint(out, zigzag(schema.index("null")))
            return
        for i, branch in enumerate(schema):
            if branch != "null":
                write_uvarint(out, zigzag(i))
                _encode_value(out, branch, v)
                return
        raise ValueError("union has no non-null branch")
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return
    if t == "boolean":
        out += b"\x01" if v else b"\x00"
    elif t in ("int", "long"):
        write_uvarint(out, zigzag(int(v)))
    elif t == "float":
        out += struct.pack("<f", float(v))
    elif t == "double":
        out += struct.pack("<d", float(v))
    elif t == "string":
        write_bytes(out, str(v).encode("utf-8"))
    elif t == "bytes":
        write_bytes(out, bytes(v))
    elif t == "fixed":
        out += bytes(v)
    elif t == "enum":
        write_uvarint(out, zigzag(schema["symbols"].index(v)))
    elif t == "record":
        for f in schema["fields"]:
            _encode_value(out, f["type"], v[f["name"]])
    elif t == "array":
        if v:
            write_uvarint(out, zigzag(len(v)))
            for item in v:
                _encode_value(out, schema["items"], item)
        write_uvarint(out, 0)
    elif t == "map":
        if v:
            write_uvarint(out, zigzag(len(v)))
            for k, item in v.items():
                write_bytes(out, k.encode("utf-8"))
                _encode_value(out, schema["values"], item)
        write_uvarint(out, 0)
    else:
        raise ValueError(f"unsupported Avro type {t!r}")


def _decode_value(buf: bytes, pos: int, schema: Any) -> tuple[Any, int]:
    if isinstance(schema, list):
        idx, pos = read_uvarint(buf, pos)
        return _decode_value(buf, pos, schema[unzigzag(idx)])
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return None, pos
    if t == "boolean":
        return buf[pos] == 1, pos + 1
    if t in ("int", "long"):
        z, pos = read_uvarint(buf, pos)
        return unzigzag(z), pos
    if t == "float":
        return struct.unpack("<f", buf[pos : pos + 4])[0], pos + 4
    if t == "double":
        return struct.unpack("<d", buf[pos : pos + 8])[0], pos + 8
    if t == "string":
        data, pos = read_bytes(buf, pos)
        return data.decode("utf-8"), pos
    if t == "bytes":
        return read_bytes(buf, pos)
    if t == "fixed":
        n = schema["size"]
        return buf[pos : pos + n], pos + n
    if t == "enum":
        idx, pos = read_uvarint(buf, pos)
        return schema["symbols"][unzigzag(idx)], pos
    if t == "record":
        rec = {}
        for f in schema["fields"]:
            rec[f["name"]], pos = _decode_value(buf, pos, f["type"])
        return rec, pos
    if t == "array":
        items = []
        while True:
            n, pos = read_uvarint(buf, pos)
            n = unzigzag(n)
            if n == 0:
                break
            if n < 0:  # block with byte-size hint
                n = -n
                _, pos = read_uvarint(buf, pos)
            for _ in range(n):
                item, pos = _decode_value(buf, pos, schema["items"])
                items.append(item)
        return items, pos
    if t == "map":
        m = {}
        while True:
            n, pos = read_uvarint(buf, pos)
            n = unzigzag(n)
            if n == 0:
                break
            if n < 0:
                n = -n
                _, pos = read_uvarint(buf, pos)
            for _ in range(n):
                key, pos = read_bytes(buf, pos)
                m[key.decode("utf-8")], pos = _decode_value(buf, pos, schema["values"])
        return m, pos
    raise ValueError(f"unsupported Avro type {t!r}")


# ---------------------------------------------------------------------------
# OCF framing
# ---------------------------------------------------------------------------


def _write_ocf_frames(
    schema: dict,
    blocks: list[tuple[int, bytes]],
    codec: str,
    sync: bytes | None,
) -> bytes:
    """OCF header + (count, size, payload, sync) framing over pre-encoded
    uncompressed block payloads — shared by the per-record reference path
    and the vectorized fast path (identical bytes either way)."""
    sync = sync or bytes(range(16))
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    out = bytearray(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode("ascii"),
    }
    write_uvarint(out, zigzag(len(meta)))
    for k, v in sorted(meta.items()):
        write_bytes(out, k.encode("ascii"))
        write_bytes(out, v)
    write_uvarint(out, 0)
    out += sync
    for count, payload in blocks:
        if codec == "deflate":
            payload = zlib.compress(payload)[2:-4]  # raw RFC-1951, no wrapper
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec}")
        write_uvarint(out, zigzag(count))
        write_uvarint(out, zigzag(len(payload)))
        out += payload
        out += sync
    return bytes(out)


def write_ocf(
    schema: dict,
    records: list[dict],
    codec: str = "null",
    sync: bytes | None = None,
    records_per_block: int = 500,
) -> bytes:
    blocks = []
    for i in range(0, len(records), records_per_block):
        chunk = records[i : i + records_per_block]
        body = bytearray()
        for rec in chunk:
            _encode_value(body, schema, rec)
        blocks.append((len(chunk), bytes(body)))
    return _write_ocf_frames(schema, blocks, codec, sync)


def _compile_flat_decoder(schema: dict):
    """Specialized decoder for the flat ``["null", primitive]`` record shape
    (the `_avro_schema_for` output): one closure decoding a whole block
    payload into per-record dicts with inlined varint/fixed reads — no
    per-value recursion, no schema dispatch per field. Returns None when the
    schema is outside the flat shape (caller uses the generic walker)."""
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        return None
    fields = []
    for f in schema["fields"]:
        ft = f["type"]
        if not (isinstance(ft, list) and len(ft) == 2 and ft[0] == "null"):
            return None
        branch = ft[1]
        t = branch["type"] if isinstance(branch, dict) else branch
        if t not in ("int", "long", "double", "float", "string", "bytes",
                     "boolean"):
            return None
        fields.append((f["name"], t))

    def decode_block(payload: bytes, count: int) -> list[dict]:
        records = []
        pos = 0
        unpack = struct.unpack_from
        for _ in range(count):
            rec = {}
            for name, t in fields:
                # union index varint (zigzag 0 / 1 → one byte 0x00 / 0x02)
                b = payload[pos]
                pos += 1
                if b == 0:
                    rec[name] = None
                    continue
                if b != 2:  # zigzag(1); anything else is a corrupt union
                    raise ValueError(f"bad union index byte {b}")
                if t == "long" or t == "int":
                    z, shift = 0, 0
                    while True:
                        v = payload[pos]
                        pos += 1
                        z |= (v & 0x7F) << shift
                        if not v & 0x80:
                            break
                        shift += 7
                    rec[name] = (z >> 1) ^ -(z & 1)
                elif t == "double":
                    rec[name] = unpack("<d", payload, pos)[0]
                    pos += 8
                elif t == "float":
                    rec[name] = unpack("<f", payload, pos)[0]
                    pos += 4
                elif t == "boolean":
                    rec[name] = payload[pos] == 1
                    pos += 1
                else:  # string / bytes: varint length + payload
                    z, shift = 0, 0
                    while True:
                        v = payload[pos]
                        pos += 1
                        z |= (v & 0x7F) << shift
                        if not v & 0x80:
                            break
                        shift += 7
                    ln = (z >> 1) ^ -(z & 1)
                    raw = payload[pos : pos + ln]
                    pos += ln
                    rec[name] = raw.decode("utf-8") if t == "string" else raw
            records.append(rec)
        if pos != len(payload):
            raise ValueError("trailing bytes in block payload")
        return records

    return decode_block


def _read_ocf(buf: bytes) -> tuple[Any, Iterator[tuple[int, bytes]]]:
    """OCF header → (writer schema, lazy (record count, decompressed
    payload) per block, sync markers checked)."""
    if buf[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta = {}
    while True:
        n, pos = read_uvarint(buf, pos)
        n = unzigzag(n)
        if n == 0:
            break
        if n < 0:
            n = -n
            _, pos = read_uvarint(buf, pos)
        for _ in range(n):
            k, pos = read_bytes(buf, pos)
            v, pos = read_bytes(buf, pos)
            meta[k.decode("ascii")] = v
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode("ascii")
    sync = buf[pos : pos + 16]

    def blocks(pos: int) -> Iterator[tuple[int, bytes]]:
        while pos < len(buf):
            count, pos = read_uvarint(buf, pos)
            size, pos = read_uvarint(buf, pos)
            size = unzigzag(size)
            payload = buf[pos : pos + size]
            pos += size
            if buf[pos : pos + 16] != sync:
                raise ValueError(f"sync marker mismatch at offset {pos}")
            pos += 16
            if codec == "deflate":
                payload = zlib.decompress(payload, wbits=-15)
            elif codec != "null":
                raise ValueError(f"unsupported codec {codec}")
            yield unzigzag(count), payload

    return schema, blocks(pos + 16)


def parse_ocf(buf: bytes) -> tuple[dict, list[dict]]:
    schema, blocks = _read_ocf(buf)
    fast = _compile_flat_decoder(schema)
    records = []
    for count, payload in blocks:
        if fast is not None:
            records.extend(fast(payload, count))
            continue
        p = 0
        for _ in range(count):
            rec, p = _decode_value(payload, p, schema)
            records.append(rec)
        if p != len(payload):
            raise ValueError("trailing bytes in block payload")
    return schema, records


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

_SPARK_TO_AVRO = {
    "bigint": "long",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "binary": "bytes",
}


def _avro_schema_for(df: DataFrame, name: str = "row") -> dict:
    fields = []
    for f in df.schema.fields:
        st = f.dataType.simpleString()
        if st in ("timestamp", "timestamp_ntz"):
            avro_t: Any = {"type": "long", "logicalType": "timestamp-micros"}
        elif st == "date":
            avro_t = {"type": "int", "logicalType": "date"}
        elif st in _SPARK_TO_AVRO:
            avro_t = _SPARK_TO_AVRO[st]
        else:
            raise ValueError(f"no Avro mapping for Spark type {st}")
        fields.append({"name": f.name, "type": ["null", avro_t]})
    return {"type": "record", "name": name, "fields": fields}


def _encode_columns_fast(
    schema: dict, pdf: pd.DataFrame, ts_cols: set[str]
) -> "tuple[bytes, Any]":
    """Vectorized encoder for the flat ``["null", primitive]`` record shape
    ``_avro_schema_for`` emits. Returns (flat encoded bytes, per-record
    byte-length array), byte-identical to the per-record reference encoder
    `write_ocf` (pytest-pinned)."""
    import numpy as np

    from hatchery_spark.functions.npwire import rowcat, zigzag_varint_encode

    n = len(pdf)
    pieces: list[tuple[np.ndarray, np.ndarray]] = []
    for f in schema["fields"]:
        branch = f["type"][1]
        t = branch["type"] if isinstance(branch, dict) else branch
        col = pdf[f["name"]]
        null = col.isna().to_numpy()
        live = ~null
        # union index: 0 (null) or 1 (value) — zigzag varints 0x00 / 0x02
        pieces.append(
            (np.where(null, 0x00, 0x02).astype(np.uint8), np.ones(n, np.int64))
        )
        lens = np.zeros(n, dtype=np.int64)
        if t in ("int", "long"):
            if f["name"] in ts_cols:
                vals = col.to_numpy(dtype="datetime64[ns]").view("i8")[live] // 1000
            else:
                vals = col[live].to_numpy(dtype=np.int64)
            flat, vlens = zigzag_varint_encode(vals)
            lens[live] = vlens
        elif t in ("double", "float"):
            w = "<f8" if t == "double" else "<f4"
            vals = col.to_numpy(dtype="float64", na_value=0.0)[live]
            flat = vals.astype(w).view(np.uint8)
            lens[live] = 8 if t == "double" else 4
        elif t == "boolean":
            flat = col.to_numpy(dtype="bool" if not null.any() else "object")[
                live
            ].astype(bool).astype(np.uint8)
            lens[live] = 1
        elif t in ("string", "bytes"):
            raw = [
                v.encode("utf-8") if t == "string" else bytes(v)
                for v in col.to_numpy()[live]
            ]
            blens = np.fromiter(
                (len(b) for b in raw), dtype=np.int64, count=len(raw)
            )
            pflat, plens = zigzag_varint_encode(blens)
            plens_full = np.zeros(n, dtype=np.int64)
            plens_full[live] = plens
            pieces.append((pflat, plens_full))
            flat = np.frombuffer(b"".join(raw), dtype=np.uint8)
            lens[live] = blens
        else:
            raise ValueError(f"no vectorized Avro encoding for type {t}")
        pieces.append((flat, lens))
    out, rec_lens = rowcat(pieces)
    return out.tobytes(), rec_lens


def write_avro_files(
    df: DataFrame, files: int = 8, order_col: str | None = None
) -> DataFrame:
    """df → (file_id, content) OCF blobs. Group membership and in-file
    order are data-derived from ``order_col`` (hash-mod for membership,
    ascending order within the file), so output bytes are deterministic at
    any parallelism. Even file_ids use the deflate codec, odd use null —
    both paths stay exercised."""
    order_col = order_col or df.columns[0]
    schema = _avro_schema_for(df)
    cols = [f.name for f in df.schema.fields]
    ts_cols = {f.name for f in df.schema.fields
               if f.dataType.simpleString() in ("timestamp", "timestamp_ntz")}
    # a bigint column holding a NULL reaches pandas as float64, which rounds
    # past 2^53: ship it as coalesce(c, 0) plus a NULL flag instead
    nullable = {f.name: f"_isnull{i}" for i, f in enumerate(df.schema.fields)
                if f.nullable and f.dataType.simpleString() == "bigint"}
    recs = df.select(
        *(F.coalesce(df[c], F.lit(0)).alias(c) if c in nullable else df[c] for c in cols),
        *(F.isnull(df[c]).alias(flag) for c, flag in nullable.items()),
        F.pmod(F.xxhash64(order_col), F.lit(files)).alias("file_id"),
    )

    def _encode(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        fid = int(pdf.file_id.iloc[0])
        for c, flag in nullable.items():
            pdf[c] = pd.arrays.IntegerArray(pdf[c].to_numpy(np.int64), pdf[flag].to_numpy(bool))
        pdf = pdf.sort_values(order_col)
        codec = "deflate" if fid % 2 == 0 else "null"
        buf, rec_lens = _encode_columns_fast(schema, pdf[cols], ts_cols)
        bounds = np.concatenate([[0], np.cumsum(rec_lens)])
        blocks = [
            (
                min(i + 500, len(rec_lens)) - i,
                buf[bounds[i] : bounds[min(i + 500, len(rec_lens))]],
            )
            for i in range(0, len(rec_lens), 500)
        ]
        content = _write_ocf_frames(schema, blocks, codec, None)
        return pd.DataFrame({"file_id": [fid], "content": [content]})

    return recs.groupBy("file_id").applyInPandas(
        _encode, "file_id bigint, content binary"
    )


def read_avro_blobs(df: DataFrame, spark_ddl: str) -> DataFrame:
    """(file_id, content) OCF blobs → decoded rows with the given Spark
    schema (column order and names must match the embedded Avro schema).
    timestamp-micros longs come back as pandas timestamps."""
    import pyspark.sql.types as T

    struct_t = T._parse_datatype_string(spark_ddl)
    names = [f.name for f in struct_t.fields]
    ts_cols = {f.name for f in struct_t.fields
               if f.dataType.simpleString() in ("timestamp", "timestamp_ntz")}

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for buf in pdf["content"]:
                schema, records = parse_ocf(bytes(buf))
                got = [f["name"] for f in schema["fields"]]
                if got != names:
                    raise ValueError(f"schema mismatch: {got} vs {names}")
                frame = pd.DataFrame(records, columns=names)
                for c in ts_cols:
                    frame[c] = pd.to_datetime(frame[c], unit="us")
                frames.append(frame)
            yield pd.concat(frames) if frames else pd.DataFrame(columns=names)

    return df.mapInPandas(_decode, spark_ddl)


# ---------------------------------------------------------------------------
# Schema resolution (spec §"Schema Resolution") — reader ≠ writer evolution
# ---------------------------------------------------------------------------

_PROMOTIONS = {
    "int": {"long", "float", "double"},
    "long": {"float", "double"},
    "float": {"double"},
    "string": {"bytes"},
    "bytes": {"string"},
}


def _tname(schema: Any) -> str:
    return schema["type"] if isinstance(schema, dict) else schema


def _skip_value(buf: bytes, pos: int, schema: Any) -> int:
    """Advance past a value without materializing it (writer-only
    fields)."""
    if isinstance(schema, list):
        idx, pos = read_uvarint(buf, pos)
        return _skip_value(buf, pos, schema[unzigzag(idx)])
    t = _tname(schema)
    if t == "null":
        return pos
    if t == "boolean":
        return pos + 1
    if t in ("int", "long"):
        return read_uvarint(buf, pos)[1]
    if t == "float":
        return pos + 4
    if t == "double":
        return pos + 8
    if t in ("string", "bytes"):
        n, pos = read_uvarint(buf, pos)
        n = unzigzag(n)
        return pos + n
    if t == "record":
        for f in schema["fields"]:
            pos = _skip_value(buf, pos, f["type"])
        return pos
    if t in ("array", "map"):
        while True:
            n, pos = read_uvarint(buf, pos)
            n = unzigzag(n)
            if n == 0:
                return pos
            if n < 0:  # size-hinted block: skip wholesale
                size, pos = read_uvarint(buf, pos)
                pos += unzigzag(size)
                continue
            inner = schema["items"] if t == "array" else schema["values"]
            for _ in range(n):
                if t == "map":
                    k, pos = read_bytes(buf, pos)
                pos = _skip_value(buf, pos, inner)
    raise ValueError(f"cannot skip Avro type {t!r}")


def _promote(v: Any, wt: str, rt: str) -> Any:
    if wt == rt:
        return v
    if rt not in _PROMOTIONS.get(wt, ()):
        raise ValueError(f"Avro: cannot resolve writer {wt} as reader {rt}")
    if rt in ("float", "double"):
        return float(v)
    if wt == "string" and rt == "bytes":
        return v.encode("utf-8")
    if wt == "bytes" and rt == "string":
        return v.decode("utf-8")
    return v


def _field_matches(wf_name: str, rf: dict) -> bool:
    return wf_name == rf["name"] or wf_name in rf.get("aliases", ())


def decode_resolved(
    buf: bytes, pos: int, writer: Any, reader: Any
) -> tuple[Any, int]:
    """Decode writer-encoded bytes AS the reader schema: by-name (or
    alias) field matching, writer-only fields skipped, reader-only
    fields filled from their defaults, numeric/string promotions, union
    branch re-resolution."""
    if isinstance(writer, list):  # writer union: branch index on the wire
        idx, pos = read_uvarint(buf, pos)
        return decode_resolved(buf, pos, writer[unzigzag(idx)], reader)
    if isinstance(reader, list):  # reader union: first matching branch
        wt = _tname(writer)
        for branch in reader:
            bt = _tname(branch)
            if bt == wt or wt in _PROMOTIONS and bt in _PROMOTIONS[wt]:
                return decode_resolved(buf, pos, writer, branch)
        raise ValueError(f"Avro: no reader union branch for writer {wt}")
    wt, rt = _tname(writer), _tname(reader)
    if wt == "record":
        if rt != "record":
            raise ValueError("Avro: writer record vs non-record reader")
        rec = {}
        rfields = reader["fields"]
        matched = set()
        for wf in writer["fields"]:
            rf = next(
                (f for f in rfields if _field_matches(wf["name"], f)), None
            )
            if rf is None:
                pos = _skip_value(buf, pos, wf["type"])
            else:
                rec[rf["name"]], pos = decode_resolved(
                    buf, pos, wf["type"], rf["type"]
                )
                matched.add(rf["name"])
        for rf in rfields:
            if rf["name"] not in matched:
                if "default" not in rf:
                    raise ValueError(
                        f"Avro: reader field {rf['name']!r} missing and has"
                        " no default"
                    )
                rec[rf["name"]] = rf["default"]
        return rec, pos
    if wt == "array" and rt == "array":
        items = []
        while True:
            n, pos = read_uvarint(buf, pos)
            n = unzigzag(n)
            if n == 0:
                return items, pos
            if n < 0:
                n = -n
                _, pos = read_uvarint(buf, pos)
            for _ in range(n):
                item, pos = decode_resolved(
                    buf, pos, writer["items"], reader["items"]
                )
                items.append(item)
    if wt == "map" and rt == "map":
        m = {}
        while True:
            n, pos = read_uvarint(buf, pos)
            n = unzigzag(n)
            if n == 0:
                return m, pos
            if n < 0:
                n = -n
                _, pos = read_uvarint(buf, pos)
            for _ in range(n):
                k, pos = read_bytes(buf, pos)
                m[k.decode("utf-8")], pos = decode_resolved(
                    buf, pos, writer["values"], reader["values"]
                )
    v, pos = _decode_value(buf, pos, writer)
    return _promote(v, wt, rt), pos


def parse_ocf_resolved(buf: bytes, reader_schema: dict) -> list[dict]:
    """parse_ocf, but every record decoded AS `reader_schema`."""
    writer, blocks = _read_ocf(buf)
    records = []
    for count, payload in blocks:
        p = 0
        for _ in range(count):
            rec, p = decode_resolved(payload, p, writer, reader_schema)
            records.append(rec)
        if p != len(payload):
            raise ValueError("trailing bytes in block payload")
    return records


def read_avro_blobs_resolved(
    df: DataFrame, reader_schema: dict, spark_ddl: str
) -> DataFrame:
    """(file_id, content) OCF blobs decoded AS `reader_schema` (schema
    evolution applied in-task); spark_ddl names/orders the reader's
    fields."""
    import pyspark.sql.types as T

    struct_t = T._parse_datatype_string(spark_ddl)
    names = [f.name for f in struct_t.fields]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for buf in pdf["content"]:
                records = parse_ocf_resolved(bytes(buf), reader_schema)
                frames.append(pd.DataFrame(records, columns=names))
            yield pd.concat(frames) if frames else pd.DataFrame(columns=names)

    return df.mapInPandas(_decode, spark_ddl)
