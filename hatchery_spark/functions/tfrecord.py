"""TFRecord shard writer/reader with tf.train.Example payloads — the
tf.data training-input format, from scratch on the repo's own primitives
(protobuf varint/length-delimited framing as in functions/otlp.py; varints
and CRC-32C from functions/npwire.py).

Format (public TensorFlow spec, tensorflow/core/lib/io/record_writer.h):
each record is ``uint64le length ‖ uint32le masked_crc(length bytes) ‖
data ‖ uint32le masked_crc(data)`` with mask(c) = ((c>>15 | c<<17) +
0xa282ead8) mod 2^32 over CRC-32C. The payload is a tf.train.Example:
Features map<string, Feature>, each Feature one of BytesList /
FloatList / Int64List (int64s packed-varint encoded; the reader accepts
both packed and repeated, as any proto parser must).

Why a training-data engine needs it: TFRecord is the interchange shard
format of the tf.data ecosystem — the WebDataset-tar sibling
(functions/tarshard.py) for the TF side of the house.

Scale shape: shards are assembled per shard key with applyInPandas
(bounded groups), parsed back in the same task — zero shuffle beyond the
one groupBy; both CRCs verified per record, corruption dead-letters the
record rather than truncating silently.
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hatchery_spark.functions.npwire import crc32c, read_uvarint, write_uvarint

__all__ = [
    "masked_crc",
    "encode_example",
    "decode_example",
    "write_tfrecord",
    "read_tfrecord",
    "tfrecord_roundtrip",
]

_MASK_DELTA = 0xA282EAD8


def masked_crc(data: bytes) -> int:
    c = crc32c(data)
    return (((c >> 15) | (c << 17)) + _MASK_DELTA) & 0xFFFFFFFF


def _ld(out: bytearray, field: int, payload: bytes) -> None:
    write_uvarint(out, (field << 3) | 2)
    write_uvarint(out, len(payload))
    out += payload


def encode_example(features: dict[str, object]) -> bytes:
    """tf.train.Example from {name: bytes | int | list[int]} (BytesList /
    Int64List; keys emitted in sorted order for byte-determinism)."""
    feats = bytearray()
    for key in sorted(features):
        v = features[key]
        feature = bytearray()
        if isinstance(v, bytes):
            bl = bytearray()
            _ld(bl, 1, v)  # BytesList.value
            _ld(feature, 1, bytes(bl))  # Feature.bytes_list
        else:
            ints = v if isinstance(v, list) else [int(v)]
            packed = bytearray()
            for x in ints:
                # two's-complement 64
                write_uvarint(packed, x & 0xFFFFFFFFFFFFFFFF)
            il = bytearray()
            _ld(il, 1, bytes(packed))  # Int64List.value (packed)
            _ld(feature, 3, bytes(il))  # Feature.int64_list
        entry = bytearray()
        _ld(entry, 1, key.encode("utf-8"))  # map key
        _ld(entry, 2, bytes(feature))  # map value
        _ld(feats, 1, bytes(entry))  # Features.feature entry
    ex = bytearray()
    _ld(ex, 1, bytes(feats))  # Example.features
    return bytes(ex)


def decode_example(blob: bytes) -> dict[str, object]:
    """Inverse of encode_example; accepts packed or repeated Int64List."""

    def _fields(buf: bytes):
        p = 0
        while p < len(buf):
            tag, p = read_uvarint(buf, p)
            field, wire = tag >> 3, tag & 7
            if wire == 2:
                ln, p = read_uvarint(buf, p)
                yield field, buf[p : p + ln]
                p += ln
            elif wire == 0:
                v, p = read_uvarint(buf, p)
                yield field, v
            else:
                raise ValueError(f"tfrecord: unsupported wire type {wire}")

    out: dict[str, object] = {}
    for f1, feats in _fields(blob):
        if f1 != 1:
            continue
        for f2, entry in _fields(feats):
            if f2 != 1:
                continue
            key, feature = None, None
            for f3, v in _fields(entry):
                if f3 == 1:
                    key = v.decode("utf-8")
                elif f3 == 2:
                    feature = v
            if key is None or feature is None:
                raise ValueError("tfrecord: malformed map entry")
            for f4, v in _fields(feature):
                if f4 == 1:  # bytes_list
                    vals = [bv for f5, bv in _fields(v) if f5 == 1]
                    out[key] = vals[0] if len(vals) == 1 else vals
                elif f4 == 3:  # int64_list
                    ints: list[int] = []
                    for f5, iv in _fields(v):
                        if f5 != 1:
                            continue
                        if isinstance(iv, int):  # repeated form
                            ints.append(iv)
                        else:  # packed form
                            p = 0
                            while p < len(iv):
                                x, p = read_uvarint(iv, p)
                                ints.append(x)
                    signed = [
                        x - (1 << 64) if x >= (1 << 63) else x for x in ints
                    ]
                    out[key] = signed[0] if len(signed) == 1 else signed
    return out


def write_tfrecord(records: list[bytes]) -> bytes:
    out = bytearray()
    for data in records:
        ln = struct.pack("<Q", len(data))
        out += ln
        out += struct.pack("<I", masked_crc(ln))
        out += data
        out += struct.pack("<I", masked_crc(data))
    return bytes(out)


def read_tfrecord(blob: bytes) -> list[tuple[bytes | None, bool]]:
    """[(payload, crc_ok)] — a record failing either CRC yields
    (None, False) and the walk continues at the framed boundary (lengths
    still trusted for framing; a corrupt LENGTH crc aborts the shard)."""
    out: list[tuple[bytes | None, bool]] = []
    p = 0
    while p < len(blob):
        if p + 12 > len(blob):
            raise ValueError("tfrecord: truncated header")
        ln_bytes = blob[p : p + 8]
        (ln,) = struct.unpack("<Q", ln_bytes)
        (lcrc,) = struct.unpack("<I", blob[p + 8 : p + 12])
        if masked_crc(ln_bytes) != lcrc:
            raise ValueError("tfrecord: length crc mismatch")
        p += 12
        if p + ln + 4 > len(blob):
            raise ValueError("tfrecord: truncated record")
        data = blob[p : p + ln]
        (dcrc,) = struct.unpack("<I", blob[p + ln : p + ln + 4])
        p += ln + 4
        if masked_crc(data) == dcrc:
            out.append((data, True))
        else:
            out.append((None, False))
    return out


def tfrecord_roundtrip(
    docs: DataFrame, shards: int = 10, text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """documents → TFRecord shards of tf.train.Example (doc_id Int64List,
    text BytesList, n_tokens Int64List) → parse back with CRC verification.
    Returns (doc_id, n_tokens, crc_ok, text)."""

    def _rt(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        recs = []
        for r in pdf.itertuples():
            t = str(getattr(r, text_col))
            recs.append(
                encode_example(
                    {
                        "doc_id": int(getattr(r, id_col)),
                        "text": t.encode("utf-8"),
                        "n_tokens": len(t.split()),
                    }
                )
            )
        blob = write_tfrecord(recs)
        rows = []
        for payload, ok in read_tfrecord(blob):
            ex = decode_example(payload)
            rows.append(
                {
                    "doc_id": ex["doc_id"],
                    "n_tokens": ex["n_tokens"],
                    "crc_ok": ok,
                    "text": ex["text"].decode("utf-8"),
                }
            )
        return pd.DataFrame(rows)

    return (
        docs.select(id_col, text_col)
        .withColumn("shard", (F.col(id_col) % shards).cast("long"))
        .groupBy("shard")
        .applyInPandas(
            _rt, f"{id_col} long, n_tokens int, crc_ok boolean, text string"
        )
    )


# -------------------------------------------------------------- Arrow IPC


def arrow_ipc_roundtrip(
    docs: DataFrame, shards: int = 10, text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow IPC stream interchange: each shard's rows are serialized to
    ONE Arrow IPC stream blob (schema message + record batch, the
    zero-copy interchange format every Arrow-speaking engine reads) and
    parsed back in the same task. This is the bridge format for handing
    row groups to non-JVM consumers (feature stores, GPU loaders) without
    a parquet round trip; pyarrow is already the engine's Arrow runtime —
    this exercises the WIRE format, not a new dependency.

    Returns (doc_id, n_batches, text) — sizes are format-internal and not
    part of the contract; content equality is."""
    import io

    import pyarrow as pa

    def _rt(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        table = pa.table(
            {
                id_col: pa.array(pdf[id_col], type=pa.int64()),
                text_col: pa.array(pdf[text_col].astype(str), type=pa.string()),
            }
        )
        buf = io.BytesIO()
        with pa.ipc.new_stream(buf, table.schema) as w:
            w.write_table(table)
        blob = buf.getvalue()
        rdr = pa.ipc.open_stream(blob)
        batches = rdr.read_all()
        out = batches.to_pandas()
        out = out.rename(columns={text_col: "text"})
        assert len(blob) > 0
        out["n_batches"] = len(batches.to_batches())
        return out[[id_col, "n_batches", "text"]]

    return (
        docs.select(id_col, text_col)
        .withColumn("shard", (F.col(id_col) % shards).cast("long"))
        .groupBy("shard")
        .applyInPandas(_rt, f"{id_col} long, n_batches int, text string")
    )
