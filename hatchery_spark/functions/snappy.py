"""Snappy block-format codec (pure Python, Arrow-batched on Spark).

The compression inside parquet data pages and Hadoop sequence files —
implemented from the public format description
(google/snappy format_description.txt):

* preamble: uncompressed length, little-endian varint;
* elements: tag low 2 bits = 00 literal / 01 copy-1 / 10 copy-2 /
  11 copy-4;
* literal lengths ≤60 inline in the tag, else 1-4 trailing length
  bytes; copy-1 carries len 4-11 + 11-bit offset, copy-2 len 1-64 +
  16-bit LE offset, copy-4 a 32-bit offset;
* copies may overlap their own output (offset < len ⇒ RLE) — the
  decoder resolves those byte-by-byte, block-copies otherwise.

The encoder is the greedy hash-table matcher every production
implementation uses (4-byte hashes, 16-bit offset window, matches
chunked to ≤64 with the canonical 68/64/60 tail split so no chunk
falls under the 4-byte copy minimum).

Correctness posture: roundtrip-pinned (decode(encode(x)) == x is the
oracle-checked identity), plus hand-derived wire vectors in pytest for
every element type.  There is no snappy library in this container to
cross-check interop, so framing conformance is self-consistent +
vector-pinned — same posture as the arithmetic-JPEG coder.

Scale shape: one Arrow-batched pandas UDF per direction — the codec
runs where the data sits, no shuffle, no driver traffic.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from hatchery_spark.functions.npwire import (
    lz_copy,
    read_fixed,
    read_uvarint,
    write_uvarint,
)

_HASH_BITS = 12
_HASH_MUL = 0x1E35A7BD  # the multiplicative hash snappy documents


def _emit_literal(out: bytearray, lit: bytes) -> None:
    n = len(lit)
    if n == 0:
        return
    if n <= 60:
        out.append((n - 1) << 2)
    else:
        nb = (n - 1).bit_length() + 7 >> 3
        out.append((59 + nb) << 2)
        out += (n - 1).to_bytes(nb, "little")
    out += lit


def _emit_copy(out: bytearray, offset: int, length: int) -> None:
    # canonical chunking: keep every chunk in [4, 64]
    while length >= 68:
        out.append((63 << 2) | 2)
        out += offset.to_bytes(2, "little")
        length -= 64
    if length > 64:
        out.append((59 << 2) | 2)  # 60 bytes, leaves 4..8 for the tail
        out += offset.to_bytes(2, "little")
        length -= 60
    if 4 <= length <= 11 and offset < 2048:
        out.append(1 | ((length - 4) << 2) | ((offset >> 8) << 5))
        out.append(offset & 0xFF)
    else:
        out.append(((length - 1) << 2) | 2)
        out += offset.to_bytes(2, "little")


def snappy_compress(data: bytes) -> bytes:
    out = bytearray()
    write_uvarint(out, len(data))
    n = len(data)
    if n < 4:
        _emit_literal(out, data)
        return bytes(out)
    import numpy as np

    arr = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    grams = (  # little-endian 4-gram ints + their hashes, one pass each
        arr[: n - 3]
        | (arr[1 : n - 2] << 8)
        | (arr[2 : n - 1] << 16)
        | (arr[3:] << 24)
    )
    hashes = (
        (grams * _HASH_MUL & 0xFFFFFFFF) >> (32 - _HASH_BITS)
    ).tolist()
    grams = grams.tolist()
    table = [-1] * (1 << _HASH_BITS)
    i = lit_start = 0
    limit = n - 3  # last position with a full 4-byte gram
    while i < limit:
        h = hashes[i]
        cand = table[h]
        table[h] = i
        # gram equality is the exact 4-byte equality (hash-collision guard)
        if cand >= 0 and i - cand <= 0xFFFF and grams[cand] == grams[i]:
            m = 4
            while i + m < n:  # chunked memcmp extension, bytewise tail
                chunk = n - (i + m)
                if chunk > 64:
                    chunk = 64
                if data[cand + m : cand + m + chunk] == data[i + m : i + m + chunk]:
                    m += chunk
                    continue
                while i + m < n and data[cand + m] == data[i + m]:
                    m += 1
                break
            _emit_literal(out, data[lit_start:i])
            _emit_copy(out, i - cand, m)
            i += m
            lit_start = i
        else:
            i += 1
    _emit_literal(out, data[lit_start:])
    return bytes(out)


def snappy_decompress(buf: bytes) -> bytes:
    want, pos = read_uvarint(buf, 0)
    out = bytearray()
    n = len(buf)
    while pos < n:
        tag = buf[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                raw, pos = read_fixed(buf, pos, ln - 59)
                ln = int.from_bytes(raw, "little")
            lit, pos = read_fixed(buf, pos, ln + 1)
            out += lit
            continue
        if kind == 1:
            ln = ((tag >> 2) & 7) + 4
            offset = ((tag >> 5) << 8) | buf[pos]
            pos += 1
        else:  # copy-2 / copy-4: 16- or 32-bit LE offset
            ln = (tag >> 2) + 1
            raw, pos = read_fixed(buf, pos, 2 if kind == 2 else 4)
            offset = int.from_bytes(raw, "little")
        if offset == 0 or offset > len(out):
            raise ValueError("snappy: bad copy offset")
        lz_copy(out, offset, ln)
    if len(out) != want:
        raise ValueError(f"snappy: length mismatch {len(out)} != {want}")
    return bytes(out)


def snappy_compress_col(col: Column) -> Column:
    # pandas_udf needs an active session to resolve the DDL type, so the
    # decorator is applied lazily, not at import
    @pandas_udf("binary")
    def enc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda b: None if b is None else snappy_compress(bytes(b))
        )

    return enc(col)


def snappy_decompress_col(col: Column) -> Column:
    @pandas_udf("binary")
    def dec(s: pd.Series) -> pd.Series:
        return s.map(
            lambda b: None if b is None else snappy_decompress(bytes(b))
        )

    return dec(col)
