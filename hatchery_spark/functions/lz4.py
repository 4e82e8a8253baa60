"""LZ4 block + frame codec (lz4 block spec / frame spec v1.6.1).

The third from-scratch compression surface (after snappy and DEFLATE):
LZ4 is the default codec of ORC and a first-class parquet codec
(LZ4_RAW). Both directions carry interop evidence — the decoder reads
frames produced by pyarrow's bundled lz4 (third-party encoder), and the
encoder's frames are decoded by pyarrow in pytest (reverse interop).

* **Block format**: token (hi 4 = literal len, lo 4 = match len − 4),
  255-chained extension bytes, 2-byte LE offsets, last sequence is
  literals-only; encoder honors the spec's end conditions (last match
  must start ≥ 12 bytes from the end, last 5 bytes are literals).
* **Frame format**: magic 0x184D2204, FLG/BD descriptor with version
  check, optional content size, header checksum = byte 1 of
  xxh32(descriptor) — verified, not skipped — optional per-block and
  content checksums, EndMark.
* **xxh32** implemented from the reference spec (the frame's checksum
  primitive), pinned by public test vectors.

Scale shape: Arrow-batched UDFs; blobs decode where they sit.
"""

from __future__ import annotations

import struct

import pandas as pd

from hatchery_spark.functions.npwire import lz_copy, read_fixed

_P1, _P2, _P3, _P4, _P5 = (
    2654435761,
    2246822519,
    3266489917,
    668265263,
    374761393,
)
_M = 0xFFFFFFFF
MAGIC = 0x184D2204


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M


def xxh32(data: bytes, seed: int = 0) -> int:
    """xxHash32 (Collet's reference algorithm). The stripe loop reads all
    uint32 lanes with ONE bulk struct.unpack and updates the four
    accumulators with inlined rotates — the per-lane unpack_from /
    enumerate form paid ~6 Python calls per 4 bytes."""
    n = len(data)
    pos = 0
    if n >= 16:
        M, P1, P2 = _M, _P1, _P2
        v1 = (seed + P1 + P2) & M
        v2 = (seed + P2) & M
        v3 = seed & M
        v4 = (seed - P1) & M
        nstripes = n >> 4
        words = struct.unpack_from(f"<{nstripes * 4}I", data)
        k = 0
        for _ in range(nstripes):
            v1 = (v1 + words[k] * P2) & M
            v1 = ((v1 << 13) | (v1 >> 19)) & M
            v1 = v1 * P1 & M
            v2 = (v2 + words[k + 1] * P2) & M
            v2 = ((v2 << 13) | (v2 >> 19)) & M
            v2 = v2 * P1 & M
            v3 = (v3 + words[k + 2] * P2) & M
            v3 = ((v3 << 13) | (v3 >> 19)) & M
            v3 = v3 * P1 & M
            v4 = (v4 + words[k + 3] * P2) & M
            v4 = ((v4 << 13) | (v4 >> 19)) & M
            v4 = v4 * P1 & M
            k += 4
        pos = nstripes << 4
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while pos + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, pos)
        h = (h + lane * _P3) & _M
        h = _rotl(h, 17) * _P4 & _M
        pos += 4
    while pos < n:
        h = (h + data[pos] * _P5) & _M
        h = _rotl(h, 11) * _P1 & _M
        pos += 1
    h ^= h >> 15
    h = h * _P2 & _M
    h ^= h >> 13
    h = h * _P3 & _M
    h ^= h >> 16
    return h


# ----------------------------------------------------------------- block


def _read_le(buf: bytes, pos: int, n: int) -> tuple[int, int]:
    raw, pos = read_fixed(buf, pos, n)
    return int.from_bytes(raw, "little"), pos


def _read_len(buf: bytes, pos: int, base: int) -> tuple[int, int]:
    if base == 15:
        while True:
            b = buf[pos]
            pos += 1
            base += b
            if b != 255:
                break
    return base, pos


def lz4_block_decompress(buf: bytes, history: bytes = b"") -> bytes:
    """Decode one block; in linked-blocks (B.Indep=0) frames, matches may
    reach into `history` (up to the 64 KiB window of prior plaintext)."""
    out = bytearray(history)
    skip = len(history)
    pos, n = 0, len(buf)
    while pos < n:
        token = buf[pos]
        pos += 1
        nlit, pos = _read_len(buf, pos, token >> 4)
        lit, pos = read_fixed(buf, pos, nlit)
        out += lit
        if pos >= n:  # last sequence: literals only
            break
        offset, pos = _read_le(buf, pos, 2)
        if offset == 0 or offset > len(out):
            raise ValueError("lz4: bad match offset")
        mlen, pos = _read_len(buf, pos, token & 0xF)
        lz_copy(out, offset, mlen + 4)
    return bytes(out[skip:])


def _write_len(out: bytearray, n: int) -> None:
    while n >= 255:
        out.append(255)
        n -= 255
    out.append(n)


def lz4_block_compress(data: bytes) -> bytes:
    """Greedy hash-table matcher honoring the spec end conditions."""
    n = len(data)
    out = bytearray()

    def emit(lit_start: int, lit_end: int, offset: int = 0, mlen: int = 0):
        lit = lit_end - lit_start
        token_lit = 15 if lit >= 15 else lit
        token_m = 15 if mlen and mlen - 4 >= 15 else (mlen - 4 if mlen else 0)
        out.append((token_lit << 4) | token_m)
        if lit >= 15:
            _write_len(out, lit - 15)
        out.extend(data[lit_start:lit_end])
        if mlen:
            out.extend(offset.to_bytes(2, "little"))
            if mlen - 4 >= 15:
                _write_len(out, mlen - 19)

    if n < 13:  # too short for any legal match
        emit(0, n)
        return bytes(out)
    import numpy as np

    arr = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    grams = (  # little-endian 4-gram ints, precomputed in one pass
        arr[: n - 3]
        | (arr[1 : n - 2] << 8)
        | (arr[2 : n - 1] << 16)
        | (arr[3:] << 24)
    ).tolist()
    table: dict[int, int] = {}
    i = lit_start = 0
    limit = n - 12  # matches must not start in the last 12 bytes
    hard = n - 5  # last 5 bytes stay literals
    while i < limit:
        key = grams[i]
        cand = table.get(key, -1)
        table[key] = i
        # gram equality IS the 4-byte equality (exact int of the 4 bytes)
        if cand >= 0 and i - cand <= 0xFFFF:
            m = 4
            # chunked memcmp extension, then bytewise tail — same m
            while i + m < hard:
                chunk = hard - (i + m)
                if chunk > 64:
                    chunk = 64
                if data[cand + m : cand + m + chunk] == data[i + m : i + m + chunk]:
                    m += chunk
                    continue
                while i + m < hard and data[cand + m] == data[i + m]:
                    m += 1
                break
            emit(lit_start, i, i - cand, m)
            i += m
            lit_start = i
        else:
            i += 1
    emit(lit_start, n)
    return bytes(out)


# ----------------------------------------------------------------- frame


def lz4_frame_decompress(buf: bytes) -> bytes:
    magic, pos = _read_le(buf, 0, 4)
    if magic != MAGIC:
        raise ValueError("lz4: bad frame magic")
    desc_start = pos
    (flg, _bd), pos = read_fixed(buf, pos, 2)
    if flg >> 6 != 0b01:
        raise ValueError("lz4: unsupported frame version")
    b_indep = flg >> 5 & 1
    b_checksum = flg >> 4 & 1
    c_size = flg >> 3 & 1
    c_checksum = flg >> 2 & 1
    dict_id = flg & 1
    expect_size = None
    if c_size:
        expect_size, pos = _read_le(buf, pos, 8)
    if dict_id:
        _, pos = read_fixed(buf, pos, 4)
    hc, pos = _read_le(buf, pos, 1)
    want = xxh32(buf[desc_start:pos - 1]) >> 8 & 0xFF
    if hc != want:
        raise ValueError("lz4: header checksum mismatch")
    out = bytearray()
    while True:
        word, pos = _read_le(buf, pos, 4)
        if word == 0:  # EndMark
            break
        raw, pos = read_fixed(buf, pos, word & 0x7FFFFFFF)
        if b_checksum:
            bc, pos = _read_le(buf, pos, 4)
            if bc != xxh32(raw):
                raise ValueError("lz4: block checksum mismatch")
        if word >> 31:
            out += raw
        else:
            hist = b"" if b_indep else bytes(out[-65536:])
            out += lz4_block_decompress(raw, hist)
    if c_checksum:
        cc, pos = _read_le(buf, pos, 4)
        if cc != xxh32(bytes(out)):
            raise ValueError("lz4: content checksum mismatch")
    if expect_size is not None and expect_size != len(out):
        raise ValueError("lz4: content size mismatch")
    return bytes(out)


def lz4_frame_compress(
    data: bytes, block_size: int = 1 << 16, checksums: bool = True
) -> bytes:
    """Minimal conformant writer: B.Indep, content size + (optionally)
    block and content checksums set."""
    flg = (0b01 << 6) | (1 << 5) | (1 << 3)
    if checksums:
        flg |= (1 << 4) | (1 << 2)
    desc = bytes([flg, 0x40]) + len(data).to_bytes(8, "little")
    out = bytearray(MAGIC.to_bytes(4, "little"))
    out += desc
    out.append(xxh32(desc) >> 8 & 0xFF)
    for i in range(0, max(len(data), 1), block_size):
        chunk = data[i : i + block_size]
        if not chunk:
            break
        comp = lz4_block_compress(chunk)
        if len(comp) < len(chunk):
            out += len(comp).to_bytes(4, "little")
            payload = comp
        else:
            out += (len(chunk) | 0x80000000).to_bytes(4, "little")
            payload = chunk
        out += payload
        if checksums:
            out += xxh32(payload).to_bytes(4, "little")
    out += b"\x00\x00\x00\x00"
    if checksums:
        out += xxh32(data).to_bytes(4, "little")
    return bytes(out)


def lz4_pa_compress_col(text):
    """Column: frame-compress each row's text with pyarrow's bundled lz4
    — deliberately a THIRD-PARTY encoder, so the decode column below is
    an interop check, not a self-roundtrip."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def enc(t: pd.Series) -> pd.Series:
        import pyarrow as pa

        codec = pa.Codec("lz4")
        return t.map(lambda s: bytes(codec.compress(s.encode("utf-8"))))

    return enc(text)


def lz4_decompress_col(z):
    """Column: decode LZ4 frames with the from-scratch walker."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def dec(b: pd.Series) -> pd.Series:
        return b.map(
            lambda v: lz4_frame_decompress(bytes(v)).decode("utf-8")
        )

    return dec(z)
