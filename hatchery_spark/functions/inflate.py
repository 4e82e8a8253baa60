"""DEFLATE decoder (inflate) from RFC 1951, from scratch.

gzip/zlib/PNG/Avro-deflate all bottom out in DEFLATE; the repo's
existing paths decode via zlib. This is an independent decoder —
stored blocks, fixed-Huffman blocks, dynamic-Huffman blocks with the
full code-length meta-coding (symbols 16/17/18 repeats), the 29
length / 30 distance extra-bit tables, and overlapping LZ77 copies —
whose correctness evidence is INTEROP: it decodes bytes produced by
zlib (a third-party encoder we don't control), unlike the snappy codec
whose conformance is self-consistent.

Decode tables are canonical-Huffman per RFC 1951 §3.2.2: a 9-bit
LSB-first ``npwire.huffman_table`` (DEFLATE packs each code MSB-first
inside the LSB-first stream, so the table holds it bit-reversed), read
by ``LsbBits.symbol``; the rare 10-15 bit codes take its escape map.

Scale shape: one Arrow-batched UDF; each blob decodes where it sits.
"""

from __future__ import annotations

import pandas as pd

from hatchery_spark.functions.npwire import LsbBits, huffman_table, lz_copy, read_fixed

_LEN_BASE = [
    3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31,
    35, 43, 51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258,
]
_LEN_EXTRA = [
    0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2,
    3, 3, 3, 3, 4, 4, 4, 4, 5, 5, 5, 5, 0,
]
_DIST_BASE = [
    1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193,
    257, 385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145,
    8193, 12289, 16385, 24577,
]
_DIST_EXTRA = [
    0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6,
    7, 7, 8, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13,
]
_CLC_ORDER = [16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15]


_LUT_BITS = 9  # covers every fixed code; only length-10+ codes escape


def _table(lengths: list[int]):
    return huffman_table(lengths, _LUT_BITS, lsb_first=True)


_FIXED_LIT_LENGTHS = [8] * 144 + [9] * 112 + [7] * 24 + [8] * 8  # §3.2.6
_FIXED_DIST_LENGTHS = [5] * 30
_FIXED_LIT = _table(_FIXED_LIT_LENGTHS)
_FIXED_DIST = _table(_FIXED_DIST_LENGTHS)


def _read_dynamic(bits: LsbBits):
    hlit = bits.take(5) + 257
    hdist = bits.take(5) + 1
    hclen = bits.take(4) + 4
    cl_lengths = [0] * 19
    for i in range(hclen):
        cl_lengths[_CLC_ORDER[i]] = bits.take(3)
    cl_table = _table(cl_lengths)
    lengths: list[int] = []
    while len(lengths) < hlit + hdist:
        sym = bits.symbol(cl_table)
        if sym < 16:
            lengths.append(sym)
        elif sym == 16:
            if not lengths:
                raise ValueError("inflate: repeat with no prior length")
            lengths.extend([lengths[-1]] * (3 + bits.take(2)))
        elif sym == 17:
            lengths.extend([0] * (3 + bits.take(3)))
        else:
            lengths.extend([0] * (11 + bits.take(7)))
    if len(lengths) != hlit + hdist:
        raise ValueError("inflate: code-length overrun")
    return _table(lengths[:hlit]), _table(lengths[hlit:])


def inflate(buf: bytes) -> bytes:
    """Raw DEFLATE stream (zlib wbits=-15) → bytes."""
    bits = LsbBits(buf)
    out = bytearray()
    while True:
        bfinal = bits.take(1)
        btype = bits.take(2)
        if btype == 0:  # stored
            hdr, p = read_fixed(buf, bits.byte_pos(), 4)
            ln = int.from_bytes(hdr[:2], "little")
            if ln ^ int.from_bytes(hdr[2:], "little") != 0xFFFF:
                raise ValueError("inflate: stored-block LEN/NLEN mismatch")
            data, p = read_fixed(buf, p, ln)
            out += data
            bits.seek_byte(p)
        elif btype in (1, 2):
            lit_table, dist_table = (
                (_FIXED_LIT, _FIXED_DIST) if btype == 1 else _read_dynamic(bits)
            )
            while True:
                sym = bits.symbol(lit_table)
                if sym == 256:
                    break
                if sym < 256:
                    out.append(sym)
                    continue
                if sym > 285:
                    raise ValueError("inflate: bad length symbol")
                ln = _LEN_BASE[sym - 257] + bits.take(_LEN_EXTRA[sym - 257])
                d = bits.symbol(dist_table)
                if d > 29:
                    raise ValueError("inflate: bad distance symbol")
                dist = _DIST_BASE[d] + bits.take(_DIST_EXTRA[d])
                if dist > len(out):
                    raise ValueError("inflate: distance beyond output")
                lz_copy(out, dist, ln)
        else:
            raise ValueError("inflate: reserved block type")
        if bfinal:
            return bytes(out)


def deflate_col(doc_id, text, levels=(0, 1, 9)):
    """Column: raw-DEFLATE each row via zlib (the third-party encoder),
    level rotated by id so stored/fixed/dynamic blocks all appear."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def enc(i: pd.Series, t: pd.Series) -> pd.Series:
        def one(did, s):
            c = zlib.compressobj(
                levels[int(did) % len(levels)], zlib.DEFLATED, -15
            )
            return c.compress(s.encode("utf-8")) + c.flush()

        return pd.Series([one(d, s) for d, s in zip(i, t)])

    return enc(doc_id, text)


def inflate_col(z):
    """Column: decode raw DEFLATE with the from-scratch inflate."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def dec(b: pd.Series) -> pd.Series:
        return b.map(lambda v: inflate(bytes(v)).decode("utf-8"))

    return dec(z)
