"""DEFLATE decoder (inflate) from RFC 1951, from scratch.

gzip/zlib/PNG/Avro-deflate all bottom out in DEFLATE; the repo's
existing paths decode via zlib. This is an independent decoder —
stored blocks, fixed-Huffman blocks, dynamic-Huffman blocks with the
full code-length meta-coding (symbols 16/17/18 repeats), the 29
length / 30 distance extra-bit tables, and overlapping LZ77 copies —
whose correctness evidence is INTEROP: it decodes bytes produced by
zlib (a third-party encoder we don't control), unlike the snappy codec
whose conformance is self-consistent.

Decode tables are canonical-Huffman per RFC 1951 §3.2.2: codes of each
length are assigned in symbol order starting from
``(prev_code + prev_count) << 1``.  The decoder walks bits LSB-first
(DEFLATE packs Huffman codes most-significant-bit-first within the
LSB-first bit stream, so the walker accumulates bits reversed).

Scale shape: one Arrow-batched UDF; each blob decodes where it sits.
"""

from __future__ import annotations

import pandas as pd

from hatchery_spark.functions.npwire import LsbBits, read_fixed

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


_LUT_BITS = 9


def _build_lut(lengths: list[int], lut_bits: int = _LUT_BITS):
    """Flat decode table: index = next `lut_bits` stream bits (LSB-first,
    i.e. the bit-reversed code plus free filler bits) → (symbol, length).
    Codes longer than `lut_bits` fall back to the canonical dict walk
    (rare: only length-10+ codes of a dynamic tree)."""
    lut: list = [None] * (1 << lut_bits)
    esc: dict[tuple[int, int], int] = {}
    code = 0
    for ln in range(1, max(lengths, default=0) + 1):
        for sym, sl in enumerate(lengths):
            if sl == ln:
                if ln <= lut_bits:
                    rev = int(f"{code:0{ln}b}"[::-1], 2)
                    entry = (sym, ln)
                    for idx in range(rev, 1 << lut_bits, 1 << ln):
                        lut[idx] = entry
                else:
                    esc[(ln, code)] = sym
                code += 1
        code <<= 1
    return lut, esc


def _decode_sym_lut(bits: LsbBits, lut, esc) -> int:
    if bits.nbits < _LUT_BITS:
        bits.fill(_LUT_BITS)
    entry = lut[bits.acc & 0x1FF]
    if entry is not None:
        sym, ln = entry
        if bits.nbits < ln:
            raise ValueError("truncated bitstream")
        bits.acc >>= ln
        bits.nbits -= ln
        return sym
    # code longer than the table (or invalid): canonical bit-by-bit walk
    code = 0
    for ln in range(1, 16):
        code = (code << 1) | bits.take(1)  # codes are MSB-first
        if ln > _LUT_BITS:
            sym = esc.get((ln, code))
            if sym is not None:
                return sym
    raise ValueError("inflate: bad Huffman code")


_FIXED_LIT_LUT = _build_lut([8] * 144 + [9] * 112 + [7] * 24 + [8] * 8)
_FIXED_DIST_LUT = _build_lut([5] * 30)


def _read_dynamic(bits: LsbBits):
    hlit = bits.take(5) + 257
    hdist = bits.take(5) + 1
    hclen = bits.take(4) + 4
    cl_lengths = [0] * 19
    for i in range(hclen):
        cl_lengths[_CLC_ORDER[i]] = bits.take(3)
    cl_lut, cl_esc = _build_lut(cl_lengths)
    lengths: list[int] = []
    while len(lengths) < hlit + hdist:
        sym = _decode_sym_lut(bits, cl_lut, cl_esc)
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
    return _build_lut(lengths[:hlit]), _build_lut(lengths[hlit:])


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
            (lit_lut, lit_esc), (dist_lut, dist_esc) = (
                (_FIXED_LIT_LUT, _FIXED_DIST_LUT)
                if btype == 1
                else _read_dynamic(bits)
            )
            while True:
                sym = _decode_sym_lut(bits, lit_lut, lit_esc)
                if sym == 256:
                    break
                if sym < 256:
                    out.append(sym)
                    continue
                if sym > 285:
                    raise ValueError("inflate: bad length symbol")
                ln = _LEN_BASE[sym - 257] + bits.take(_LEN_EXTRA[sym - 257])
                d = _decode_sym_lut(bits, dist_lut, dist_esc)
                if d > 29:
                    raise ValueError("inflate: bad distance symbol")
                dist = _DIST_BASE[d] + bits.take(_DIST_EXTRA[d])
                if dist > len(out):
                    raise ValueError("inflate: distance beyond output")
                start = len(out) - dist
                if dist >= ln:  # disjoint: one slice copy
                    out += out[start : start + ln]
                else:  # overlapping: the dist-byte pattern repeats
                    pattern = out[start:]
                    out += (pattern * (ln // dist + 1))[:ln]
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
