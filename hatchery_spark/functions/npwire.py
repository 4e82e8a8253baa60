"""Wire-format primitives shared by the from-scratch codecs.

One definition of each byte-level building block the codecs in
``functions/`` are made of:

* **varints**: ``read_uvarint`` / ``write_uvarint`` (unsigned LEB128, the
  Protobuf / Thrift-compact / Avro / Kafka / snappy / xz form) plus
  ``zigzag`` / ``unzigzag`` for the signed formats. A varint longer than
  ``VARINT_MAX_BYTES`` (10, enough for any uint64) raises ``ValueError``;
  one cut short raises ``IndexError``, which the codecs' dead-letter
  paths already catch.
* **fixed-width reads**: ``read_fixed`` returns an exact-length slice or
  raises ``ValueError``, so a truncated header or payload can never read
  as zero bytes.
* **bit readers**: ``LsbBits`` (LSB-first, int accumulator: DEFLATE and
  zstd's FSE table headers) and ``MsbBits`` (MSB-first, precomputed
  ASCII bit string: bzip2 and Gorilla). Reading past the end raises
  ``ValueError("truncated bitstream")``.
* **Huffman and LZ77**: ``canonical_codes`` (RFC 1951 §3.2.2 / T.81
  Annex C code assignment), ``huffman_table`` (a flat lookup table plus
  an escape map for longer codes) decoded by ``LsbBits.symbol`` (inflate)
  and ``MsbBits.symbol`` (bzip2), and ``lz_copy``, the back-reference
  copy of inflate, lz4, snappy, zstd and xz.
* **CRC32C** (Castagnoli), slicing-by-8: Kafka record batches, TFRecord.
  Plain CRC-32 is ``zlib.crc32``.
* **vectorized encoders**: ``zigzag_varint_encode`` (the batch form of
  ``write_uvarint(out, zigzag(n))``) and ``rowcat`` for the Avro fast
  writer: per-row Python loops over varint bytes dominate encode stages
  at 10^5+ rows/task, while a whole batch encodes in O(max_varint_len)
  numpy passes. Byte-for-byte identical to the scalar writer (asserted
  in tests).

What stays outside, and why:

* ``zstd_dec.BackBits``: the only backward bitstream (sentinel bit,
  reads consume downward).
* ``zstd_dec._huff_from_weights``: zstd orders codes by weight, longest
  codes first, and reads them backward through ``BackBits``.
* ``jpeg._BitReader`` / ``_BitWriter``: they handle 0xFF00 byte stuffing
  and are already shared by the three jpeg modules. jpeg decodes codes
  bit by bit: a table peek could read past a code into a marker.
* ``deflate_enc._BitWriter``: the only LSB-first writer.
* ``gorilla._BitWriter``: the only MSB-first writer without stuffing.
* ``bzip2._bz_crc``: the per-byte reference the tests pin
  ``_bz_crc_fast`` against.
* ``xz._crc64``: it has one user.
* ``x509`` OID base-128: a different, big-endian format.
* the two varint loops inlined in Avro's per-record decode loop
  (``avro._compile_flat_decoder``): nobody has measured what replacing
  them with calls would cost.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "VARINT_MAX_BYTES",
    "read_uvarint",
    "write_uvarint",
    "zigzag",
    "unzigzag",
    "read_fixed",
    "LsbBits",
    "MsbBits",
    "canonical_codes",
    "huffman_table",
    "lz_copy",
    "crc32c",
    "zigzag_varint_encode",
    "rowcat",
]

# ---------------------------------------------------------------------------
# varints and fixed-width reads
# ---------------------------------------------------------------------------

VARINT_MAX_BYTES = 10  # ceil(64 / 7): the longest uint64 varint
_VARINT_MAX_SHIFT = 7 * VARINT_MAX_BYTES
_M64 = (1 << 64) - 1


def read_uvarint(buf, pos: int) -> tuple[int, int]:
    """Unsigned LEB128 at ``buf[pos]`` → (value, next pos)."""
    b = buf[pos]
    if b < 0x80:
        return b, pos + 1
    n = b & 0x7F
    shift = 7
    while True:
        pos += 1
        b = buf[pos]
        n |= (b & 0x7F) << shift
        if b < 0x80:
            return n, pos + 1
        shift += 7
        if shift >= _VARINT_MAX_SHIFT:
            raise ValueError("varint longer than 10 bytes")


def write_uvarint(out: bytearray, n: int) -> None:
    """Append unsigned LEB128 ``n`` (n ≥ 0) to ``out``."""
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)


def zigzag(n: int) -> int:
    """int64 → uint64, small magnitudes first: 0, -1, 1, -2 → 0, 1, 2, 3."""
    return ((n << 1) ^ (n >> 63)) & _M64


def unzigzag(z: int) -> int:
    return (z >> 1) ^ -(z & 1)


def read_fixed(buf, pos: int, n: int) -> tuple[bytes, int]:
    """Exactly ``n`` bytes at ``buf[pos]`` → (slice, pos + n)."""
    end = pos + n
    if end > len(buf):
        raise ValueError("truncated input")
    return buf[pos:end], end


# ---------------------------------------------------------------------------
# bit readers
# ---------------------------------------------------------------------------


class LsbBits:
    """LSB-first reader over an int accumulator: ``take(n)`` is two int
    ops plus an occasional byte refill, not an n-iteration loop. Only
    real bytes enter the accumulator, so running out raises exactly at
    the end of the data."""

    __slots__ = ("buf", "pos", "acc", "nbits")

    def __init__(self, buf) -> None:
        self.buf = buf
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def fill(self, need: int) -> None:
        """Top the accumulator up to ``need`` bits, or to the end."""
        buf, pos, acc, nb = self.buf, self.pos, self.acc, self.nbits
        n = len(buf)
        while nb < need and pos < n:
            acc |= buf[pos] << nb
            pos += 1
            nb += 8
        self.pos, self.acc, self.nbits = pos, acc, nb

    def take(self, n: int) -> int:
        if self.nbits < n:
            self.fill(n)
            if self.nbits < n:
                raise ValueError("truncated bitstream")
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v

    def symbol(self, table) -> int:
        """One symbol through an LSB-first ``huffman_table``."""
        width, lut, esc = table
        if self.nbits < width:
            self.fill(width)
        entry = lut[self.acc & ((1 << width) - 1)]
        if entry is None:  # longer than the table, or no code at all
            for n, codes in esc.items():
                self.fill(n)
                entry = codes.get(self.acc & ((1 << n) - 1))
                if entry:
                    break
            else:
                raise ValueError("bad Huffman code")
        sym, n = entry
        if n > self.nbits:
            raise ValueError("truncated bitstream")
        self.acc >>= n
        self.nbits -= n
        return sym

    def byte_pos(self) -> int:
        """Drop to a byte boundary; → offset of the next unconsumed byte."""
        drop = self.nbits & 7
        self.acc >>= drop
        self.nbits -= drop
        return self.pos - self.nbits // 8

    def seek_byte(self, p: int) -> None:
        self.pos = p
        self.acc = 0
        self.nbits = 0


class MsbBits:
    """MSB-first reader over a precomputed ASCII '0'/'1' expansion:
    ``take(n)`` (n ≥ 1) is one bytes slice plus ``int(s, 2)``, both at C
    speed. Hot loops may read ``s`` (the expansion) and ``p`` (the bit
    position) directly. The expansion costs 8 bytes per input byte, which
    is fine for row-sized blobs."""

    __slots__ = ("s", "p", "nbits")

    def __init__(self, buf) -> None:
        bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
        self.nbits = len(bits)
        # padding guard: a partial Huffman read near the end may peek past
        # it; the stream's own magics/CRCs reject any decode that used it
        self.s = (bits + ord("0")).astype(np.uint8).tobytes() + b"0" * 64
        self.p = 0

    def take(self, n: int) -> int:
        p = self.p
        if p + n > self.nbits:
            raise ValueError("truncated bitstream")
        self.p = p + n
        return int(self.s[p : p + n], 2)

    def symbol(self, table) -> int:
        """One symbol through an MSB-first ``huffman_table``; the zero
        padding makes the peek past the last real bit safe."""
        width, lut, esc = table
        s, p = self.s, self.p
        entry = lut[int(s[p : p + width], 2)]
        if entry is None:  # longer than the table, or no code at all
            for n, codes in esc.items():
                entry = codes.get(int(s[p : p + n], 2))
                if entry:
                    break
            else:
                raise ValueError("bad Huffman code")
        sym, n = entry
        if p + n > self.nbits:
            raise ValueError("truncated bitstream")
        self.p = p + n
        return sym


# ---------------------------------------------------------------------------
# canonical Huffman and the LZ77 back-reference copy
# ---------------------------------------------------------------------------


def canonical_codes(pairs) -> dict[int, tuple[int, int]]:
    """(symbol, length) pairs or a {symbol: length} mapping → {symbol:
    (code, nbits)}: codes of one length are consecutive and go to the
    symbols in the order given; length 0 means unused."""
    used = [(sym, n) for sym, n in dict(pairs).items() if n]
    codes: dict[int, tuple[int, int]] = {}
    code, prev = -1, 0
    for sym, n in sorted(used, key=lambda sn: sn[1]):  # stable
        code = (code + 1) << (n - prev)
        if code >> n:
            raise ValueError("over-subscribed Huffman code")
        codes[sym] = (code, n)
        prev = n
    return codes


def huffman_table(lengths, width: int, lsb_first: bool) -> tuple:
    """Code lengths in symbol order → ``(width, lut, esc)`` for
    ``LsbBits.symbol`` (``lsb_first``: DEFLATE, whose codes sit
    bit-reversed in the stream) or ``MsbBits.symbol`` (bzip2).
    ``lut[next width bits]`` is ``(symbol, nbits)``; ``esc`` maps each
    longer length, shortest first, to ``{next n bits: (symbol, n)}``."""
    lut: list = [None] * (1 << width)
    esc: dict[int, dict] = {}
    for sym, (code, n) in canonical_codes(enumerate(lengths)).items():
        if lsb_first:
            code = int(f"{code:0{n}b}"[::-1], 2)
        if n > width:
            esc.setdefault(n, {})[code] = (sym, n)
        elif lsb_first:  # the code is the low n bits of the index
            lut[code :: 1 << n] = [(sym, n)] * (1 << (width - n))
        else:  # the code is the high n bits of the index
            k = 1 << (width - n)
            lut[code * k : code * k + k] = [(sym, n)] * k
    return width, lut, esc


def lz_copy(out: bytearray, dist: int, n: int) -> None:
    """Append ``n`` bytes copied from ``dist`` back (``0 < dist <=
    len(out)``, checked by the caller); an overlapping copy repeats the
    last ``dist`` bytes."""
    start = len(out) - dist
    if dist >= n:
        out += out[start : start + n]
    else:
        out += (out[start:] * (n // dist + 1))[:n]


# ---------------------------------------------------------------------------
# CRC32C (Castagnoli): table-driven, reflected polynomial 0x82F63B78
# ---------------------------------------------------------------------------

_CRC32C_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)

# slicing-by-8 tables: _CRC32C_SLICE[k][b] = CRC of byte b followed by k
# zero bytes (base table = k=0). Lets the hot loop consume 8 bytes per
# Python iteration instead of one.
_CRC32C_SLICE = [_CRC32C_TABLE]
for _k in range(7):
    _prev = _CRC32C_SLICE[-1]
    _CRC32C_SLICE.append(
        [(_v >> 8) ^ _CRC32C_TABLE[_v & 0xFF] for _v in _prev]
    )


def crc32c(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFF
    t0, t1, t2, t3, t4, t5, t6, t7 = _CRC32C_SLICE
    nw = len(data) >> 3
    if nw:
        for w in struct.unpack_from(f"<{nw}Q", data):
            x = w ^ crc
            crc = (
                t7[x & 0xFF]
                ^ t6[(x >> 8) & 0xFF]
                ^ t5[(x >> 16) & 0xFF]
                ^ t4[(x >> 24) & 0xFF]
                ^ t3[(x >> 32) & 0xFF]
                ^ t2[(x >> 40) & 0xFF]
                ^ t1[(x >> 48) & 0xFF]
                ^ t0[x >> 56]
            )
    for b in data[nw << 3 :]:
        crc = t0[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# vectorized (numpy) batch encoders
# ---------------------------------------------------------------------------


def zigzag_varint_encode(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """int64 values → (flat uint8 LEB128 bytes, per-value byte lengths).

    zigzag: z = (n << 1) ^ (n >> 63); then little-endian base-128 with a
    continuation bit — the Avro/Protobuf "long" wire form. All values are
    encoded in ≤10 vectorized passes (one per possible byte position)."""
    v = np.asarray(vals, dtype=np.int64)
    n = len(v)
    if n == 0:
        return np.empty(0, np.uint8), np.empty(0, np.int64)
    z = (v.astype(np.uint64) << np.uint64(1)) ^ (v >> np.int64(63)).astype(
        np.uint64
    )
    lens = np.ones(n, dtype=np.int64)
    t = z >> np.uint64(7)
    while t.any():
        lens += (t != 0).astype(np.int64)
        t >>= np.uint64(7)
    total = int(lens.sum())
    flat = np.empty(total, dtype=np.uint8)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    for j in range(int(lens.max())):
        m = lens > j
        byte = ((z[m] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (lens[m] - 1 > j).astype(np.uint8) << 7
        flat[starts[m] + j] = byte | cont
    return flat, lens


def rowcat(
    pieces: list[tuple[np.ndarray, np.ndarray]],
) -> tuple[np.ndarray, np.ndarray]:
    """Interleave variable-length per-row byte pieces into one flat buffer.

    Each piece is (flat uint8 bytes, per-row lengths); all pieces cover the
    same row count. Row r's output is piece0[r] ‖ piece1[r] ‖ … — i.e. the
    record concatenation an Avro/row codec needs — built with one gather
    per piece instead of a per-row join."""
    if not pieces:
        return np.empty(0, np.uint8), np.empty(0, np.int64)
    nrows = len(pieces[0][1])
    rec_lens = np.zeros(nrows, dtype=np.int64)
    for _, lens in pieces:
        rec_lens += lens
    rec_starts = np.concatenate([[0], np.cumsum(rec_lens)[:-1]])
    out = np.empty(int(rec_lens.sum()), dtype=np.uint8)
    off = np.zeros(nrows, dtype=np.int64)
    for flat, lens in pieces:
        if flat.size == 0:
            continue
        tstart = rec_starts + off
        src_starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        # target index for every source byte of this piece
        idx = (
            np.arange(flat.size, dtype=np.int64)
            - np.repeat(src_starts, lens)
            + np.repeat(tstart, lens)
        )
        out[idx] = flat
        off += lens
    return out, rec_lens
