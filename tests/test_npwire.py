"""npwire: the shared wire primitives under the codecs."""

import random

import numpy as np
import pytest

from hatchery_spark.functions.npwire import (
    LsbBits,
    MsbBits,
    canonical_codes,
    huffman_table,
    lz_copy,
    read_fixed,
    read_uvarint,
    unzigzag,
    write_uvarint,
    zigzag,
    zigzag_varint_encode,
)

UVARINT_VECTORS = [
    (0, b"\x00"),
    (127, b"\x7f"),
    (128, b"\x80\x01"),
    (300, b"\xac\x02"),
    (2**64 - 1, b"\xff" * 9 + b"\x01"),
]

ZIGZAG_VECTORS = [
    (0, 0),
    (-1, 1),
    (1, 2),
    (-(2**63), 2**64 - 1),
    (2**63 - 1, 2**64 - 2),
]


@pytest.mark.parametrize("n,wire", UVARINT_VECTORS)
def test_uvarint_known_answers(n, wire):
    out = bytearray()
    write_uvarint(out, n)
    assert bytes(out) == wire
    assert read_uvarint(b"\xee" + wire + b"\xee", 1) == (n, 1 + len(wire))


@pytest.mark.parametrize("n,z", ZIGZAG_VECTORS)
def test_zigzag_known_answers(n, z):
    assert zigzag(n) == z
    assert unzigzag(z) == n


def test_overlong_varint_is_valueerror():
    # 10 bytes is the longest uint64; an 11th byte is corrupt input
    assert read_uvarint(b"\x80" * 9 + b"\x01", 0) == (1 << 63, 10)
    with pytest.raises(ValueError):
        read_uvarint(b"\x80" * 10 + b"\x00", 0)


@pytest.mark.parametrize("buf", [b"", b"\x80", b"\xff\xff\xff"])
def test_truncated_varint_is_indexerror(buf):
    with pytest.raises(IndexError):
        read_uvarint(buf, 0)


def test_vectorized_encoder_matches_scalar_writer():
    vals = [0, 1, -1, 63, 64, -64, -65, 300, -300, 2**31, -(2**31),
            2**53 + 1, -(2**53 + 1), 2**62, 2**63 - 1, -(2**63)]
    flat, lens = zigzag_varint_encode(np.array(vals, dtype=np.int64))
    want = bytearray()
    want_lens = []
    for v in vals:
        before = len(want)
        write_uvarint(want, zigzag(v))
        want_lens.append(len(want) - before)
    assert flat.tobytes() == bytes(want)
    assert lens.tolist() == want_lens


def test_read_fixed_is_exact_or_valueerror():
    assert read_fixed(b"abcdef", 2, 3) == (b"cde", 5)
    assert read_fixed(b"abc", 3, 0) == (b"", 3)
    with pytest.raises(ValueError):
        read_fixed(b"abcdef", 4, 3)


def _bit(buf: bytes, i: int, msb: bool) -> int:
    shift = 7 - (i & 7) if msb else i & 7
    return (buf[i >> 3] >> shift) & 1


@pytest.mark.parametrize("seed", range(5))
def test_bit_readers_match_per_bit_reference(seed):
    rng = random.Random(seed)
    buf = rng.randbytes(rng.randint(1, 64))
    for cls, msb in ((LsbBits, False), (MsbBits, True)):
        r = cls(buf)
        i = 0
        while True:
            n = rng.randint(1, 40)
            if i + n > 8 * len(buf):
                break
            bits = [_bit(buf, i + k, msb) for k in range(n)]
            if msb:
                want = int("".join(map(str, bits)), 2)
            else:
                want = sum(b << k for k, b in enumerate(bits))
            assert r.take(n) == want, (cls.__name__, i, n)
            i += n
        with pytest.raises(ValueError, match="truncated bitstream"):
            r.take(8 * len(buf) - i + 1)


def test_lsb_byte_pos_and_seek():
    r = LsbBits(b"\xab\xcd\xef")
    assert r.take(3) == 0xAB & 7
    assert r.byte_pos() == 1  # partial byte dropped
    assert r.take(8) == 0xCD
    r.seek_byte(2)
    assert r.take(8) == 0xEF
    with pytest.raises(ValueError):
        r.take(1)


def test_canonical_codes_rfc1951_example():
    # RFC 1951 §3.2.2: lengths (3,3,3,3,3,2,4,4) for A..H
    codes = canonical_codes(zip("ABCDEFGH", (3, 3, 3, 3, 3, 2, 4, 4)))
    got = {s: f"{c:0{n}b}" for s, (c, n) in codes.items()}
    assert got == {
        "A": "010", "B": "011", "C": "100", "D": "101",
        "E": "110", "F": "00", "G": "1110", "H": "1111",
    }


def test_canonical_codes_follow_caller_order():
    # JPEG lists symbols in HUFFVAL order, not symbol order (T.81 Annex C):
    # the codes of one length go to the symbols in the order given
    codes = canonical_codes([(0x11, 2), (0x01, 2), (0x00, 2), (0x21, 3), (0x05, 0)])
    assert codes == {0x11: (0, 2), 0x01: (1, 2), 0x00: (2, 2), 0x21: (6, 3)}
    assert canonical_codes({0x00: 2, 0x01: 2, 0x11: 2})[0x11] == (2, 2)


def test_canonical_codes_reject_over_subscription():
    with pytest.raises(ValueError, match="over-subscribed"):
        canonical_codes(enumerate([1, 1, 1]))


def _random_lengths(rng: random.Random, nsym: int, max_len: int) -> list[int]:
    """Lengths of a complete code: split random leaves (never past
    ``max_len``) until there are ``nsym``, then deepen to ``max_len``."""
    leaves = [1, 1]
    while len(leaves) < nsym:
        i = rng.randrange(len(leaves))
        if leaves[i] < max_len:
            leaves[i:i + 1] = [leaves[i] + 1] * 2
    # force at least one code of the maximum length
    while max(leaves) < max_len:
        i = leaves.index(max(leaves))
        leaves[i:i + 1] = [leaves[i] + 1] * 2
    rng.shuffle(leaves)
    return leaves


def _pack(codes, syms, msb: bool) -> bytes:
    """Bit-pack the symbols' codes, MSB-first within each code, zero
    padded; stream bits go LSB-first (DEFLATE) or MSB-first (bzip2)
    within each byte."""
    stream = "".join(f"{codes[s][0]:0{codes[s][1]}b}" for s in syms)
    stream += "0" * (-len(stream) % 8)
    return bytes(
        int(stream[i:i + 8] if msb else stream[i:i + 8][::-1], 2)
        for i in range(0, len(stream), 8)
    )


@pytest.mark.parametrize("cls,msb,max_len", [(LsbBits, False, 15), (MsbBits, True, 20)])
@pytest.mark.parametrize("seed", range(4))
def test_table_decode_round_trips(cls, msb, max_len, seed):
    rng = random.Random(seed)
    lengths = _random_lengths(rng, rng.randint(max_len + 1, 300), max_len)
    lengths.insert(rng.randrange(len(lengths)), 0)  # one unused symbol
    codes = canonical_codes(enumerate(lengths))
    table = huffman_table(lengths, 9, lsb_first=not msb)
    assert max(table[2]) == max_len  # some codes go through the escape map
    used = [s for s, n in enumerate(lengths) if n]
    longest = [s for s in used if lengths[s] == max_len]
    syms = [rng.choice(used) for _ in range(400)] + longest
    rng.shuffle(syms)
    r = cls(_pack(codes, syms, msb))
    assert [r.symbol(table) for _ in syms] == syms
    # a longest code cut short by the end of the data (whole bytes only)
    cut = _pack(codes, longest[:1], msb)
    with pytest.raises(ValueError, match="truncated bitstream"):
        cls(cut[:-1]).symbol(table)


@pytest.mark.parametrize("cls,msb", [(LsbBits, False), (MsbBits, True)])
def test_table_decode_truncated_short_code(cls, msb):
    # lengths 1,2,3,3: code "111" for symbol 3; only two real bits left
    table = huffman_table([1, 2, 3, 3], 2, lsb_first=not msb)
    r = cls(b"\xff")
    r.take(6)
    with pytest.raises(ValueError, match="truncated bitstream"):
        r.symbol(table)


def _lz_copy_ref(out: bytearray, dist: int, n: int) -> None:
    for _ in range(n):
        out.append(out[-dist])


@pytest.mark.parametrize("dist,n", [(1, 7), (3, 8), (4, 4), (6, 2), (9, 9), (5, 1)])
def test_lz_copy_matches_per_byte_reference(dist, n):
    base = bytearray(b"abcdefghi")
    got, want = bytearray(base), bytearray(base)
    lz_copy(got, dist, n)
    _lz_copy_ref(want, dist, n)
    assert got == want
