"""npwire: the shared wire primitives under the codecs."""

import random

import numpy as np
import pytest

from hatchery_spark.functions.npwire import (
    LsbBits,
    MsbBits,
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
