"""From-scratch DEFLATE encoder (functions/deflate_enc.py)."""

from __future__ import annotations

import random
import zlib

import pytest

from hatchery_spark.functions.deflate_enc import (
    _limited_lengths,
    deflate_encode,
)
from hatchery_spark.functions.inflate import inflate
from hatchery_spark.functions.npwire import canonical_codes as _canonical_codes

CASES = [
    b"",
    b"a",
    b"ab",
    b"a" * 100_000,                      # overlapping dist-1 copies
    b"abcabcabc" * 100,                  # short-period LZ
    bytes(range(256)) * 4,               # full byte alphabet
    ("lorem ipsum dolor sit amet " * 80).encode(),
    b"\x00" * 65_536 + b"\x01",          # stored-block split boundary
]


@pytest.mark.parametrize("mode", ["stored", "fixed", "dynamic", "auto"])
def test_zlib_decodes_our_bytes(mode):
    # third-party interop: the decoder we do not control accepts us
    for d in CASES:
        assert zlib.decompress(deflate_encode(d, mode), wbits=-15) == d


@pytest.mark.parametrize("mode", ["stored", "fixed", "dynamic"])
def test_own_inflate_agrees(mode):
    for d in CASES:
        assert inflate(deflate_encode(d, mode)) == d


def test_dynamic_beats_fixed_on_skewed_text():
    t = ("hello hatchery " * 300).encode()
    assert len(deflate_encode(t, "dynamic")) < len(deflate_encode(t, "fixed"))
    assert len(deflate_encode(t, "fixed")) < len(t) // 10


def test_auto_picks_smallest():
    t = random.Random(3).randbytes(4000)  # incompressible → stored wins
    assert len(deflate_encode(t, "auto")) == len(deflate_encode(t, "stored"))


def test_length_limit_on_fibonacci_frequencies():
    # plain Huffman depth for Fibonacci freqs grows linearly — must clamp
    fib = [1, 1]
    while len(fib) < 30:
        fib.append(fib[-1] + fib[-2])
    lengths = _limited_lengths({i: f for i, f in enumerate(fib)}, 15)
    assert max(lengths.values()) <= 15
    assert sum(1 << (15 - l) for l in lengths.values()) == 1 << 15  # complete


def test_kraft_complete_fuzz():
    rng = random.Random(11)
    for _ in range(400):
        f = {
            rng.randint(0, 285): rng.randint(1, 10 ** rng.randint(0, 8))
            for _ in range(rng.randint(1, 60))
        }
        for m in (7, 15):
            lengths = _limited_lengths(f, m)
            assert max(lengths.values()) <= m
            assert sum(1 << (m - l) for l in lengths.values()) == 1 << m
            codes = _canonical_codes(lengths)
            assert len({codes[s] for s in lengths}) == len(lengths)


def test_end_to_end_fuzz_vs_zlib():
    rng = random.Random(42)
    for _ in range(60):
        d = bytes(
            rng.randrange(rng.choice([2, 16, 256]))
            for _ in range(rng.randint(0, 3000))
        )
        for mode in ("fixed", "dynamic"):
            assert zlib.decompress(deflate_encode(d, mode), wbits=-15) == d


def test_degenerate_alphabets_form_complete_trees():
    # all-literal single-byte payloads leave the distance tree unused;
    # one-symbol and zero-symbol alphabets must still emit valid headers
    for d in (b"z", b"zz", b"zzz" * 10):
        z = deflate_encode(d, "dynamic")
        assert zlib.decompress(z, wbits=-15) == d
