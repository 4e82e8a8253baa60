"""DEFLATE encoder (RFC 1951) from scratch — the pair of functions/inflate.py.

The repo already proves its *decoder* against zlib output (third-party
interop, rel_inflate_roundtrip). This closes the other direction: a
from-scratch *encoder* — greedy hash-chain LZ77 (§4), fixed-Huffman
blocks, and full dynamic-Huffman blocks (length-limited canonical code
construction, the 16/17/18 code-length meta-coding, HCLEN trimming in
the spec's permuted order) — whose correctness evidence is that the
stdlib zlib decoder (code we do not control) inflates our bytes back to
the source, AND our own inflate agrees.

Why an encoder at all: gzip/zlib/PNG/Avro-deflate sinks all bottom out
in DEFLATE, and a pipeline that can only *read* those containers cannot
write interoperable ones without ceding the hot path to opaque codecs.

Length-limited codes: plain Huffman depths can exceed DEFLATE's 15-bit
(7-bit for the code-length alphabet) ceiling on skewed frequency
distributions (Fibonacci-like tails). Lengths are clamped then repaired
to an exactly-complete code (Kraft sum == 1) by integer arithmetic:
over-subscribed → lengthen the shallowest clamped leaves (halves their
Kraft share), under-subscribed → shorten the deepest leaf that still
fits. Complete codes matter: zlib's inflate hard-rejects incomplete
literal/length trees.

Scale shape: one Arrow-batched UDF; each blob encodes where it sits —
no shuffle, no driver state. Reference analog: hatchery compresses
routed payloads at the destination boundary (destination/gcs writer);
here the codec itself is part of the engine.
"""

from __future__ import annotations

import pandas as pd

from hatchery_spark.functions.inflate import (
    _CLC_ORDER,
    _DIST_BASE,
    _DIST_EXTRA,
    _FIXED_DIST_LENGTHS,
    _FIXED_LIT_LENGTHS,
    _LEN_BASE,
    _LEN_EXTRA,
)
from hatchery_spark.functions.npwire import canonical_codes

_MAX_DIST = 32768
_MAX_LEN = 258
_CHAIN = 32          # candidate positions examined per match attempt

# length value (3..258) -> length symbol (257..285)
_LEN_SYM = [0] * (_MAX_LEN + 1)
for _s, (_b, _e) in enumerate(zip(_LEN_BASE, _LEN_EXTRA)):
    for _v in range(_b, min(_b + (1 << _e), _MAX_LEN + 1)):
        _LEN_SYM[_v] = 257 + _s
_LEN_SYM[_MAX_LEN] = 285  # 258 belongs to the 0-extra-bit top symbol


def _dist_sym(dist: int) -> int:
    lo, hi = 0, 29
    while lo < hi:  # last base <= dist
        mid = (lo + hi + 1) // 2
        if _DIST_BASE[mid] <= dist:
            lo = mid
        else:
            hi = mid - 1
    return lo


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def bits(self, value: int, n: int) -> None:
        """n bits, LSB of value first (header fields, extra bits)."""
        self.acc |= value << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def align(self) -> None:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0

    def bytes(self) -> bytes:
        self.align()
        return bytes(self.out)


def _match_len(data: bytes, j: int, i: int, max_l: int) -> int:
    """Common-prefix length of data[j:] vs data[i:], capped at max_l —
    chunked slice equality (C-speed memcmp) with a bytewise tail, instead
    of a per-byte Python loop. Exact same value as the naive scan."""
    l = 0
    while l < max_l:
        chunk = max_l - l
        if chunk > 64:
            chunk = 64
        if data[j + l : j + l + chunk] == data[i + l : i + l + chunk]:
            l += chunk
            continue
        while l < max_l and data[j + l] == data[i + l]:
            l += 1
        break
    return l


def _lz77(data: bytes) -> list:
    """Greedy hash-chain matcher → list of int literals and
    (length, distance) tuples. Overlapping matches (dist < len) emerge
    naturally from comparing against the source buffer.

    Token stream is IDENTICAL to the reference per-byte scan (pinned by
    tests); only the scan mechanics are faster: precomputed int 3-gram
    keys (one vectorized numpy pass), a data[i+best_len] probe that
    rejects candidates unable to beat the current best with one byte
    compare (they could only tie, and ties never update best), and
    chunked memcmp for the match length."""
    n = len(data)
    tokens: list = []
    if n == 0:
        return tokens
    import numpy as np

    arr = np.frombuffer(data, dtype=np.uint8)
    if n >= 3:
        keys = (
            arr[: n - 2].astype(np.int32)
            | (arr[1 : n - 1].astype(np.int32) << 8)
            | (arr[2:].astype(np.int32) << 16)
        ).tolist()
    else:
        keys = []
    head: dict[int, list[int]] = {}
    i = 0
    last_key = n - 3  # last position with a full 3-gram
    while i < n:
        best_len = 0
        best_dist = 0
        if i <= last_key:
            cand = head.get(keys[i])
            if cand:
                max_l = min(_MAX_LEN, n - i)
                probe = i + best_len  # data[probe] must match to beat best
                for j in reversed(cand):
                    if i - j > _MAX_DIST:
                        break
                    if best_len and data[j + best_len] != data[probe]:
                        continue
                    l = _match_len(data, j, i, max_l)
                    if l > best_len:
                        best_len, best_dist = l, i - j
                        if l == max_l:
                            break
                        probe = i + best_len
        if best_len >= 3:
            tokens.append((best_len, best_dist))
            end = i + best_len
            while i < end:
                if i <= last_key:
                    lst = head.setdefault(keys[i], [])
                    lst.append(i)
                    if len(lst) > 2 * _CHAIN:
                        del lst[:_CHAIN]
                i += 1
        else:
            tokens.append(data[i])
            if i <= last_key:
                lst = head.setdefault(keys[i], [])
                lst.append(i)
                if len(lst) > 2 * _CHAIN:
                    del lst[:_CHAIN]
            i += 1
    return tokens


def _limited_lengths(freqs: dict[int, int], max_len: int,
                     min_syms: int = 2) -> dict[int, int]:
    """Length-limited canonical-Huffman code lengths with Kraft sum
    exactly 1 (a complete code — zlib rejects incomplete lit trees).
    Pads with the lowest unused symbols up to ``min_syms`` so degenerate
    alphabets (one or zero used symbols) still form a complete tree."""
    freqs = dict(freqs)
    pad = 0
    while len(freqs) < min_syms:
        while pad in freqs:
            pad += 1
        freqs[pad] = 0  # structural symbol, never emitted
    syms = sorted(freqs)
    if len(syms) == 2:
        return {syms[0]: 1, syms[1]: 1}

    import heapq

    heap = [(max(f, 1), s, (s,)) for s, f in freqs.items()]
    heapq.heapify(heap)
    depth = {s: 0 for s in freqs}
    while len(heap) > 1:
        f1, t1, g1 = heapq.heappop(heap)
        f2, t2, g2 = heapq.heappop(heap)
        for s in g1 + g2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, min(t1, t2), g1 + g2))

    lengths = {s: min(d, max_len) for s, d in depth.items()}
    target = 1 << max_len
    kraft = sum(1 << (max_len - l) for l in lengths.values())
    while kraft > target:  # lengthen the deepest eligible leaf
        s = max(
            (s for s, l in lengths.items() if l < max_len),
            key=lambda s: (lengths[s], -s),
        )
        kraft -= 1 << (max_len - lengths[s] - 1)
        lengths[s] += 1
    while kraft < target:  # shorten the deepest leaf that still fits
        gain = None
        for s, l in sorted(lengths.items(), key=lambda kv: (-kv[1], kv[0])):
            if l > 1 and kraft + (1 << (max_len - l)) <= target:
                gain = s
                break
        if gain is None:  # cannot happen for n >= 2; fail loud if it does
            raise ValueError("deflate: Kraft repair stuck")
        kraft += 1 << (max_len - lengths[gain])
        lengths[gain] -= 1
    return lengths


def _rle_lengths(lengths: list[int]) -> list[tuple[int, int, int]]:
    """HLIT+HDIST length sequence → (symbol, extra_value, extra_bits)
    triples using the 16 (repeat prev 3-6), 17 (zeros 3-10), 18
    (zeros 11-138) meta-symbols."""
    out: list[tuple[int, int, int]] = []
    i, n = 0, len(lengths)
    while i < n:
        v = lengths[i]
        run = 1
        while i + run < n and lengths[i + run] == v:
            run += 1
        i += run
        if v == 0:
            while run >= 11:
                take = min(run, 138)
                out.append((18, take - 11, 7))
                run -= take
            if run >= 3:
                out.append((17, run - 3, 3))
                run = 0
            out.extend([(0, 0, 0)] * run)
        else:
            out.append((v, 0, 0))
            run -= 1
            while run >= 3:
                take = min(run, 6)
                out.append((16, take - 3, 2))
                run -= take
            out.extend([(v, 0, 0)] * run)
    return out


def _lsb_codes(pairs) -> dict:
    """(sym, length) pairs → sym → (bit-reversed canonical code, length):
    DEFLATE writes each code MSB-first into the LSB-first stream, and
    reversing once per tree keeps that off the per-token path."""
    return {
        s: (int(f"{c:0{n}b}"[::-1], 2), n)
        for s, (c, n) in canonical_codes(sorted(pairs)).items()
    }


def _emit_tokens(w: _BitWriter, tokens: list, lit_rev, dist_rev) -> None:
    """Emit a token stream through PRE-REVERSED code tables (sym →
    (lsb-first code, len)) — reversal happens once per tree, not per
    symbol."""
    bits = w.bits
    for t in tokens:
        if isinstance(t, int):
            c, n = lit_rev[t]
            bits(c, n)
        else:
            ln, dist = t
            sym = _LEN_SYM[ln]
            c, n = lit_rev[sym]
            bits(c, n)
            eb = _LEN_EXTRA[sym - 257]
            if eb:
                bits(ln - _LEN_BASE[sym - 257], eb)
            ds = _dist_sym(dist)
            c, n = dist_rev[ds]
            bits(c, n)
            eb = _DIST_EXTRA[ds]
            if eb:
                bits(dist - _DIST_BASE[ds], eb)
    c, n = lit_rev[256]
    bits(c, n)  # end-of-block


def deflate_stored(data: bytes) -> bytes:
    w = _BitWriter()
    chunks = [data[i : i + 65535] for i in range(0, len(data), 65535)] or [b""]
    for k, ch in enumerate(chunks):
        w.bits(1 if k == len(chunks) - 1 else 0, 1)
        w.bits(0, 2)
        w.align()
        w.out += len(ch).to_bytes(2, "little")
        w.out += (len(ch) ^ 0xFFFF).to_bytes(2, "little")
        w.out += ch
    return w.bytes()


_FIXED_LIT_REV = _lsb_codes(enumerate(_FIXED_LIT_LENGTHS))
_FIXED_DIST_REV = _lsb_codes(enumerate(_FIXED_DIST_LENGTHS))


def deflate_fixed(data: bytes, tokens: list | None = None) -> bytes:
    if tokens is None:
        tokens = _lz77(data)
    w = _BitWriter()
    w.bits(1, 1)
    w.bits(1, 2)
    _emit_tokens(w, tokens, _FIXED_LIT_REV, _FIXED_DIST_REV)
    return w.bytes()


def deflate_dynamic(data: bytes, tokens: list | None = None) -> bytes:
    if tokens is None:
        tokens = _lz77(data)
    lit_f: dict[int, int] = {256: 1}
    dist_f: dict[int, int] = {}
    for t in tokens:
        if isinstance(t, int):
            lit_f[t] = lit_f.get(t, 0) + 1
        else:
            s = _LEN_SYM[t[0]]
            lit_f[s] = lit_f.get(s, 0) + 1
            d = _dist_sym(t[1])
            dist_f[d] = dist_f.get(d, 0) + 1

    lit_len = _limited_lengths(lit_f, 15)
    dist_len = _limited_lengths(dist_f, 15)
    hlit = max(257, max(lit_len) + 1)
    hdist = max(1, max(dist_len) + 1)
    seq = [lit_len.get(s, 0) for s in range(hlit)] + [
        dist_len.get(s, 0) for s in range(hdist)
    ]
    rle = _rle_lengths(seq)
    cl_f: dict[int, int] = {}
    for s, _, _ in rle:
        cl_f[s] = cl_f.get(s, 0) + 1
    cl_len = _limited_lengths(cl_f, 7)
    cl_rev = _lsb_codes(cl_len.items())
    hclen = max(
        i + 1 for i, s in enumerate(_CLC_ORDER) if cl_len.get(s, 0) > 0
    )
    hclen = max(hclen, 4)

    w = _BitWriter()
    w.bits(1, 1)
    w.bits(2, 2)
    w.bits(hlit - 257, 5)
    w.bits(hdist - 1, 5)
    w.bits(hclen - 4, 4)
    for s in _CLC_ORDER[:hclen]:
        w.bits(cl_len.get(s, 0), 3)
    for s, ev, eb in rle:
        w.bits(*cl_rev[s])
        if eb:
            w.bits(ev, eb)
    _emit_tokens(w, tokens, _lsb_codes(lit_len.items()),
                 _lsb_codes(dist_len.items()))
    return w.bytes()


_MODES = ("stored", "fixed", "dynamic")


def deflate_encode(data: bytes, mode: str = "auto") -> bytes:
    if mode == "stored":
        return deflate_stored(data)
    if mode == "fixed":
        return deflate_fixed(data)
    if mode == "dynamic":
        return deflate_dynamic(data)
    if mode == "auto":
        tokens = _lz77(data)  # one LZ77 pass shared by fixed AND dynamic
        return min(
            (deflate_stored(data), deflate_fixed(data, tokens),
             deflate_dynamic(data, tokens)),
            key=len,
        )
    raise ValueError(f"deflate_encode: unknown mode {mode!r}")


def deflate_encode_col(doc_id, text):
    """Column: raw-DEFLATE each row with the from-scratch encoder,
    block type rotated by ``doc_id % 3`` so stored, fixed-Huffman and
    dynamic-Huffman blocks all appear in every run."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def enc(i: pd.Series, t: pd.Series) -> pd.Series:
        return pd.Series(
            [
                deflate_encode(s.encode("utf-8"), _MODES[int(d) % 3])
                for d, s in zip(i, t)
            ]
        )

    return enc(doc_id, text)


def zlib_inflate_col(z):
    """Column: decode raw DEFLATE with stdlib zlib — the third-party
    decoder our encoder must interoperate with."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def dec(b: pd.Series) -> pd.Series:
        return b.map(
            lambda v: zlib.decompress(bytes(v), wbits=-15).decode("utf-8")
        )

    return dec(z)
