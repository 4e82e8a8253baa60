"""Gorilla time-series block codec (Pelkonen et al., VLDB'15) — full
bitstream encode AND decode, from the paper alone.

The existing `gorilla_ts_bits` (operators/telemetry.py) ACCOUNTS for the
timestamp bits; this module actually produces the bytes — both halves of
the paper's point encoding:

* timestamps (§4.1): delta-of-delta bucket coding with the same table
  the sizing operator uses ('0' | '10'+7 | '110'+9 | '1110'+12 |
  '1111'+32), signed values offset-encoded inside each bucket; the
  stream head stores t₀ raw in 64 bits and the second point's delta
  goes through the same bucket table against a zero prior (the uniform
  variant gorilla_ts_bits documents — sizing and codec agree bit for
  bit, and a pytest pins that).
* values (§4.2): XOR against the previous value; '0' when identical,
  '10' + meaningful bits when the XOR fits the previous (leading,
  trailing) block, '11' + 5-bit leading-zero count + 6-bit
  (meaningful-length − 1) + the bits when a new block must be declared
  (len−1 so the 64-bit worst case fits the 6-bit field; the paper
  stores len with 64⇒0 — same information, one less special case).

Encoding state is per-stream and strictly sequential — exactly the
shape Spark CANNOT parallelize inside a stream — so the Spark operator
(operators/telemetry.py `gorilla_roundtrip` path) encodes each stream
in one applyInPandas group (streams are conversation-sized, bounded)
while streams themselves fan out across the cluster; decode is
mapInPandas over the blob column. The oracle pins the DECODED points
against the source rows (roundtrip identity — any drift in either
direction breaks value equality); the bit-exact sizing is pinned in
pytest against an independent per-rule accounting plus the
gorilla_ts_bits operator's bucket totals.
"""

from __future__ import annotations

import struct

from hatchery_spark.functions.npwire import MsbBits


class _BitWriter:
    def __init__(self) -> None:
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        if bits == 0:
            return
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits

    def bytes(self) -> bytes:
        pad = (-self.nbits) % 8
        total = self.nbits + pad
        return ((self.acc << pad) & ((1 << total) - 1)).to_bytes(
            total // 8, "big"
        ) if total else b""


# timestamp delta-of-delta buckets: (prefix, prefix_bits, payload_bits,
# lo, hi) — lo/hi the signed dod range, offset-encoded as dod - lo
_TS_BUCKETS = [
    (0b10, 2, 7, -63, 64),
    (0b110, 3, 9, -255, 256),
    (0b1110, 4, 12, -2047, 2048),
]


def encode_series(ts: list[int], values: list[float]) -> bytes:
    """(sorted int-second timestamps, float64 values) → Gorilla block."""
    if len(ts) != len(values):
        raise ValueError("ts/values length mismatch")
    w = _BitWriter()
    w.write(len(ts), 32)
    if not ts:
        return w.bytes()
    w.write(ts[0] & ((1 << 64) - 1), 64)
    v0 = struct.unpack(">Q", struct.pack(">d", values[0]))[0]
    w.write(v0, 64)
    prev_t, prev_delta = ts[0], 0
    prev_v, prev_lead, prev_mlen = v0, -1, -1
    for t, val in zip(ts[1:], values[1:]):
        delta = t - prev_t
        dod = delta - prev_delta
        if dod == 0:
            w.write(0, 1)
        else:
            for prefix, pbits, bits, lo, hi in _TS_BUCKETS:
                if lo <= dod <= hi:
                    w.write(prefix, pbits)
                    w.write(dod - lo, bits)
                    break
            else:
                w.write(0b1111, 4)
                w.write(dod & ((1 << 32) - 1), 32)
        prev_t, prev_delta = t, delta
        v = struct.unpack(">Q", struct.pack(">d", val))[0]
        xor = v ^ prev_v
        if xor == 0:
            w.write(0, 1)
        else:
            lead = 64 - xor.bit_length()
            trail = (xor & -xor).bit_length() - 1
            mlen = 64 - lead - trail
            if (prev_lead >= 0 and lead >= prev_lead
                    and trail >= 64 - prev_lead - prev_mlen):
                w.write(0b10, 2)
                w.write(xor >> (64 - prev_lead - prev_mlen), prev_mlen)
            else:
                lead = min(lead, 31)  # 5-bit field
                mlen = 64 - lead - trail
                w.write(0b11, 2)
                w.write(lead, 5)
                w.write(mlen - 1, 6)
                w.write(xor >> trail, mlen)
                prev_lead, prev_mlen = lead, mlen
        prev_v = v
    return w.bytes()


def decode_series(blob: bytes) -> tuple[list[int], list[float]]:
    r = MsbBits(blob)
    n = r.take(32)
    if n == 0:
        return [], []
    t = r.take(64)
    if t >= 1 << 63:
        t -= 1 << 64
    v = r.take(64)
    ts = [t]
    vals = [struct.unpack(">d", struct.pack(">Q", v))[0]]
    delta = 0
    lead, mlen = -1, -1
    for _ in range(n - 1):
        if r.take(1) == 0:
            dod = 0
        else:
            matched = False
            for prefix, pbits, bits, lo, _hi in _TS_BUCKETS:
                # prefix already consumed 1 bit ('1...'); read the rest
                if r.take(1) == 0:
                    dod = r.take(bits) + lo
                    matched = True
                    break
            if not matched:
                dod = r.take(32)
                if dod >= 1 << 31:
                    dod -= 1 << 32
        delta += dod
        t += delta
        ts.append(t)
        if r.take(1) == 0:
            pass  # identical value
        else:
            if r.take(1) == 0:  # '10' — reuse previous block
                if lead < 0:
                    raise ValueError("'10' control with no prior block")
                xor = r.take(mlen) << (64 - lead - mlen)
            else:               # '11' — new block
                lead = r.take(5)
                mlen = r.take(6) + 1
                xor = r.take(mlen) << (64 - lead - mlen)
            v ^= xor
        vals.append(struct.unpack(">d", struct.pack(">Q", v))[0])
    return ts, vals


def sizing_bits(ts: list[int], values: list[float]) -> dict[str, int]:
    """Independent per-rule bit accounting (no bitstream) — pytest
    cross-checks len(encode_series(..)) against this and against the
    gorilla_ts_bits operator's bucket totals."""
    total = 32 + (128 if ts else 0)
    ts_bits = 64 if ts else 0
    prev_delta = 0
    prev_v = (struct.unpack(">Q", struct.pack(">d", values[0]))[0]
              if values else 0)
    lead0, mlen0 = -1, -1
    for i in range(1, len(ts)):
        delta = ts[i] - ts[i - 1]
        dod = delta - prev_delta
        prev_delta = delta
        if dod == 0:
            b = 1
        elif -63 <= dod <= 64:
            b = 9
        elif -255 <= dod <= 256:
            b = 12
        elif -2047 <= dod <= 2048:
            b = 16
        else:
            b = 36
        ts_bits += b
        total += b
        v = struct.unpack(">Q", struct.pack(">d", values[i]))[0]
        xor = v ^ prev_v
        prev_v = v
        if xor == 0:
            total += 1
            continue
        lead = min(64 - xor.bit_length(), 31)
        trail = (xor & -xor).bit_length() - 1
        if (lead0 >= 0 and 64 - xor.bit_length() >= lead0
                and trail >= 64 - lead0 - mlen0):
            total += 2 + mlen0
        else:
            mlen = 64 - lead - trail
            total += 2 + 5 + 6 + mlen
            lead0, mlen0 = lead, mlen
    return {"total_bits": total, "ts_bits": ts_bits}
