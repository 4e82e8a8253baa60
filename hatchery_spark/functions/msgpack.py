"""MessagePack codec from scratch — fluentd's wire format.

MessagePack is the serialization under fluentd/fluent-bit's Forward
protocol (the de-facto log-shipping bus), Redis streams tooling, and a
long tail of agent telemetry; an ingest pipeline meets it the way it
meets CBOR or Avro (functions/cbor.py, functions/avro.py — both already
in the suite). Implemented from the public spec
(https://github.com/msgpack/msgpack/blob/master/spec.md) alone:

* every family and width: nil, bool, positive/negative fixint,
  uint 8/16/32/64, int 8/16/32/64, float 32/64, fixstr + str 8/16/32,
  bin 8/16/32, fixarray + array 16/32, fixmap + map 16/32;
* ext types (fixext 1/2/4/8/16, ext 8/16/32) surfaced as ``Ext(type,
  data)`` so protocol-level payloads (fluentd's EventTime is
  fixext8 type 0: 32-bit sec ‖ 32-bit nsec) round-trip untouched;
* the spec's timestamp extension (type −1) in all three layouts
  (timestamp 32/64/96) decoded to (sec, nsec);
* shortest-form encoder (the spec's "smallest format that fits" rule),
  strict decoder: truncated input and trailing garbage both raise.

Evidence: the msgpack project's own canonical example
(``{"compact": true, "schema": 0}`` ⇒ 18 bytes) plus a boundary-value
matrix (every width threshold both sides) are pinned byte-for-byte in
pytest — the cbor.py Appendix-A posture.

Spark side: encode/decode run Arrow-batched (mapInPandas) over binary
columns; the plumbing (schema, batch shape, per-tag chunk grouping in
operators/fluentd.py) is the at-scale deliverable, the per-batch Python
loop is the same cost class as the Avro/CBOR codecs'.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import Any


@dataclass(frozen=True)
class Ext:
    """Extension value: application-defined type byte + payload."""

    type: int  # signed byte, -128..127 (negative = spec-reserved)
    data: bytes


def event_time(sec: int, nsec: int = 0) -> Ext:
    """fluentd EventTime (fixext8, type 0): 32-bit sec ‖ 32-bit nsec."""
    return Ext(0, struct.pack(">II", sec, nsec))


# ------------------------------------------------------------- encode --


def encode(v: Any) -> bytes:
    """Shortest-form encoder (spec: 'smallest format that fits')."""
    if v is None:
        return b"\xc0"
    if isinstance(v, bool):
        return b"\xc3" if v else b"\xc2"
    if isinstance(v, int):
        return _encode_int(v)
    if isinstance(v, float):
        return b"\xcb" + struct.pack(">d", v)
    if isinstance(v, str):
        u = v.encode("utf-8")
        n = len(u)
        if n < 32:
            return bytes([0xA0 | n]) + u
        if n < 1 << 8:
            return b"\xd9" + bytes([n]) + u
        if n < 1 << 16:
            return b"\xda" + struct.pack(">H", n) + u
        return b"\xdb" + struct.pack(">I", n) + u
    if isinstance(v, bytes):
        n = len(v)
        if n < 1 << 8:
            return b"\xc4" + bytes([n]) + v
        if n < 1 << 16:
            return b"\xc5" + struct.pack(">H", n) + v
        return b"\xc6" + struct.pack(">I", n) + v
    if isinstance(v, (list, tuple)):
        n = len(v)
        if n < 16:
            head = bytes([0x90 | n])
        elif n < 1 << 16:
            head = b"\xdc" + struct.pack(">H", n)
        else:
            head = b"\xdd" + struct.pack(">I", n)
        return head + b"".join(encode(x) for x in v)
    if isinstance(v, dict):
        n = len(v)
        if n < 16:
            head = bytes([0x80 | n])
        elif n < 1 << 16:
            head = b"\xde" + struct.pack(">H", n)
        else:
            head = b"\xdf" + struct.pack(">I", n)
        return head + b"".join(encode(k) + encode(x) for k, x in v.items())
    if isinstance(v, Ext):
        n = len(v.data)
        t = struct.pack("b", v.type)
        for code, fixed in ((0xD4, 1), (0xD5, 2), (0xD6, 4), (0xD7, 8),
                            (0xD8, 16)):
            if n == fixed:
                return bytes([code]) + t + v.data
        if n < 1 << 8:
            return b"\xc7" + bytes([n]) + t + v.data
        if n < 1 << 16:
            return b"\xc8" + struct.pack(">H", n) + t + v.data
        return b"\xc9" + struct.pack(">I", n) + t + v.data
    raise TypeError(f"cannot encode {type(v).__name__}")


def _encode_int(v: int) -> bytes:
    if 0 <= v < 128:
        return bytes([v])
    if -32 <= v < 0:
        return struct.pack("b", v)
    if v >= 0:
        for code, fmt, lim in ((0xCC, "B", 1 << 8), (0xCD, ">H", 1 << 16),
                               (0xCE, ">I", 1 << 32), (0xCF, ">Q", 1 << 64)):
            if v < lim:
                return bytes([code]) + struct.pack(fmt, v)
        raise ValueError("uint out of 64-bit range")
    for code, fmt, lo in ((0xD0, "b", -(1 << 7)), (0xD1, ">h", -(1 << 15)),
                          (0xD2, ">i", -(1 << 31)), (0xD3, ">q", -(1 << 63))):
        if v >= lo:
            return bytes([code]) + struct.pack(fmt, v)
    raise ValueError("int out of 64-bit range")


# ------------------------------------------------------------- decode --


class MsgpackError(ValueError):
    pass


def decode(buf: bytes) -> Any:
    """Decode exactly one object; trailing bytes are an error."""
    v, off = _decode_at(buf, 0)
    if off != len(buf):
        raise MsgpackError(f"trailing garbage: {len(buf) - off} bytes")
    return v


def _need(buf: bytes, off: int, n: int) -> None:
    if off + n > len(buf):
        raise MsgpackError("truncated input")


def _decode_at(buf: bytes, off: int) -> tuple[Any, int]:
    _need(buf, off, 1)
    b = buf[off]
    off += 1
    if b < 0x80:                       # positive fixint
        return b, off
    if b >= 0xE0:                      # negative fixint
        return b - 256, off
    if 0x80 <= b <= 0x8F:
        return _decode_map(buf, off, b & 0x0F)
    if 0x90 <= b <= 0x9F:
        return _decode_array(buf, off, b & 0x0F)
    if 0xA0 <= b <= 0xBF:
        return _decode_str(buf, off, b & 0x1F)
    if b == 0xC0:
        return None, off
    if b == 0xC1:
        raise MsgpackError("0xc1 is never used")
    if b == 0xC2:
        return False, off
    if b == 0xC3:
        return True, off
    if b in (0xC4, 0xC5, 0xC6):        # bin 8/16/32
        n, off = _length(buf, off, 1 << (b - 0xC4))
        _need(buf, off, n)
        return bytes(buf[off:off + n]), off + n
    if b in (0xC7, 0xC8, 0xC9):        # ext 8/16/32
        n, off = _length(buf, off, 1 << (b - 0xC7))
        return _decode_ext(buf, off, n)
    if b == 0xCA:
        _need(buf, off, 4)
        return struct.unpack_from(">f", buf, off)[0], off + 4
    if b == 0xCB:
        _need(buf, off, 8)
        return struct.unpack_from(">d", buf, off)[0], off + 8
    if 0xCC <= b <= 0xCF:              # uint 8/16/32/64
        w = 1 << (b - 0xCC)
        _need(buf, off, w)
        return int.from_bytes(buf[off:off + w], "big"), off + w
    if 0xD0 <= b <= 0xD3:              # int 8/16/32/64
        w = 1 << (b - 0xD0)
        _need(buf, off, w)
        return int.from_bytes(buf[off:off + w], "big", signed=True), off + w
    if 0xD4 <= b <= 0xD8:              # fixext 1/2/4/8/16
        return _decode_ext(buf, off, 1 << (b - 0xD4))
    if b in (0xD9, 0xDA, 0xDB):        # str 8/16/32
        n, off = _length(buf, off, 1 << (b - 0xD9))
        return _decode_str(buf, off, n)
    if b == 0xDC:
        n, off = _length(buf, off, 2)
        return _decode_array(buf, off, n)
    if b == 0xDD:
        n, off = _length(buf, off, 4)
        return _decode_array(buf, off, n)
    if b == 0xDE:
        n, off = _length(buf, off, 2)
        return _decode_map(buf, off, n)
    n, off = _length(buf, off, 4)      # 0xDF map 32
    return _decode_map(buf, off, n)


def _length(buf: bytes, off: int, w: int) -> tuple[int, int]:
    _need(buf, off, w)
    return int.from_bytes(buf[off:off + w], "big"), off + w


def _decode_str(buf: bytes, off: int, n: int) -> tuple[str, int]:
    _need(buf, off, n)
    return buf[off:off + n].decode("utf-8"), off + n


def _decode_array(buf: bytes, off: int, n: int) -> tuple[list, int]:
    out = []
    for _ in range(n):
        v, off = _decode_at(buf, off)
        out.append(v)
    return out, off


def _decode_map(buf: bytes, off: int, n: int) -> tuple[dict, int]:
    out = {}
    for _ in range(n):
        k, off = _decode_at(buf, off)
        v, off = _decode_at(buf, off)
        out[k] = v
    return out, off


def _decode_ext(buf: bytes, off: int, n: int) -> tuple[Any, int]:
    _need(buf, off, 1 + n)
    t = struct.unpack_from("b", buf, off)[0]
    data = bytes(buf[off + 1:off + 1 + n])
    off += 1 + n
    if t == -1:                        # spec timestamp ext
        return _decode_timestamp(data), off
    return Ext(t, data), off


def _decode_timestamp(data: bytes) -> tuple[int, int]:
    """Spec timestamp 32/64/96 → (sec, nsec)."""
    if len(data) == 4:
        return struct.unpack(">I", data)[0], 0
    if len(data) == 8:
        d64 = struct.unpack(">Q", data)[0]
        return d64 & ((1 << 34) - 1), d64 >> 34
    if len(data) == 12:
        nsec, sec = struct.unpack(">Iq", data)
        return sec, nsec
    raise MsgpackError(f"timestamp ext payload of {len(data)} bytes")
