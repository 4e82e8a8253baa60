"""Every proper prefix of a valid stream is rejected, promptly.

A truncated blob must dead-letter (ValueError or IndexError, the two the
decode columns catch), never decode to some output and never hang. Each
call runs under a 2 s SIGALRM guard, so a decoder loop that stops making
progress fails the test instead of stalling the suite.
"""

import bz2
import lzma
import signal
import zlib

import pyarrow as pa
import pytest

from hatchery_spark.functions.bzip2 import bunzip2
from hatchery_spark.functions.gorilla import decode_series, encode_series
from hatchery_spark.functions.inflate import inflate
from hatchery_spark.functions.lz4 import lz4_frame_compress, lz4_frame_decompress
from hatchery_spark.functions.snappy import snappy_compress, snappy_decompress
from hatchery_spark.functions.xz import unxz
from hatchery_spark.functions.zstd_dec import zstd_decompress

TEXT = b"".join(
    f"{i:03d} the quick brown fox {i * i} jumps over {i % 7} lazy dogs\n".encode()
    for i in range(12)
)
# ends in a copy-2 element with offset 16: the dropped last byte is the
# zero high byte of the offset
SNAPPY_TAIL = b"0123456789abcdef" * 3


def _raw_deflate(data: bytes) -> bytes:
    c = zlib.compressobj(6, zlib.DEFLATED, -15)
    return c.compress(data) + c.flush()


def _gorilla() -> bytes:
    ts = [1_700_000_000 + 10 * i + (i % 3) * (i % 5) for i in range(30)]
    vals = [float(i % 4) * 1.5 + (i // 7) for i in range(30)]
    return encode_series(ts, vals)


CASES = {
    "inflate": (inflate, lambda: _raw_deflate(TEXT)),
    "lz4": (lz4_frame_decompress, lambda: lz4_frame_compress(TEXT)),
    "bunzip2": (bunzip2, lambda: bz2.compress(TEXT, 9)),
    "unxz": (unxz, lambda: lzma.compress(TEXT, format=lzma.FORMAT_XZ)),
    "zstd": (zstd_decompress, lambda: bytes(pa.Codec("zstd").compress(TEXT))),
    "zstd_empty": (zstd_decompress, lambda: bytes(pa.Codec("zstd").compress(b""))),
    "snappy": (snappy_decompress, lambda: snappy_compress(TEXT)),
    "snappy_copy_tail": (snappy_decompress, lambda: snappy_compress(SNAPPY_TAIL)),
    "gorilla": (decode_series, _gorilla),
}


class _Hang(Exception):
    pass


def _on_alarm(signum, frame):
    raise _Hang


@pytest.mark.parametrize("name", sorted(CASES))
def test_every_proper_prefix_is_rejected(name):
    decode, make = CASES[name]
    blob = make()
    decode(blob)  # the full stream is valid
    accepted, hung = [], []
    old = signal.signal(signal.SIGALRM, _on_alarm)
    try:
        for cut in range(len(blob)):
            signal.alarm(2)
            try:
                decode(blob[:cut])
                accepted.append(cut)
            except (ValueError, IndexError):
                pass
            except _Hang:
                hung.append(cut)
            finally:
                signal.alarm(0)
    finally:
        signal.signal(signal.SIGALRM, old)
    assert not hung, f"{name}: hung on prefixes {hung} of {len(blob)}"
    assert not accepted, f"{name}: accepted prefixes {accepted} of {len(blob)}"
