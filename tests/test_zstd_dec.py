"""zstd decoder: libzstd interop across levels/frame options, xxh64."""

import os
import random

import pyarrow as pa
import pytest

from hatchery_spark.functions.zstd_dec import (
    xxh64,
    zstd_decompress,
)


def test_xxh64_public_vectors():
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B
    # >32 bytes exercises the 4-lane path
    assert (
        xxh64(b"The quick brown fox jumps over the lazy dog")
        == 0x0B242D361FDA71BC
    )


def _cases():
    random.seed(9)
    return [
        b"",
        b"a",
        b"a" * 1000,  # RLE blocks
        b"hello world " * 30,  # predefined sequence tables
        bytes(range(256)),  # raw blocks
        bytes(random.randrange(256) for _ in range(5000)),
        b"ab" * 40000,
        bytes(random.choice(b"abcdefgh") for _ in range(100000)),  # FSE tables
        open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SURVEY.md"), "rb").read(),  # 4-stream huffman
    ]


@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_decodes_real_libzstd_frames(level):
    for d in _cases():
        z = bytes(pa.Codec("zstd", compression_level=level).compress(d))
        assert zstd_decompress(z) == d


def test_multiblock_with_repeat_modes_and_treeless():
    # >128 KiB forces multiple blocks: later blocks reuse FSE tables
    # (repeat mode) and Huffman trees (treeless literals), and matches
    # reach across block boundaries
    random.seed(4)
    words = [
        bytes(random.choice(b"abcdefghij") for _ in range(random.randrange(2, 9)))
        for _ in range(30)
    ]
    d = b" ".join(random.choice(words) for _ in range(120_000))
    assert len(d) > 400_000
    for lvl in (1, 19):
        z = bytes(pa.Codec("zstd", compression_level=lvl).compress(d))
        assert zstd_decompress(z) == d


def test_checksummed_frame_via_libzstd():
    import ctypes

    lib = ctypes.CDLL("/root/miniconda/lib/libzstd.so")
    lib.ZSTD_createCCtx.restype = ctypes.c_void_p
    lib.ZSTD_compress2.restype = ctypes.c_size_t
    lib.ZSTD_compressBound.restype = ctypes.c_size_t
    lib.ZSTD_CCtx_setParameter.argtypes = [
        ctypes.c_void_p, ctypes.c_int, ctypes.c_int,
    ]
    lib.ZSTD_compress2.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
        ctypes.c_char_p, ctypes.c_size_t,
    ]
    d = b"checksum me " * 500
    c = lib.ZSTD_createCCtx()
    lib.ZSTD_CCtx_setParameter(c, 201, 1)  # ZSTD_c_checksumFlag
    bound = lib.ZSTD_compressBound(ctypes.c_size_t(len(d)))
    out = ctypes.create_string_buffer(bound)
    n = lib.ZSTD_compress2(c, out, bound, d, len(d))
    lib.ZSTD_freeCCtx(ctypes.c_void_p(c))
    z = out.raw[:n]
    assert zstd_decompress(z) == d
    # corrupt one content byte → checksum must catch it
    bad = bytearray(z)
    bad[len(bad) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        zstd_decompress(bytes(bad))


def test_rejects_garbage():
    with pytest.raises(ValueError, match="magic"):
        zstd_decompress(b"\x00" * 16)
    good = bytes(pa.Codec("zstd").compress(b"hello world " * 20))
    with pytest.raises(ValueError):
        zstd_decompress(good[:8])  # truncated


def test_fse_primitives_pinned_against_libzstd():
    """ncount parse and DTable build cell-for-cell vs libzstd itself."""
    import ctypes

    from hatchery_spark.functions.npwire import LsbBits
    from hatchery_spark.functions.zstd_dec import (
        fse_build_dtable,
        fse_read_ncount,
    )

    lib = ctypes.CDLL("/root/miniconda/lib/libzstd.so")
    lib.FSE_readNCount.restype = ctypes.c_size_t
    lib.FSE_buildDTable_wksp.restype = ctypes.c_size_t

    # ncount bytes harvested from a real frame (SURVEY.md, level 1 LL table)
    tb = bytes.fromhex("048aa6c3c3a3738144208f654910c559c7a0bbda0053")
    fwd = LsbBits(tb)
    counts, log = fse_read_ncount(fwd, 35)
    norm = (ctypes.c_short * 256)()
    maxsv = ctypes.c_uint(255)
    tlog = ctypes.c_uint(0)
    used = lib.FSE_readNCount(
        norm, ctypes.byref(maxsv), ctypes.byref(tlog), tb,
        ctypes.c_size_t(len(tb)),
    )
    assert used == fwd.byte_pos()
    assert tlog.value == log
    assert [norm[i] for i in range(maxsv.value + 1)] == counts

    mine = fse_build_dtable(counts, log)
    size = 1 << log
    dt = (ctypes.c_uint * (size + 9))()
    wksp = (ctypes.c_ubyte * 65536)()
    r = lib.FSE_buildDTable_wksp(
        dt, norm, ctypes.c_uint(maxsv.value), ctypes.c_uint(log),
        wksp, ctypes.c_size_t(65536),
    )
    assert lib.FSE_isError(ctypes.c_size_t(r)) == 0
    for i in range(size):
        v = dt[1 + i]
        got = ((v >> 16) & 0xFF, (v >> 24) & 0xFF, v & 0xFFFF)
        assert got == (mine[i][0], mine[i][1], mine[i][2]), i
