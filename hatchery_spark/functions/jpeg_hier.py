"""Hierarchical JPEG (ITU-T T.81 Annex J) — decoder + fixture encoders.

The pyramid mode: a DHP segment declares the full-resolution image, then a
sequence of FRAMES refines it — the first non-differential (any supported
process), later ones DIFFERENTIAL (their samples are added to the current
reference modulo 2^16), optionally preceded by an EXP segment that doubles
the reference resolution with the spec's (a+b+1)>>1 interpolation filter
(J.1.1.2). Classic uses: resolution pyramids (serve a thumbnail, refine to
full), and "lossless correction" — a lossy DCT base frame plus one lossless
differential frame that lands the final image bit-exact.

Supported here: SINGLE-COMPONENT (grayscale) hierarchies — a non-
differential SOF3/SOF11 (lossless, either entropy coding) or SOF0/SOF1
(sequential DCT Huffman) first frame, EXP expansion, and SOF7/SOF15
(differential lossless, Huffman or arithmetic) refinement frames, any
precision 2..16 for the lossless family. Multi-component hierarchies and
the differential DCT processes (SOF5/6/13/14) stay behind
DecoderUnavailable — honestly gated, not faked. Differential lossless
frames code raw (orig − ref) mod 2^16 values with NO spatial prediction
(J.1.1.4: prediction is disabled in differential frames); every fixture
encoder below round-trips bit-exact by construction.

Reference parity note: hatchery never decodes media (objects pass through
byte-identical, destination/gcs/client.go:76); this module belongs to the
multimodal feature-extraction surface of the training-data pipeline.
"""

from __future__ import annotations

import struct

import numpy as np

from hatchery_spark.functions.multimodal import DecoderUnavailable

DHP = 0xDE
EXP = 0xDF


def expand_ref(plane: np.ndarray, eh: int, ev: int) -> np.ndarray:
    """J.1.1.2 reference expansion: doubled axes interpolate midpoints with
    (a + b + 1) >> 1; the trailing replica pixel repeats the last sample."""
    out = plane
    if eh:
        h, w = out.shape
        exp = np.zeros((h, 2 * w), dtype=out.dtype)
        exp[:, 0::2] = out
        exp[:, 1 : 2 * w - 1 : 2] = (out[:, : w - 1] + out[:, 1:] + 1) >> 1
        exp[:, 2 * w - 1] = out[:, w - 1]
        out = exp
    if ev:
        h, w = out.shape
        exp = np.zeros((2 * h, w), dtype=out.dtype)
        exp[0::2, :] = out
        exp[1 : 2 * h - 1 : 2, :] = (out[: h - 1, :] + out[1:, :] + 1) >> 1
        exp[2 * h - 1, :] = out[h - 1, :]
        out = exp
    return out


def _decode_diff_lossless_scan(content, pos, h, w, table, ri):
    """SOF7 scan: raw difference samples (no prediction), row-major, with
    restart-marker entropy resets. Returns (diff plane int32, next pos)."""
    from hatchery_spark.functions.jpeg import _BitReader
    from hatchery_spark.functions.jpeg_lossless import _read_diff

    br = _BitReader(content, pos)
    out = np.zeros((h, w), dtype=np.int32)
    n = 0
    for y in range(h):
        for x in range(w):
            if ri and n and n % ri == 0:
                br.align()
                q = br.pos
                while content[q] != 0xFF or content[q + 1] == 0x00:
                    q += 1
                if not (0xD0 <= content[q + 1] <= 0xD7):
                    raise ValueError("expected restart marker")
                br = _BitReader(content, q + 2)
            out[y, x] = _read_diff(br, table)
            n += 1
    br.align()
    q = br.pos
    while q + 1 < len(content) and (content[q] != 0xFF or content[q + 1] == 0x00):
        q += 1
    return out, q


def decode_hierarchical(content: bytes) -> np.ndarray:
    """Decode a DHP-led hierarchical JPEG (single-component) into the
    (h, w, 3) gray-replicated output contract of decode_jpeg."""
    from hatchery_spark.functions.jpeg import (
        _DCT_M,
        _ZIGZAG,
        _decode_scan,
        _decode_table,
        _scan_units,
    )
    from hatchery_spark.functions.jpeg_lossless import decode_lossless_scan

    qtables: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    dc_cond: dict[int, tuple[int, int]] = {}
    restart_interval = 0
    dhp = None
    ref = None  # int32 reference plane at the current pyramid level
    frame = None  # current frame dict while its scans decode
    store = None
    planes: dict = {}
    diffs: dict = {}
    pt = 0

    def finish_frame():
        nonlocal ref, frame, store, planes, diffs
        if frame is None:
            return
        p = frame["precision"]
        maxv = (1 << p) - 1
        if frame["kind"] in ("lossless", "lossless_arith"):
            cid = frame["comps"][0]["id"]
            ref = (planes[cid].astype(np.int64) << pt).astype(np.int32)
        elif frame["kind"] == "dct":
            cid = frame["comps"][0]["id"]
            qt = qtables[frame["comps"][0]["tq"]]
            coefs = store[cid].astype(np.float64) * qt[None, None, :]
            natural = np.zeros_like(coefs)
            natural[..., _ZIGZAG] = coefs
            pb_y, pb_x = natural.shape[:2]
            blocks8 = natural.reshape(pb_y, pb_x, 8, 8)
            spatial = (
                np.einsum("au,yxab,bv->yxuv", _DCT_M, blocks8, _DCT_M)
                + float(1 << (p - 1))
            )
            plane = spatial.transpose(0, 2, 1, 3).reshape(pb_y * 8, pb_x * 8)
            ref = (
                np.clip(np.round(plane[: frame["h"], : frame["w"]]), 0, maxv)
                .astype(np.int32)
            )
        # differential frames add into ref inside the scan handler
        frame, store, planes, diffs = None, None, {}, {}

    if not content.startswith(b"\xff\xd8"):
        raise DecoderUnavailable("not a JPEG payload")
    pos = 2
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = content[pos + 1]
        if marker == 0xD9:
            break
        (length,) = struct.unpack(">H", content[pos + 2 : pos + 4])
        data = content[pos + 4 : pos + 2 + length]
        if marker == 0xDB:
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 0x0F
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(data[i : i + 64], dtype=np.uint8).astype(
                        np.float64
                    )
                    i += 64
                else:
                    tbl = np.frombuffer(data[i : i + 128], dtype=">u2").astype(
                        np.float64
                    )
                    i += 128
                qtables[tq] = tbl
        elif marker == 0xC4:
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 0x0F
                bits = list(data[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(data[i + 17 : i + 17 + nv])
                (dc_tabs if tc == 0 else ac_tabs)[th] = _decode_table(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", data[:2])
        elif marker == DHP:
            precision, fh, fw, nc = struct.unpack(">BHHB", data[:6])
            if nc != 1:
                raise DecoderUnavailable(
                    "multi-component hierarchical JPEG not supported"
                )
            dhp = {"precision": precision, "h": fh, "w": fw}
        elif marker == EXP:
            finish_frame()
            eh, ev = data[0] >> 4, data[0] & 0x0F
            if ref is None:
                raise ValueError("EXP before any frame")
            ref = expand_ref(ref, eh, ev)
        elif marker == 0xCC:  # DAC — arithmetic conditioning
            i = 0
            while i + 1 < len(data):
                tc, tb = data[i] >> 4, data[i] & 0x0F
                if tc == 0:
                    dc_cond[tb] = (data[i + 1] & 0x0F, data[i + 1] >> 4)
                i += 2
        elif marker in (0xC0, 0xC1, 0xC3, 0xC7, 0xCB, 0xCF):
            finish_frame()
            precision, fh, fw, nc = struct.unpack(">BHHB", data[:6])
            if nc != 1:
                raise DecoderUnavailable(
                    "multi-component hierarchical JPEG not supported"
                )
            cid, hv, tq = data[6:9]
            kind = {0xC0: "dct", 0xC1: "dct", 0xC3: "lossless",
                    0xC7: "diff", 0xCB: "lossless_arith",
                    0xCF: "diff_arith"}[marker]
            if kind in ("diff", "diff_arith") and ref is None:
                raise ValueError("differential frame before any reference")
            frame = {
                "h": fh, "w": fw, "precision": precision, "kind": kind,
                "comps": [{"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}],
            }
            store = None
            planes = {}
            diffs = {}
        elif marker in (0xC2, 0xC5, 0xC6, 0xC9, 0xCA, 0xCD, 0xCE):
            raise DecoderUnavailable(
                "hierarchical frames support SOF0/SOF1/SOF3/SOF11 bases and "
                "SOF7/SOF15 differentials only"
            )
        elif marker == 0xDA:
            if frame is None or dhp is None:
                raise ValueError("SOS without DHP/SOF")
            ns = data[0]
            scan_comps = []
            for c in range(ns):
                cs, tt = data[1 + c * 2], data[2 + c * 2]
                scan_comps.append({"id": cs, "dc": tt >> 4, "ac": tt & 0x0F})
            Ss, Se, ahal = data[1 + ns * 2 : 4 + ns * 2]
            Ah, Al = ahal >> 4, ahal & 0x0F
            if frame["kind"] == "lossless":
                pt = Al
                pos = decode_lossless_scan(
                    content, pos + 2 + length, frame,
                    (scan_comps, Ss, Se, Ah, Al), dc_tabs, restart_interval,
                    planes,
                )
                continue
            if frame["kind"] == "lossless_arith":
                from hatchery_spark.functions.jpeg_lossless import (
                    decode_lossless_scan_arith,
                )

                pt = Al
                pos = decode_lossless_scan_arith(
                    content, pos + 2 + length, frame,
                    (scan_comps, Ss, Se, Ah, Al), dc_cond, restart_interval,
                    planes, diffs,
                )
                continue
            if frame["kind"] == "diff_arith":
                if ref.shape != (frame["h"], frame["w"]):
                    ref = ref[: frame["h"], : frame["w"]]
                lo, up = dc_cond.get(scan_comps[0]["dc"], (0, 1))
                dplane, pos = _decode_diff_lossless_scan_arith(
                    content, pos + 2 + length, frame["h"], frame["w"], lo, up,
                )
                ref = ((ref.astype(np.int64) + dplane) & 0xFFFF).astype(np.int32)
                frame = None
                continue
            if frame["kind"] == "diff":
                table = dc_tabs.get(scan_comps[0]["dc"])
                if table is None:
                    raise ValueError("differential scan references no DC table")
                if ref.shape != (frame["h"], frame["w"]):
                    # frame dims govern — truncate an over-expanded reference
                    ref = ref[: frame["h"], : frame["w"]]
                diffs, pos = _decode_diff_lossless_scan(
                    content, pos + 2 + length, frame["h"], frame["w"], table,
                    restart_interval,
                )
                ref = (ref.astype(np.int64) + diffs) & 0xFFFF
                ref = ref.astype(np.int32)
                frame = None  # differential frame fully applied
                continue
            # sequential DCT frame
            from hatchery_spark.functions.jpeg import _comp_geometry

            if store is None:
                _, _, _, _, geo = _comp_geometry(frame)
                store = {
                    c: np.zeros((g["pb_y"], g["pb_x"], 64), dtype=np.int32)
                    for c, g in geo.items()
                }
            pos = _decode_scan(
                content, pos + 2 + length, frame,
                (scan_comps, Ss, Se, Ah, Al), store, dc_tabs, ac_tabs,
                restart_interval,
            )
            continue
        pos = pos + 2 + length
    finish_frame()
    if dhp is None or ref is None:
        raise ValueError("missing DHP or frames")
    maxv = (1 << dhp["precision"]) - 1
    out = np.clip(ref[: dhp["h"], : dhp["w"]], 0, maxv)
    out_t = np.uint8 if dhp["precision"] <= 8 else np.uint16
    plane = out.astype(out_t)
    return np.dstack([plane, plane, plane])


# --------------------------------------------------------------------------
# fixture encoders
# --------------------------------------------------------------------------


def _emit_diff_scan(diffs: np.ndarray, restart_interval: int = 0) -> tuple:
    """Huffman-code a raw difference plane (SOF7 payload): returns
    (DHT payload bits/vals, entropy body bytes)."""
    from collections import Counter

    from hatchery_spark.functions.jpeg import (
        _BitWriter,
        _canonical_codes,
        _category,
        _extend_bits,
        _skewed_bits,
    )

    freq = Counter(
        16 if int(d) == -32768 else _category(int(d)) for d in diffs.ravel()
    )
    cats = [c for c, _ in freq.most_common()]
    bits = _skewed_bits(len(cats))
    codes = _canonical_codes(bits, cats)
    bw = _BitWriter()
    body = bytearray()
    n, rst = 0, 0
    h, w = diffs.shape
    for y in range(h):
        for x in range(w):
            if restart_interval and n and n % restart_interval == 0:
                bw.flush()
                body += bw.out + bytes([0xFF, 0xD0 + rst])
                bw = _BitWriter()
                rst = (rst + 1) % 8
            d = int(diffs[y, x])
            t = 16 if d == -32768 else _category(d)
            code, length = codes[t]
            bw.write(code, length)
            if t and t != 16:
                bw.write(_extend_bits(d, t), t)
            n += 1
    bw.flush()
    body += bw.out
    return (bits, cats), bytes(body)


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def encode_jpeg_hier_lossless_pyramid(
    img: np.ndarray, precision: int = 8, restart_interval: int = 0
) -> bytes:
    """Two-level resolution pyramid, fully lossless: a decimated SOF3 base
    frame, EXP(1,1), and one SOF7 differential frame that corrects the
    interpolated reference to the exact source — bit-exact by construction."""
    from hatchery_spark.functions.jpeg_lossless import encode_jpeg_gray_lossless

    img = np.asarray(img).astype(np.int64)
    h, w = img.shape
    base = img[::2, ::2].astype(np.int32)

    # the SOF3 encoder emits a full JPEG; splice its segments after our DHP
    inner = encode_jpeg_gray_lossless(base, predictor=1, precision=precision)
    base_segs = inner[2:-2]  # strip SOI and EOI

    expanded = expand_ref(base.astype(np.int32), 1, 1)[:h, :w].astype(np.int64)
    diffs = ((img - expanded) & 0xFFFF).astype(np.int64)
    diffs[diffs >= 0x8000] -= 0x10000
    (bits, vals), body = _emit_diff_scan(diffs.astype(np.int32), restart_interval)

    out = bytearray(b"\xff\xd8")
    out += _seg(DHP, struct.pack(">BHHB", precision, h, w, 1) + bytes([1, 0x11, 0]))
    out += base_segs
    out += _seg(EXP, bytes([0x11]))
    out += _seg(0xC7, struct.pack(">BHHB", precision, h, w, 1) + bytes([1, 0x11, 0]))
    out += _seg(0xC4, bytes([0x01]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    out += _seg(0xDA, bytes([1, 1, 0x10, 0, 0, 0]))
    out += body + b"\xff\xd9"
    return bytes(out)


def encode_jpeg_hier_correction(img: np.ndarray) -> bytes:
    """Lossy-base + lossless-correction hierarchy: a full-resolution SOF0
    frame (unit quantization), then one SOF7 differential frame coding
    (source − decoded base) mod 2^16 — the encoder replicates the decoder's
    exact IDCT/rounding to compute the residual, so the final image is
    bit-exact."""
    from hatchery_spark.functions.jpeg import _DCT_M, _ZIGZAG, encode_jpeg_gray

    img = np.asarray(img).astype(np.int64)
    h, w = img.shape

    inner = encode_jpeg_gray(img.astype(np.float64))
    base_segs = inner[2:-2]

    # replicate the decoder's base reconstruction exactly
    bh, bw = -(-h // 8), -(-w // 8)
    padded = np.pad(
        img.astype(np.float64), ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge"
    )
    zz = np.zeros((bh, bw, 64), dtype=np.float64)
    for by in range(bh):
        for bx in range(bw):
            block = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            coef = np.rint(_DCT_M @ block @ _DCT_M.T)
            zz[by, bx] = coef.reshape(-1)[_ZIGZAG]
    natural = np.zeros_like(zz)
    natural[..., _ZIGZAG] = zz
    blocks8 = natural.reshape(bh, bw, 8, 8)
    spatial = np.einsum("au,yxab,bv->yxuv", _DCT_M, blocks8, _DCT_M) + 128.0
    recon = (
        np.clip(
            np.round(spatial.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)[:h, :w]),
            0,
            255,
        ).astype(np.int64)
    )

    diffs = ((img - recon) & 0xFFFF).astype(np.int64)
    diffs[diffs >= 0x8000] -= 0x10000
    (bits, vals), body = _emit_diff_scan(diffs.astype(np.int32))

    out = bytearray(b"\xff\xd8")
    out += _seg(DHP, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += base_segs
    out += _seg(0xC7, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    out += _seg(0xC4, bytes([0x01]) + bytes(bits) + bytes(vals))
    out += _seg(0xDA, bytes([1, 1, 0x10, 0, 0, 0]))
    out += body + b"\xff\xd9"
    return bytes(out)


def _decode_diff_lossless_scan_arith(content, pos, h, w, lo, up):
    """SOF15 scan: raw difference samples (no prediction) entropy-decoded
    by the QM coder under the Annex-H (Da, Db) conditioning — here Da/Db
    are the neighbouring DIFFERENCE values, per-scan, exactly mirrored by
    the fixture encoder. Returns (diff plane int32, next pos)."""
    from hatchery_spark.functions.jpeg_arith import ArithDecoder, new_stats
    from hatchery_spark.functions.jpeg_lossless import (
        LOSSLESS_STAT_BINS,
        _llctx,
        decode_lossless_diff,
    )

    dec = ArithDecoder(content, pos)
    stats = new_stats(LOSSLESS_STAT_BINS)
    out = np.zeros((h, w), dtype=np.int32)
    for y in range(h):
        for x in range(w):
            da = int(out[y, x - 1]) if x else 0
            db = int(out[y - 1, x]) if y else 0
            ctx4, xbase = _llctx(da, db, lo, up)
            out[y, x] = decode_lossless_diff(dec, stats, ctx4, xbase)
    return out, dec.next_marker()


def encode_jpeg_hier_pyramid_arith(img: np.ndarray, precision: int = 8) -> bytes:
    """Arithmetic twin of encode_jpeg_hier_lossless_pyramid: SOF11 base
    frame (lossless arithmetic), EXP(1,1), SOF15 differential refinement —
    the all-arithmetic hierarchy, still bit-exact by construction."""
    from hatchery_spark.functions.jpeg_arith import ArithEncoder, new_stats
    from hatchery_spark.functions.jpeg_lossless import (
        LOSSLESS_STAT_BINS,
        _llctx,
        encode_jpeg_gray_lossless_arith,
        encode_lossless_diff,
    )

    img = np.asarray(img).astype(np.int64)
    h, w = img.shape
    base = img[::2, ::2].astype(np.int32)
    inner = encode_jpeg_gray_lossless_arith(base, predictor=1, precision=precision)
    base_segs = inner[2:-2]

    expanded = expand_ref(base.astype(np.int32), 1, 1)[:h, :w].astype(np.int64)
    diffs = ((img - expanded) & 0xFFFF).astype(np.int64)
    diffs[diffs >= 0x8000] -= 0x10000
    diffs = diffs.astype(np.int32)

    enc = ArithEncoder()
    stats = new_stats(LOSSLESS_STAT_BINS)
    for y in range(h):
        for x in range(w):
            da = int(diffs[y, x - 1]) if x else 0
            db = int(diffs[y - 1, x]) if y else 0
            ctx4, xbase = _llctx(da, db, 0, 1)
            encode_lossless_diff(enc, stats, ctx4, xbase, int(diffs[y, x]))
    body = enc.flush()

    out = bytearray(b"\xff\xd8")
    out += _seg(DHP, struct.pack(">BHHB", precision, h, w, 1) + bytes([1, 0x11, 0]))
    out += base_segs
    out += _seg(EXP, bytes([0x11]))
    out += _seg(0xCF, struct.pack(">BHHB", precision, h, w, 1) + bytes([1, 0x11, 0]))
    out += _seg(0xCC, bytes([0x00, 0x10]))
    out += _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0]))
    out += body + b"\xff\xd9"
    return bytes(out)
