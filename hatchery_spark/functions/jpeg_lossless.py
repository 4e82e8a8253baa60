"""Lossless JPEG (SOF3, ITU-T T.81 Annex H) — decoder + fixture encoder.

The predictive (non-DCT) process: each sample is predicted from its causal
neighbours with one of seven predictors, and the prediction difference is
entropy-coded with DC-style Huffman categories (SSSS up to 16, where 16
carries no extra bits and means diff = 32768). Still used by DNG/medical
corpora, which is why a multimodal triage stage meets it.

Supported: single-component scans, interleaved multi-component scans (MCU =
one sample per component — the direct-RGB DNG layout), per-component
non-interleaved scans, precisions 2..16, predictors 1..7, point transform,
restart intervals. SUBSAMPLED lossless (unequal sampling factors) stays
behind DecoderUnavailable — an honest gap; it is vanishingly rare because
lossless subsampling discards information.

Predictors (H.1.2.1), with a = left, b = above, c = above-left:
  1: a   2: b   3: c   4: a+b-c   5: a+(b-c)>>1   6: b+(a-c)>>1   7: (a+b)>>1
First sample (and first sample after a restart): 2^(P-1-Pt). Rest of the
first line: predictor 1 from the previous sample. First column of later
lines: predictor 2 (the sample above). Differences are taken modulo 2^16
(H.1.1.4.1) — the decoder reduces modulo 2^16 likewise, so precision-16
wraparound is exact. Decoded samples are scaled by << Pt (point transform).

Reference parity note: hatchery never decodes media (objects pass through
byte-identical, destination/gcs/client.go:76); this module belongs to the
multimodal feature-extraction surface of the training-data pipeline.
"""

from __future__ import annotations

import struct

import numpy as np

from hatchery_spark.functions.multimodal import DecoderUnavailable


def _predict(row_above, row_cur, x: int, y: int, pred: int, p: int, pt: int) -> int:
    if y == 0 and x == 0:
        return 1 << (p - 1 - pt)
    if y == 0:
        return int(row_cur[x - 1])  # rest of first line: predictor 1
    if x == 0:
        return int(row_above[x])  # first column: predictor 2
    a = int(row_cur[x - 1])
    b = int(row_above[x])
    c = int(row_above[x - 1])
    if pred == 1:
        return a
    if pred == 2:
        return b
    if pred == 3:
        return c
    if pred == 4:
        return a + b - c
    if pred == 5:
        return a + ((b - c) >> 1)
    if pred == 6:
        return b + ((a - c) >> 1)
    if pred == 7:
        return (a + b) >> 1
    raise ValueError(f"lossless predictor {pred} out of range 1..7")


def _read_diff(br, table) -> int:
    from hatchery_spark.functions.jpeg import _huff_decode

    t = _huff_decode(br, table)
    if t == 16:  # H.1.2.2: SSSS=16 codes diff 32768, no extra bits
        return 32768
    if t:
        # EXTEND (F.2.2.1): top extra bit 0 → negative branch
        bits = br.bits(t)
        return bits if bits >= (1 << (t - 1)) else bits - (1 << t) + 1
    return 0


def decode_lossless_scan(content, pos, frame, scan, dc_tabs, ri, planes):
    """Decode one SOF3 scan into ``planes`` (comp id → int32 sample plane,
    created on first use); returns the next marker position. Handles both
    non-interleaved single-component scans and interleaved multi-component
    scans (MCU = one sample per component — subsampled lossless stays
    gated). ``scan`` = (ns_comps, Ss=predictor, Se, Ah, Al=Pt)."""
    from hatchery_spark.functions.jpeg import _BitReader

    ns_comps, pred, _se, _ah, pt = scan
    if len(frame["comps"]) > 1 and any(
        c["h"] != 1 or c["v"] != 1 for c in frame["comps"]
    ):
        raise DecoderUnavailable("subsampled lossless JPEG not supported")
    p = frame["precision"]
    h, w = frame["h"], frame["w"]
    tables = {}
    for sc in ns_comps:
        tb = dc_tabs.get(sc["dc"])
        if tb is None:
            raise ValueError("lossless scan references an undefined DC table")
        tables[sc["id"]] = tb
        planes.setdefault(sc["id"], np.zeros((h, w), dtype=np.int32))

    br = _BitReader(content, pos)
    n_mcu = 0
    just_restarted = False
    for y in range(h):
        for x in range(w):
            if ri and n_mcu and n_mcu % ri == 0:
                br.align()
                q = br.pos
                while content[q] != 0xFF or content[q + 1] == 0x00:
                    q += 1
                if not (0xD0 <= content[q + 1] <= 0xD7):
                    raise ValueError("expected restart marker")
                br = _BitReader(content, q + 2)
                just_restarted = True
            for sc in ns_comps:
                diff = _read_diff(br, tables[sc["id"]])
                plane = planes[sc["id"]]
                if just_restarted or (y == 0 and x == 0):
                    px = 1 << (p - 1 - pt)
                else:
                    px = _predict(
                        plane[y - 1] if y else None, plane[y], x, y, pred, p, pt
                    )
                plane[y, x] = (px + diff) & 0xFFFF  # modulo-2^16 arithmetic
            just_restarted = False
            n_mcu += 1
    br.align()
    q = br.pos
    while q + 1 < len(content) and (content[q] != 0xFF or content[q + 1] == 0x00):
        q += 1
    return q


def assemble_lossless(frame, planes) -> np.ndarray:
    """Stack decoded sample planes into the (h, w, 3) output contract:
    1 component replicates to gray; 3 components stack AS-IS (T.81 defines
    no color transform for lossless — 3-component lossless is typically
    direct RGB, e.g. DNG); other counts stay gated."""
    comps = frame["comps"]
    pt_shift = frame.get("_pt", 0)
    out_t = np.uint8 if frame["precision"] <= 8 else np.uint16

    def finish(cid):
        return (planes[cid].astype(np.int64) << pt_shift).astype(out_t)

    if len(comps) == 1:
        plane = finish(comps[0]["id"])
        return np.dstack([plane, plane, plane])
    if len(comps) == 3:
        return np.dstack([finish(c["id"]) for c in comps])
    raise DecoderUnavailable(
        f"{len(comps)}-component lossless JPEG not supported"
    )


def encode_jpeg_gray_lossless(
    img: np.ndarray,
    predictor: int = 1,
    point_transform: int = 0,
    precision: int = 8,
    restart_interval: int = 0,
) -> bytes:
    """Single-component SOF3 encoder for fixtures: EXACT round trip by
    construction (lossless). Emits a custom Huffman DC table sized to the
    categories actually present (the Annex-K table stops at category 11,
    too small for 16-bit diffs)."""
    from hatchery_spark.functions.jpeg import (
        JPEG_MAGIC,
        _BitWriter,
        _canonical_codes,
        _category,
        _extend_bits,
        _skewed_bits,
    )

    img = np.asarray(img)
    if img.ndim != 2:
        raise ValueError("encode_jpeg_gray_lossless expects a 2-D array")
    maxv = (1 << precision) - 1
    if img.min() < 0 or img.max() > maxv:
        raise ValueError(f"samples must fit {precision} bits")
    pt = point_transform
    samples = (img.astype(np.int64) >> pt).astype(np.int32)
    h, w = samples.shape
    p = precision

    # first pass: differences + the categories used
    diffs = np.zeros((h, w), dtype=np.int32)
    for y in range(h):
        for x in range(w):
            if y == 0 and x == 0:
                px = 1 << (p - 1 - pt)
            elif y == 0:
                px = int(samples[y, x - 1])
            elif x == 0:
                px = int(samples[y - 1, x])
            else:
                a, b, c = (
                    int(samples[y, x - 1]),
                    int(samples[y - 1, x]),
                    int(samples[y - 1, x - 1]),
                )
                px = {
                    1: a, 2: b, 3: c, 4: a + b - c,
                    5: a + ((b - c) >> 1), 6: b + ((a - c) >> 1),
                    7: (a + b) >> 1,
                }[predictor]
            d = (int(samples[y, x]) - px) & 0xFFFF
            if d >= 0x8000:
                d -= 0x10000  # representative in [-32768, 32767]
            diffs[y, x] = d

    # restart intervals re-anchor the prediction — recompute those diffs
    if restart_interval:
        n = 0
        for y in range(h):
            for x in range(w):
                if n and n % restart_interval == 0:
                    d = (int(samples[y, x]) - (1 << (p - 1 - pt))) & 0xFFFF
                    if d >= 0x8000:
                        d -= 0x10000
                    diffs[y, x] = d
                    # samples AFTER a restart predict from true neighbours,
                    # which the first pass already used — only the anchor
                    # sample changes
                n += 1

    from collections import Counter

    freq = Counter(
        16 if d == -32768 else _category(int(d)) for d in diffs.ravel()
    )
    cats = [c for c, _ in freq.most_common()]
    bits = _skewed_bits(len(cats))
    codes = _canonical_codes(bits, cats)

    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(JPEG_MAGIC)
    out += seg(0xC3, struct.pack(">BHHB", p, h, w, 1) + bytes([1, 0x11, 0]))
    out += seg(0xC4, bytes([0x00]) + bytes(bits) + bytes(cats))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, bytes([1, 1, 0x00, predictor, 0, pt]))

    bw = _BitWriter()
    body = bytearray()
    n = 0
    rst = 0
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
    out += bytes(body) + b"\xff\xd9"
    return bytes(out)


def encode_jpeg_rgb_lossless(
    img: np.ndarray,
    predictor: int = 1,
    restart_interval: int = 0,
) -> bytes:
    """Interleaved 3-component SOF3 encoder (direct RGB, no color
    transform — the DNG-style lossless layout): MCU = one sample per
    component, all components share one frequency-skewed Huffman table.
    EXACT round trip by construction."""
    from hatchery_spark.functions.jpeg import (
        JPEG_MAGIC,
        _BitWriter,
        _canonical_codes,
        _category,
        _extend_bits,
        _skewed_bits,
    )
    from collections import Counter

    img = np.asarray(img)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_jpeg_rgb_lossless expects (h, w, 3)")
    if img.min() < 0 or img.max() > 255:
        raise ValueError("samples must fit 8 bits")
    h, w, _ = img.shape
    samples = img.astype(np.int32)
    p = 8

    def diff_plan():
        """Yield (y, x, comp, diff) in MCU interleave order with restart
        re-anchoring — shared by the table pass and the emit pass."""
        n = 0
        for y in range(h):
            for x in range(w):
                anchored = bool(
                    restart_interval and n and n % restart_interval == 0
                )
                for c in range(3):
                    s = int(samples[y, x, c])
                    if anchored or (y == 0 and x == 0):
                        px = 1 << (p - 1)
                    elif y == 0:
                        px = int(samples[y, x - 1, c])
                    elif x == 0:
                        px = int(samples[y - 1, x, c])
                    else:
                        a, b, cc = (
                            int(samples[y, x - 1, c]),
                            int(samples[y - 1, x, c]),
                            int(samples[y - 1, x - 1, c]),
                        )
                        px = {
                            1: a, 2: b, 3: cc, 4: a + b - cc,
                            5: a + ((b - cc) >> 1), 6: b + ((a - cc) >> 1),
                            7: (a + b) >> 1,
                        }[predictor]
                    d = (s - px) & 0xFFFF
                    if d >= 0x8000:
                        d -= 0x10000
                    yield n, d
                n += 1

    freq = Counter(
        16 if d == -32768 else _category(d) for _, d in diff_plan()
    )
    cats = [c for c, _ in freq.most_common()]
    bits = _skewed_bits(len(cats))
    codes = _canonical_codes(bits, cats)

    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(JPEG_MAGIC)
    out += seg(
        0xC3,
        struct.pack(">BHHB", p, h, w, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    out += seg(0xC4, bytes([0x00]) + bytes(bits) + bytes(cats))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, predictor, 0, 0]))

    bw = _BitWriter()
    body = bytearray()
    cur_mcu, rst = 0, 0
    for n, d in diff_plan():
        if n != cur_mcu:  # MCU boundary just crossed
            cur_mcu = n
            if restart_interval and n % restart_interval == 0:
                bw.flush()
                body += bw.out + bytes([0xFF, 0xD0 + rst])
                bw = _BitWriter()
                rst = (rst + 1) % 8
        t = 16 if d == -32768 else _category(d)
        code, length = codes[t]
        bw.write(code, length)
        if t and t != 16:
            bw.write(_extend_bits(d, t), t)
    bw.flush()
    body += bw.out
    out += bytes(body) + b"\xff\xd9"
    return bytes(out)


# ----------------------------------------------------------------------------
# Lossless ARITHMETIC coding (SOF11, T.81 Annex H with the QM coder of
# Annex D — jpeg_arith.py). Statistical model per H.1.2.2: the conditioning
# state is TWO-dimensional — the quantized differences Da (left neighbour's
# prediction difference) and Db (above), each classified 5 ways (zero /
# small± / large± via the DAC L/U bounds), give 25 contexts × 4 decision
# bins (zero, sign, magnitude>1 by sign); magnitude-category (X) and
# magnitude-bit (M) bins come in TWO shared sets selected by Db's class
# (zero/small vs large) — 100 + 2×29 = 158 bins per statistics area.
# CAVEAT (same as jpeg_arith.py, stated honestly): no third-party SOF11
# fixtures exist in this environment, so the exact bin layout is verified
# self-consistently (encoder/decoder mirrors + exact round trip), not
# against another codec.
# ----------------------------------------------------------------------------

LOSSLESS_STAT_BINS = 158


def _diff_cat(d: int, lo: int, up: int) -> int:
    """5-way classification of a neighbour difference (H.1.2.2 / the DC
    model's zero/small/large split): 0 zero, 1/2 small ±, 3/4 large ±."""
    if abs(d) <= (1 << lo) >> 1:
        return 0
    big = abs(d) > (1 << up) >> 1
    if d > 0:
        return 3 if big else 1
    return 4 if big else 2


def _llctx(da: int, db: int, lo: int, up: int) -> tuple[int, int]:
    """(first decision bin, X-set base) for the (Da, Db) context."""
    ca, cb = _diff_cat(da, lo, up), _diff_cat(db, lo, up)
    return 4 * (5 * ca + cb), (100 if cb <= 2 else 129)


def decode_lossless_diff(dec, stats, ctx4: int, xbase: int) -> int:
    """H.1.2.2 mirror of jpeg_arith.decode_dc_diff with the 2-D context."""
    if dec.decode(stats[ctx4]) == 0:
        return 0
    sign = dec.decode(stats[ctx4 + 1])
    st = ctx4 + 2 + sign
    m = dec.decode(stats[st])
    if m:
        st = xbase
        while dec.decode(stats[st]):
            m <<= 1
            if m == 0x8000:
                raise ValueError("lossless arithmetic magnitude overflow")
            st += 1
    v = m
    st += 14
    while m > 1:
        m >>= 1
        if dec.decode(stats[st]):
            v |= m
    v += 1
    return -v if sign else v


def encode_lossless_diff(enc, stats, ctx4: int, xbase: int, diff: int) -> None:
    if diff == 0:
        enc.encode(0, stats[ctx4])
        return
    enc.encode(1, stats[ctx4])
    sign = 1 if diff < 0 else 0
    enc.encode(sign, stats[ctx4 + 1])
    v = (-diff if sign else diff) - 1
    st = ctx4 + 2 + sign
    if v == 0:
        enc.encode(0, stats[st])
        m = 0
    else:
        enc.encode(1, stats[st])
        m = 1
        st = xbase
        while v >= (m << 1):
            enc.encode(1, stats[st])
            m <<= 1
            st += 1
        enc.encode(0, stats[st])
    st += 14
    mm = m
    while mm > 1:
        mm >>= 1
        enc.encode(1 if v & mm else 0, stats[st])


def decode_lossless_scan_arith(content, pos, frame, scan, dc_cond, ri, planes,
                               diffs):
    """SOF11 scan decode: the SOF3 prediction/reconstruction machinery with
    the QM coder + Annex-H model instead of Huffman categories. ``diffs``
    persists the signed difference coded at each sample — the 2-D
    conditioning context of its right/below neighbours. Restart markers
    reset the coder, the statistics, and the prediction anchor (the diff
    planes persist; both codecs read them identically)."""
    from hatchery_spark.functions.jpeg_arith import ArithDecoder, new_stats

    ns_comps, pred, _se, _ah, pt = scan
    if len(frame["comps"]) > 1 and any(
        c["h"] != 1 or c["v"] != 1 for c in frame["comps"]
    ):
        raise DecoderUnavailable("subsampled lossless JPEG not supported")
    p = frame["precision"]
    h, w = frame["h"], frame["w"]
    lo_up = {}
    for sc in ns_comps:
        lo_up[sc["id"]] = dc_cond.get(sc["dc"], (0, 1))
        planes.setdefault(sc["id"], np.zeros((h, w), dtype=np.int32))
        diffs.setdefault(sc["id"], np.zeros((h, w), dtype=np.int32))

    def fresh(at):
        return ArithDecoder(content, at), {
            sc["dc"]: new_stats(LOSSLESS_STAT_BINS) for sc in ns_comps
        }

    dec, stats = fresh(pos)
    n_mcu = 0
    just_restarted = False
    for y in range(h):
        for x in range(w):
            if ri and n_mcu and n_mcu % ri == 0:
                q = dec.next_marker()
                if not (0xD0 <= content[q + 1] <= 0xD7):
                    raise ValueError("expected restart marker")
                dec, stats = fresh(q + 2)
                just_restarted = True
            for sc in ns_comps:
                cid = sc["id"]
                lo, up = lo_up[cid]
                dplane, plane = diffs[cid], planes[cid]
                da = int(dplane[y, x - 1]) if x else 0
                db = int(dplane[y - 1, x]) if y else 0
                ctx4, xbase = _llctx(da, db, lo, up)
                d = decode_lossless_diff(dec, stats[sc["dc"]], ctx4, xbase)
                if just_restarted or (y == 0 and x == 0):
                    px = 1 << (p - 1 - pt)
                else:
                    px = _predict(
                        plane[y - 1] if y else None, plane[y], x, y, pred, p, pt
                    )
                plane[y, x] = (px + d) & 0xFFFF
                dplane[y, x] = d
            just_restarted = False
            n_mcu += 1
    return dec.next_marker()


def encode_jpeg_gray_lossless_arith(
    img: np.ndarray,
    predictor: int = 1,
    point_transform: int = 0,
    precision: int = 8,
    restart_interval: int = 0,
) -> bytes:
    """Single-component SOF11 fixture encoder — EXACT round trip by
    construction. Shares the SOF3 encoder's diff plan (including restart
    re-anchoring) and arithmetic-codes each diff under the (Da, Db)
    context of the SAME final diff grid the decoder reconstructs."""
    from hatchery_spark.functions.jpeg import JPEG_MAGIC
    from hatchery_spark.functions.jpeg_arith import ArithEncoder, new_stats

    img = np.asarray(img)
    if img.ndim != 2:
        raise ValueError("encode_jpeg_gray_lossless_arith expects a 2-D array")
    maxv = (1 << precision) - 1
    if img.min() < 0 or img.max() > maxv:
        raise ValueError(f"samples must fit {precision} bits")
    pt = point_transform
    samples = (img.astype(np.int64) >> pt).astype(np.int32)
    h, w = samples.shape
    p = precision

    diffs = np.zeros((h, w), dtype=np.int32)
    for y in range(h):
        for x in range(w):
            if y == 0 and x == 0:
                px = 1 << (p - 1 - pt)
            elif y == 0:
                px = int(samples[y, x - 1])
            elif x == 0:
                px = int(samples[y - 1, x])
            else:
                a, b, c = (
                    int(samples[y, x - 1]),
                    int(samples[y - 1, x]),
                    int(samples[y - 1, x - 1]),
                )
                px = {
                    1: a, 2: b, 3: c, 4: a + b - c,
                    5: a + ((b - c) >> 1), 6: b + ((a - c) >> 1),
                    7: (a + b) >> 1,
                }[predictor]
            d = (int(samples[y, x]) - px) & 0xFFFF
            if d >= 0x8000:
                d -= 0x10000
            diffs[y, x] = d
    if restart_interval:
        n = 0
        for y in range(h):
            for x in range(w):
                if n and n % restart_interval == 0:
                    d = (int(samples[y, x]) - (1 << (p - 1 - pt))) & 0xFFFF
                    if d >= 0x8000:
                        d -= 0x10000
                    diffs[y, x] = d
                n += 1

    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(JPEG_MAGIC)
    out += seg(0xCB, struct.pack(">BHHB", p, h, w, 1) + bytes([1, 0x11, 0]))
    out += seg(0xCC, bytes([0x00, 0x10]))  # DAC: DC table 0, L=0 U=1
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, bytes([1, 1, 0x00, predictor, 0, pt]))

    body = bytearray()
    enc = ArithEncoder()
    stats = new_stats(LOSSLESS_STAT_BINS)
    n = 0
    rst = 0
    for y in range(h):
        for x in range(w):
            if restart_interval and n and n % restart_interval == 0:
                body += enc.flush() + bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                enc = ArithEncoder()
                stats = new_stats(LOSSLESS_STAT_BINS)
            da = int(diffs[y, x - 1]) if x else 0
            db = int(diffs[y - 1, x]) if y else 0
            ctx4, xbase = _llctx(da, db, 0, 1)
            encode_lossless_diff(enc, stats, ctx4, xbase, int(diffs[y, x]))
            n += 1
    body += enc.flush()
    out += bytes(body) + b"\xff\xd9"
    return bytes(out)


def encode_jpeg_rgb_lossless_arith(
    img: np.ndarray,
    predictor: int = 1,
    restart_interval: int = 0,
) -> bytes:
    """Interleaved 3-component SOF11 fixture encoder (direct RGB, the DNG
    layout): MCU = one sample per component, all components share DC
    conditioning table 0 but keep PER-COMPONENT (Da, Db) context state —
    mirrored by decode_lossless_scan_arith's per-component diff planes.
    EXACT round trip by construction."""
    from hatchery_spark.functions.jpeg import JPEG_MAGIC
    from hatchery_spark.functions.jpeg_arith import ArithEncoder, new_stats

    img = np.asarray(img)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_jpeg_rgb_lossless_arith expects (h, w, 3)")
    if img.min() < 0 or img.max() > 255:
        raise ValueError("samples must fit 8 bits")
    h, w, _ = img.shape
    samples = img.astype(np.int32)
    p = 8

    # final diff grid per component (restart re-anchors included), shared
    # by context selection and emission — the decoder reconstructs the same
    diffs = np.zeros((h, w, 3), dtype=np.int32)
    n = 0
    for y in range(h):
        for x in range(w):
            anchored = bool(restart_interval and n and n % restart_interval == 0)
            for c in range(3):
                s = int(samples[y, x, c])
                if anchored or (y == 0 and x == 0):
                    px = 1 << (p - 1)
                elif y == 0:
                    px = int(samples[y, x - 1, c])
                elif x == 0:
                    px = int(samples[y - 1, x, c])
                else:
                    a, b, cc = (
                        int(samples[y, x - 1, c]),
                        int(samples[y - 1, x, c]),
                        int(samples[y - 1, x - 1, c]),
                    )
                    px = {
                        1: a, 2: b, 3: cc, 4: a + b - cc,
                        5: a + ((b - cc) >> 1), 6: b + ((a - cc) >> 1),
                        7: (a + b) >> 1,
                    }[predictor]
                d = (s - px) & 0xFFFF
                if d >= 0x8000:
                    d -= 0x10000
                diffs[y, x, c] = d
            n += 1

    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(JPEG_MAGIC)
    out += seg(
        0xCB,
        struct.pack(">BHHB", p, h, w, 3)
        + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    out += seg(0xCC, bytes([0x00, 0x10]))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, predictor, 0, 0]))

    body = bytearray()
    enc = ArithEncoder()
    stats = new_stats(LOSSLESS_STAT_BINS)
    n, rst = 0, 0
    for y in range(h):
        for x in range(w):
            if restart_interval and n and n % restart_interval == 0:
                body += enc.flush() + bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                enc = ArithEncoder()
                stats = new_stats(LOSSLESS_STAT_BINS)
            for c in range(3):
                da = int(diffs[y, x - 1, c]) if x else 0
                db = int(diffs[y - 1, x, c]) if y else 0
                ctx4, xbase = _llctx(da, db, 0, 1)
                encode_lossless_diff(enc, stats, ctx4, xbase, int(diffs[y, x, c]))
            n += 1
    body += enc.flush()
    out += bytes(body) + b"\xff\xd9"
    return bytes(out)
