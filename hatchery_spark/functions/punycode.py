"""Punycode (RFC 3492) bootstring codec — IDN label decode for URL triage.

Internationalized domain names arrive in logs as ``xn--…`` ACE labels;
phishing/homoglyph triage (see functions/text.py's homoglyph fold and the
URL canonicalizer) needs the Unicode form back. Implemented from the RFC's
pseudocode alone (§6.1 adapt, §6.2 decode, §6.3 encode); Python's stdlib
``punycode`` codec is an independent implementation and pytest pins ours
against it across scripts (Latin diacritics, Greek, Cyrillic, CJK, emoji)
plus the crafted hyphen/all-basic/empty edge cases.

Spark side: Arrow-batched pandas_udf over the label column — per-label
work is tiny and branchy (exactly the "outgrows regexp_extract" class
parse.py's pandas engine exists for).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

BASE, TMIN, TMAX = 36, 1, 26
SKEW, DAMP = 38, 700
INITIAL_BIAS, INITIAL_N = 72, 128


def _adapt(delta: int, numpoints: int, firsttime: bool) -> int:
    delta = delta // DAMP if firsttime else delta // 2
    delta += delta // numpoints
    k = 0
    while delta > ((BASE - TMIN) * TMAX) // 2:
        delta //= BASE - TMIN
        k += BASE
    return k + ((BASE - TMIN + 1) * delta) // (delta + SKEW)


def _digit_value(cp: str) -> int:
    if "a" <= cp <= "z":
        return ord(cp) - ord("a")
    if "A" <= cp <= "Z":
        return ord(cp) - ord("A")
    if "0" <= cp <= "9":
        return ord(cp) - ord("0") + 26
    raise ValueError(f"invalid punycode digit {cp!r}")


def _digit_char(d: int) -> str:
    return chr(d + ord("a")) if d < 26 else chr(d - 26 + ord("0"))


def punycode_decode(s: str) -> str:
    """RFC 3492 §6.2. Accepts the bare bootstring (no ``xn--`` prefix)."""
    pos = s.rfind("-")
    if pos > 0:
        output = [ord(c) for c in s[:pos]]
        if any(c >= INITIAL_N for c in output):
            raise ValueError("non-basic code point in literal part")
        ext = s[pos + 1 :]
    else:
        output, ext = [], s[1:] if pos == 0 else s
    i, n, bias = 0, INITIAL_N, INITIAL_BIAS
    idx = 0
    while idx < len(ext):
        oldi, w, k = i, 1, BASE
        while True:
            if idx >= len(ext):
                raise ValueError("truncated variable-length integer")
            digit = _digit_value(ext[idx])
            idx += 1
            i += digit * w
            t = min(max(k - bias, TMIN), TMAX)
            if digit < t:
                break
            w *= BASE - t
            k += BASE
        bias = _adapt(i - oldi, len(output) + 1, oldi == 0)
        n += i // (len(output) + 1)
        i %= len(output) + 1
        if n > 0x10FFFF:
            raise ValueError("code point overflow")
        output.insert(i, n)
        i += 1
    return "".join(chr(c) for c in output)


def punycode_encode(s: str) -> str:
    """RFC 3492 §6.3. Returns the bare bootstring (no ``xn--`` prefix)."""
    cps = [ord(c) for c in s]
    basic = [c for c in cps if c < INITIAL_N]
    out = [chr(c) for c in basic]
    h = b = len(basic)
    if b:
        out.append("-")
    n, delta, bias = INITIAL_N, 0, INITIAL_BIAS
    while h < len(cps):
        m = min(c for c in cps if c >= n)
        delta += (m - n) * (h + 1)
        n = m
        for c in cps:
            if c < n:
                delta += 1
            elif c == n:
                q, k = delta, BASE
                while True:
                    t = min(max(k - bias, TMIN), TMAX)
                    if q < t:
                        break
                    out.append(_digit_char(t + (q - t) % (BASE - t)))
                    q = (q - t) // (BASE - t)
                    k += BASE
                out.append(_digit_char(q))
                bias = _adapt(delta, h + 1, h == b)
                delta, h = 0, h + 1
        delta += 1
        n += 1
    return "".join(out)


def idna_decode_label(label: str) -> str:
    """``xn--…`` → Unicode; non-ACE labels pass through unchanged."""
    if label.lower().startswith("xn--"):
        return punycode_decode(label[4:])
    return label


def idna_encode_label(label: str) -> str:
    """Unicode → ``xn--…``; all-ASCII labels pass through unchanged."""
    if all(ord(c) < 128 for c in label):
        return label
    return "xn--" + punycode_encode(label)


@pandas_udf(T.StringType())
def idna_decode_col(labels: pd.Series) -> pd.Series:
    def safe(x):
        try:
            return idna_decode_label(x)
        except (ValueError, OverflowError):
            return None

    return labels.map(safe)


@pandas_udf(T.StringType())
def idna_encode_col(labels: pd.Series) -> pd.Series:
    return labels.map(idna_encode_label)
