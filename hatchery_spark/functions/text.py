"""Text-analysis column functions for large-scale training-data pipelines.

All are pure pyspark.sql.functions expressions (JVM-side, whole-stage codegen) —
no Python on the hot path. Each returns a Column usable in select/withColumn.

Reference ties:
  * slug()        — deterministic content hash slug, same pattern as the
                    reference's sha256 object slug
                    (/root/reference/source/falcon_data_replicator/client.go:200-204)
  * schema_hint() — path→schema-hint parse, generalizing
                    /root/reference/source/falcon_data_replicator/client.go:185-198
  * sink_object_name() — the reference's partitioned object naming
                    (/root/reference/destination/gcs/client.go:31-54)
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The reference's pluggable ObjNameFunc
# (/root/reference/destination/gcs/client.go:40): a user-supplied function from
# payload metadata to the object key. Spark analog: (hint, ts, slug, seq) → name
# Column, evaluated inside codegen like any other expression.
NameFn = Callable[[Column, Column, Column, Column], Column]

# small English stopword set for quality scoring / language heuristics
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")


def token_count(text: Column) -> Column:
    """Whitespace token count (int)."""
    return F.size(F.split(text, r"\s+")).cast("int")


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored token estimate: word pieces + digits + punctuation runs.

    A regex segmentation similar in spirit to GPT-style pre-tokenizers:
    letter runs (split every 4 chars ≈ subword pieces), digit runs, punct.
    """
    pieces = F.regexp_extract_all(
        text, F.lit(r"[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]"), 0
    )
    return F.size(pieces).cast("int")


def _occurrences(text: Column, needle: str) -> Column:
    """Non-overlapping occurrence count of a literal substring (codegen-safe)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are (english) stopwords, rounded to 4dp."""
    lowered = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    hits = None
    for w in STOPWORDS:
        h = _occurrences(lowered, f" {w} ")
        hits = h if hits is None else hits + h
    return F.round(hits / F.greatest(token_count(text), F.lit(1)), 4)


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation, rounded to 4dp."""
    punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.round(punct / F.greatest(F.length(text), F.lit(1)), 4)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence −
    punctuation noise. Deterministic, order-free, rounded to 4dp."""
    n = F.length(text)
    length_term = F.least(n / F.lit(500.0), F.lit(1.0)) * 0.4
    stop_term = F.least(stopword_ratio(text) * 4, F.lit(1.0)) * 0.4
    punct_term = (F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))) * 0.2
    return F.round(length_term + stop_term + punct_term, 4)


def lang_id(text: Column) -> Column:
    """Tiny n-gram/stopword language heuristic: en/de/es/fr/unknown.

    Scores marker-word hits per language; ties → 'unknown'. This is the
    vectorized-heuristic pattern (real models would be a pandas_udf over a
    broadcast model); deterministic and SQL-expressible for the oracle.
    """
    lowered = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    markers = {
        "en": ("the", "and", "is"),
        "de": ("der", "und", "ist"),
        "es": ("el", "que", "es"),
        "fr": ("le", "et", "est"),
    }
    scores = {}
    for lang, words in markers.items():
        s = None
        for w in words:
            h = _occurrences(lowered, f" {w} ")
            s = h if s is None else s + h
        scores[lang] = s
    best = F.greatest(*scores.values())
    result = F.lit("unknown")
    # deterministic priority order on ties: en > de > es > fr resolved by
    # checking in reverse so earlier langs win
    for lang in ("fr", "es", "de", "en"):
        result = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(result)
    return result


def slug(col: Column, length: int = 8) -> Column:
    """Deterministic content-hash slug: first `length` hex chars of sha256."""
    return F.substring(F.sha2(col, 256), 1, length)


def fingerprint64(text: Column) -> Column:
    """64-bit document fingerprint (xxhash64 of the text) for cheap exact-dup
    candidate bucketing at scale. NOT for the DuckDB oracle (no xxhash there)."""
    return F.xxhash64(text)


def normalize_text(text_series):
    """Vectorized pandas body for `normalize_text_udf` (kept importable for
    direct pandas-side reuse/testing).

    Whitespace handling is pinned to RE2's '\\s' class ([ \\t\\n\\r\\f] —
    NO \\x0b, unlike Java/Python \\s) because the DuckDB oracle applies
    exactly that regex; Python's Unicode-wide \\s and .strip() would
    diverge on NBSP/U+2028 the moment they appear. NULL input stays NULL
    (SQL semantics — every oracle function propagates it); mapping NULL to
    '' would both diverge from the gate and make NULL-text docs exact-dedup-
    collide with genuinely empty docs downstream. Exotic one-off case
    foldings (Turkish İ, final sigma) can still differ between Python
    .lower() and an engine's collation-aware lower(); both are outside
    NFC's scope."""
    mask = text_series.isna()
    s = text_series.fillna("").astype(str)
    s = s.str.normalize("NFC")
    s = s.str.lower()
    s = s.str.replace(r"[ \t\n\r\f]+", " ", regex=True).str.strip(" ")
    return s.mask(mask, None)


def make_normalize_udf():
    """Unicode text normalization for corpus curation: NFC composition +
    lowercasing + whitespace-run collapse + strip, all as vectorized pandas
    str ops (C-backed, one Arrow batch at a time — no per-row Python).

    NFC (not NFKC) keeps the transform oracle-checkable: DuckDB ships
    nfc_normalize, so the gate replays composition byte-for-byte. The
    canonical curation use is making exact-dedup digests insensitive to
    composed-vs-decomposed encodings and case — run it BEFORE
    exact_dedup/minhash so 'Café' (é) and 'Cafe\\u0301' (e + U+0301)
    collide.
    """
    from pyspark.sql.functions import pandas_udf as _pudf

    @_pudf(T.StringType())
    def normalize_text_udf(text: pd.Series) -> pd.Series:
        return normalize_text(text)

    return normalize_text_udf


def winnow_fingerprints(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    hash_fn=None,
):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every char k-gram, slide a window
    of `window` hashes, keep each window's minimum. Guarantees: any shared
    substring of length >= k + window - 1 yields at least one shared
    fingerprint, and the selected set is ~2/(window+1) of all shingles — a
    sparse, position-robust signature for plagiarism / near-dup detection.

    Narrow plan: per-row array expressions only, no shuffle — fingerprints
    explode to (id, fingerprint) rows ready for a groupBy/join bucketing
    stage downstream. `hash_fn` sets the ordering hash: default F.md5
    (engine-portable, so the DuckDB oracle mirrors the selection exactly);
    at 100 TB pass e.g. F.xxhash64 for a cheaper compare with the identical
    plan. Docs shorter than k chars yield one truncated shingle; fewer than
    `window` shingles yield one window over what exists.
    """
    hf = hash_fn or F.md5
    text = F.col(text_col)
    n_sh = F.greatest(F.length(text) - F.lit(k - 1), F.lit(1))
    hs = F.transform(
        F.sequence(F.lit(1), n_sh),
        lambda i: hf(F.substring(text, i, k)),  # noqa: B023 — positional
    )
    staged = df.select(F.col(id_col), hs.alias("_hs"))
    n_win = F.greatest(F.size("_hs") - F.lit(window - 1), F.lit(1))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n_win - 1),
            lambda i: F.array_min(F.slice("_hs", i + 1, window)),
        )
    )
    return staged.select(F.col(id_col), F.explode(fps).alias("fingerprint"))


# Patterns kept engine-portable (no lookarounds / Java-isms) so the DuckDB
# oracle applies the exact same regexes. Order matters: emails before bare
# hostnames, IPs before generic digit runs.
_PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<email>"),
    (r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<ip>"),
    (r"\d{12,19}", "<longnum>"),
)


def redact_pii(text: Column) -> Column:
    """Scrub emails, IPv4 addresses, and card-length digit runs from text.

    The data-side counterpart of the reference's config-side secret masking
    (/root/reference/pkg/types/secret.go — masked String()/MarshalJSON): there
    secrets are kept out of LOGS; here they are kept out of the routed payloads
    themselves. Pure regexp_replace chain — codegen'd, replaces all matches.
    """
    out = text
    for pat, repl in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def schema_hint(path: Column) -> Column:
    """Path → schema hint: 'data/...' → data; 'fdrv2/x/<p3>/...' → fdrv2_<p3>;
    else 'unknown'."""
    p1 = F.split_part(path, F.lit("/"), F.lit(1))
    p3 = F.split_part(path, F.lit("/"), F.lit(3))
    return (
        F.when(p1 == "data", F.lit("data"))
        .when(p1 == "fdrv2", F.concat(F.lit("fdrv2_"), p3))
        .otherwise(F.lit("unknown"))
    )


def sink_object_name(
    prefix: str,
    hint: Column,
    ts: Column,
    slug_col: Column,
    seq: Column,
    ext: str = "parquet",
    name_fn: NameFn | None = None,
) -> Column:
    """prefix + hint/ + yyyy/MM/dd/HH/ + yyyyMMdd'T'HHmmss + _slug + _%04d(seq) + .ext

    `name_fn` overrides the default layout entirely (the reference's pluggable
    ObjNameFunc, destination/gcs/client.go:40) — it receives the same
    (hint, ts, slug, seq) columns and returns the full object-name Column.
    """
    if name_fn is not None:
        return name_fn(hint, ts, slug_col, seq)
    return F.concat(
        F.lit(prefix),
        hint,
        F.lit("/"),
        F.date_format(ts, "yyyy/MM/dd/HH"),
        F.lit("/"),
        F.date_format(ts, "yyyyMMdd'T'HHmmss"),
        F.lit("_"),
        slug_col,
        F.lit("_"),
        F.format_string("%04d", seq),
        F.lit("."),
        F.lit(ext),
    )


def k_anonymize(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    redacted: str = "[SUPPRESSED]",
) -> DataFrame:
    """k-anonymity suppression over quasi-identifier columns (Sweeney, IJUFKS
    2002): any combination of `quasi_cols` values shared by FEWER than k rows
    is suppressed (each quasi value replaced by `redacted`), so every
    surviving quasi combination is ≥ k-anonymous — the release gate for
    training corpora carrying user-linked metadata, complementing
    `redact_pii` (which scrubs identifiers INSIDE the text).

    Adds `group_n` (the combination's cohort size) and `suppressed`. The
    cohort key is a STRUCT of the quasi columns — struct field comparison
    treats NULLs as equal in both groupBy and equi-join, so NULL quasi
    values form their own cohort with no sentinel encoding. (A
    delimiter-concatenated string key can MERGE distinct quasi
    combinations whenever a value contains the delimiter/sentinel bytes —
    inflating group_n and under-suppressing rows below k in a privacy
    gate; a plain multi-column join would instead orphan NULL rows, since
    SQL NULL never equals NULL.)

    Scale shape: cohort sizes come from a map-side-combined aggregate over
    the struct key (combination-cardinality-sized frame, ≪ corpus) and
    rejoin broadcast-when-small (AQE decides); quasi columns rewrite in
    place with a codegen'd `when` — no second corpus shuffle, no window
    over whale cohorts.
    """
    qk = F.struct(*[F.col(c) for c in quasi_cols])
    sizes = (
        df.select(qk.alias("_qk"))
        .groupBy("_qk")
        .agg(F.count(F.lit(1)).alias("group_n"))
    )
    joined = df.withColumn("_qk", qk).join(sizes, "_qk", "inner")
    suppressed = F.col("group_n") < k
    out = joined.withColumn("suppressed", suppressed)
    for c in quasi_cols:
        out = out.withColumn(
            c, F.when(suppressed, F.lit(redacted)).otherwise(F.col(c).cast("string"))
        )
    return out.drop("_qk")


_TRACKING_PARAM = r"^(utm_[^=]*|gclid|fbclid|msclkid)="


def canonicalize_url(url: Column) -> Column:
    """URL canonicalization (RFC 3986 §6 syntax-based normalization plus
    the tracking-parameter strip every web-crawl pipeline applies before
    URL-level dedup — the first dedup stage of CommonCrawl/CCNet-style
    corpora, upstream of content dedup):

      * fragment dropped
      * scheme and host lowercased; leading `www.` dropped
      * default ports stripped (http:80 / https:443); others kept
      * trailing path slashes stripped; empty path → '/'
      * query: tracking params (utm_*, gclid, fbclid, msclkid) removed,
        the rest SORTED so parameter order never splits a URL group

    Pure codegen'd string expressions (regexp + one interpreted HOF filter
    over the split query — parameter-count-sized, not corpus-sized); no
    Python, no shuffle. Replayable in ANSI SQL, so the oracle checks every
    rule."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    )
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    host = F.regexp_replace(
        F.regexp_replace(hostport, r":[0-9]+$", ""), r"^www\.", ""
    )
    default_port = ((scheme == F.lit("http")) & (port == F.lit("80"))) | (
        (scheme == F.lit("https")) & (port == F.lit("443"))
    )
    port_part = F.when(
        (port != F.lit("")) & ~default_port, F.concat(F.lit(":"), port)
    ).otherwise(F.lit(""))
    path = F.regexp_replace(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1),
        r"/+$",
        "",
    )
    path = F.when(path == F.lit(""), F.lit("/")).otherwise(path)
    q = F.regexp_extract(url, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(q, "&"),
        lambda kv: (kv != F.lit("")) & ~kv.rlike(_TRACKING_PARAM),
    )
    qs = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        port_part,
        path,
        F.when(qs != F.lit(""), F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


def extract_pii_entities(
    df, text_col: str = "text", id_cols: tuple = ("doc_id",)
) -> "DataFrame":
    """PII entity EXTRACTION (the audit-side complement of redact_pii —
    same regexes, so whatever extraction finds, redaction removes): one
    output row per occurrence of an email / IPv4 / card-length digit run.
    Pure codegen regexp_extract_all + explode; occurrence multiplicity is
    preserved (an address appearing twice yields two rows)."""
    kinds = (("email", _PII_PATTERNS[0][0]),
             ("ipv4", _PII_PATTERNS[1][0]),
             ("longnum", _PII_PATTERNS[2][0]))
    text = F.coalesce(F.col(text_col), F.lit(""))
    parts = [
        df.select(
            *id_cols,
            F.lit(kind).alias("kind"),
            F.explode(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).alias(
                "value"
            ),
        )
        for kind, pat in kinds
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


#: common Cyrillic/Greek → Latin confusable pairs (source chars, targets).
#: 1:1 codepoint map so translate() — codegen'd, zero shuffle — applies it.
_HOMOGLYPH_SRC = "аеорсухіѕԁВНКМТАЕОРСХοΑΒΕΖΗΙΚΜΝΟΡΤΥΧ"
_HOMOGLYPH_DST = "aeopcyxisdBHKMTAEOPCXoABEZHIKMNOPTYX"


def fold_homoglyphs(text: Column) -> Column:
    """Map common Cyrillic/Greek homoglyphs onto their Latin lookalikes —
    the spam/SEO dedup-evasion counter (visually identical strings hash
    identically after folding). Pure codegen translate(); compose BEFORE
    any hash-based dedup key. Not full Unicode confusables (that table is
    thousands of pairs — same mechanism, longer map)."""
    return F.translate(text, _HOMOGLYPH_SRC, _HOMOGLYPH_DST)


def l_diversify(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    l: int = 3,
    redacted: str = "[SUPPRESSED]",
) -> DataFrame:
    """l-diversity suppression (Machanavajjhala et al., ICDE 2006) — the
    strictly stronger release gate k-anonymity alone cannot provide: a
    cohort can be huge yet still leak if every row shares ONE sensitive
    value (the homogeneity attack — "all 500 rows in this quasi cohort
    are [critical] incidents"). A cohort survives only if it has ≥ k
    rows AND ≥ l DISTINCT sensitive values; otherwise its quasi columns
    suppress, exactly as in :func:`k_anonymize` (struct cohort key —
    NULL-safe, delimiter-proof).

    Adds ``group_n``, ``sensitive_n``, ``suppressed``. Both failure
    modes are observable: ``group_n < k`` (size) and ``sensitive_n < l``
    (homogeneity) — a privacy audit can tell which gate fired.

    Scale shape: identical to k_anonymize — ONE map-side-combined
    aggregate over the struct key carrying (count, approx-free exact
    distinct), broadcast-when-small rejoin, in-place codegen rewrite.
    """
    qk = F.struct(*[F.col(c) for c in quasi_cols])
    sizes = (
        df.select(qk.alias("_qk"), F.col(sensitive_col).alias("_sv"))
        .groupBy("_qk")
        .agg(
            F.count(F.lit(1)).alias("group_n"),
            F.countDistinct("_sv").alias("sensitive_n"),
        )
    )
    joined = df.withColumn("_qk", qk).join(sizes, "_qk", "inner")
    suppressed = (F.col("group_n") < k) | (F.col("sensitive_n") < l)
    out = joined.withColumn("suppressed", suppressed)
    for c in quasi_cols:
        out = out.withColumn(
            c,
            F.when(suppressed, F.lit(redacted)).otherwise(
                F.col(c).cast("string")
            ),
        )
    return out.drop("_qk")
