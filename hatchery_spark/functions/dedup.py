"""Deduplication operators for training-data pipelines, Spark-first.

Four families, each shaped for 100 TB inputs:

  * exact_dedup          — sha256-groupBy. The shuffle carries a 32-byte digest +
                           id, never the document text.
  * minhash_lsh_*        — char-shingle → minhash signature → banded LSH buckets
                           → candidate pairs → exact-Jaccard verify. Signatures
                           are built with native expressions (xxhash64 per seed,
                           array_min) — zero Python on the signature path; the
                           candidate join is a key-equality shuffle join on
                           (band, band_hash), i.e. the standard web-dedup shape.
  * simhash              — 64-bit SimHash over tokens via an Arrow-vectorized
                           pandas_udf (numpy bit-bucketing; genuinely beyond
                           built-ins), near-dup candidates via banded bit
                           buckets (64/b bands of b bits ⇒ Hamming ≤ 64/b − 1
                           guaranteed caught), degenerate buckets capped.
  * ngram_jaccard        — word n-gram Jaccard verification on candidate pairs
                           (native array_intersect/array_union).

Degenerate LSH buckets (boilerplate shingles shared by millions of docs) are
capped with `max_bucket` to bound the self-join blowup — capped buckets are
counted and reported, not silently dropped.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per identical text; adds dup_count.

    Two shuffles, neither carrying text twice: the groupBy shuffles
    (digest, id) pairs — 40-ish bytes/row — to pick each group's survivor,
    then the survivor REJOIN shuffles the full corpus (with text) by id once
    to materialize the kept rows. Composes well when the survivor set feeds
    further relational ops before materialization.

    `exact_dedup_window` is the one-shuffle alternative: the corpus (with
    text) shuffles ONCE by digest and a row_number window picks survivors in
    place. Measured at sf0.1 the window form wins when the output is the
    deduped corpus itself; this form wins when only ids/counts are needed
    downstream (its wide shuffle can then be pruned away entirely).
    """
    digest = F.sha2(F.col(text_col), 256).alias("_digest")
    kept = (
        df.select(digest, F.col(id_col))
        .groupBy("_digest")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )
    return kept.join(df, on=id_col, how="inner").drop("_digest")


def exact_dedup_window(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """exact_dedup with ONE shuffle: row_number over the digest partition.

    The full rows (text included) shuffle by sha2-256(text) once; within each
    digest partition the smallest id wins and dup_count is the partition size.
    Same output as exact_dedup (column order included). Prefer it when the
    deduped corpus is the result being materialized; prefer exact_dedup when
    downstream only consumes ids/counts.
    """
    w = Window.partitionBy("_digest")
    out = (
        df.withColumn("_digest", F.sha2(F.col(text_col), 256))
        .withColumn("_rn", F.row_number().over(w.orderBy(id_col)))
        .withColumn("dup_count", F.count(F.lit(1)).over(w))
        .filter(F.col("_rn") == 1)
        .drop("_digest", "_rn")
    )
    # match exact_dedup's column order: id, dup_count, then the rest
    rest = [c for c in df.columns if c != id_col]
    return out.select(id_col, "dup_count", *rest)


def dedup_lines_first_occurrence(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style cross-corpus line dedup: every line survives exactly ONCE
    globally — at its first occurrence (smallest (doc_id, position)) — and
    every later repeat is dropped, including repeats inside one document.
    Complements `corpus.remove_boilerplate_lines`, which drops frequent lines
    EVERYWHERE (threshold semantics) rather than keeping one canonical copy.

    Scale shape: explode lines once, pick each line's first occurrence with a
    hash AGGREGATE (min over the composite key id·10⁶+pos — map-side combined,
    one row per distinct line on the exchange; never a window sort over
    whale-keyed line partitions, where the empty line alone would serialize a
    corpus-wide partition), rejoin by md5(line) (32-byte keys co-partition
    both sides; md5 not xxhash64 so the DuckDB oracle can replay it), and
    rebuild documents with ONE order-restoring aggregate, the
    remove_boilerplate_lines rebuild shape. The composite key bounds
    id < ~9.2·10¹² at ≤10⁶ lines/doc — document-scale safe.

    Returns (id, clean_text, kept_lines, removed_lines); docs whose every
    line was seen earlier survive with clean_text = ''.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).withColumn("_h", F.md5("_line")).withColumn(
        "_key", F.col(id_col) * 1_000_000 + F.col("_pos")
    )
    first = lines.groupBy("_h").agg(F.min("_key").alias("_first_key"))
    marked = lines.join(first, "_h")
    kept_struct = F.when(
        F.col("_key") == F.col("_first_key"), F.struct("_pos", "_line")
    )
    return marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(kept_struct).cast("int").alias("kept_lines"),
        (F.count(F.lit(1)) - F.count(kept_struct)).cast("int").alias("removed_lines"),
    )


# ---------------------------------------------------------------- minhash LSH

def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct character k-grams as an array column (native transform)."""
    n = F.greatest(F.length(text) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.substring(text, i, k),  # noqa: B023 — substring is positional
        )
    )


def _seeded_rehash(seed: int, h: Column) -> Column:
    return F.xxhash64(h, F.lit(seed))


def minhash_signature_staged(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, _sig) via explode + codegen'd min-aggregates — the fast path.

    Higher-order functions (transform/array_min) are CodegenFallback: every
    element evaluation goes through the interpreted expression walker at ~µs
    cost, so a 32-function family over k-shingle arrays pays 32 × n_shingles
    interpreted calls per doc. This shape instead explodes one row per
    (doc, shingle), hashes the shingle once, and computes the 32 family mins
    as whole-stage-codegen'd hash aggregates (~ns per value). Partial (map-
    side) aggregation collapses each partition to one row per doc BEFORE the
    shuffle, so the exchange carries num_hashes longs per doc — never the
    shingles. ~5× faster than the staged-projection HOF form at 500 docs and
    the gap widens with doc length.

    Docs whose text is NULL produce no signature row (explode of a null
    array); they cannot be near-dup candidates anyway.
    """
    ex = df.select(
        F.col(id_col), F.explode(char_shingles(F.col(text_col), shingle_k)).alias("_sh")
    ).select(F.col(id_col), F.xxhash64("_sh").alias("_h"))
    mins = [
        F.min(_seeded_rehash(i, F.col("_h"))).alias(f"_m{i}") for i in range(num_hashes)
    ]
    agg = ex.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("_sig"),
    )


def capped_band_pairs(
    band_rows: DataFrame,
    id_col: str,
    val_col: str,
    max_bucket: int,
    band_col: str = "band",
) -> DataFrame:
    """(id, band, val) rows → distinct candidate pairs (id_a < id_b).

    The one banded-LSH pairing shape shared by the minhash, simhash and
    sign-LSH paths: degenerate buckets (boilerplate content shared by huge
    row counts) are capped at `max_bucket` members to bound the self-join's
    quadratic blowup — a capped bucket contributes no pairs (its members can
    still pair through their other bands).

    Oversized buckets are found with groupBy(band, val).count() — a map-side-
    combined aggregate whose exchange carries one row per bucket — and removed
    with a left-anti join against that (band, val) key frame. Nothing ever
    leaves the executors: on a duplication-heavy corpus the oversized-key set
    is only bounded by n_rows/max_bucket, so it is NOT collected; AQE
    broadcasts the build side when it is small and falls back to a shuffled
    anti-join when it is not. This beats a `count() over (partition by band,
    val)` window, which shuffles and SORTS the full band-row set just to
    annotate sizes: measured on a 300k-doc simhash corpus, 18.7s vs 24.6s
    warm (47.8s vs 115.5s cold), identical pairs.

    The cap is never silent: `capped_band_stats` on the same band rows
    returns exact counts of dropped buckets and their member rows (a
    single-row aggregate collect, O(1) driver memory at any corpus size).
    """
    oversized = (
        band_rows.groupBy(band_col, val_col)
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket)
        .select(band_col, val_col)
    )
    bounded = band_rows.join(oversized, on=[band_col, val_col], how="left_anti")
    a = bounded.select(F.col(id_col).alias("id_a"), band_col, val_col)
    b = bounded.select(F.col(id_col).alias("id_b"), band_col, val_col)
    return (
        a.join(b, on=[band_col, val_col])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def capped_band_stats(
    band_rows: DataFrame,
    val_col: str,
    max_bucket: int,
    band_col: str = "band",
) -> dict:
    """Exact accounting of what `capped_band_pairs` dropped:
    {"capped_buckets": n, "capped_rows": m} for buckets over `max_bucket`.

    An explicit eager call (one Spark job, single-row collect) rather than a
    side effect of building the pairs plan: computing it re-executes the
    band-row lineage once, and callers should see — and choose — that cost.
    """
    row = (
        band_rows.groupBy(band_col, val_col)
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket)
        .agg(
            F.count(F.lit(1)).alias("capped_buckets"),
            F.coalesce(F.sum("bucket_n"), F.lit(0)).alias("capped_rows"),
        )
        .first()
    )
    return {
        "capped_buckets": row["capped_buckets"],
        "capped_rows": row["capped_rows"],
    }


def minhash_band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, band, band_hash) LSH band rows — the joinable index form of a
    minhash signature, shared by batch pairing (minhash_lsh_candidates) and
    the streaming band store (streaming.stream.streaming_neardup_writer).

    One row per (doc, band) via a single explode: a union of per-band
    selects would re-evaluate the FULL signature (all shingle hashing) once
    per band."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sig = minhash_signature_staged(df, text_col, id_col, num_hashes, shingle_k)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.element_at("_sig", b * rows_per_band + i + 1)
                        for i in range(rows_per_band)
                    ]
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        F.col(id_col), F.explode(band_structs).alias("_bs")
    ).select(id_col, F.col("_bs.band").alias("band"), F.col("_bs.band_hash").alias("band_hash"))


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    max_bucket: int = 1000,
    return_stats: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via banded minhash LSH.

    `return_stats=True` returns (pairs, capped_band_stats dict) instead —
    opt-in because the stats aggregate is an EAGER extra job that replays
    the signature lineage once."""
    buckets = minhash_band_rows(df, text_col, id_col, num_hashes, bands, shingle_k)
    pairs = capped_band_pairs(buckets, id_col, "band_hash", max_bucket)
    if return_stats:
        return pairs, capped_band_stats(buckets, "band_hash", max_bucket)
    return pairs


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact char-shingle Jaccard on candidate pairs; keeps pairs ≥ threshold.

    Set operations run over xxhash64(shingle) longs, not the shingle strings:
    array_distinct has already been applied, so |A∩B| / |A∪B| is unchanged
    unless two DISTINCT shingles of one comparison collide in 64 bits
    (P ≈ n²·2⁻⁶⁴ — negligible), and long intersect/union is several times
    cheaper than string. Broadcast of the (small) shingle side keeps the
    candidate stream from shuffling.
    """
    sh = df.select(
        F.col(id_col),
        F.transform(
            char_shingles(F.col(text_col), shingle_k), lambda s: F.xxhash64(s)
        ).alias("_sh"),
    )
    out = (
        candidates.join(sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    **kw,
) -> DataFrame:
    """Near-dup pairs with verified Jaccard ≥ threshold (LSH candidates → verify).

    Pass `return_stats=True` (forwarded to minhash_lsh_candidates) for the
    bucket-cap accounting; it applies to the candidate stage and returns
    (pairs, stats)."""
    want_stats = kw.pop("return_stats", False)
    res = minhash_lsh_candidates(df, text_col, id_col, return_stats=want_stats, **kw)
    cands, stats = res if want_stats else (res, None)
    out = jaccard_verify(cands, df, text_col, id_col, threshold=threshold)
    if want_stats:
        return out, stats
    return out


# ---------------------------------------------------------------- word n-gram jaccard

def word_ngrams(text: Column, n: int = 3) -> Column:
    toks = F.split(text, r"\s+")
    cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), cnt - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Word n-gram Jaccard for given (id_a, id_b) pairs."""
    g = df.select(F.col(id_col), word_ngrams(F.col(text_col), n).alias("_g"))
    return (
        pairs.join(g.select(F.col(id_col).alias("id_a"), F.col("_g").alias("g_a")), "id_a")
        .join(g.select(F.col(id_col).alias("id_b"), F.col("_g").alias("g_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("g_a", "g_b")) / F.size(F.array_union("g_a", "g_b")), 4
            ).alias("ngram_jaccard"),
        )
    )


def make_gram_hash_udf(n: int):
    """Arrow-vectorized word-n-gram hasher: text → array<long> of DISTINCT
    gram hashes (gram identity == the space-joined token-string identity,
    since tokens cannot contain whitespace).

    Batch shape (mirrors simhash64): pandas str.split (C), ONE
    pd.util.hash_array over all tokens of the batch, a rolling FNV-style
    polynomial across the flat hash array (n-1 vectorized multiply-adds,
    doc boundaries masked), then a lexsort-based per-doc distinct — no
    per-gram Python. ~10× the interpreted transform/slice/concat_ws HOF
    form, which is CodegenFallback and dominated the decontamination scan.

    Short docs (< n tokens) emit one truncated gram over all their tokens;
    empty docs emit the hash of a single empty token, matching the
    one-empty-gram behavior of `word_ngrams` on ''.
    """

    @pandas_udf(T.ArrayType(T.LongType()))
    def gram_hashes(text: pd.Series) -> pd.Series:
        rows = len(text)
        # Spark-split parity, NOT pandas .str.split(): F.split(text,
        # '\\s+') uses limit=-1, so leading AND trailing whitespace each
        # yield an empty token (re.split matches this; whitespace-only
        # .str.split() drops them), and Java \s is ASCII-only where
        # Python's is Unicode-wide — hence the explicit ASCII class.
        toks = text.fillna("").astype(str).str.split(r"[ \t\n\r\f\x0b]+")
        flat = toks.reset_index(drop=True).explode().dropna()
        P = np.uint64(0x100000001B3)

        def poly(h: np.ndarray) -> np.uint64:
            with np.errstate(over="ignore"):
                acc = h[0]
                for j in range(1, len(h)):
                    acc = acc * P + h[j]
            return acc

        empty_hash = np.int64(
            pd.util.hash_array(np.array([""], dtype=object), categorize=False)
            .view(np.int64)[0]
        )
        if len(flat) == 0:
            return pd.Series([[empty_hash]] * rows)
        doc_idx = flat.index.to_numpy(dtype=np.int64)
        th = pd.util.hash_array(
            flat.to_numpy(dtype=object), categorize=False
        ).astype(np.uint64)
        L = len(th)
        with np.errstate(over="ignore"):
            if L >= n:
                g = th[: L - n + 1].copy()
                for j in range(1, n):
                    g = g * P + th[j : L - n + 1 + j]
                valid = doc_idx[: L - n + 1] == doc_idx[n - 1 :]
                gram_doc = doc_idx[: L - n + 1][valid]
                gvals = g[valid]
            else:
                gram_doc = np.empty(0, dtype=np.int64)
                gvals = np.empty(0, dtype=np.uint64)
        # docs with 1..n-1 tokens: one truncated gram over all tokens
        lens = np.bincount(doc_idx, minlength=rows)
        starts = np.zeros(rows + 1, dtype=np.int64)
        starts[1:] = np.cumsum(lens)
        short = np.nonzero((lens > 0) & (lens < n))[0]
        if len(short):
            sd, sv = [], []
            for d in short:
                sd.append(d)
                sv.append(poly(th[starts[d] : starts[d + 1]]))
            gram_doc = np.concatenate([gram_doc, np.asarray(sd, dtype=np.int64)])
            gvals = np.concatenate([gvals, np.asarray(sv, dtype=np.uint64)])
        # per-doc distinct, fully vectorized
        order = np.lexsort((gvals, gram_doc))
        gd, gv = gram_doc[order], gvals[order]
        keep = np.ones(len(gd), dtype=bool)
        keep[1:] = (gd[1:] != gd[:-1]) | (gv[1:] != gv[:-1])
        gd, gv = gd[keep], gv[keep].view(np.int64)
        counts = np.bincount(gd, minlength=rows)
        parts = np.split(gv, np.cumsum(counts)[:-1])
        return pd.Series(
            [p.tolist() if lens[i] > 0 else [empty_hash] for i, p in enumerate(parts)]
        )

    return gram_hashes


def ngram_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word n-gram
    with an evaluation corpus (the GPT-3 appendix-C / Dolma-style n-gram
    overlap check that precedes every serious pretraining run).

    Scale shape: the benchmark side (eval suites — 10^5..10^7 grams) is
    hashed to 64-bit longs, deduplicated, and BROADCAST; the training corpus
    explodes to one row per distinct gram and the broadcast INNER join prunes
    clean grams before the only data-bearing shuffle (groupBy doc_id over
    matched rows only). Clean docs never enter that shuffle — they surface
    through the final left join against the narrow (id, total_grams) frame,
    so at 100 TB the shuffled volume is proportional to contamination, not
    corpus size. Gram hashing is the Arrow-vectorized rolling polynomial of
    `make_gram_hash_udf` (gram-tuple identity == gram-string identity;
    collision P ≈ |grams|²·2⁻⁶⁴ — negligible).

    Returns one row per training doc: (id, total_grams, matched_grams,
    contaminated).
    """
    gram_hashes = make_gram_hash_udf(n)
    grams = gram_hashes(F.col(text_col))
    stats = df.select(F.col(id_col), F.size(grams).alias("total_grams"))
    bench = (
        benchmark.select(F.explode(gram_hashes(F.col(text_col))).alias("_h"))
        .distinct()
    )
    hits = (
        df.select(F.col(id_col), F.explode(grams).alias("_h"))
        .join(F.broadcast(bench), "_h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("matched_grams"))
    )
    return stats.join(hits, id_col, "left").select(
        F.col(id_col),
        F.col("total_grams"),
        F.coalesce("matched_grams", F.lit(0)).alias("matched_grams"),
        (F.coalesce("matched_grams", F.lit(0)) > 0).alias("contaminated"),
    )


# ----------------------------------------------------------- bloom filter


def _distinct_word_ngrams(text: str | None, n: int) -> list[str]:
    """Distinct word n-grams as SPACE-JOINED STRINGS, tokenized exactly like
    `make_gram_hash_udf` (Spark F.split parity: ASCII whitespace class,
    leading/trailing empties kept) so the DuckDB oracle's
    string_split_regex + list_transform replay is gram-for-gram identical.
    Short docs emit one truncated gram (the oracle's greatest(len-n+1, 1))."""
    import re

    ws = re.split(r"[ \t\n\r\f\x0b]+", text or "")
    cnt = max(len(ws) - n + 1, 1)
    return list(dict.fromkeys(" ".join(ws[i : i + n]) for i in range(cnt)))


def _bloom_positions(grams: list[str], m_bits: int, k_hashes: int) -> np.ndarray:
    """(len(grams), k) bit positions. ONE md5 per gram; hash s is hex
    digits [8s, 8s+8) as an int, mod m — md5 + hex-slice (not xxhash64,
    which DuckDB lacks) so the oracle replays every position and therefore
    every FALSE POSITIVE bit-exactly. k ≤ 4 (md5 yields 4 disjoint
    32-bit slices)."""
    import hashlib

    if not 1 <= k_hashes <= 4:
        raise ValueError("k_hashes must be in 1..4 (md5 has 4 32-bit slices)")
    out = np.empty((len(grams), k_hashes), dtype=np.int64)
    for gi, g in enumerate(grams):
        h = hashlib.md5(g.encode("utf-8")).hexdigest()
        for s in range(k_hashes):
            out[gi, s] = int(h[8 * s : 8 * s + 8], 16) % m_bits
    return out


def build_bloom_bitmap(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 5,
    m_bits: int = 1 << 16,
    k_hashes: int = 3,
    build_partitions: int = 8,
) -> np.ndarray:
    """Distributed Bloom-filter build over the benchmark side's n-grams:
    each task ORs its grams' bits into a LOCAL m-bit bitmap and emits ONE
    binary row; the driver ORs O(partitions) bitmaps. Driver traffic is
    partitions × m/8 bytes regardless of gram count — the collect-distinct-
    positions alternative is O(k·|grams|) rows and loses exactly when the
    filter is worth building. The eval side is coalesced small first (it is
    suite-sized by definition; a 16 MB bitmap × 8 partitions = 128 MB of
    one-off driver traffic at the default production m=2^27)."""
    nbytes = (m_bits + 7) // 8

    def _partial(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        bm = np.zeros(nbytes, dtype=np.uint8)
        seen: set[str] = set()
        for b in batches:
            for t in b[text_col]:
                seen.update(_distinct_word_ngrams(t, n))
        if seen:
            pos = _bloom_positions(sorted(seen), m_bits, k_hashes).ravel()
            np.bitwise_or.at(bm, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        yield pd.DataFrame({"bm": [bm.tobytes()]})

    parts = (
        benchmark.select(text_col)
        .coalesce(build_partitions)
        .mapInPandas(_partial, "bm binary")
        .toPandas()
    )
    if len(parts) == 0:
        return np.zeros(nbytes, dtype=np.uint8)
    return np.bitwise_or.reduce(
        np.stack([np.frombuffer(b, dtype=np.uint8) for b in parts["bm"]]), axis=0
    )


def bloom_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    m_bits: int = 1 << 16,
    k_hashes: int = 3,
) -> DataFrame:
    """ZERO-SHUFFLE benchmark decontamination: the eval suite's n-grams are
    folded into an m-bit Bloom bitmap (distributed OR build, O(partitions)
    driver rows), broadcast once, and the 100 TB training corpus is scanned
    in a single mapInPandas pass — no explode, no join, no corpus-side
    exchange at ANY corpus size (`ngram_decontaminate`'s broadcast-join form
    still shuffles matched grams; this form shuffles NOTHING). The price is
    Bloom false positives — over-removal, the SAFE direction for
    decontamination — at the classic (1−e^{−kn/m})^k rate; size m per suite
    (production default m=2^27 → 16 MB for ~10^7 grams at k=3 ≈ 0.1% FP).
    The small default here (m=2^16) deliberately yields a measurable FP
    rate so the oracle PROVES the replay covers false positives too.

    Reference analog: hatchery enriches/filters streams against broadcast
    side state (pkg/usecase/enrich.go:24's small-dimension pattern); this is
    that pattern with the dimension compressed to a bitmap.

    Returns one row per training doc: (id, total_grams, matched_grams,
    contaminated) — same contract as `ngram_decontaminate`, with matched
    counted by the filter (exact matches plus FPs)."""
    spark = df.sparkSession
    bitmap = build_bloom_bitmap(benchmark, text_col, n, m_bits, k_hashes)
    bc = spark.sparkContext.broadcast(bitmap)
    schema = f"{id_col} long, total_grams long, matched_grams long"

    def _scan(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        bm = bc.value
        for b in batches:
            totals, matched = [], []
            for t in b[text_col]:
                grams = _distinct_word_ngrams(t, n)
                pos = _bloom_positions(grams, m_bits, k_hashes)
                hit = ((bm[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1).all(axis=1)
                totals.append(len(grams))
                matched.append(int(hit.sum()))
            yield pd.DataFrame(
                {id_col: b[id_col], "total_grams": totals, "matched_grams": matched}
            )

    return (
        df.select(id_col, text_col)
        .mapInPandas(_scan, schema)
        .withColumn("contaminated", F.col("matched_grams") > 0)
    )


# ---------------------------------------------------------------- simhash

@pandas_udf(T.LongType())
def simhash64(text: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens, batch-vectorized end to end.

    Per doc: hash each token to 64 bits, sum ±1 per bit weighted by token
    frequency, sign → bit. The whole Arrow batch is processed with three
    vectorized primitives — pandas str.split/explode (C), one
    pd.util.hash_array call over ALL tokens of the batch (vectorized siphash
    with a fixed key → deterministic across processes/executors), and 64
    np.bincount reductions — no per-token or per-row Python.
    """
    n = len(text)
    toks = text.fillna("").astype(str).str.split()
    flat = toks.reset_index(drop=True).explode()
    flat = flat.dropna()
    if len(flat) == 0:
        return pd.Series(np.zeros(n, dtype=np.int64))
    doc_idx = flat.index.to_numpy(dtype=np.int64)
    hashes = pd.util.hash_array(flat.to_numpy(dtype=object), categorize=False)
    out = np.zeros(n, dtype=np.uint64)
    for b in range(64):
        sign = (((hashes >> np.uint64(b)) & np.uint64(1)).astype(np.int64) * 2) - 1
        acc = np.bincount(doc_idx, weights=sign, minlength=n)
        out |= (acc > 0).astype(np.uint64) << np.uint64(b)
    return pd.Series(out.view(np.int64))


def resolve_duplicate_groups(
    pairs: DataFrame,
    max_iterations: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, canonical_id).

    Iterative min-label propagation with a pointer-doubling shortcut: every
    node starts labeled with itself; each round, a node adopts the smallest
    label among itself + neighbors, then labels are rewritten to their label's
    label (label-of-label). The shortcut makes effective propagation distance
    grow geometrically, so rounds scale with log(component diameter) rather
    than the diameter itself — long near-dup chains converge in a few rounds.

    Each iteration is two joins + a min-aggregate — the standard large-graph CC
    shape on Spark (label frames are small relative to the corpus: only nodes
    that appear in a pair). The result assigns every paired doc its component's
    minimum id; docs in no pair are implicitly their own canonical.

    Raises RuntimeError if labels have not converged after max_iterations —
    an unconverged labeling silently splits components, so it is never
    returned.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    # localCheckpoint (eager) rather than persist: iterative self-joins grow
    # the LOGICAL plan geometrically per round even when results are cached,
    # and driver-side analysis becomes the bottleneck; checkpointing truncates
    # lineage so every round plans against a flat scan. Label frames are tiny
    # relative to the corpus (only paired nodes), so executor-local storage is
    # the right tradeoff; swap for checkpoint() on an unreliable cluster.
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        # pointer doubling: label ← label(label). labels is keyed by node and a
        # label is always some node's id, so the self-join resolves one more hop
        # — propagation distance grows geometrically with rounds.
        parent = stepped.select(
            F.col("node").alias("_pnode"), F.col("label").alias("_plabel")
        )
        new_labels = (
            stepped.join(parent, stepped.label == parent._pnode, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("_plabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected-components did not converge in {max_iterations} rounds; "
            "raise max_iterations (rounds grow with log of component diameter)"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("canonical_id"))


def dedup_keep_canonical(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop near-duplicates: keep only rows that are their group's canonical
    (minimum id per connected component) or belong to no pair at all."""
    groups = resolve_duplicate_groups(pairs)
    losers = groups.filter(F.col("doc_id") != F.col("canonical_id")).select("doc_id")
    return df.join(
        losers.withColumnRenamed("doc_id", id_col), on=id_col, how="left_anti"
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 8,
    max_bucket: int = 10_000,
    return_stats: bool = False,
) -> DataFrame:
    """Near-dup candidates: equal `band_bits`-bit band of the simhash.

    64/band_bits bands ⇒ any pair at Hamming distance ≤ 64/band_bits − 1 is
    guaranteed caught (pigeonhole). The default 8 bands catch Hamming ≤ 7 —
    near-identical docs land well inside that.

    An 8-bit band has only 256 distinct values, so at corpus scale every
    bucket is populous and the self-join is quadratic in bucket size:
    `max_bucket` caps it (same guard as the minhash path). At 10^9+ docs
    raise band_bits to 16 (4 bands, Hamming ≤ 3, 65k buckets) so buckets
    stay joinable before the cap ever bites.
    """
    assert 64 % band_bits == 0
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    sh = df.select(F.col(id_col), simhash64(F.col(text_col)).alias("_sim"))
    # single explode so the pandas-UDF simhash is evaluated ONCE per row —
    # a union of per-band selects would re-run the UDF once per band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned("_sim", band_bits * b)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )
    allb = sh.select(F.col(id_col), F.explode(band_structs).alias("_bs")).select(
        id_col, F.col("_bs.band").alias("band"), F.col("_bs.band_val").alias("band_val")
    )
    pairs = capped_band_pairs(allb, id_col, "band_val", max_bucket)
    if return_stats:
        return pairs, capped_band_stats(allb, "band_val", max_bucket)
    return pairs


def digest_store(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(\\_digest) frame for incremental dedup: 32-byte sha2 per distinct text.

    This is the only state the pipeline carries between crawls — at 10^12
    docs it is a digest-only table, ~1/1000th the corpus bytes; write it
    bucketed by _digest (sinks.write_bucketed_table) so successive
    incremental anti-joins co-locate without shuffling history.
    """
    return df.select(F.sha2(F.col(text_col), 256).alias("_digest")).distinct()


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW batch against everything previously ingested.

    The standard snapshot-over-snapshot ingestion shape: exact-dedup within
    the batch (smallest id survives), then LEFT ANTI join the survivors'
    digests against the historical `seen` digest store. Returns
    (novel_rows, updated_seen) — `updated_seen` is seen ∪ the novel digests,
    ready to persist for the next batch. Only digests ever join or move;
    document text shuffles once (the in-batch dedup's survivor rejoin).
    """
    batch = exact_dedup(new_docs, text_col, id_col).withColumn(
        "_digest", F.sha2(F.col(text_col), 256)
    )
    novel = batch.join(seen, on="_digest", how="left_anti")
    updated = seen.unionByName(novel.select("_digest")).distinct()
    return novel.drop("_digest"), updated


def cluster_representatives(
    resolved: DataFrame,
    docs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick one representative document per near-dup cluster — the step
    after connected-component resolution: keep the best-scoring member
    (largest `score_col`, smallest id on ties), e.g. the longest or
    highest-quality variant of a mirrored page.

    `resolved` is resolve_duplicate_groups' (id, canonical_id) frame,
    covering only docs that appear in a pair — small relative to the corpus
    by construction, so winners are computed over the PAIRED docs only
    (inner join against broadcast(resolved)) and the winner frame is
    cluster-count-sized. Unpaired docs — the overwhelming majority of a
    deduplicated corpus — never enter any aggregate or sized join: they
    default to self-representation via coalesce after the two broadcast
    left joins. (Folding singletons into the winners frame, as a naive
    groupBy(canonical) over all docs would, makes `winners` corpus-sized
    and the rejoin a corpus×corpus sort-merge at scale.) The winner is
    chosen with ONE max_by aggregate per multi-member cluster:
    max_by(id, struct(score, -id)) — struct ordering gives score-desc,
    id-asc determinism without a window sort.

    Returns one row per doc: (id, canonical_id, rep_id, is_rep).
    """
    member_scores = docs.select(F.col(id_col), F.col(score_col)).join(
        F.broadcast(resolved), id_col, "inner"
    )
    winners = member_scores.groupBy("canonical_id").agg(
        F.max_by(
            F.col(id_col),
            F.struct(F.col(score_col), (-F.col(id_col)).alias("_neg")),
        ).alias("rep_id")
    )
    return (
        docs.select(F.col(id_col))
        .join(F.broadcast(resolved), id_col, "left")
        .withColumn("canonical_id", F.coalesce(F.col("canonical_id"), F.col(id_col)))
        .join(F.broadcast(winners), "canonical_id", "left")
        .select(
            F.col(id_col),
            "canonical_id",
            F.coalesce(F.col("rep_id"), F.col(id_col)).alias("rep_id"),
        )
        .withColumn("is_rep", F.col(id_col) == F.col("rep_id"))
    )


# ------------------------------------------------------- exact substring dedup


def remove_duplicate_substrings(
    df: DataFrame,
    k: int = 20,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_hash: str = "md5",
    scope: str = "corpus",
) -> DataFrame:
    """ExactSubstr deduplication (Lee et al., arXiv:2107.06499 §4.1): excise
    every character covered by a length-k substring that occurs ≥ min_count
    times ACROSS THE CORPUS (self-repeats included) — the span-level dedup
    that document-level digests can't express (licenses, boilerplate
    templates, quoted reply chains duplicated inside otherwise-unique docs).

    Semantics: position i (1-based) of a doc is DUP when the corpus-wide
    count of its k-gram substring(text, i, k) is ≥ min_count; the union of
    intervals [i, i+k) over dup positions is removed; surviving segments
    concatenate in order. Docs shorter than k are untouched. Returns
    (id, text, n_islands, n_removed) with `text` the cleaned doc.

    Scale shape (the honest cost is the per-character-position explode — the
    same O(total chars) the paper's suffix array scans; shard-local suffix
    arrays via mapInPandas are the constant-factor upgrade, this form is the
    oracle-checkable reference):
      1. position explode → md5(k-gram) count aggregate, MAP-SIDE COMBINED
         (whale grams collapse to one row per task before the exchange);
      2. positions ⋈ (count ≥ min_count) hashes — sort-merge, AQE skew-safe;
         surviving rows ∝ duplicated volume, not corpus volume;
      3. per-doc interval merge: equal-length intervals sorted by position
         merge iff pos ≤ lag(pos)+k, so islands come from ONE doc_id
         exchange (flag + running-sum windows, then min/max per island);
      4. segment rebuild: islands + lag(end) give inter-island gap
         substrings, re-aggregated in start order — same doc_id exchange,
         island-sized (≪ position-sized) data;
      5. untouched docs come back via LEFT join against the island frame
         (duplication-sized; AQE broadcasts it when small).
    """
    text, did = F.col(text_col), F.col(id_col)
    if gram_hash not in ("md5", "xxhash64"):
        raise ValueError(f"remove_duplicate_substrings: unknown gram_hash {gram_hash!r}")
    if scope not in ("corpus", "doc"):
        raise ValueError(f"remove_duplicate_substrings: unknown scope {scope!r}")
    npos = F.greatest(F.length(text) - F.lit(k - 1), F.lit(0))
    # gram hashes are computed as ONE array per doc inside the transform
    # and only (p, h) is exploded — exploding the position first and
    # hashing per row would carry the full document text through the
    # Generate into every position row (O(len²) bytes through the plan).
    hash_fn = F.md5 if gram_hash == "md5" else F.xxhash64
    harr = F.transform(
        F.sequence(F.lit(1), npos),
        lambda p: hash_fn(F.substring(text, p, F.lit(k))),
    )
    pos = df.select(
        did.alias("_id"),
        F.posexplode(
            F.when(npos >= 1, harr).otherwise(
                F.array().cast(
                    "array<string>" if gram_hash == "md5"
                    else "array<bigint>"
                )
            )
        ).alias("i", "h"),
    ).select("_id", (F.col("i") + 1).alias("p"), "h")
    # scope="doc" keys the gram count by (doc, gram) — WITHIN-document
    # repetition (the Gopher §A1.1 dup-ngram signals' removal form: a gram
    # must repeat inside the SAME doc to be excised); "corpus" is the
    # cross-document ExactSubstr default.
    #
    # ONE gram-keyed exchange, not two: hash-partitioning co-locates every
    # position of a gram, so a partition-local count IS the corpus-wide
    # count — the former groupBy+join form shuffled the position frame
    # twice (partial-agg exchange + join exchange) for the same answer.
    # Skew profile is unchanged: a whale gram's positions all met in one
    # join partition before too. Counting is one factorize+bincount pass.
    gk = ["h"] if scope == "corpus" else ["_id", "h"]
    id_ddl = dict(df.dtypes)[id_col]
    doc_scope = scope == "doc"

    def _dup_rows(batches):
        import numpy as np
        import pandas as pd

        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        codes, _ = pd.factorize(pdf["h"], sort=False)
        if doc_scope:
            idc, _ = pd.factorize(pdf["_id"], sort=False)
            _, codes, cnt = np.unique(
                idc.astype(np.int64) * (codes.max() + 1) + codes,
                return_inverse=True, return_counts=True,
            )
        else:
            cnt = np.bincount(codes)
        out = pdf.loc[cnt[codes] >= min_count, ["_id", "p"]]
        yield out

    dup = pos.repartition(*gk).mapInPandas(_dup_rows, f"_id {id_ddl}, p int")
    return _excise_dup_positions(df, dup, k, text_col, id_col)


def _excise_dup_positions(
    df: DataFrame,
    dup: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared ExactSubstr rebuild: given the (\\_id, p) frame of duplicated
    1-based gram positions, merge [p, p+k) intervals into islands, excise
    them, and rebuild every doc (steps 3–5 of the positional form's
    docstring). One doc_id exchange serves the island-merge windows and the
    rebuild agg; untouched docs return via a LEFT join against the
    duplication-sized island frame."""
    text, did = F.col(text_col), F.col(id_col)
    w = Window.partitionBy("_id").orderBy("p")
    flagged = dup.withColumn(
        "_new",
        F.when(
            F.lag("p").over(w).isNull() | (F.col("p") > F.lag("p").over(w) + k), 1
        ).otherwise(0),
    ).withColumn("_island", F.sum("_new").over(w))
    islands = flagged.groupBy("_id", "_island").agg(
        F.min("p").alias("start"), (F.max("p") + F.lit(k)).alias("end")
    )
    wi = Window.partitionBy("_id").orderBy("start")
    segs = islands.withColumn("seg_from", F.coalesce(F.lag("end").over(wi), F.lit(1)))
    per_doc = segs.groupBy("_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_islands"),
        F.sum(F.col("end") - F.col("start")).cast("int").alias("n_removed"),
        F.array_sort(
            F.collect_list(F.struct(F.col("start"), F.col("seg_from")))
        ).alias("_cuts"),
        F.max("end").alias("_tail_from"),
    )
    joined = df.join(per_doc, df[id_col] == per_doc["_id"], "left")
    cleaned = F.concat(
        F.array_join(
            F.transform(
                F.col("_cuts"),
                lambda c: F.substring(text, c["seg_from"], c["start"] - c["seg_from"]),
            ),
            "",
        ),
        F.substring(text, F.col("_tail_from").cast("int"), F.length(text)),
    )
    return joined.select(
        did,
        F.when(F.col("_id").isNull(), text).otherwise(cleaned).alias(text_col),
        F.coalesce(F.col("n_islands"), F.lit(0)).alias("n_islands"),
        F.coalesce(F.col("n_removed"), F.lit(0)).alias("n_removed"),
    )


# ----------------------------------------------------- ExactSubstr, fast path

# odd 64-bit polynomial-hash base (FNV-1a prime): odd => invertible mod 2^64,
# and every power stays well-mixed under the natural uint64 wraparound
_GRAM_BASE = 0x100000001B3


def _gram_hash_powers(k: int) -> np.ndarray:
    """B^(k-1-t) mod 2^64 for t = 0..k-1, computed in exact Python ints
    (numpy SCALAR uint64 multiplication warns on overflow; array ops wrap
    silently, which is what the hashing below relies on)."""
    return np.array(
        [pow(_GRAM_BASE, k - 1 - t, 1 << 64) for t in range(k)], dtype=np.uint64
    )


def _gram_hashes(text: str, k: int, powers: np.ndarray) -> np.ndarray:
    """uint64 polynomial rolling hash of every k-CHARACTER gram (1 per
    position, matching substring(text, i, k) semantics — UTF-32 code
    points, not bytes). Vectorized: k fused multiply-adds over the code
    point array, wrapping mod 2^64."""
    c = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n = c.size - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    acc = np.zeros(n, dtype=np.uint64)
    for t in range(k):
        acc += c[t : t + n] * powers[t]
    return acc


def _excise_islands_local(text: str, pos0: np.ndarray, k: int):
    """Merge 0-based dup positions into [start, end) islands and rebuild the
    doc locally: returns (clean_text, n_islands, n_removed) — the numpy/str
    mirror of `_excise_dup_positions`' window form."""
    if pos0.size == 0:
        return text, 0, 0
    breaks = np.nonzero(pos0[1:] > pos0[:-1] + k)[0] + 1
    starts = pos0[np.concatenate(([0], breaks))]
    ends = pos0[np.concatenate((breaks - 1, [pos0.size - 1]))] + k
    pieces, prev = [], 0
    for s, e in zip(starts, ends):
        pieces.append(text[prev:s])
        prev = int(e)
    pieces.append(text[prev:])
    return "".join(pieces), int(starts.size), int((ends - starts).sum())


def remove_duplicate_substrings_fast(
    df: DataFrame,
    k: int = 20,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    scope: str = "corpus",
    dup_filter: str = "auto",
    broadcast_cap: int = 4_000_000,
) -> DataFrame:
    """`remove_duplicate_substrings` (ExactSubstr, Lee et al. 2107.06499
    §4.1) without the per-position explode: identical output contract
    (id, text, n_islands, n_removed), but gram counting and span excision
    run VECTORIZED inside mapInPandas — the paper's own answer to the
    positional form (its released tooling scans shard-local suffix arrays;
    a sorted k-gram-hash array is exactly a depth-k suffix array, and
    np.unique IS that sort).

    Two passes over the corpus, zero corpus-sized windows:
      1. shard-local counts — per Arrow batch, uint64 rolling-hash every
         position (k fused multiply-adds, no per-position substring/md5)
         and np.unique-count; emit (h, n) rows. Spark's partial hash agg
         map-side-combines shards, then the global sum keeps hashes with
         count ≥ min_count — a DISTINCT-DUPLICATED-GRAM-sized frame.
      2. excision — dup_filter picks how docs meet that frame:
           * "broadcast" (or "auto" when it fits `broadcast_cap`): the dup
             hashes ship as ONE sorted uint64 array via sc.broadcast;
             each doc re-hashes, np.searchsorted membership, island merge
             + rebuild ALL LOCALLY — no join, no window, no second
             shuffle of anything corpus-sized.
           * "join" (or "auto" overflow): positions emit as primitive
             (id, p, h) rows — 20 bytes each vs the positional form's
             hex-string md5 — joined to the dup frame, then the shared
             `_excise_dup_positions` window rebuild. The unbounded-dup
             safety net: nothing ever has to fit on the driver.
       scope="doc" needs no global state at all: within-doc counts and
       excision happen in ONE mapInPandas pass.

    Hash note: replaces exact-gram (md5) equality with a 64-bit rolling
    hash — same 2^-64-scale collision class the xxhash64 variant already
    carries (a collision can only over-remove). Shares the
    `doc_substring_dedup` oracle, the hash-agnosticism the driver gate
    proves for the xx variant.
    """
    if scope not in ("corpus", "doc"):
        raise ValueError(f"remove_duplicate_substrings_fast: unknown scope {scope!r}")
    if dup_filter not in ("auto", "broadcast", "join"):
        raise ValueError(
            f"remove_duplicate_substrings_fast: unknown dup_filter {dup_filter!r}"
        )
    spark = df.sparkSession
    powers = _gram_hash_powers(k)
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField(text_col, T.StringType()),
            T.StructField("n_islands", T.IntegerType()),
            T.StructField("n_removed", T.IntegerType()),
        ]
    )

    def _doc_rows(pdf, dup_sorted):
        ids, texts, isl, rem = [], [], [], []
        for did, t in zip(pdf[id_col], pdf[text_col]):
            if not isinstance(t, str):
                ids.append(did); texts.append(t); isl.append(0); rem.append(0)
                continue
            g = _gram_hashes(t, k, powers)
            if g.size == 0:
                mask = np.zeros(0, dtype=bool)
            elif dup_sorted is None:  # scope="doc": within-doc counts
                u, cnt = np.unique(g, return_counts=True)
                mask = cnt[np.searchsorted(u, g)] >= min_count
            elif dup_sorted.size == 0:
                mask = np.zeros(g.size, dtype=bool)
            else:
                idx = np.searchsorted(dup_sorted, g)
                idx = np.minimum(idx, dup_sorted.size - 1)
                mask = dup_sorted[idx] == g
            clean, ni, nr = _excise_islands_local(t, np.nonzero(mask)[0], k)
            ids.append(did); texts.append(clean); isl.append(ni); rem.append(nr)
        return pd.DataFrame(
            {id_col: ids, text_col: texts, "n_islands": isl, "n_removed": rem}
        )

    if scope == "doc":
        def excise_local(batches):
            for pdf in batches:
                yield _doc_rows(pdf, None)

        return df.select(id_col, text_col).mapInPandas(excise_local, out_schema)

    # pass 1: shard-local gram counts -> global >= min_count filter
    def shard_counts(batches):
        for pdf in batches:
            hs = [
                _gram_hashes(t, k, powers)
                for t in pdf[text_col]
                if isinstance(t, str)
            ]
            hs = [h for h in hs if h.size]
            if not hs:
                continue
            u, cnt = np.unique(np.concatenate(hs), return_counts=True)
            yield pd.DataFrame(
                {"h": u.view(np.int64), "n": cnt.astype(np.int64)}
            )

    counts = df.select(text_col).mapInPandas(
        shard_counts, "h long, n long"
    )
    dup = (
        counts.groupBy("h")
        .agg(F.sum("n").alias("n"))
        .filter(F.col("n") >= min_count)
        .select("h")
    )

    dup_pdf = None
    if dup_filter in ("auto", "broadcast"):
        limit = None if dup_filter == "broadcast" else broadcast_cap + 1
        dup_pdf = (dup.limit(limit).toPandas() if limit else dup.toPandas())
        if dup_filter == "auto" and len(dup_pdf) > broadcast_cap:
            dup_pdf = None  # too big for the driver — fall through to join

    if dup_pdf is not None:
        dup_sorted = np.sort(dup_pdf["h"].to_numpy(dtype=np.int64).view(np.uint64))
        dup_bc = spark.sparkContext.broadcast(dup_sorted)

        def excise_bcast(batches):
            arr = dup_bc.value
            for pdf in batches:
                yield _doc_rows(pdf, arr)

        return df.select(id_col, text_col).mapInPandas(excise_bcast, out_schema)

    # join path: primitive position rows ⋈ dup hashes, shared window rebuild
    def positions(batches):
        for pdf in batches:
            ids, ps, hs = [], [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(t, str):
                    continue
                g = _gram_hashes(t, k, powers)
                if g.size:
                    ids.extend([did] * g.size)
                    ps.extend(range(1, g.size + 1))
                    hs.append(g)
            if not hs:
                continue
            yield pd.DataFrame(
                {
                    "_id": ids,
                    "p": np.asarray(ps, dtype=np.int32),
                    "h": np.concatenate(hs).view(np.int64),
                }
            )

    pos_schema = T.StructType(
        [
            T.StructField("_id", df.schema[id_col].dataType),
            T.StructField("p", T.IntegerType()),
            T.StructField("h", T.LongType()),
        ]
    )
    pos = df.select(id_col, text_col).mapInPandas(positions, pos_schema)
    dup_pos = pos.join(dup, "h").select("_id", "p")
    return _excise_dup_positions(df, dup_pos, k, text_col, id_col)


def deletion_neighborhood_pairs(
    tokens: DataFrame,
    col: str = "token",
    max_dist: int = 1,
) -> DataFrame:
    """Edit-distance-1 pair mining via deletion neighborhoods (the FastSS /
    SymSpell blocking scheme): every string s produces {s} ∪ {s with one
    character deleted}; any two strings within Levenshtein distance 1 share
    at least one variant, so candidate pairs come from a VARIANT-KEYED
    self-join — never an all-pairs or whale-block (first-letter) join —
    and an exact levenshtein() verify removes the false candidates the
    blocking admits (e.g. transposition pairs at distance 2 that share a
    deletion). The curation use: typo/variant clustering of vocabulary
    before frequency-based filters, entity-resolution blocking.

    Scale shape: explode factor is len(s)+1 (bounded by the token-length
    cap upstream); the self-join keys on the variant string with AQE
    handling size; output pairs are distinct (t1 < t2) with the exact
    distance attached. Only ``max_dist=1`` is supported (the deletion
    neighborhood of depth 1); deeper neighborhoods multiply the explode.
    """
    if max_dist != 1:
        raise ValueError("deletion_neighborhood_pairs supports max_dist=1 only")
    t = tokens.select(F.col(col).alias("t")).where(F.col("t").isNotNull()).distinct()
    tc = F.col("t")
    deletions = F.transform(
        F.sequence(F.lit(1), F.length(tc)),
        lambda i: F.concat(
            tc.substr(F.lit(1), i - 1),
            tc.substr(i + 1, F.length(tc) - i),
        ),
    )
    variants = t.select(
        "t", F.explode(F.array_union(F.array(tc), deletions)).alias("v")
    )
    left = variants.select(F.col("t").alias("t1"), "v")
    right = variants.select(F.col("t").alias("t2"), "v")
    return (
        left.join(right, "v")
        .where(F.col("t1") < F.col("t2"))
        .select("t1", "t2")
        .distinct()
        .withColumn("dist", F.levenshtein("t1", "t2"))
        .where(F.col("dist") <= max_dist)  # exact verify kills lev-2 candidates
    )
