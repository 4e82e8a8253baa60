"""Similarity search over embedding columns (array<float>), Spark-first.

Three paths:
  * cosine_topk        — exact brute-force top-k: broadcast the (small) query
                         set against the corpus, cosine via native zip_with +
                         aggregate (JVM-side fold, deterministic left-to-right
                         order → reproducible doubles), window row_number for
                         the top-k cut. O(N·Q) — the correctness baseline.
  * lsh_topk           — scale path: banded random-hyperplane (sign) LSH.
                         bands × band_bits seeded hyperplanes → per-band sign
                         buckets; a pair is a candidate if ANY band matches
                         (multi-band OR, same recall shape as minhash LSH);
                         exact cosine + top-k within candidates only. Shuffle
                         is keyed on (band, bucket), never all-pairs.
  * ivf_topk           — IVF-flat: spherical k-means centroids fit on a
                         deterministic corpus sample (driver-side numpy,
                         seeded), cell assignment via an Arrow-vectorized
                         pandas UDF (one matmul per batch against the small
                         centroid matrix shipped in the UDF closure — never as
                         plan literals), probe the n_probe nearest cells per
                         query, exact cosine within probed cells.

Hyperplanes are generated from a numpy PRNG with an explicit seed; sign
buckets are computed once per vector (one fused dot-product pass) and bands
are extracted with shift/mask — deterministic across cluster sizes, no driver
randomness at execution time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _cosine(a, b):
    """Cosine similarity between two array<double> columns (native fold)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries: (query_id, embedding). Broadcast — the corpus never shuffles.
    Output: (query_id, vec_id, cosine) with deterministic ties (vec_id asc).
    Self-matches (same id) are kept; filter upstream if undesired.
    """
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv")
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine", F.round(_cosine(F.col("_cv"), F.col("_qv")), 4)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(vec, planes: list[list[float]]):
    """n_planes-bit sign bucket for an array<double> column (one fused pass).

    Expression form — interpreted (HOFs are CodegenFallback). Kept for
    column-level composition; `lsh_bits_df` is the codegen'd hot path.
    """
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        dot = F.aggregate(
            F.zip_with(vec, plane, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def lsh_bits_df(
    df: DataFrame, planes: list[list[float]], id_col: str, vec_col: str
) -> DataFrame:
    """(id, _bits): packed sign bits via posexplode + codegen'd sum aggregates.

    zip_with/aggregate HOFs evaluate interpreted at ~µs per element, so the
    expression form pays n_planes × dim interpreted calls per vector. Here the
    vector explodes to one row per element, a 64-row coefficient table (one
    column per plane) broadcast-joins on the element position, and the
    n_planes dot products are whole-stage-codegen'd SUM aggregates — partial
    aggregation reduces each vector to one row before any exchange.

    Matches `lsh_bucket` for all practical inputs: posexplode emits elements
    in array order within one partition, so a hash-aggregate sum adds terms in
    the same left-to-right order as the fold. If the aggregate ever spills to
    sort-based fallback, partial sums can merge in a different order, so a
    sign bit could in principle flip for a dot product within float merge
    error of zero — downstream code must not rely on exact bit equality
    (lsh_topk doesn't: candidates are re-scored with exact cosine).
    Vectors that are NULL/empty produce no row.
    """
    spark = df.sparkSession
    n_planes = len(planes)
    dim = len(planes[0])
    rows = [
        (j, *[float(planes[i][j]) for i in range(n_planes)]) for j in range(dim)
    ]
    schema = "pos int, " + ", ".join(f"c{i} double" for i in range(n_planes))
    coeffs = spark.createDataFrame(rows, schema)
    ex = df.select(F.col(id_col), F.posexplode(F.col(vec_col)).alias("pos", "_v"))
    joined = ex.join(F.broadcast(coeffs), "pos")
    dots = joined.groupBy(id_col).agg(
        *[F.sum(F.col("_v") * F.col(f"c{i}")).alias(f"d{i}") for i in range(n_planes)]
    )
    bits = None
    for i in range(n_planes):
        term = F.when(F.col(f"d{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bits = term if bits is None else bits + term
    return dots.select(F.col(id_col), bits.cast("long").alias("_bits"))


def _band_rows(df: DataFrame, bits_col: str, bands: int, band_bits: int) -> DataFrame:
    """Explode one row per band: (…, band, band_val) from a packed bits column.

    The sign bits are computed ONCE per vector; bands are shift/mask extracts
    exploded in a single pass — no per-band re-scan of the input.
    """
    mask = (1 << band_bits) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(bits_col, b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(bands)
        ]
    )
    return (
        df.withColumn("_band_s", F.explode(band_structs))
        .withColumn("band", F.col("_band_s.band"))
        .withColumn("band_val", F.col("_band_s.band_val"))
        .drop("_band_s", bits_col)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    bands: int = 8,
    band_bits: int = 4,
    seed: int = 42,
    n_probes: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: banded sign-LSH candidates + exact rerank.

    A corpus vector is a candidate for a query if any of the `bands` bands
    match (multi-band OR — recall 1-(1-p^band_bits)^bands for per-bit
    agreement p). n_probes > 1 additionally probes buckets at Hamming
    distance 1 on the low bits of each band. Candidates join on
    (band, band_val) — a hash shuffle on small int keys; vectors for the
    exact rerank are re-joined by id so the band shuffle never carries
    embeddings.
    """
    planes = _hyperplanes(dim, bands * band_bits, seed)
    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv"))
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    cb = _band_rows(lsh_bits_df(c, planes, id_col, "_cv"), "_bits", bands, band_bits)
    qb = _band_rows(
        lsh_bits_df(q, planes, query_id_col, "_qv"), "_bits", bands, band_bits
    )
    if n_probes > 1:
        probe_vals = F.array(
            F.col("band_val"),
            *[
                F.col("band_val").bitwiseXOR(F.lit(1 << i))
                for i in range(min(n_probes - 1, band_bits))
            ],
        )
        qb = qb.withColumn("band_val", F.explode(probe_vals))
    cand = (
        cb.join(qb, on=["band", "band_val"])
        .select(query_id_col, id_col)
        .distinct()
    )
    scored = (
        cand.join(c, on=id_col)
        .join(F.broadcast(q), on=query_id_col)
        .withColumn("cosine", F.round(_cosine(F.col("_cv"), F.col("_qv")), 4))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------- IVF-flat

def _normalize_rows(x: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return x / norms


def spherical_kmeans(sample: np.ndarray, k: int, iters: int = 10, seed: int = 42) -> np.ndarray:
    """Driver-side spherical k-means (seeded, deterministic): returns (k, dim)
    L2-normalized centroids. Cosine argmax == dot argmax on normalized data."""
    x = _normalize_rows(np.asarray(sample, dtype=np.float64))
    rng = np.random.default_rng(seed)
    init_idx = rng.choice(len(x), size=min(k, len(x)), replace=False)
    cents = x[np.sort(init_idx)].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
        cents = _normalize_rows(cents)
    return cents


def _cell_assign_udf(centroids: np.ndarray, n: int):
    """pandas UDF: embedding → the n nearest centroid ids (dot-product argmax,
    one numpy matmul per Arrow batch; the centroid matrix travels in the UDF
    closure — O(k·dim) bytes shipped once per task, not per row, and never
    inlined into the plan)."""
    cents = np.ascontiguousarray(centroids, dtype=np.float64)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        x = _normalize_rows(np.stack(vec.to_numpy()).astype(np.float64))
        scores = x @ cents.T
        # stable descending sort → deterministic ties by cell id
        order = np.argsort(-scores, axis=1, kind="stable")[:, :n].astype(np.int32)
        return pd.Series(list(order))

    return assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    sample_mod: int | None = None,
    kmeans_iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-flat ANN, one-shot form: build_ivf_index + ivf_search fused.

    Production pattern is the split form — the index (cell assignments +
    centroids) is built once and persisted; every query batch pays only
    `ivf_search`. This wrapper keeps the single-call API for tests/oracles.
    """
    index = build_ivf_index(
        corpus, n_centroids=n_centroids, sample_mod=sample_mod,
        kmeans_iters=kmeans_iters, seed=seed, id_col=id_col, vec_col=vec_col,
    )
    return ivf_search(
        index, queries, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


class IVFIndex:
    """Coarse quantizer (small numpy matrix) + cell-assigned corpus DataFrame.

    `cells` is an ordinary DataFrame — persist it, or write it as a table
    partitioned/bucketed by `cell`, and reload for later query batches; the
    centroid matrix is O(n_centroids × dim) and travels with the driver.
    `sample_mod` / `sample_size` record what the quantizer was actually fit
    on, so callers (and tests) can see the driver-side footprint.
    """

    def __init__(
        self,
        centroids: np.ndarray,
        cells: DataFrame,
        sample_mod: int = 1,
        sample_size: int = 0,
    ):
        self.centroids = centroids
        self.cells = cells
        self.sample_mod = sample_mod
        self.sample_size = sample_size


# Target driver-side quantizer sample: k-means over ~10^5 rows is seconds of
# numpy and a few hundred MB at worst; the quantizer's quality plateaus far
# below this for any realistic n_centroids.
DEFAULT_QUANTIZER_SAMPLE = 100_000


def _quantizer_sample(
    c: DataFrame,
    id_col: str,
    vec_alias: str,
    sample_mod: int | None,
    target_sample: int,
    caller: str,
) -> tuple[np.ndarray, int, int]:
    """Deterministic, driver-bounded hash sample for quantizer fitting —
    shared by the IVF coarse quantizer and the PQ codebooks.

    Rows where xxhash64(id) % sample_mod == 0; sample_mod is DERIVED from
    the corpus count when not given, so the collect stays ≤ target_sample
    rows at any corpus size, and the result is additionally hard-capped
    (deterministic id-order truncation) against hash skew. Returns
    (sample matrix, effective sample_mod, n_rows)."""
    if sample_mod is None:
        n_corpus = c.count()
        sample_mod = max(1, -(-n_corpus // max(1, target_sample)))  # ceil div
    sample_df = c
    if sample_mod > 1:
        sample_df = c.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0)
    rows = sample_df.select(id_col, vec_alias).collect()
    if sample_mod > 1 and len(rows) > target_sample:
        rows = sorted(rows, key=lambda r: str(r[0]))[:target_sample]
    sample = np.array([r[1] for r in rows])
    if sample.size == 0:
        raise ValueError(
            f"{caller}: quantizer sample is empty "
            "(empty corpus, or sample_mod filtered out every id — lower it)"
        )
    return sample, sample_mod, len(rows)


def build_ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    sample_mod: int | None = None,
    kmeans_iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_sample: int = DEFAULT_QUANTIZER_SAMPLE,
) -> IVFIndex:
    """Fit the coarse quantizer and assign every corpus vector to its cell.

    Centroids are fit driver-side on a DETERMINISTIC hash sample of the
    corpus (rows where xxhash64(id) % sample_mod == 0). By default sample_mod
    is DERIVED from the corpus count so the collected sample stays ≤
    `target_sample` rows no matter the corpus size — 10^10 vectors can never
    OOM the driver; the one extra `count()` is a columnar-scan metadata pass,
    negligible against the assignment pass. Pass `sample_mod` explicitly to
    override (1 = fit on the full corpus — only sane for small corpora).
    The collected sample is additionally hard-capped at `target_sample` rows
    (deterministic id-order truncation) so the bound holds even under hash
    skew. Assignment is an Arrow-vectorized matmul UDF; the centroid matrix
    ships in the UDF closure, never as plan literals.
    """
    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv"))
    sample, sample_mod, n_sampled = _quantizer_sample(
        c, id_col, "_cv", sample_mod, target_sample, "build_ivf_index"
    )
    cents = spherical_kmeans(sample, n_centroids, iters=kmeans_iters, seed=seed)
    assign1 = _cell_assign_udf(cents, 1)
    cells = c.withColumn("cell", F.element_at(assign1(F.col("_cv")), 1))
    return IVFIndex(cents, cells, sample_mod=sample_mod, sample_size=n_sampled)


def ivf_search(
    index: IVFIndex,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Probe the n_probe nearest cells per query; exact cosine within them.

    The candidate join shuffles on the int cell id only (queries explode to
    one row per probed cell); top-k cut gets WindowGroupLimit pushdown.
    """
    assign_n = _cell_assign_udf(index.centroids, min(n_probe, len(index.centroids)))
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("_qv")
    ).withColumn("cell", F.explode(assign_n(F.col("_qv"))))
    scored = index.cells.join(q, on="cell").withColumn(
        "cosine", F.round(_cosine(F.col("_cv"), F.col("_qv")), 4)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    bands: int = 8,
    band_bits: int = 4,
    seed: int = 42,
    max_bucket: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_stats: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ threshold).

    Banded sign-LSH candidates (multi-band OR, like the minhash path — a pair
    is caught if ANY band's bits all agree) + exact cosine verify. With the
    default 8 bands × 4 bits, per-pair recall at cosine 0.95 is
    1-(1-0.9^4)^8 ≈ 0.996 and ≈ 1 above 0.98; the single-bucket variant
    (all 32 bits equal) would catch almost nothing. The band self-join carries
    (id, band, band_val) only; vectors are re-joined by id for the verify.
    """
    planes = _hyperplanes(dim, bands * band_bits, seed)
    v = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    from hatchery_spark.functions.dedup import capped_band_pairs, capped_band_stats

    b = _band_rows(lsh_bits_df(v, planes, id_col, "_v"), "_bits", bands, band_bits)
    # same capped pairing shape as the minhash/simhash paths: a 4-bit band has
    # only 16 values, so at corpus scale every bucket is populous — the cap
    # bounds the self-join blowup (capped members still pair via other bands)
    pairs = capped_band_pairs(b, id_col, "band_val", max_bucket)
    out = (
        pairs.join(v.select(F.col(id_col).alias("id_a"), F.col("_v").alias("v_a")), "id_a")
        .join(v.select(F.col(id_col).alias("id_b"), F.col("_v").alias("v_b")), "id_b")
        .withColumn("cosine", F.round(_cosine(F.col("v_a"), F.col("v_b")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    if return_stats:
        return out, capped_band_stats(b, "band_val", max_bucket)
    return out


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5). 4x storage (and shuffle) compression
    for embedding corpora — the standard pre-step before IVF/PQ indexes at
    10^10-vector scale; worst-case per-component error is scale/2.

    Pure codegen'd array expressions, no shuffle, no Python. floor(x+0.5)
    rather than round() pins one rounding rule across engines (the DuckDB
    oracle replays it bit-for-bit in double precision; float32 inputs widen
    exactly). Zero vectors quantize to all-zero with scale 0.

    Returns (id, scale, qvec array<int> in [-127, 127], recon_mse — the
    per-vector mean squared dequantization error, a quality gauge the
    caller can threshold on).
    """
    v = F.col(vec_col).cast("array<double>")
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    q = F.when(F.col("_scale") > 0, F.transform(F.col("_v"), lambda x: F.floor(x / F.col("_scale") + F.lit(0.5)).cast("int"))).otherwise(
        F.transform(F.col("_v"), lambda x: F.lit(0))
    )
    staged = df.select(F.col(id_col), v.alias("_v"), scale.alias("_scale"))
    qd = staged.select(F.col(id_col), "_v", "_scale", q.alias("qvec"))
    err = F.aggregate(
        F.zip_with(
            F.col("_v"),
            F.col("qvec"),
            lambda x, qi: F.pow(x - qi.cast("double") * F.col("_scale"), F.lit(2.0)),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    ) / F.size(F.col("_v"))
    return qd.select(
        F.col(id_col),
        F.round(F.col("_scale"), 6).alias("scale"),
        "qvec",
        F.round(err, 8).alias("recon_mse"),
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rescore: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k via an int8 quantized scan + exact rescore.

    The symmetric per-vector scale CANCELS in cosine, so ranking the
    int8 vectors by cosine ranks the DEquantized vectors exactly — the
    only error vs the float corpus is the quantization rounding itself
    (per-component <= scale/2, cosine error O(1e-3) at 64 dims). The scan
    therefore reads 4x less than a float32 corpus (the point at 10^10
    vectors), keeps a rescore*k candidate pool per query, re-joins the
    full-precision vectors for the pool ONLY (by id — the big corpus never
    shuffles its floats), and cuts the exact top-k from the pool. With a
    pool comfortably above k, the output equals exact brute force
    (`cosine_topk`) unless true neighbors are separated by less than the
    quantization error — the driver gate value-checks exactly that.

    Both stages get WindowGroupLimit partial top-n, so each input
    partition forwards at most pool/k rows per query.

    All-zero corpus vectors score NaN (0/0) and Spark's descending sort
    ranks NaN first — deliberately left as-is because brute force
    (`cosine_topk`) and the DuckDB oracle rank NaN identically, and the
    contract here is bit-parity with brute force; filter zero vectors
    upstream (quantize_embeddings marks them with scale 0) if they should
    not surface.
    """
    qc = quantize_embeddings(corpus, vec_col=vec_col, id_col=id_col).select(
        F.col(id_col), F.transform("qvec", lambda x: x.cast("double")).alias("_cq")
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("_qv")
    )
    pool = rescore * k
    approx = qc.join(F.broadcast(q)).withColumn(
        "_ac", _cosine(F.col("_cq"), F.col("_qv"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("_ac"), F.col(id_col))
    cand = (
        approx.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= pool)
        .select(query_id_col, id_col, "_qv")
    )
    exact = cand.join(
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv")),
        id_col,
    ).withColumn("cosine", F.round(_cosine(F.col("_cv"), F.col("_qv")), 4))
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------- IVF-PQ

def _euclidean_kmeans(sample: np.ndarray, k: int, iters: int = 10, seed: int = 42) -> np.ndarray:
    """Driver-side Euclidean k-means (seeded, deterministic): (k', dim)
    centroids, k' = min(k, n_sample). Empty clusters keep their previous
    centroid (standard Lloyd fallback), so the codebook size is stable."""
    x = np.asarray(sample, dtype=np.float64)
    rng = np.random.default_rng(seed)
    init_idx = rng.choice(len(x), size=min(k, len(x)), replace=False)
    cents = x[np.sort(init_idx)].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


class PQCodebooks:
    """Product-quantization codebooks: an (m, ks, dim/m) numpy tensor.

    Like IVFIndex's centroid matrix this is driver-resident, O(m·ks·dim/m)
    = O(ks·dim) doubles — a few KB — and ships to executors inside UDF
    closures, never as plan literals. `sample_mod`/`sample_size` record the
    fit footprint."""

    def __init__(self, books: np.ndarray, sample_mod: int, sample_size: int):
        self.books = books
        self.m = books.shape[0]
        self.ks = books.shape[1]
        self.dsub = books.shape[2]

        self.sample_mod = sample_mod
        self.sample_size = sample_size


def fit_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    sample_mod: int | None = None,
    kmeans_iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_sample: int = DEFAULT_QUANTIZER_SAMPLE,
) -> PQCodebooks:
    """Fit per-subspace PQ codebooks (Jégou et al., TPAMI 2011: split dim
    into m subspaces, Euclidean k-means with ks codewords in each) on the
    same deterministic, driver-bounded hash sample the IVF quantizer uses.

    Corpus vectors are L2-normalized BEFORE fitting/encoding so the ADC
    inner product approximates cosine directly (reconstruction norm ≈ 1);
    the exact rescore stage reads the original vectors anyway, so the
    normalization never leaks into results."""
    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv"))
    sample, sample_mod, n = _quantizer_sample(
        c, id_col, "_cv", sample_mod, target_sample, "fit_pq_codebooks"
    )
    x = _normalize_rows(sample)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"fit_pq_codebooks: dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.stack(
        [
            _euclidean_kmeans(x[:, i * dsub : (i + 1) * dsub], ks, kmeans_iters, seed + i)
            for i in range(m)
        ]
    )
    return PQCodebooks(books, sample_mod, n)


def _pq_encode_udf(codebooks: PQCodebooks):
    """pandas UDF: embedding → array<int> of m codeword ids (per-subspace
    nearest codeword on the L2-normalized vector; one (batch × ks) distance
    matrix per subspace per Arrow batch)."""
    books = np.ascontiguousarray(codebooks.books)
    m, dsub = codebooks.m, codebooks.dsub

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        x = _normalize_rows(np.stack(vec.to_numpy()).astype(np.float64))
        codes = np.empty((len(x), m), dtype=np.int32)
        for i in range(m):
            sub = x[:, i * dsub : (i + 1) * dsub]
            bk = books[i]
            # argmin ||sub - bk||² == argmax (sub·bk - ||bk||²/2)
            scores = sub @ bk.T - 0.5 * (bk * bk).sum(axis=1)
            codes[:, i] = np.argmax(scores, axis=1)
        return pd.Series(list(codes))

    return encode


def pq_encode(
    df: DataFrame,
    codebooks: PQCodebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, pq_codes) — m small ints per vector: the 10^10-vector residency
    form (m bytes/vector at ks ≤ 256 vs 4·dim for float32 — 32× at
    dim=64, m=8). Persist it bucketed by id (or alongside IVF cells
    partitioned by cell) and rebuild only when the codebooks change."""
    enc = _pq_encode_udf(codebooks)
    return df.select(
        F.col(id_col),
        enc(F.col(vec_col).cast("array<double>")).alias("pq_codes"),
    )


def _adc_cosine_udf(codebooks: PQCodebooks):
    """pandas UDF (pq_codes, query_vec) → approximate cosine.

    Asymmetric distance: the corpus side is reconstructed from its codes
    (one fancy-index per subspace — a table lookup, no corpus floats ever
    read) and dotted against the raw query. Per-batch numpy; the codebook
    tensor rides the closure."""
    books = np.ascontiguousarray(codebooks.books)
    m, dsub = codebooks.m, codebooks.dsub

    @pandas_udf(T.DoubleType())
    def adc(codes: pd.Series, qv: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype=np.float64)
        cd = np.stack(codes.to_numpy()).astype(np.int64)
        q = _normalize_rows(np.stack(qv.to_numpy()).astype(np.float64))
        sim = np.zeros(len(cd), dtype=np.float64)
        norm2 = np.zeros(len(cd), dtype=np.float64)
        for i in range(m):
            rec = books[i][cd[:, i]]                     # (batch, dsub) lookup
            sim += np.einsum("ij,ij->i", rec, q[:, i * dsub : (i + 1) * dsub])
            norm2 += np.einsum("ij,ij->i", rec, rec)
        with np.errstate(invalid="ignore", divide="ignore"):
            out = sim / np.sqrt(norm2)
        return pd.Series(out)

    return adc


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ks: int = 16,
    rescore: int = 4,
    sample_mod: int | None = None,
    kmeans_iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ ANN: coarse IVF cells prune the corpus to n_probe cells per
    query, PQ codes + asymmetric-distance scoring rank the survivors
    without touching corpus floats, and the top `rescore·k` pool per query
    is re-ranked with EXACT cosine (full-precision vectors re-joined by id)
    — the standard shape for 10^10+ vectors where even int8 residency
    (quantized_topk) is too big.

    Scale shape: the probed scan carries (id, cell, m-byte codes) only; the
    candidate join shuffles on the int cell id; both ranking stages get
    WindowGroupLimit partial top-n; the full-precision rejoin touches
    pool-sized data per query. Codes here encode raw (normalized) vectors,
    not IVF residuals — at these codebook sizes the exact-rescore stage
    absorbs the difference, and non-residual codes let ONE code table serve
    any probe set (residual codes must be rebuilt whenever the coarse
    quantizer moves).

    Like ivf_topk this is the one-shot fused form; production splits
    build (index + codebooks + codes, persisted) from search."""
    index = build_ivf_index(
        corpus, n_centroids=n_centroids, sample_mod=sample_mod,
        kmeans_iters=kmeans_iters, seed=seed, id_col=id_col, vec_col=vec_col,
    )
    books = fit_pq_codebooks(
        corpus, m=m, ks=ks, sample_mod=sample_mod, kmeans_iters=kmeans_iters,
        seed=seed, id_col=id_col, vec_col=vec_col,
    )
    enc = _pq_encode_udf(books)
    coded = index.cells.select(
        F.col(id_col), "cell", enc(F.col("_cv")).alias("pq_codes")
    )
    assign_n = _cell_assign_udf(index.centroids, min(n_probe, len(index.centroids)))
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("_qv")
    ).withColumn("cell", F.explode(assign_n(F.col("_qv"))))
    adc = _adc_cosine_udf(books)
    approx = coded.join(q, on="cell").withColumn(
        "_ac", adc(F.col("pq_codes"), F.col("_qv"))
    )
    pool = rescore * k
    w = Window.partitionBy(query_id_col).orderBy(F.desc("_ac"), F.col(id_col))
    cand = (
        approx.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= pool)
        .select(query_id_col, id_col, "_qv")
    )
    exact = cand.join(
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv")),
        id_col,
    ).withColumn("cosine", F.round(_cosine(F.col("_cv"), F.col("_qv")), 4))
    w2 = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )

def semdedup(
    df: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    sample_mod: int | None = None,
    kmeans_iters: int = 10,
    seed: int = 42,
    max_cluster: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication by
    clustering embeddings with a coarse k-means quantizer and pruning
    near-identical pairs WITHIN each cluster — the clustering bounds the
    candidate set so no all-pairs comparison ever happens, which is what
    makes semantic dedup tractable at 10^9+ documents. Components of
    cosine-≥-threshold pairs collapse to one representative: the MINIMUM id
    (deterministic and engine-replayable; the paper keeps a low-centroid-
    similarity member, a within-cluster ranking choice that changes WHICH
    member survives but not HOW MANY — min-id matches this package's
    exact_dedup/resolve_duplicate_groups convention).

    Returns one row per input vector: (id, rep_id, keep) — `rep_id` is the
    semantic component's canonical id (self when the vector paired with
    nothing), `keep` marks the survivor of each component.

    Scale shape: one driver-bounded quantizer fit (hash sample ≤ 100k rows),
    one Arrow-matmul assignment pass (narrow, no shuffle), a self-join keyed
    on the INT cell id with degenerate clusters capped at `max_cluster`
    members (`capped_band_pairs` — the shared banded-pairing shape), vectors
    re-joined by id only for the exact-cosine verify, then min-label
    connected components over the PAIRED nodes only (the dup set, small
    relative to the corpus at realistic dup rates). The final labels join
    back to the corpus is AQE-broadcast when the dup set is small and a
    narrow (id, id) shuffle join otherwise. NOTE: this call is EAGER (the
    quantizer fit and the component iteration both run jobs, and the result
    is an eager local checkpoint, so the persisted projection is released
    before returning), unlike the lazy builders in this module.

    Recall caveat (inherent to SemDeDup, not this implementation): a
    ≥-threshold pair straddling a Voronoi boundary lands in different
    clusters and is never compared. `n_probe` is the standard IVF
    mitigation: each vector joins its top-`n_probe` nearest cells for
    CANDIDATE GENERATION (assignment itself is unchanged), so a boundary
    pair is compared whenever the two vectors share ANY probed cell —
    the near-miss almost always shares the 2nd-nearest. Extra candidates
    are exact-cosine verified, so probing can only ADD true edges (it
    moves the result strictly toward the global brute-force components,
    observed live: at n_probe=1 a boundary pair split two components the
    global oracle merges). Cost: n_probe band rows per vector; still
    never all-pairs.
    """
    from hatchery_spark.functions.dedup import (
        capped_band_pairs,
        resolve_duplicate_groups,
    )

    index = build_ivf_index(
        df, n_centroids=n_centroids, sample_mod=sample_mod,
        kmeans_iters=kmeans_iters, seed=seed, id_col=id_col, vec_col=vec_col,
    )
    # the input frame is consumed FOUR times below (cell assignment, both
    # sides of the pair verify join, and the final labels join) — persist the
    # narrow (id, vec) projection once instead of re-deriving the upstream
    # plan (scans, unions, synthetic-twin UDFs) per consumer
    c = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv")
    ).persist()
    p = max(1, min(n_probe, len(index.centroids)))
    assign_p = _cell_assign_udf(index.centroids, p)
    band_rows = c.select(
        F.col(id_col),
        F.lit(0).alias("band"),
        F.explode(assign_p(F.col("_cv"))).alias("cluster"),
    )
    cand = capped_band_pairs(band_rows, id_col, "cluster", max_cluster)
    v = c.select(F.col(id_col), F.col("_cv"))
    pairs = (
        cand.join(v.select(F.col(id_col).alias("id_a"), F.col("_cv").alias("v_a")), "id_a")
        .join(v.select(F.col(id_col).alias("id_b"), F.col("_cv").alias("v_b")), "id_b")
        .withColumn("cosine", F.round(_cosine(F.col("v_a"), F.col("v_b")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b")
    )
    labels = resolve_duplicate_groups(pairs)
    rep = F.coalesce(F.col("canonical_id"), F.col(id_col))
    out = (
        c.select(F.col(id_col))
        .join(
            labels.select(F.col("doc_id").alias(id_col), "canonical_id"),
            id_col,
            "left",
        )
        .select(
            id_col,
            rep.alias("rep_id"),
            (rep == F.col(id_col)).alias("keep"),
        )
        .localCheckpoint()
    )
    c.unpersist()
    return out


# ------------------------------------------------------- distributed k-means

def kmeans_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iters: int = 3,
    round_decimals: int = 6,
) -> DataFrame:
    """DISTRIBUTED Lloyd's k-means over a 100 TB embedding column — the
    iterative-algorithm pattern on DataFrames: per round, centroids are a
    k×dim BROADCAST (shipped in the assignment UDF's closure), assignment
    is one Arrow-vectorized pass, and the centroid update is a map-side-
    combined JVM aggregate (k×dim AVG partials per partition — the
    exchange carries k×(dim+1) doubles per partition, never vectors).
    Driver traffic per round: ONE k-row collect. Contrast with
    `spherical_kmeans`/`_euclidean_kmeans` above, which fit on a
    driver-bounded SAMPLE (the IVF/PQ quantizer use case); this is the
    full-corpus variant for when cluster quality must see every vector
    (e.g. SemDeDup's clustering stage at paper scale, Abbas et al.
    2303.09540 §3). The corpus is scanned iters+1 times — Lloyd's is
    inherently multi-pass; persist the vector column or accept re-scan.

    DETERMINISTIC + cross-engine replayable: init takes the k vectors
    smallest by md5(id) (cluster-size-stable, like every sampler here),
    every centroid is rounded to `round_decimals` after each update, and
    distances are rounded the same before the (dist, cluster) argmin —
    engine-order float noise (~1e-13) collapses under the rounding, so a
    DuckDB recursive replay reproduces every assignment exactly.

    Returns (id_col, cluster int) for every row, assigned against the
    final centroids. Empty clusters keep their previous centroid (both
    the engine and the oracle replay that rule).
    """
    dim = len(
        df.select(vec_col).limit(1).collect()[0][0]
    )
    init_rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    cents = np.round(
        np.array([r[1] for r in init_rows], dtype=np.float64), round_decimals
    )

    def _assign_udf(c: np.ndarray):
        @pandas_udf(T.IntegerType())
        def assign(vecs: pd.Series) -> pd.Series:
            x = np.array(vecs.tolist(), dtype=np.float64)
            d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            return pd.Series(np.argmin(np.round(d, round_decimals), axis=1))

        return assign

    for _ in range(iters):
        assigned = df.withColumn("cluster", _assign_udf(cents)(F.col(vec_col)))
        stats = (
            assigned.groupBy("cluster")
            .agg(
                *[
                    F.round(
                        F.avg(F.element_at(F.col(vec_col), j + 1)), round_decimals
                    ).alias(f"m{j}")
                    for j in range(dim)
                ]
            )
            .collect()
        )
        nxt = cents.copy()  # empty clusters keep their previous centroid
        for r in stats:
            nxt[r["cluster"]] = [r[f"m{j}"] for j in range(dim)]
        cents = nxt

    return df.select(
        id_col, _assign_udf(cents)(F.col(vec_col)).alias("cluster")
    )


def pca_power_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 6,
    rd_cov: int = 6,
    rd_vec: int = 9,
    out_rd: int = 6,
) -> DataFrame:
    """Distributed PCA: project every embedding onto its corpus's first
    principal component (the standard 1-D quality/diversity axis for
    curriculum ordering and outlier pruning of embedding spaces).

    Spark-first decomposition of the textbook algorithm:
      1. per-dim mean — ONE JVM aggregate, rounded, collected (dim doubles).
      2. covariance — partition-local centered Gram matrices via
         `mapInPandas` (one numpy X.T @ X per Arrow batch: the treeAggregate
         pattern), then a (dim² × partitions)-row shuffle summed JVM-side.
         Driver traffic: dim² doubles TOTAL, independent of corpus size.
      3. top eigenvector — power iteration on the dim×dim matrix, driver-
         side (microseconds; the data never participates).
      4. projection — pure codegen `zip_with`+`aggregate` fold per row, no
         Python in the corpus-sized pass.

    Determinism/replay: the covariance is rounded to `rd_cov` BEFORE the
    power iteration and every iteration vector to `rd_vec`, so a DuckDB
    unrolled-CTE replay sees bit-identical inputs at every step and the
    cross-engine float-sum-order noise (~1e-13) collapses under the rounding
    (the kmeans_lloyd trick). rd_cov is deliberately coarser: covariance
    entries sum O(corpus) terms, so their engine noise is larger than the
    64-term matvec sums inside the iteration.

    Returns (id_col, pc1 double) — the centered dot product with the
    component, rounded to `out_rd`.
    """
    first = df.select(vec_col).limit(1).collect()
    if not first:
        return df.select(F.col(id_col), F.lit(0.0).alias("pc1")).limit(0)
    dim = len(first[0][0])
    n = df.count()

    mean_row = df.agg(
        *[
            F.round(F.avg(F.element_at(F.col(vec_col), j + 1)), rd_vec).alias(f"m{j}")
            for j in range(dim)
        ]
    ).collect()[0]
    mean = np.array([mean_row[f"m{j}"] for j in range(dim)], dtype=np.float64)

    aa, bb = np.meshgrid(np.arange(dim), np.arange(dim), indexing="ij")
    aa_flat, bb_flat = aa.ravel(), bb.ravel()

    def gram_partials(batches):
        G = np.zeros((dim, dim), dtype=np.float64)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64) - mean
            G += X.T @ X
            seen = True
        if seen:
            yield pd.DataFrame({"a": aa_flat, "b": bb_flat, "s": G.ravel()})

    cov_rows = (
        df.select(vec_col)
        .mapInPandas(gram_partials, "a int, b int, s double")
        .groupBy("a", "b")
        .agg(F.round(F.sum("s") / F.lit(float(n)), rd_cov).alias("c"))
        .collect()
    )
    C = np.zeros((dim, dim), dtype=np.float64)
    for r in cov_rows:
        C[r["a"], r["b"]] = r["c"]

    # power iteration from the uniform unit vector; every step rounded so the
    # oracle replay (same rounds, same rounding) is value-exact
    v = np.full(dim, np.round(1.0 / np.sqrt(float(dim)), rd_vec))
    for _ in range(iters):
        u = np.round(C @ v, rd_vec)
        norm = np.round(np.sqrt(float(u @ u)), rd_vec)
        if norm == 0.0:
            break
        v = np.round(u / norm, rd_vec)

    marr = F.array(*[F.lit(float(x)) for x in mean])
    varr = F.array(*[F.lit(float(x)) for x in v])
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"), marr, lambda x, m: x - m
    )
    terms = F.zip_with(centered, varr, lambda x, w: x * w)
    pc1 = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    return df.select(F.col(id_col), F.round(pc1, out_rd).alias("pc1"))
