import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from hatchery_spark.functions import similarity as sim


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((50, 16)).astype(np.float32)
    base[1] = base[0] * 1.5  # same direction as 0 → cosine 1.0
    base[2] = -base[0]  # opposite
    rows = [(i, [float(x) for x in base[i]]) for i in range(50)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_cosine_topk_exact(spark, vectors):
    queries = vectors.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.cosine_topk(vectors, queries, k=3).collect()
    assert [r.vec_id for r in out][:2] == [0, 1]  # self then scaled copy
    assert out[0].cosine == 1.0 and out[1].cosine == 1.0
    assert all(out[i].rank == i + 1 for i in range(3))


def test_cosine_matches_numpy(spark, vectors):
    queries = vectors.filter("vec_id = 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = {r.vec_id: r.cosine for r in sim.cosine_topk(vectors, queries, k=50).collect()}
    rows = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in vectors.collect()}
    q = rows[5]
    for vid, got in out.items():
        want = float(np.dot(rows[vid], q) / (np.linalg.norm(rows[vid]) * np.linalg.norm(q)))
        assert math.isclose(got, round(want, 4), abs_tol=2e-4), vid


def test_lsh_topk_high_recall_on_self_and_dups(spark, vectors):
    queries = vectors.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = [r.vec_id for r in sim.lsh_topk(vectors, queries, k=3, dim=16).collect()]
    assert 0 in out and 1 in out  # identical-direction vectors share all sign bits


def test_embedding_near_dup(spark, vectors):
    pairs = {(r.id_a, r.id_b): r.cosine for r in
             sim.embedding_near_dup(vectors, threshold=0.95, dim=16).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert all(c >= 0.95 for c in pairs.values())


def test_near_dup_banded_recall_vs_bruteforce(spark):
    """Banded sign-LSH must find ≈ all true pairs at cosine ≥ 0.9 — the
    single-bucket formulation (recall ~0.15 at 0.9) is the regression case."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal((120, 32))
    rows = []
    for i in range(120):
        rows.append((i, [float(x) for x in base[i]]))
        # planted near-dup: small additive noise → cosine ≈ 0.98-0.995
        noisy = base[i] + 0.15 * rng.standard_normal(32)
        rows.append((1000 + i, [float(x) for x in noisy]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    got = {(r.id_a, r.id_b) for r in
           sim.embedding_near_dup(df, threshold=0.9, dim=32).collect()}
    # brute-force truth
    queries = df.select(F.col("vec_id").alias("query_id"), "embedding")
    exact = sim.cosine_topk(df, queries, k=240)
    true_pairs = {
        (min(r.query_id, r.vec_id), max(r.query_id, r.vec_id))
        for r in exact.filter("cosine >= 0.9 AND query_id != vec_id").collect()
    }
    assert true_pairs, "fixture must contain true near-dup pairs"
    recall = len(got & true_pairs) / len(true_pairs)
    assert recall >= 0.95, (recall, len(true_pairs))
    # verify stage guarantees precision 1 (no sub-threshold pair survives)
    assert got <= true_pairs
    df.unpersist()


def test_ivf_kmeans_centroids_not_plan_literals(spark, vectors):
    """IVF assignment must ship centroids via the UDF closure, not inline them
    as thousands of plan literals."""
    queries = vectors.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.ivf_topk(vectors, queries, k=3, n_centroids=8, n_probe=8)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "ArrowEvalPython" in plan or "assign" in plan
    got = [r.vec_id for r in out.collect()]
    assert got[0] == 0  # self-match: own cell always probed first


def test_kmeans_deterministic():
    rng = np.random.default_rng(5)
    x = rng.standard_normal((200, 8))
    a = sim.spherical_kmeans(x, 4, seed=9)
    b = sim.spherical_kmeans(x, 4, seed=9)
    assert np.array_equal(a, b)
    assert np.allclose(np.linalg.norm(a, axis=1), 1.0)


def test_deterministic_across_runs(spark, vectors):
    queries = vectors.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = sorted(map(tuple, sim.cosine_topk(vectors, queries, k=5).collect()))
    b = sorted(map(tuple, sim.cosine_topk(vectors, queries, k=5).collect()))
    assert a == b


def test_ivf_index_build_once_query_many(spark):
    """Split API: one build serves multiple query batches; results match the
    fused ivf_topk, and the persisted cells DataFrame is reusable."""
    from hatchery_spark.functions.similarity import build_ivf_index, ivf_search, ivf_topk
    import pyspark.sql.functions as F

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    index = build_ivf_index(emb, n_centroids=8, seed=7)
    index.cells = index.cells.cache()

    q1 = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    q2 = emb.filter(F.col("vec_id").isin(2, 3)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    r1 = {(r.query_id, r.rank): r.vec_id for r in ivf_search(index, q1, k=3).collect()}
    r2 = {(r.query_id, r.rank): r.vec_id for r in ivf_search(index, q2, k=3).collect()}
    assert set(q for q, _ in r1) == {0, 1} and set(q for q, _ in r2) == {2, 3}

    fused = {
        (r.query_id, r.rank): r.vec_id
        for r in ivf_topk(emb, q1, k=3, n_centroids=8, seed=7).collect()
    }
    assert r1 == fused
    index.cells.unpersist()


def test_ivf_quantizer_sample_bounded_at_scale(spark):
    """The quantizer's driver-side collect is bounded: over a 10^6-vector
    corpus the derived sample_mod keeps the fitted sample ≤ target_sample
    (hard-capped even under hash skew), so no corpus size can OOM the driver.
    """
    from hatchery_spark.functions.similarity import build_ivf_index, ivf_search

    n = 1_000_000
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 3), "
            "j -> cast(sin(id * 0.37 + j * 1.13) AS double))"
        ).alias("embedding"),
    )
    target = 20_000
    index = build_ivf_index(emb, n_centroids=8, seed=3, target_sample=target)
    assert index.sample_mod == -(-n // target)  # ceil(n / target)
    assert 0 < index.sample_size <= target
    assert index.centroids.shape == (8, 4)

    # the index is still usable: a probe query returns well-formed top-k
    q = emb.filter("vec_id = 12345").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hits = ivf_search(index, q, k=3, n_probe=8).collect()
    assert len(hits) == 3 and hits[0].cosine >= hits[-1].cosine


def test_quantize_embeddings_bounds_and_zero(spark):
    """int8 range respected, per-component error <= scale/2 (so MSE <=
    (scale/2)^2), zero vector -> scale 0 / all-zero qvec."""
    from hatchery_spark.functions.similarity import quantize_embeddings

    emb = spark.createDataFrame(
        [
            (0, [1.0, -0.5, 0.25, -1.0]),
            (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [0.001, -0.002, 0.0015, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in quantize_embeddings(emb).collect()}
    # floor(x + 0.5): halves round toward +inf, so -63.5 -> -63
    assert out[0].qvec == [127, -63, 32, -127]
    assert max(abs(q) for q in out[0].qvec) <= 127
    assert out[1].scale == 0.0 and out[1].qvec == [0, 0, 0, 0]
    assert out[1].recon_mse == 0.0
    for r in out.values():
        if r.scale > 0:
            assert r.recon_mse <= (r.scale / 2) ** 2 + 1e-12


def test_quantized_topk_matches_exact(spark):
    """int8 scan + rescore returns exactly the brute-force top-k on a
    random corpus (quantization error << neighbor gaps)."""
    import numpy as np
    from hatchery_spark.functions.similarity import cosine_topk, quantized_topk

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(300, 32)).astype("float32")
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding")
    exact = sorted(map(tuple, cosine_topk(emb, q, k=5).collect()))
    quant = sorted(map(tuple, quantized_topk(emb, q, k=5).collect()))
    assert exact == quant


def test_pq_codebooks_shape_and_determinism(spark):
    """Codebooks: (m, ks, dim/m) tensor, deterministic across fits, fit on
    the bounded hash sample; encoding emits m codes in [0, ks)."""
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(200, 32)).astype("float32")
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    b1 = sim.fit_pq_codebooks(emb, m=8, ks=16)
    b2 = sim.fit_pq_codebooks(emb, m=8, ks=16)
    assert b1.books.shape == (8, 16, 4)
    assert np.array_equal(b1.books, b2.books)
    codes = sim.pq_encode(emb, b1).collect()
    assert all(len(r.pq_codes) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r.pq_codes)
    with pytest.raises(ValueError):
        sim.fit_pq_codebooks(emb, m=7, ks=16)  # 32 % 7 != 0


def test_ivf_pq_topk_matches_exact_with_rescore(spark):
    """IVF-PQ with exact rescore returns the brute-force top-k when the
    probe set covers the true neighbors and the ADC pool is generous —
    the same contract the driver gate checks at sf0.01."""
    rng = np.random.default_rng(13)
    vecs = rng.normal(size=(300, 32)).astype("float32")
    vecs[5] = vecs[0] * 0.9 + rng.normal(size=32, scale=0.05)  # planted dup
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding")
    exact = sorted(map(tuple, sim.cosine_topk(emb, q, k=5).collect()))
    pq = sorted(
        map(
            tuple,
            sim.ivf_pq_topk(
                emb, q, k=5, n_centroids=8, n_probe=4, m=8, ks=16, rescore=6
            ).collect(),
        )
    )
    assert exact == pq


def test_ivf_pq_pool_recall_degrades_gracefully(spark):
    """Even with a minimal pool (rescore=1) every returned neighbor carries
    its EXACT cosine — approximation can only drop neighbors, never corrupt
    scores. Recall@5 of the top-1 neighbor stays perfect (its cell is the
    query's own nearest cell)."""
    rng = np.random.default_rng(17)
    vecs = rng.normal(size=(300, 32)).astype("float32")
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding")
    exact = {(r.query_id, r.vec_id): r.cosine for r in sim.cosine_topk(emb, q, k=50).collect()}
    got = sim.ivf_pq_topk(
        emb, q, k=5, n_centroids=8, n_probe=2, m=8, ks=16, rescore=1
    ).collect()
    for r in got:
        assert exact[(r.query_id, r.vec_id)] == r.cosine  # exact rescore
    # self-match (cosine 1.0) survives any pool size
    top1 = {r.query_id: r.vec_id for r in got if r.rank == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}


def test_semdedup_prunes_planted_duplicates(spark):
    """Exact duplicates (and near-parallel copies) collapse to the min id;
    everything unpaired keeps itself."""
    rng = np.random.default_rng(23)
    vecs = rng.normal(size=(60, 32))
    vecs[40] = vecs[3]                      # exact dup of 3
    vecs[41] = vecs[3] * 1.7               # scaled copy — cosine 1.0
    vecs[42] = vecs[7] + rng.normal(size=32, scale=0.01)  # near dup of 7
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: (r.rep_id, r.keep) for r in sim.semdedup(
        emb, threshold=0.95, n_centroids=4
    ).collect()}
    assert len(out) == 60
    assert out[3] == (3, True)
    assert out[40] == (3, False) and out[41] == (3, False)
    assert out[42] == (7, False) and out[7] == (7, True)
    # a random 32-dim pair is nowhere near cosine 0.95 — all others survive
    assert sum(1 for rep, keep in out.values() if keep) == 57


def test_semdedup_matches_brute_force_components(spark):
    """Cluster-then-prune finds exactly the global >=threshold components on
    a corpus whose dup pairs are near-parallel (the SemDeDup regime)."""
    rng = np.random.default_rng(29)
    vecs = rng.normal(size=(80, 16))
    for i, j in [(50, 0), (51, 0), (60, 1)]:   # chain 0-50-51 + pair 1-60
        vecs[i] = vecs[j] + rng.normal(size=16, scale=0.02)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.vec_id, r.rep_id, r.keep) for r in sim.semdedup(
        emb, threshold=0.98, n_centroids=4
    ).collect()}

    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = np.round(vn @ vn.T, 4)
    parent = list(range(80))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a in range(80):
        for b in range(a + 1, 80):
            if sims[a, b] >= 0.98:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    want = {(i, find(i), find(i) == i) for i in range(80)}
    assert got == want


def test_semdedup_leaves_no_persisted_frame(spark, pinned_rdds):
    """The persisted (id, vec) projection is released before semdedup
    returns; only the result's own local checkpoint stays registered, and
    Spark frees that with the frame."""
    rng = np.random.default_rng(31)
    vecs = rng.normal(size=(30, 8))
    vecs[20] = vecs[2]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    before = pinned_rdds()
    out = sim.semdedup(emb, threshold=0.95, n_centroids=3).collect()
    assert len(out) == 30
    assert pinned_rdds() == before
