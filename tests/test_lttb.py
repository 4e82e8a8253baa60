"""LTTB downsampling (operators/lttb.py)."""

from __future__ import annotations

import pytest

from hatchery_spark.operators.lttb import lttb_downsample


def _series(spark, pts, g="s1"):
    rows = [(g, i + 1, t, v) for i, (t, v) in enumerate(pts)]
    return spark.createDataFrame(
        rows, "g string, idx long, t_s long, v_i long"
    )


def test_endpoints_kept_and_size_is_m(spark):
    pts = [(100 + 10 * i, (i * 37) % 50) for i in range(40)]
    out = lttb_downsample(_series(spark, pts), "g", m=8)
    rows = sorted(out.collect(), key=lambda r: r["idx"])
    assert len(rows) == 8
    assert rows[0]["idx"] == 1 and rows[-1]["idx"] == 40
    idxs = [r["idx"] for r in rows]
    assert idxs == sorted(set(idxs))  # strictly increasing, no dupes


def test_spike_always_survives(spark):
    # flat series with one huge outlier: the largest triangle in its
    # bucket is unbeatable, so LTTB must keep it
    pts = [(1000 + i, 10) for i in range(30)]
    pts[17] = (1017, 100000)
    out = lttb_downsample(_series(spark, pts), "g", m=6)
    kept = {r["idx"]: r["v_i"] for r in out.collect()}
    assert kept[18] == 100000  # idx is 1-based


def test_small_series_pass_through_whole(spark):
    pts = [(10, 1), (20, 5), (30, 2)]
    out = lttb_downsample(_series(spark, pts), "g", m=12)
    rows = sorted(out.collect(), key=lambda r: r["idx"])
    assert [(r["idx"], r["t_s"], r["v_i"]) for r in rows] == [
        (1, 10, 1), (2, 20, 5), (3, 30, 2)
    ]


def test_hand_computed_selection(spark):
    # n=6, m=4 -> 2 interior buckets: idx {2,3} and {4,5}
    # bucket 1 anchor = p1=(0,0); next avg = centroid of {p4,p5}
    #   p4=(30,0), p5=(40,0) -> centroid (35, 0)
    #   area(p2=(10,100)) ~ |(0-35)*(100-0) - (0-10)*(0-0)| = 3500
    #   area(p3=(20,0))   ~ 0 -> pick p2
    # bucket 2 anchor = p2; next = last point p6=(50,0)
    #   area(p4) = |(10-50)*(0-100) - (10-30)*(0-100)| = |4000-2000|=2000
    #   area(p5) = |(10-50)*(0-100) - (10-40)*(0-100)| = |4000-3000|=1000
    #   -> pick p4
    pts = [(0, 0), (10, 100), (20, 0), (30, 0), (40, 0), (50, 0)]
    out = lttb_downsample(_series(spark, pts), "g", m=4)
    idxs = sorted(r["idx"] for r in out.collect())
    assert idxs == [1, 2, 4, 6]


def test_multiple_series_independent(spark):
    a = [(100 + i, i % 7) for i in range(20)]
    b = [(500 + i, (3 * i) % 11) for i in range(25)]
    df = _series(spark, a, "a").union(_series(spark, b, "b"))
    out = lttb_downsample(df, "g", m=5).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r["idx"])
    assert len(by_g["a"]) == 5 and max(by_g["a"]) == 20
    assert len(by_g["b"]) == 5 and max(by_g["b"]) == 25


def test_non_dense_idx_raises(spark):
    df = spark.createDataFrame(
        [("g", 2, 10, 1), ("g", 3, 20, 2)],
        "g string, idx long, t_s long, v_i long",
    )
    with pytest.raises(Exception, match="dense"):
        lttb_downsample(df, "g", m=3).collect()


def test_m_below_three_rejected(spark):
    with pytest.raises(ValueError, match="m must be"):
        lttb_downsample(_series(spark, [(1, 1)]), "g", m=2)


def test_null_series_key_is_kept(spark):
    # a NULL series key is a series of its own (applyInPandas semantics),
    # not silently dropped by the per-partition pandas groupby
    pts = [(100 + 10 * i, i % 5) for i in range(10)]
    rows = [(g, i + 1, t, v) for g in ("a", None) for i, (t, v) in enumerate(pts)]
    df = spark.createDataFrame(rows, "g string, idx long, t_s long, v_i long")
    out = lttb_downsample(df, "g", m=4).collect()
    assert {r["g"] for r in out} == {"a", None}
    assert sum(r["g"] is None for r in out) == 4
