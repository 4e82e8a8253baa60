"""Quality-check suite, theta set operations, PPTX extraction."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_quality_checks_exact_counts(spark):
    from hatchery_spark.operators.quality import quality_checks

    rows = [
        (1, "A", 5.0, "ok-1"),
        (2, "A", -1.0, "ok-2"),     # range violation (min 0)
        (2, "B", 50.0, "bad"),      # duplicate id; pattern violation
        (None, "C", 5.0, "ok-3"),   # null id; set violation (C)
        (4, "A", 500.0, "ok-4"),    # range violation (max 100)
    ]
    df = spark.createDataFrame(rows, "id long, grp string, v double, tag string")
    dim = spark.createDataFrame([("A",), ("B",)], "g string")
    checks = [
        {"name": "id_nn", "type": "not_null", "col": "id"},
        {"name": "v_rng", "type": "range", "col": "v", "min": 0.0, "max": 100.0},
        {"name": "tag_pat", "type": "pattern", "col": "tag", "regex": r"^ok-\d$"},
        {"name": "grp_set", "type": "in_set", "col": "grp", "values": ["A", "B"]},
        {"name": "id_uni", "type": "unique", "cols": ["id"]},
        {"name": "grp_fk", "type": "ref_integrity", "col": "grp",
         "ref": "dim", "ref_col": "g", "max_violations": 2},
    ]
    got = {r["check_name"]: (r["violations"], r["n_rows"], r["passed"])
           for r in quality_checks(df, checks, refs={"dim": dim}).collect()}
    assert got == {
        "id_nn": (1, 5, False),
        "v_rng": (2, 5, False),
        "tag_pat": (1, 5, False),
        "grp_set": (1, 5, False),
        "id_uni": (1, 5, False),     # one surplus copy of id=2
        "grp_fk": (1, 5, True),      # C orphan, but threshold 2
    }


def test_quality_checks_all_pass_and_unknown_type(spark):
    from hatchery_spark.operators.quality import quality_checks

    df = spark.createDataFrame([(1,), (2,)], "id long")
    got = quality_checks(df, [{"name": "nn", "type": "not_null", "col": "id"}]).collect()
    assert got[0]["violations"] == 0 and got[0]["passed"]
    with pytest.raises(ValueError):
        quality_checks(df, [{"name": "x", "type": "entropy", "col": "id"}]).collect()


# ------------------------------------------------------------- theta ops


def test_theta_setops_exact_when_small(spark):
    from hatchery_spark.operators.sketches import kmv_theta_setops

    a = spark.createDataFrame([(f"k{i}",) for i in range(20)], "key string")
    b = spark.createDataFrame([(f"k{i}",) for i in range(10, 25)], "key string")
    (r,) = kmv_theta_setops(a, b, F.col("key"), F.col("key"), k=64).collect()
    # both sides fit their sketches -> theta = 2^48 -> every figure exact
    assert (r["est_a"], r["est_b"]) == (20, 15)
    assert r["est_union"] == 25 and r["est_inter"] == 10
    assert r["est_a_only"] == 10 and r["est_b_only"] == 5


def test_theta_setops_estimates_within_bounds(spark):
    from hatchery_spark.operators.sketches import kmv_theta_setops

    n = 5000
    a = spark.range(n).select(F.concat(F.lit("a"), (F.col("id") % 4000)).alias("key"))
    b = spark.range(n).select(
        F.concat(F.lit("a"), ((F.col("id") % 4000) + 2000)).alias("key")
    )
    (r,) = kmv_theta_setops(a, b, F.col("key"), F.col("key"), k=256).collect()
    # truth: |A|=4000, |B|=4000, inter=2000, union=6000; k=256 -> ~6% rse
    assert abs(r["est_a"] - 4000) < 4000 * 0.3
    assert abs(r["est_union"] - 6000) < 6000 * 0.3
    assert abs(r["est_inter"] - 2000) < 2000 * 0.5
    # identities approximately: union ~= a_only + b_only + inter (exactly,
    # since all four share one theta and partition the kept hashes)
    assert r["est_union"] - (r["est_a_only"] + r["est_b_only"] + r["est_inter"]) in (0, 1, 2, -1, -2)


# ------------------------------------------------------------------ pptx


def test_pptx_slide_order_and_escape():
    from hatchery_spark.functions.xlsx import build_pptx_bytes, pptx_extract

    blob = build_pptx_bytes([["s1 & <x>"], ["p1", "p2"], ["last"]])
    n, txt = pptx_extract(blob)
    assert n == 3
    assert txt == "s1 & <x>\n\np1\np2\n\nlast"


def test_pptx_missing_presentation_raises():
    from hatchery_spark.functions.ziparc import build_zip
    from hatchery_spark.functions.xlsx import pptx_extract

    with pytest.raises(ValueError):
        pptx_extract(build_zip([("a.txt", b"x", "store")]))


# -------------------------------------------------------------- tfrecord


def test_tfrecord_example_proto_forms():
    from hatchery_spark.functions.tfrecord import decode_example, encode_example

    ex = encode_example(
        {"doc_id": 42, "text": b"hello", "neg": -7, "lst": [1, 300, 1 << 40]}
    )
    assert decode_example(ex) == {
        "doc_id": 42, "text": b"hello", "neg": -7, "lst": [1, 300, 1 << 40]
    }
    # repeated (non-packed) Int64List must also parse: build one by hand
    from hatchery_spark.functions.npwire import write_uvarint
    from hatchery_spark.functions.tfrecord import _ld

    il = bytearray()
    write_uvarint(il, (1 << 3) | 0); write_uvarint(il, 5)
    write_uvarint(il, (1 << 3) | 0); write_uvarint(il, 6)
    feature = bytearray(); _ld(feature, 3, bytes(il))
    entry = bytearray(); _ld(entry, 1, b"xs"); _ld(entry, 2, bytes(feature))
    feats = bytearray(); _ld(feats, 1, bytes(entry))
    exb = bytearray(); _ld(exb, 1, bytes(feats))
    assert decode_example(bytes(exb)) == {"xs": [5, 6]}


def test_tfrecord_crc_dead_letter_and_framing():
    from hatchery_spark.functions.tfrecord import (
        encode_example, read_tfrecord, write_tfrecord,
    )

    recs = [encode_example({"doc_id": i, "text": b"x" * i}) for i in range(1, 4)]
    blob = write_tfrecord(recs)
    got = read_tfrecord(blob)
    assert [ok for _, ok in got] == [True, True, True]
    # corrupt second record's payload: that record dead-letters, third OK
    second_start = (12 + len(recs[0]) + 4) + 12
    bad = bytearray(blob)
    bad[second_start] ^= 0xFF
    got2 = read_tfrecord(bytes(bad))
    assert [ok for _, ok in got2] == [True, False, True]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_tfrecord(blob[:-2])  # truncated trailing crc
