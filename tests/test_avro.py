"""Avro OCF codec (spec-pinned) + distributed roundtrip."""

from __future__ import annotations

import pytest

from hatchery_spark.functions.avro import (
    parse_ocf,
    read_avro_blobs,
    write_avro_files,
    write_ocf,
)
from hatchery_spark.functions.npwire import (
    read_uvarint,
    unzigzag,
    write_uvarint,
    zigzag,
)

SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "score", "type": "double"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": "int"}},
        {"name": "flag", "type": "boolean"},
        {"name": "blob", "type": "bytes"},
        {
            "name": "grade",
            "type": {"type": "enum", "name": "g", "symbols": ["A", "B"]},
        },
    ],
}

RECORDS = [
    {
        "id": -12345678901,
        "name": "héllo",
        "score": 3.5,
        "tags": ["a", "b"],
        "props": {"x": 1, "y": -2},
        "flag": True,
        "blob": b"\x00\xff",
        "grade": "B",
    },
    {
        "id": 0,
        "name": None,
        "score": -0.0,
        "tags": [],
        "props": {},
        "flag": False,
        "blob": b"",
        "grade": "A",
    },
]


def test_zigzag_varint_spec_vectors():
    """The exact byte sequences from the Avro spec's Binary Encoding table."""
    for n, expect in [
        (0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-2, b"\x03"),
        (2, b"\x04"), (-64, b"\x7f"), (64, b"\x80\x01"), (-65, b"\x81\x01"),
    ]:
        out = bytearray()
        write_uvarint(out, zigzag(n))
        assert out == expect, n
        v, p = read_uvarint(expect, 0)
        assert (unzigzag(v), p) == (n, len(expect))


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_ocf_roundtrip_multi_block(codec):
    recs = RECORDS * 700
    buf = write_ocf(SCHEMA, recs, codec=codec, records_per_block=100)
    schema, back = parse_ocf(buf)
    assert schema == SCHEMA
    assert back == recs


def test_ocf_rejects_bad_magic_and_sync():
    buf = write_ocf(SCHEMA, RECORDS)
    with pytest.raises(ValueError):
        parse_ocf(b"XXXX" + buf[4:])
    # corrupt the final sync marker
    with pytest.raises(ValueError):
        parse_ocf(buf[:-1] + bytes([buf[-1] ^ 0xFF]))


def test_union_null_branch_encoding():
    buf = write_ocf(SCHEMA, [RECORDS[1]])
    _, back = parse_ocf(buf)
    assert back[0]["name"] is None


def test_distributed_roundtrip_with_nulls_and_timestamps(spark):
    from pyspark.sql import functions as F

    df = (
        spark.range(200)
        .select(
            F.col("id").cast("long").alias("k"),
            F.when(F.col("id") % 3 == 0, F.col("id").cast("string")).alias("s"),
            (F.col("id") * 1.5).alias("x"),
            F.to_timestamp(F.lit("2025-06-01 12:34:56")).alias("ts"),
        )
    )
    ddl = "k bigint, s string, x double, ts timestamp"
    back = read_avro_blobs(write_avro_files(df, files=4, order_col="k"), ddl)
    got = sorted(back.collect(), key=lambda r: r.k)
    assert len(got) == 200
    assert got[3].s == "3" and got[4].s is None
    assert got[7].x == 10.5
    assert str(got[0].ts) == "2025-06-01 12:34:56"


def test_reader_rejects_schema_mismatch(spark):
    from pyspark.sql import functions as F

    df = spark.range(5).select(F.col("id").alias("a"))
    blobs = write_avro_files(df, files=1)
    with pytest.raises(Exception):
        read_avro_blobs(blobs, "wrong bigint").collect()


def test_schema_resolution_rules():
    """Spec §Schema Resolution: skip writer-only, defaults, aliases,
    promotions (scalar and nested), union re-resolution."""
    from hatchery_spark.functions.avro import parse_ocf_resolved, write_ocf

    writer = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "doc_id", "type": "int"},
            {"name": "text", "type": "string"},
            {"name": "n_chars", "type": ["null", "long"]},
            {"name": "tags", "type": {"type": "array", "items": "int"}},
        ],
    }
    recs = [
        {"doc_id": 1, "text": "hi", "n_chars": 2, "tags": [1, 2]},
        {"doc_id": 2, "text": "yo", "n_chars": None, "tags": []},
    ]
    reader = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "doc_id", "type": "long"},  # int → long
            {
                "name": "chars",
                "aliases": ["n_chars"],
                "type": ["null", "double"],  # alias + long → double
            },
            {"name": "score", "type": "double", "default": 1.5},
            {"name": "tags", "type": {"type": "array", "items": "double"}},
        ],
    }
    for codec in ("null", "deflate"):
        out = parse_ocf_resolved(write_ocf(writer, recs, codec=codec), reader)
        assert out == [
            {"doc_id": 1, "chars": 2.0, "score": 1.5, "tags": [1.0, 2.0]},
            {"doc_id": 2, "chars": None, "score": 1.5, "tags": []},
        ]


def test_schema_resolution_errors():
    import pytest as _pytest

    from hatchery_spark.functions.avro import parse_ocf_resolved, write_ocf

    writer = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": "string"}],
    }
    buf = write_ocf(writer, [{"a": "x"}])
    # missing reader field with NO default → hard error, not silent null
    bad = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "string"},
            {"name": "b", "type": "long"},
        ],
    }
    with _pytest.raises(ValueError, match="no default"):
        parse_ocf_resolved(buf, bad)
    # illegal demotion string → long
    demote = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": "long"}],
    }
    with _pytest.raises(ValueError, match="cannot resolve"):
        parse_ocf_resolved(buf, demote)


def test_fast_encoder_records_equal_reference_encoder():
    """The vectorized encoder `write_avro_files` uses emits, record for
    record, the bytes of the reference `write_ocf` for every field type
    `_avro_schema_for` maps — including nullable longs past 2^53, which a
    float64 round trip would round."""
    import numpy as np
    import pandas as pd

    from hatchery_spark.functions.avro import _encode_columns_fast, _write_ocf_frames

    big = 2**53 + 1
    ts = [
        "2025-06-01 12:34:56.123456", None, "1970-01-01", "1969-12-31 23:59:59", "2038-01-19"
    ]
    cols = {  # name: (avro type, values, pandas dtype)
        "n": ("long", [big, None, -big, 0, -1], "Int64"),
        "i": ("int", [1, 2, None, -3, 2**31 - 1], "Int32"),
        "x": ("double", [1.5, None, -0.25, 1e300, 0.0], "float64"),
        "f": ("float", [0.5, None, 2.0, -1.0, 3.25], "float32"),
        "b": ("boolean", [True, None, False, True, False], "object"),
        "s": ("string", ["a", None, "héllo", "", "z" * 200], "object"),
        "y": ("bytes", [b"\x00\x01", None, b"", b"xyz", b"\xff" * 3], "object"),
        "ts": ({"type": "long", "logicalType": "timestamp-micros"}, ts, "datetime64[ns]"),
    }
    schema = {
        "type": "record",
        "name": "row",
        "fields": [{"name": c, "type": ["null", t]} for c, (t, _, _) in cols.items()],
    }
    pdf = pd.DataFrame({c: pd.Series(v, dtype=d) for c, (_, v, d) in cols.items()})
    micros = [None if t is None else pd.Timestamp(t).value // 1000 for t in ts]
    records = [
        {c: (micros[r] if c == "ts" else v[r]) for c, (_, v, _) in cols.items()}
        for r in range(len(pdf))
    ]

    buf, rec_lens = _encode_columns_fast(schema, pdf, {"ts"})
    bounds = np.concatenate([[0], np.cumsum(rec_lens)])
    one_per_block = [(1, buf[bounds[r] : bounds[r + 1]]) for r in range(len(pdf))]
    assert _write_ocf_frames(schema, one_per_block, "null", None) == write_ocf(
        schema, records, records_per_block=1
    )
    _, back = parse_ocf(write_ocf(schema, records))
    assert [r["n"] for r in back] == [big, None, -big, 0, -1]


def test_nullable_bigint_roundtrips_exactly(spark):
    """A bigint column that holds a NULL keeps every bit past 2^53."""
    big = 2**53 + 1
    df = spark.createDataFrame([(1, big), (2, None), (3, -big)], "k bigint, v bigint")
    (blob,) = write_avro_files(df, files=1, order_col="k").collect()
    _, recs = parse_ocf(blob.content)
    assert [(r["k"], r["v"]) for r in recs] == [(1, big), (2, None), (3, -big)]
