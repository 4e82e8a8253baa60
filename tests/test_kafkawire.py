"""Kafka RecordBatch v2: CRC32C vectors, codec matrix, tamper paths."""

import struct

import pytest

from hatchery_spark.functions.kafkawire import (
    decode_batch,
    encode_batch,
    read_record_batches,
    write_record_batches,
)
from hatchery_spark.functions.npwire import (
    crc32c,
    read_uvarint,
    unzigzag,
    write_uvarint,
    zigzag,
)

ROWS = [
    (0, 1000, b"conv-1", b"hello", [(b"role", b"user"), (b"tool", b"chat")]),
    (1, 1500, b"conv-1", b"world" * 40, [(b"role", b"tool"), (b"tool", b"edr")]),
]


def test_crc32c_check_vectors():
    # RFC 3720 §B.4 / common CRC32C vectors
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0
    assert crc32c(b"\x00" * 32) == 0x8A9136AA
    assert crc32c(b"\xff" * 32) == 0x62A8AB43


def test_varint_zigzag_roundtrip():
    for n in (0, 1, -1, 63, 64, -64, -65, 300, -300, 2**31, -(2**31), 2**56):
        out = bytearray()
        write_uvarint(out, zigzag(n))
        got, pos = read_uvarint(bytes(out), 0)
        assert unzigzag(got) == n and pos == len(out)


@pytest.mark.parametrize("codec", [0, 1, 2, 3, 4])
def test_batch_roundtrip_every_codec(codec):
    buf = encode_batch(5_000_000, codec, ROWS)
    b = decode_batch(buf)
    assert b["crc_ok"] and b["base_offset"] == 5_000_000
    assert [r["offset_delta"] for r in b["records"]] == [0, 1]
    assert b["records"][1]["value"] == b"world" * 40
    assert b["records"][0]["ts_ms"] == 1000 and b["records"][1]["ts_ms"] == 1500
    assert b["records"][0]["headers"][b"role".decode()] == b"user"


def test_any_single_byte_flip_is_detected():
    buf = bytearray(encode_batch(7, 0, ROWS))
    for pos in (21, 25, 40, len(buf) // 2, len(buf) - 1):  # post-crc region
        t = bytearray(buf)
        t[pos] ^= 0x01
        assert not decode_batch(bytes(t))["crc_ok"], f"flip at {pos} missed"


def test_truncated_batch_dead_letters():
    buf = encode_batch(7, 0, ROWS)
    assert not decode_batch(buf[:-3])["crc_ok"]


def test_dataframe_roundtrip_and_dead_letter(spark):
    rows = [
        # uid 3 → tampered (3 % 17 == 3), codec lz4 (3 % 5)
        ("conv-3", 0, "user", "turn a", "chat", "2025-06-01 00:00:00"),
        ("conv-3", 1, "tool", "turn b", "edr", "2025-06-01 00:00:01"),
        # uid 4 → clean, codec zstd
        ("conv-4", 0, "user", "turn c", "chat", "2025-06-01 00:00:02"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    )
    from pyspark.sql import functions as F

    df = df.withColumn("ts", F.to_timestamp("ts"))
    out = {(r.base_offset, r.turn_idx): r
           for r in read_record_batches(write_record_batches(df)).collect()}
    dead = [r for r in out.values() if not r.crc_ok]
    assert len(dead) == 1 and dead[0].base_offset == 3_000_000
    assert dead[0].conv_id is None and dead[0].text is None
    good = out[(4_000_000, 0)]
    assert good.codec == "zstd" and good.text == "turn c" and good.role == "user"


def test_empty_value_and_header(spark):
    buf = encode_batch(1, 2, [(0, 5, b"k", b"", [(b"h", b"")])])
    b = decode_batch(buf)
    assert b["records"][0]["value"] == b"" and b["records"][0]["headers"]["h"] == b""
