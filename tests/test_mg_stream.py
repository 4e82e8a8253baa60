"""Streaming Misra-Gries ingest (streaming/stream.py mg_ingest_writer)."""

from __future__ import annotations

import os
from collections import Counter

from hatchery_spark.streaming.stream import run_mg_ingest_stream

SCHEMA = "key string"


def _batches():
    b1 = (
        [("whale",)] * 200
        + [("big",)] * 80
        + [(f"t{i % 20}",) for i in range(60)]
    )
    b2 = (
        [("whale",)] * 150
        + [("newcomer",)] * 90
        + [(f"u{i % 25}",) for i in range(75)]
    )
    return b1, b2


def _run(spark, tmp_path, k=6):
    inp = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    b1, b2 = _batches()
    spark.createDataFrame(b1, SCHEMA).coalesce(1).write.mode("append").parquet(inp)
    spark.createDataFrame(b2, SCHEMA).coalesce(1).write.mode("append").parquet(inp)
    run_mg_ingest_stream(
        spark, inp, store, ck, SCHEMA, "key", k=k, max_files_per_trigger=1
    )
    return inp, store, ck, b1, b2


def _latest(spark, store):
    versions = sorted(
        int(d.split("=")[1])
        for d in os.listdir(store)
        if d.startswith("v=")
    )
    return {
        r["key"]: (r["est"], r["deficit"])
        for r in spark.read.parquet(f"{store}/v={versions[-1]}").collect()
    }, versions


def test_sandwich_holds_across_the_stream(spark, tmp_path):
    _, store, _, b1, b2 = _run(spark, tmp_path)
    truth = Counter(k for (k,) in b1 + b2)
    got, versions = _latest(spark, store)
    assert len(versions) == 2      # one complete snapshot per batch
    assert got, "summary empty"
    deficit = next(iter(got.values()))[1]
    for key, (est, _) in got.items():
        assert est <= truth[key] <= est + deficit, (key, est, deficit)
    # every key NOT in the summary is bounded by the deficit too
    for key, n in truth.items():
        if key not in got:
            assert n <= deficit, (key, n, deficit)


def test_heavy_hitter_survives_both_batches(spark, tmp_path):
    _, store, _, b1, b2 = _run(spark, tmp_path)
    got, _ = _latest(spark, store)
    assert "whale" in got          # 350 of 655 rows — must survive k=6
    assert len(got) <= 6           # state bounded by k


def test_replay_is_byte_stable(spark, tmp_path):
    inp, store, ck, _, _ = _run(spark, tmp_path)
    versions = sorted(d for d in os.listdir(store) if d.startswith("v="))
    before = {v: sorted(os.listdir(os.path.join(store, v))) for v in versions}
    run_mg_ingest_stream(spark, inp, store, ck, SCHEMA, "key", k=6)
    after = {
        v: sorted(os.listdir(os.path.join(store, v)))
        for v in sorted(os.listdir(store))
        if v.startswith("v=")
    }
    assert before == after


def test_hll_and_mg_stores_keep_state_on_a_uri_path(spark, tmp_path):
    """The HLL and MG streams find their previous snapshot on the store's
    Hadoop FileSystem, so a store named by a file:// URI accumulates the same
    state as one named by a plain path."""
    from hatchery_spark.streaming.stream import (
        hll_store_estimates,
        run_hll_ingest_stream,
    )

    schema = "grp string, key string"
    inp = str(tmp_path / "in")
    for b in range(3):
        rows = [("a", f"k{b}_{i}") for i in range(200)] + [("a", "whale")] * 100
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(inp)

    def drain(root):
        hll, mg = f"{root}/hll", f"{root}/mg"
        run_hll_ingest_stream(
            spark, inp, hll, f"{root}/ck_hll", schema, "key", ["grp"],
            max_files_per_trigger=1,
        )
        run_mg_ingest_stream(
            spark, inp, mg, f"{root}/ck_mg", schema, "key", k=6, max_files_per_trigger=1
        )
        est = {r.grp: r.estimate for r in hll_store_estimates(spark, hll, ["grp"]).collect()}
        counters = {
            r["key"]: (r["est"], r["deficit"])
            for r in spark.read.parquet(f"{mg}/v=2").collect()
        }
        return est, counters

    plain = drain(str(tmp_path / "plain"))
    assert plain[0]["a"] > 450  # three batches' 601 distinct keys, not one batch's 201
    assert drain((tmp_path / "uri").as_uri()) == plain
