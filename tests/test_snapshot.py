"""Snapshot table: atomic commits, time travel, optimistic concurrency,
crash-safety, vacuum. The commit protocol the Iceberg gate (test_iceberg)
cannot execute in-sandbox, executed for real on the local filesystem."""

import json
import os
import tempfile

import pytest

from hatchery_spark.snapshot import ConcurrentCommitError, SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


@pytest.fixture()
def tdir():
    return tempfile.mkdtemp(prefix="hs_snap_") + "/t"


def test_create_read_roundtrip(spark, tdir):
    t = SnapshotTable.create(spark, tdir, _df(spark, [(1, "a"), (2, "b")]),
                             run_ts="2025-06-03 12:00:00")
    assert t.version() == 1
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    assert t.history()[0]["action"] == "create"


def test_append_never_touches_existing_files(spark, tdir):
    t = SnapshotTable.create(spark, tdir, _df(spark, [(1, "a")]))
    v1_files = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(os.path.join(tdir, "data"))
        for f in fs
    }
    t.append(_df(spark, [(2, "b")]))
    for p, mtime in v1_files.items():
        assert os.path.exists(p) and os.path.getmtime(p) == mtime
    assert sorted(r.k for r in t.read().collect()) == [1, 2]


def test_time_travel(spark, tdir):
    t = SnapshotTable.create(spark, tdir, _df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.overwrite(_df(spark, [(9, "z")]))
    assert sorted(r.k for r in t.read(1).collect()) == [1]
    assert sorted(r.k for r in t.read(2).collect()) == [1, 2]
    assert sorted(r.k for r in t.read(3).collect()) == [9]
    assert [h["action"] for h in t.history()] == [
        "create", "append", "overwrite"]


def test_append_schema_mismatch_rejected(spark, tdir):
    t = SnapshotTable.create(spark, tdir, _df(spark, [(1, "a")]))
    bad = spark.createDataFrame([(1.5, "a")], "k double, v string")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(bad)
    # overwrite MAY change the schema
    t.overwrite(bad)
    assert t.read().schema["k"].dataType.simpleString() == "double"


def test_merge_update_insert_delete_and_isolation(spark, tdir):
    t = SnapshotTable.create(
        spark, tdir, _df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    upd = spark.createDataFrame(
        [(1, "A", False), (4, "d", False), (2, None, True)],
        "k int, v string, _del boolean")
    t.merge(upd, "k", delete_col="_del")
    after = {r.k: r.v for r in t.read().collect()}
    assert after == {1: "A", 3: "c", 4: "d"}
    # snapshot isolation: the pre-merge version is intact
    before = {r.k: r.v for r in t.read(1).collect()}
    assert before == {1: "a", 2: "b", 3: "c"}


def test_concurrent_commit_loser_raises_and_cleans_up(spark, tdir):
    a = SnapshotTable.create(spark, tdir, _df(spark, [(1, "a")]))
    b = SnapshotTable(spark, tdir)
    stale_parent = b.version()           # both writers see v1
    a.append(_df(spark, [(2, "b")], ), writer_id="wa")  # wins v2
    with pytest.raises(ConcurrentCommitError):
        b._commit("append", _df(spark, [(3, "c")]),
                  list(b.manifest(stale_parent)["live"]), stale_parent,
                  "", "wb", b.manifest(stale_parent)["schema"])
    # the loser's data dir was reclaimed; the winner's commit is intact
    dirs = os.listdir(os.path.join(tdir, "data"))
    assert not any("wb" in d for d in dirs)
    assert sorted(r.k for r in SnapshotTable(spark, tdir).read().collect()) \
        == [1, 2]


def test_partial_state_invisible_and_vacuumed(spark, tdir):
    t = SnapshotTable.create(spark, tdir, _df(spark, [(1, "a")]))
    # simulate a crash mid-commit: data dir written, manifest never linked
    orphan = os.path.join(tdir, "data", "v000000002-dead")
    _df(spark, [(99, "x")]).write.parquet(orphan)
    # and a partial manifest temp file
    with open(os.path.join(tdir, "_log", ".tmp-2-dead.json"), "w") as f:
        f.write('{"version": 2, "li')  # truncated JSON
    assert t.version() == 1              # temp file is not a version
    assert sorted(r.k for r in t.read().collect()) == [1]
    removed = t.vacuum(keep_last=1)
    assert "data/v000000002-dead" in removed
    assert not os.path.exists(orphan)


def test_vacuum_reclaims_only_unreferenced(spark, tdir):
    t = SnapshotTable.create(spark, tdir, _df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.overwrite(_df(spark, [(9, "z")]))
    removed = t.vacuum(keep_last=1)
    assert len(removed) == 2             # v1 + v2 data dirs gone
    assert sorted(r.k for r in t.read().collect()) == [9]
    with pytest.raises(FileNotFoundError):
        t.read(1)
    # retained window > history keeps everything
    t2 = SnapshotTable.create(
        spark, tdir + "_2", _df(spark, [(1, "a")]))
    t2.append(_df(spark, [(2, "b")]))
    assert t2.vacuum(keep_last=10) == []
    assert sorted(r.k for r in t2.read(1).collect()) == [1]


def test_manifest_carries_full_live_set(spark, tdir):
    """Reading any version is ONE manifest read — no log replay."""
    t = SnapshotTable.create(spark, tdir, _df(spark, [(1, "a")]))
    for i in range(2, 6):
        t.append(_df(spark, [(i, "x")]))
    m = t.manifest(5)
    assert len(m["live"]) == 5 and m["action"] == "append"
    with open(os.path.join(tdir, "_log", f"{5:020d}.json")) as f:
        assert json.load(f) == m


def test_file_uri_table_reads_from_another_cwd(spark, tmp_path, monkeypatch):
    """A `file://` table keeps its log beside its data, so a reader in
    another working directory sees every version, by URI or plain path."""
    root = tmp_path / "t"
    start, elsewhere = tmp_path / "start", tmp_path / "elsewhere"
    start.mkdir()
    elsewhere.mkdir()
    monkeypatch.chdir(start)
    t = SnapshotTable.create(spark, root.as_uri(), _df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    monkeypatch.chdir(elsewhere)
    for path in (root.as_uri(), str(root)):
        other = SnapshotTable(spark, path)
        assert other.versions() == [1, 2]
        assert sorted(r.k for r in other.read().collect()) == [1, 2]
        assert sorted(r.k for r in other.read(1).collect()) == [1]
    vacuumed = SnapshotTable(spark, root.as_uri())
    assert vacuumed.vacuum(keep_last=1) == []  # v2 still lists both data dirs
    assert vacuumed.versions() == [2]
    assert sorted(r.k for r in vacuumed.read().collect()) == [1, 2]
    assert os.listdir(root / "_log") == [f"{2:020d}.json"]  # no temp, no .crc
    assert not [p for d in (start, elsewhere) for p in d.iterdir()]


# ------------------------------------------------------------ CDC streaming


def test_cdc_stream_exactly_once(spark, tdir):
    """Change batches apply as atomic MERGE commits; replayed batch ids
    are no-ops (Delta txn/appId pattern); each batch boundary stays
    time-travelable."""
    import tempfile

    from hatchery_spark.streaming.stream import (
        cdc_merge_writer,
        run_cdc_stream,
    )

    t = SnapshotTable.create(
        spark, tdir,
        _df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]))
    work = tempfile.mkdtemp(prefix="hs_cdc_")
    changes = f"{work}/changes"
    ckpt = f"{work}/ckpt"
    schema = "k int, v string, _del boolean"
    spark.createDataFrame(
        [(2, "B", False), (5, "e", False), (3, None, True)], schema
    ).coalesce(1).write.mode("append").parquet(changes)

    run_cdc_stream(spark, changes, tdir, ckpt, schema, "k",
                   delete_col="_del", app_id="cdc-test")
    t2 = SnapshotTable(spark, tdir)
    assert {r.k: r.v for r in t2.read().collect()} == {
        1: "a", 2: "B", 4: "d", 5: "e"}
    assert t2.txn_version("cdc-test") == 0
    v_after_b0 = t2.version()

    # second tick: a new change file → exactly one more commit
    spark.createDataFrame([(1, "A", False)], schema).coalesce(1) \
        .write.mode("append").parquet(changes)
    run_cdc_stream(spark, changes, tdir, ckpt, schema, "k",
                   delete_col="_del", app_id="cdc-test")
    t3 = SnapshotTable(spark, tdir)
    assert t3.read().filter("k = 1").collect()[0].v == "A"
    assert t3.txn_version("cdc-test") == 1
    assert t3.version() == v_after_b0 + 1

    # crash-replay: the SAME batch id re-delivered (checkpoint ack lost)
    writer = cdc_merge_writer(tdir, "k", "_del", app_id="cdc-test")
    writer(spark.createDataFrame([(1, "ZZZ", False)], schema), 1)
    t4 = SnapshotTable(spark, tdir)
    assert t4.version() == t3.version()          # no new commit
    assert t4.read().filter("k = 1").collect()[0].v == "A"

    # batch boundaries are time travel points
    assert {r.k for r in t4.read(1).collect()} == {1, 2, 3, 4}
    assert {r.k for r in t4.read(2).collect()} == {1, 2, 4, 5}


def test_optimize_compacts_without_changing_content(spark, tdir):
    t = SnapshotTable.create(spark, tdir, _df(spark, [(1, "a")]))
    for i in range(2, 6):
        t.append(_df(spark, [(i, "x")]))
    def n_files(v):
        m = t.manifest(v)
        return sum(
            len([f for f in os.listdir(os.path.join(tdir, rel))
                 if f.endswith(".parquet")])
            for rel in m["live"])
    before = sorted((r.k, r.v) for r in t.read().collect())
    files_before = n_files(t.version())
    v = t.optimize(target_partitions=1)
    assert sorted((r.k, r.v) for r in t.read(v).collect()) == before
    assert n_files(v) < files_before
    assert n_files(v - 1) == files_before     # history keeps old layout
    assert t.manifest(v)["action"] == "optimize"


def test_change_feed_append_only(spark, tdir):
    t = SnapshotTable.create(spark, tdir, _df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.append(_df(spark, [(3, "c"), (4, "d")]))
    assert sorted(r.k for r in t.changes(1).collect()) == [2, 3, 4]
    assert sorted(r.k for r in t.changes(2, 3).collect()) == [3, 4]
    assert t.changes(3).count() == 0
    t.overwrite(_df(spark, [(9, "z")]))
    with pytest.raises(ValueError, match="rewrote data"):
        t.changes(1)
    # a range that stops before the rewrite still works
    assert sorted(r.k for r in t.changes(1, 3).collect()) == [2, 3, 4]
