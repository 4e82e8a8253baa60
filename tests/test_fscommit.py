"""fscommit, the one commit protocol: a put-if-absent race on the local
FileSystem, and the run manifest and the snapshot log on a non-local
FileSystem (viewfs:// mounted over a temp dir), which takes the
FileContext-rename branch."""

import os
import sys
import threading
import uuid

import pytest

from hatchery_spark import fscommit
from hatchery_spark.lineage import ManifestStore, RouteRunRecord
from hatchery_spark.snapshot import ConcurrentCommitError, SnapshotTable


@pytest.fixture
def viewfs(spark, tmp_path):
    """A viewfs:// root whose /m mount is `tmp_path` on the local FileSystem."""
    name = f"t{uuid.uuid4().hex}"
    key = f"fs.viewfs.mounttable.{name}.link./m"
    conf = spark._jsc.hadoopConfiguration()
    conf.set(key, tmp_path.as_uri())
    yield f"viewfs://{name}/m"
    conf.unset(key)


def test_racing_local_publishers_exactly_one_wins(spark, tmp_path):
    path = str(tmp_path / "log" / "00000000000000000001.json")
    start = threading.Barrier(8)
    won = [None] * 8

    def racer(i):
        start.wait(timeout=60)
        won[i] = fscommit.publish(path, str(i).encode())

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert won.count(True) == 1 and won.count(False) == 7
    assert fscommit.read(path) == str(won.index(True)).encode()
    assert fscommit.publish(path, b"again", replace=True)
    assert fscommit.read(path) == b"again"
    # no temp file and no .crc sidecar is left behind
    assert os.listdir(tmp_path / "log") == ["00000000000000000001.json"]


def test_local_manifest_replace_leaves_only_records(spark, tmp_path):
    store = ManifestStore(str(tmp_path / "manifest"))
    store.commit(RouteRunRecord("2025-06-04 06:00:00", "r", "s", row_count=1))
    store.commit(RouteRunRecord("2025-06-04 06:00:00", "r", "s", row_count=2))
    assert [r.row_count for r in store.all_records()] == [2]
    assert os.listdir(tmp_path / "manifest") == ["2025-06-04T06-00-00__r.json"]


def test_manifest_on_viewfs(spark, viewfs, tmp_path):
    run_ts = "2025-06-04 06:00:00"
    store = ManifestStore(f"{viewfs}/manifest")
    assert store.all_records() == []
    store.commit(RouteRunRecord(run_ts, "b", "s", row_count=1))
    store.commit(RouteRunRecord(run_ts, "a", "s", row_count=1))
    store.commit(RouteRunRecord(run_ts, "b", "s", row_count=2))  # replaces
    assert store.is_committed(run_ts, "b") and store.load(run_ts, "b").row_count == 2
    assert [(r.route_id, r.row_count) for r in store.all_records()] == [("a", 1), ("b", 2)]
    # the mount's target directory holds the same records
    assert ManifestStore(str(tmp_path / "manifest")).load(run_ts, "b").row_count == 2


def test_snapshot_table_on_viewfs(spark, viewfs, tmp_path):
    def df(rows):
        return spark.createDataFrame(rows, "k int, v string")

    path = f"{viewfs}/t"
    a = SnapshotTable.create(spark, path, df([(1, "a")]))
    b = SnapshotTable(spark, path)
    stale = b.version()
    a.append(df([(2, "b")]), writer_id="wa")
    with pytest.raises(ConcurrentCommitError):
        b._commit("append", df([(3, "c")]), list(b.manifest(stale)["live"]),
                  stale, "", "wb", b.manifest(stale)["schema"])
    assert not any("wb" in d for d in os.listdir(tmp_path / "t" / "data"))
    assert sorted(r.k for r in SnapshotTable(spark, path).read().collect()) == [1, 2]
    a.overwrite(df([(9, "z")]))
    assert a.versions() == [1, 2, 3]
    assert len(a.vacuum(keep_last=1)) == 2
    assert a.versions() == [3]
    assert sorted(r.k for r in SnapshotTable(spark, path).read().collect()) == [9]
