"""Read sink output back without Spark: row counts, files and bytes."""

from __future__ import annotations

import gzip
import os

import pyarrow.parquet as pq


def data_files(root: str) -> list[str]:
    """Every committed data file under ``root`` (Spark names them part-*)."""
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out.extend(os.path.join(dirpath, f) for f in files if f.startswith("part-"))
    return sorted(out)


def _lines(path: str, prefix: bytes | None = None) -> int:
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rb") as f:
        if prefix is None:
            return sum(1 for _ in f)
        return sum(1 for line in f if line.startswith(prefix))


def count_rows(path: str, sink_format: str) -> int:
    """Records in one data file. A YAML record is one list item, so it is
    counted by the lines that open an item ("- ")."""
    if sink_format == "parquet":
        return pq.ParquetFile(path).metadata.num_rows
    if sink_format == "yaml":
        return _lines(path, b"- ")
    return _lines(path)  # json and log: one record per line


def sink_rows(root: str, sink_format: str) -> int:
    return sum(count_rows(f, sink_format) for f in data_files(root))


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime_ns) of every file under ``root``, for untouched-ness."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def partition_values(root: str, key: str) -> set[str]:
    """Values of a ``key=value`` partition directory level anywhere under root."""
    values = set()
    for dirpath, dirs, _files in os.walk(root):
        values.update(d.split("=", 1)[1] for d in dirs if d.startswith(f"{key}="))
    return values
