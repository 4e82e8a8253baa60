"""One commit protocol on the Hadoop FileSystem, and the package's only
FileSystem resolver, so a plain path and any Hadoop URI name the same store.

`publish` writes a hidden temp sibling, `hsync`s it, then makes it visible in
one atomic step: on the local FileSystem (temp written raw, no `.crc`)
`os.link` (put-if-absent) or `os.replace`, since Hadoop promises no atomic
no-overwrite create or rename there; elsewhere `FileContext.rename`.
"""

from __future__ import annotations

import os
import uuid

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext


def fs_path(path: str):
    """(FileSystem, qualified Hadoop Path) of `path`, resolved with the
    running SparkContext's Hadoop configuration."""
    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("fscommit needs a running SparkContext")
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(p)


def publish(path: str, data: bytes, replace: bool = False) -> bool:
    """Atomically make `data` the content of `path`. With `replace=False`,
    return False and change nothing if `path` already exists."""
    fs, dst = fs_path(path)
    sc = SparkContext._active_spark_context
    hadoop = sc._jvm.org.apache.hadoop.fs
    tmp = hadoop.Path(dst.getParent(), f".{dst.getName()}.{uuid.uuid4().hex}.tmp")
    local = fs.getScheme() == "file"
    out_fs = fs.getRaw() if local else fs
    try:
        out = out_fs.create(tmp, False)
        try:
            out.write(data)
            out.hsync()
        finally:
            out.close()
        if local:
            src, to = (out_fs.pathToFile(p).getPath() for p in (tmp, dst))
            (os.replace if replace else os.link)(src, to)
        else:
            mode = sc._gateway.new_array(hadoop.Options.Rename, 1)
            mode[0] = getattr(hadoop.Options.Rename, "OVERWRITE" if replace else "NONE")
            fc = hadoop.FileContext.getFileContext(fs.getUri(), fs.getConf())
            fc.rename(tmp, dst, mode)
        return True
    except FileExistsError:
        return False
    except Py4JJavaError as e:
        if e.java_exception.getClass().getSimpleName() != "FileAlreadyExistsException":
            raise
        return False
    finally:
        out_fs.delete(tmp, False)


def read(path: str) -> bytes | None:
    """The content of `path`, or None if it does not exist."""
    fs, p = fs_path(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def glob(pattern: str) -> list[str]:
    """Qualified paths matching the Hadoop glob `pattern`, in path order."""
    fs, p = fs_path(pattern)
    return sorted(st.getPath().toString() for st in fs.globStatus(p) or [])


def delete(path: str) -> bool:
    """Remove `path`, recursively; False if it did not exist."""
    fs, p = fs_path(path)
    return bool(fs.delete(p, True))
