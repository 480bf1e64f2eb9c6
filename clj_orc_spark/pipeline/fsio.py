"""Filesystem-agnostic sidecar I/O via the JVM Hadoop FileSystem.

The manifest records go through Spark's writer, which speaks any configured
filesystem (s3a://, gs://, hdfs://, file://); chunk files and parts markers
are written with pyarrow (pafs.py).  What used
to break on an object store was the engine's OWN small-file I/O — plan.json,
run_meta.json, "does this directory hold parquet yet" probes — all plain
POSIX calls.  These helpers route scheme-qualified paths through the Hadoop
FS API (same credentials/config as the Spark job, e.g. the reference's S3A
flow `src/orc/read.clj:27-49` mapped by sources/orc.py:configure); bare local
paths keep the fast os.* calls.
"""

from __future__ import annotations

import os


def is_local(path: str) -> bool:
    return "://" not in path


def _fs(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def exists(spark, path: str) -> bool:
    if is_local(path):
        return os.path.exists(path)
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath))


def read_text(spark, path: str) -> str:
    if is_local(path):
        with open(path) as f:
            return f.read()
    jvm = spark._jvm
    fs, jpath = _fs(spark, path)
    stream = fs.open(jpath)
    bos = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, bos, 65536, True)
    return bytes(bos.toByteArray()).decode("utf-8")


def write_text(spark, path: str, text: str) -> None:
    if is_local(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
        return
    fs, jpath = _fs(spark, path)
    out = fs.create(jpath, True)
    out.write(bytearray(text.encode("utf-8")))
    out.close()


def _raise_unless_missing(err: OSError) -> None:
    if not isinstance(err, FileNotFoundError):
        raise err


def has_parquet(spark, path: str) -> bool:
    """True when any .parquet file exists under ``path`` (recursive; stops at
    the first hit — on an object store this is one bounded LIST, not a walk
    of the whole prefix).  A missing path holds none; any other listing
    error (permission, network, credentials) raises, since callers read
    False as "nothing written yet"."""
    if is_local(path):
        for _, _, files in os.walk(path, onerror=_raise_unless_missing):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return False
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            return True
    return False
