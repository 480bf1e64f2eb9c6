"""Filesystem-agnostic sidecar text I/O via the JVM Hadoop FileSystem.

The store's parquet files (chunk files, manifest files, parts markers) are
written and read with pyarrow (pafs.py).  What used to break on an object
store was the engine's OWN small text files — plan.json, run_meta.json,
stream_meta.json, the stream checkpoint's source log — read and written
with plain POSIX calls.  These helpers route scheme-qualified paths through
the Hadoop FS API (same credentials/config as the Spark job, e.g. the
reference's S3A flow `src/orc/read.clj:27-49` mapped by
sources/orc.py:configure); bare local paths keep the fast os.* calls.
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
