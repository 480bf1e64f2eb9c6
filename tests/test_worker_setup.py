"""The per-task worker set-up, ``clj_orc_spark.worker.worker_setup`` (the
engine tasks call it as ``pafs.worker_setup``).

PySpark calls ``importlib.invalidate_caches()`` at the start of every task,
and a plain ``zipimport.zipimporter`` answers it by re-reading its whole
archive directory.  The set-up swaps each such importer for one that
re-reads an archive only when the archive changed.  Pinned here: after the
set-up an invalidation reads no unchanged archive, a rewritten archive is
still re-read and its new module imports, the set-up's module imports only
the standard library, and inside Spark the ``mapInArrow`` workers are left
with no plain ``zipimporter``.

The engine session runs the workers' traffic over a Unix domain socket,
and the set-up widens that socket's buffers: a worker's JVM connection is
AF_UNIX with a 4 MiB send buffer, and a temp directory too long for a
socket path moves the sockets to a short private directory.
"""

from __future__ import annotations

import importlib
import json
import os
import socket
import subprocess
import sys
import tempfile
import zipfile
import zipimport

import pyarrow as pa
import pytest

from clj_orc_spark import session
from clj_orc_spark.pipeline import pafs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in modules.items():
            zf.writestr(name, text)


@pytest.fixture()
def import_state():
    """Restore ``sys.path``, ``sys.path_importer_cache`` and the modules
    the test imports, so no replaced importer leaks into other tests."""
    path = list(sys.path)
    cache = dict(sys.path_importer_cache)
    modules = set(sys.modules)
    yield
    sys.path[:] = path
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(cache)
    for name in set(sys.modules) - modules:
        del sys.modules[name]


def test_setup_rereads_only_a_changed_archive(tmp_path, monkeypatch,
                                              import_state):
    archive = str(tmp_path / "steady.zip")
    _write_zip(archive, {
        "steady_a.py": "VALUE = 1\n",
        "steady_pkg/__init__.py": "",
        "steady_pkg/sub.py": "VALUE = 2\n",
    })
    sys.path.insert(0, archive)
    import steady_a  # noqa: F401
    import steady_pkg.sub  # noqa: F401

    keys = [archive, f"{archive}/steady_pkg"]
    for key in keys:  # one importer for the archive, one for its package
        assert type(sys.path_importer_cache[key]) is zipimport.zipimporter

    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert reads.count(archive) == 2  # the plain importers re-read it

    reads.clear()
    pafs.worker_setup()
    assert reads == []  # built from zipimport's directory cache
    for key in keys:
        finder = sys.path_importer_cache[key]
        assert isinstance(finder, zipimport.zipimporter)
        assert type(finder) is not zipimport.zipimporter
    importlib.invalidate_caches()
    assert reads == []

    # a rewritten archive (a different size) is re-read, and its new
    # module imports
    _write_zip(archive, {
        "steady_a.py": "VALUE = 1\n",
        "steady_b.py": "VALUE = 3  # added after the first read\n",
        "steady_pkg/__init__.py": "",
        "steady_pkg/sub.py": "VALUE = 2\n",
    })
    importlib.invalidate_caches()
    assert reads == [archive, archive]
    import steady_b

    assert steady_b.VALUE == 3
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []
    zipimport._zip_directory_cache.pop(archive, None)


def test_setup_module_imports_only_the_standard_library():
    """The set-up only adjusts what a worker already loaded, so its module
    must not pull the engine's imports (numpy, pyarrow) into a worker."""
    code = ("import sys, clj_orc_spark.worker; "
            "print(sorted({'numpy', 'pyarrow', 'pyspark'} & set(sys.modules)))")
    out = subprocess.run([sys.executable, "-c", code], check=True,
                         capture_output=True, text=True).stdout
    assert out.strip() == "[]"


def test_setup_leaves_no_plain_zipimporter_in_workers(spark):
    """Modelled on ``test_arrow_thread_clamp_reaches_workers``: a
    ``mapInArrow`` probe finds, after the set-up, no plain
    ``zipimporter`` — and some replaced one (``pyspark.zip`` and the engine
    zip are imported from archives)."""

    def counts():  # (plain zipimporters, all zip importers) in the worker
        import sys
        import zipimport

        finders = list(sys.path_importer_cache.values())
        plain = sum(type(f) is zipimport.zipimporter for f in finders)
        zips = sum(isinstance(f, zipimport.zipimporter) for f in finders)
        return plain, zips

    def arrow_probe(batches):
        from clj_orc_spark.pipeline import pafs

        pafs.worker_setup()
        plain, zips = counts()
        for batch in batches:
            n = batch.num_rows
            yield pa.RecordBatch.from_arrays(
                [pa.array([plain] * n, pa.int32()),
                 pa.array([zips] * n, pa.int32())],
                names=["plain", "zips"],
            )

    got = (
        spark.range(8).repartition(4)
        .mapInArrow(arrow_probe, "plain int, zips int").collect()
    )
    assert got and all(r.plain == 0 and r.zips > 0 for r in got), got


def test_worker_connection_is_a_unix_socket_with_a_wide_send_buffer(spark):
    """Inside a ``mapInArrow`` task of the engine session every socket the
    worker holds (its JVM connection, under several descriptors) is an
    AF_UNIX stream, and after the set-up its send buffer is at least
    ``min(4 MiB, wmem_max)`` (Linux reports the value doubled)."""
    if not os.path.isdir("/proc/self/fd"):
        pytest.skip("no /proc: the set-up leaves the buffers alone")
    with open("/proc/sys/net/core/wmem_max") as f:
        want = min(4 << 20, int(f.read()))

    def probe(batches):
        import os
        import socket

        from clj_orc_spark.pipeline import pafs

        pafs.worker_setup()
        found = []
        for name in os.listdir("/proc/self/fd"):
            try:
                if not os.readlink(f"/proc/self/fd/{name}").startswith("socket:"):
                    continue
                sock = socket.socket(fileno=os.dup(int(name)))
            except OSError:
                continue
            with sock:
                found.append([int(sock.family), int(sock.type),
                              sock.getsockopt(socket.SOL_SOCKET,
                                              socket.SO_SNDBUF)])
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([json.dumps(found)] * batch.num_rows)],
                names=["socks"])

    got = {r.socks for r in spark.range(8).repartition(4)
           .mapInArrow(probe, "socks string").collect()}
    assert got
    for socks in map(json.loads, got):
        assert socks, "the worker holds no socket"
        for family, kind, sndbuf in socks:
            assert (family, kind) == (socket.AF_UNIX, socket.SOCK_STREAM)
            assert sndbuf >= want, (sndbuf, want)


def test_socket_dir_fits_an_af_unix_path(monkeypatch):
    """A short temp directory holds the sockets itself; a long one is
    replaced by one private directory under ``/tmp``, made once."""
    session._private_socket_dir.cache_clear()
    monkeypatch.setattr(tempfile, "tempdir", "/tmp")
    assert session._socket_dir() == "/tmp"
    assert session._private_socket_dir.cache_info().currsize == 0

    monkeypatch.setattr(tempfile, "tempdir", "/" + "d" * 70)
    d = session._socket_dir()
    try:
        assert os.path.dirname(d) == "/tmp" and os.path.isdir(d)
        assert len(d) + len("/.%s.sock" % ("0" * 36)) <= 107
        assert session._socket_dir() == d
    finally:
        os.rmdir(d)
        session._private_socket_dir.cache_clear()


_LONG_TMP_JOB = """
import json
import os
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from clj_orc_spark.pipeline import decode, encode
from clj_orc_spark.session import get_spark

def double(batches):
    for b in batches:
        yield pa.RecordBatch.from_arrays([pc.multiply(b.column(0), 2)],
                                         names=["id"])

def daemons(jvm_pid):
    # pyspark.daemon processes forked by the JVM itself; their workers are
    # forked by a daemon, so they do not count
    n = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        n += ppid == jvm_pid
    return n

spark = get_spark(master="local[2]")
conf = spark.sparkContext.getConf()
total = (spark.range(100).repartition(2).mapInArrow(double, "id long")
         .groupBy().sum("id").collect()[0][0])
pq.write_table(pa.table({"id": pa.array(range(50), pa.int64())}),
               "src.parquet")
encode(spark, "src.parquet", os.path.abspath("store"), n_partitions=2)
rows = decode(spark, os.path.abspath("store")).count()
jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
print(json.dumps({
    "uds": conf.get("spark.python.unix.domain.socket.enabled"),
    "dir": conf.get("spark.python.unix.domain.socket.dir"),
    "total": total, "rows": rows,
    "daemons": daemons(jvm_pid) if os.path.isdir("/proc") else None}))
spark.stop()
"""


def test_session_starts_under_a_temp_dir_too_long_for_a_socket(tmp_path):
    """With ``TMPDIR`` and the JVM's ``java.io.tmpdir`` 120 characters
    long, PySpark's default socket paths would not fit in an AF_UNIX
    address (the accumulator server raised ``AF_UNIX path too long``):
    a fresh interpreter and JVM still start and run a ``mapInArrow`` job
    over Unix sockets in a private directory, removed at exit.

    The same fresh context then runs an ``encode()`` and a
    ``decode().count()``, and the JVM has forked one ``pyspark.daemon``
    only: the work lists are JVM RDDs, so no plain Python RDD asks Spark's
    second worker factory for a daemon of its own."""
    long_dir = str(tmp_path / "t")
    long_dir += "x" * (120 - len(long_dir))
    os.makedirs(long_dir)
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(
            [REPO] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "TMPDIR": long_dir,
        "SPARK_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": long_dir,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={long_dir}"
            " --conf spark.ui.showConsoleProgress=false pyspark-shell"),
    }
    run = subprocess.run([sys.executable, "-c", _LONG_TMP_JOB], env=env,
                         cwd=long_dir, capture_output=True, text=True,
                         timeout=300)
    assert run.returncode == 0, run.stderr[-2000:]
    got = json.loads(run.stdout.strip().splitlines()[-1])
    assert got["total"] == 2 * sum(range(100))
    assert got["rows"] == 50
    if got["daemons"] is not None:
        assert got["daemons"] == 1, got
    assert got["uds"] == "true"
    assert os.path.dirname(got["dir"]) == "/tmp", got
    assert not os.path.exists(got["dir"])
