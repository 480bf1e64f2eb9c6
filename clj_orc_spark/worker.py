"""Per-task set-up of the engine's Python workers.

Every Python task on an engine call's path runs :func:`worker_setup` at
its start: the encode task (``make_rowgroup_encoder.run``) and the decode
task (``make_files_decoder.decode_files``).  The work lists that feed them
are JVM RDDs (:func:`~clj_orc_spark.pipeline.encode.work_frame`) and start
no Python worker.  This module imports nothing but the standard library:
the set-up only adjusts what the worker has already loaded (it clamps
pyarrow's pools only when the task imported pyarrow), so importing it
costs a worker nothing.  The engine tasks reach it as
``pafs.worker_setup``.

The set-up also widens the buffers of the worker's socket to the executor
JVM, once per process.  :func:`~clj_orc_spark.session.get_spark` runs that
traffic over a Unix domain socket (over loopback TCP each task waited
~40 ms on the socket: the delayed-ACK timer), and Linux gives an AF_UNIX
stream socket a 208 KiB send buffer where TCP loopback autotunes up to
4 MiB.  With the small buffer the decode task blocks on each write until
the JVM drains it, so decode and its JVM consumer stop overlapping: in
perfbench token-scan runs (4 vCPUs) the Unix socket alone made verify
throughput 9% lower than over TCP, and with 4 MiB buffers 10% higher.
"""

from __future__ import annotations

import contextlib
import functools
import os
import socket
import sys
import zipimport

_SOCKET_BUFFER_BYTES = 4 << 20  # the kernel caps it at net.core.wmem_max


def worker_setup() -> None:
    """Clamp pyarrow's thread pools, keep PySpark's per-task cache
    invalidation from re-reading unchanged zip archives, and widen the
    buffers of the worker's Unix socket to the JVM.

    * **Arrow thread clamp.**  Spark already supplies inter-task
      parallelism — every local[N] slot (or real executor core) runs its
      own Python worker — but EACH worker's pyarrow pools default to
      ``os.cpu_count()`` threads.  Two failure modes on a 32-thread box: at
      local[32] that is ~32x32 CPU threads contending for 32 hardware
      threads (oversubscription tax on every parquet decompress and
      ``pc.*`` call), and at local[8] the 8 workers' 32-thread pools
      silently use the WHOLE machine, so an N-vs-4N scaling comparison is
      polluted — the N-level job secretly runs on all cores.  One CPU
      thread per worker keeps the parallelism where the scheduler can see
      and account for it; two IO threads keep object-store reads
      overlapped.  Opt out (or widen) with ``SPARK_GRAFT_ARROW_CPU``
      (``0`` = leave pyarrow defaults) — e.g. a real cluster running one
      fat executor with many cores per Python worker wants the default
      pools back.  A worker that has not imported pyarrow has no pools to
      clamp; every engine task imports it before it runs.
    * **Zip importers that re-read only a changed archive.**  PySpark 4.1
      calls ``importlib.invalidate_caches()`` at the start of every task
      (``pyspark.worker_util.setup_spark_files``), and on CPython 3.11 that
      makes every cached ``zipimport.zipimporter`` re-read its whole
      archive directory: 26 ms for the spark-core jar (5,359 entries, two
      importers per worker) and 5.4 ms for ``pyspark.zip`` (1,328 entries,
      ~12 importers, one per imported subpackage) — 0.19–0.25 s per task
      in a warmed worker on 4 vCPUs.  A 4-task ``mapInArrow`` job that
      does nothing took 0.70 s without the set-up and 0.22 s with it.
      Each exact ``zipimporter`` in ``sys.path_importer_cache`` is swapped
      for a :class:`_SteadyZipImporter`, which still re-reads an archive
      that was rewritten (``--py-files`` shipped anew).
    * **Socket buffers.**  Once per process, ``SO_SNDBUF`` and
      ``SO_RCVBUF`` of every AF_UNIX stream socket the worker holds (its
      connection to the JVM) are set to 4 MiB, as the module docstring
      explains.  A TCP socket is left alone: setting its buffer switches
      off the kernel's autotuning."""
    pa = sys.modules.get("pyarrow")
    if pa is not None:
        _clamp_arrow_threads(pa)
    _replace_zip_importers()
    _widen_unix_socket_buffers()


def _clamp_arrow_threads(pa) -> None:
    want = os.environ.get("SPARK_GRAFT_ARROW_CPU", "1")
    try:
        n = int(want)
    except ValueError:
        return
    if n <= 0:
        return
    if pa.cpu_count() != n:
        pa.set_cpu_count(n)
    io_n = max(2, n)
    if pa.io_thread_count() != io_n:
        pa.set_io_thread_count(io_n)


@functools.cache  # once per process: the JVM connection outlives tasks
def _widen_unix_socket_buffers() -> None:
    try:
        fds = os.listdir("/proc/self/fd")
    except OSError:
        return  # no /proc: keep the kernel's default buffers
    for name in fds:
        try:
            if not os.readlink(f"/proc/self/fd/{name}").startswith("socket:"):
                continue
            # a duplicate descriptor shares the socket; closing it leaves
            # the worker's own descriptor open
            sock = socket.socket(fileno=os.dup(int(name)))
        except OSError:
            continue
        with sock, contextlib.suppress(OSError):
            if sock.family == socket.AF_UNIX and sock.type == socket.SOCK_STREAM:
                for opt in (socket.SO_SNDBUF, socket.SO_RCVBUF):
                    sock.setsockopt(socket.SOL_SOCKET, opt, _SOCKET_BUFFER_BYTES)


class _SteadyZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches`` re-reads the archive
    directory only when the archive's ``(st_mtime_ns, st_size)`` changed."""

    def __init__(self, path):
        # the directory comes from zipimport._zip_directory_cache, which the
        # replaced importer filled: no archive is read here
        super().__init__(path)
        self._stamp = self._archive_stamp()

    def _archive_stamp(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def invalidate_caches(self):
        stamp = self._archive_stamp()
        if stamp is None or stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = stamp


def _replace_zip_importers() -> None:
    cache = sys.path_importer_cache
    for key, finder in list(cache.items()):
        if type(finder) is zipimport.zipimporter:
            try:
                cache[key] = _SteadyZipImporter(key)
            except zipimport.ZipImportError:
                pass  # the archive is gone: keep the importer as it was
