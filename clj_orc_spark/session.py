"""SparkSession factory with engine-appropriate defaults.

Single place for the knobs that matter at 100 TB: AQE on, bounded Arrow
batches (the analog of the reference's ``bat-size``/``buf-size`` memory
governor, `src/orc/read.clj:14,16`), shuffle partitions sized to the
local[] stand-in (a real deployment overrides via spark-submit --conf),
and JVM↔Python-worker traffic over Unix domain sockets.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import socketserver
import tempfile

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 4096  # rows per Arrow batch crossing the JVM↔Python boundary

# PySpark and the JVM name each socket ``<dir>/.<uuid4>.sock`` (43 bytes
# after ``<dir>``); Linux allows at most 107 bytes in an AF_UNIX path
_SOCKET_NAME_BYTES = len("/.00000000-0000-0000-0000-000000000000.sock")
_SOCKET_PATH_MAX = 107


def _local_dir() -> str:
    """Shuffle/spill scratch dir.  Prefer RAM-backed /dev/shm when present:
    on a real cluster every node brings its own NVMe, so shuffle bandwidth
    scales with cluster size — a single shared disk in this sandbox would
    serialize it and misrepresent scaling.  Override: SPARK_LOCAL_DIRS."""
    env = os.environ.get("SPARK_LOCAL_DIRS")
    if env:
        return env
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/clj-orc-spark-local"
        os.makedirs(d, exist_ok=True)
        return d
    return "/tmp"


@functools.cache
def _private_socket_dir() -> str | None:
    """A socket directory under ``/tmp`` for this process, removed at exit."""
    try:
        d = tempfile.mkdtemp(prefix="clj-orc-spark-", dir="/tmp")
    except OSError:
        return None
    atexit.register(shutil.rmtree, d, True)
    return d


def _socket_dir() -> str | None:
    """Directory for the Python workers' Unix domain sockets, or ``None``
    to stay on loopback TCP.

    Over TCP every task waits ~40 ms on the worker's socket (the delayed-ACK
    timer), on every engine call's critical path.  ``tempfile.gettempdir()``
    is used when its socket paths fit in an AF_UNIX address; otherwise a
    private directory under ``/tmp``.  ``None`` where Python has no
    ``UnixStreamServer`` (PySpark's accumulator server needs it) or no
    directory fits."""
    if not hasattr(socketserver, "UnixStreamServer"):
        return None

    def fits(d: str | None) -> bool:
        return (d is not None
                and len(os.fsencode(d)) + _SOCKET_NAME_BYTES <= _SOCKET_PATH_MAX)

    d = tempfile.gettempdir()
    if not fits(d):
        d = _private_socket_dir()
    return d if fits(d) else None


def package_zip() -> str:
    """Zip this package for worker shipment (the --py-files artifact).

    ``spark-submit --py-files $(python -c 'from clj_orc_spark.session import
    package_zip; print(package_zip())')`` is the cluster deployment path
    (north_rule); :func:`get_spark` also ships it automatically so local
    drivers work from any cwd.
    """
    import zipfile

    import clj_orc_spark

    pkg_dir = os.path.dirname(os.path.abspath(clj_orc_spark.__file__))
    zpath = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"clj_orc_spark-{clj_orc_spark.__version__}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "clj_orc_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    return zpath


def get_spark(master: str | None = None, app_name: str = "clj-orc-spark") -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark formats and extracts fields of TIMESTAMP values (decoded
        # ts_us_utc columns, the parity functions' date/time strings) in
        # the session tz; pin UTC so results are machine-independent —
        # also what a multi-executor cluster should run anyway
        .config("spark.sql.session.timeZone", "UTC")
        # write parquet TIMESTAMP_MICROS, not INT96: pyarrow reads INT96 as
        # naive ns (tz-awareness lost), micros keep the isAdjustedToUTC flag
        # the temporal kinds (ts_us vs ts_us_utc) are derived from
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.files.maxPartitionBytes", str(32 << 20))
        .config("spark.local.dir", _local_dir())
        # vectorized parquet read for array<int32> token columns (off by
        # default; measured ~20% scan win on the 10.6 GB token table)
        .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
        .config("spark.sql.parquet.compression.codec", "uncompressed")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    sock_dir = _socket_dir()
    builder = builder.config("spark.python.unix.domain.socket.enabled",
                             "false" if sock_dir is None else "true")
    if sock_dir is not None:
        builder = builder.config("spark.python.unix.domain.socket.dir", sock_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.addPyFile(package_zip())
    return spark
