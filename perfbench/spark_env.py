"""Resource pinning and the Spark session lifecycle, set from outside the
program: ``local[nproc]``, a driver heap sized to the machine, and every
scratch and output directory inside the benchmark's work directory."""

from __future__ import annotations

import os
import subprocess
import sys


def machine() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(x for x in f if x.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_gb": round(mem_kb / 2**20, 1)}


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: the share stolen by
    the host over a window tells a slow machine from a slow program."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__}


def driver_mem_gb(mem_gb: float) -> int:
    """A quarter of the machine, 1 to 4 GiB: the heap holds only plans and
    small collects, and the machine is shared."""
    return int(max(1, min(4, mem_gb // 4)))


def pin(work: str) -> dict:
    """Set the environment the JVM and its Python workers inherit.  Must run
    before pyspark starts a JVM."""
    m = machine()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    heap = f"{driver_mem_gb(m['mem_gb'])}g"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEM": heap,
        "SPARK_GRAFT_CPUS": str(m["nproc"]),
        "PYSPARK_PYTHON": sys.executable,
        # HotSpot writes its perf-data file under /tmp whatever the tmpdir;
        # every JVM started here (launcher and driver) skips it
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-memory {heap}"
            f" --conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
            " --conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })
    import tempfile

    tempfile.tempdir = tmp
    return {**m, "driver_mem": heap, "master": f"local[{m['nproc']}]",
            "local_dirs": local}


_EVENT_LOG_KEYS = ("spark.eventLog.enabled", "spark.eventLog.dir",
                   "spark.eventLog.compress")


def start(nproc: int, event_log_dir: str | None = None):
    """Start a session through the engine's own factory.  With
    ``event_log_dir`` the session writes Spark's event log: the settings are
    JVM system properties the new context's conf loads at creation, and are
    cleared again so a later session in the same JVM does not log."""
    from pyspark import SparkContext

    from clj_orc_spark.session import get_spark

    SparkContext._ensure_initialized()
    system = SparkContext._jvm.java.lang.System
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        for k, v in zip(_EVENT_LOG_KEYS,
                        ("true", "file://" + event_log_dir, "false")):
            system.setProperty(k, v)
    try:
        spark = get_spark(master=f"local[{nproc}]", app_name="perfbench")
    finally:
        for k in _EVENT_LOG_KEYS:
            system.clearProperty(k)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _import_engine(batches):
    import clj_orc_spark.pipeline  # noqa: F401

    yield from batches


def warm_up(spark, nproc: int) -> None:
    """One job with a task per core: starts the Python workers and imports
    the engine in each, so the first timed call does not pay for it."""
    from pyspark import cloudpickle

    # ship this module by value: the workers cannot import the benchmark
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    (spark.range(0, nproc, 1, nproc)
     .mapInArrow(_import_engine, "id long").count())


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
