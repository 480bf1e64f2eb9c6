"""One scaling-bench encode measurement in a fresh process — the A/B unit
for the executor-side Arrow thread clamp (the first half of
pafs.worker_setup, which every engine task calls).

Each invocation runs run_encode(cores) once and prints its JSON; the driver
shell interleaves invocations with SPARK_GRAFT_ARROW_CPU=0 (pyarrow default
pools) vs unset (clamped) so neighbor noise hits both arms equally.  A fresh
process per point is mandatory: the Python worker daemon inherits the
executor JVM's environment, which is fixed when the FIRST SparkSession in a
process launches the gateway — toggling os.environ between sessions in one
process would silently measure the same arm twice.

Usage: python scripts/clamp_ab.py CORES REP
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scaling_bench import run_encode  # noqa: E402

if __name__ == "__main__":
    cores, rep = int(sys.argv[1]), int(sys.argv[2])
    src = sys.argv[3] if len(sys.argv) > 3 else (
        "/tmp/clj-orc-spark-scaling-src-2000000"
    )
    r = run_encode(cores, src, rep)
    r["arrow_cpu"] = os.environ.get("SPARK_GRAFT_ARROW_CPU", "1(default)")
    r["loadavg"] = os.getloadavg()
    print("CLAMP_AB " + json.dumps(r))
