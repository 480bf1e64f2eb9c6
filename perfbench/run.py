"""Engine benchmark entry point.

    python3 perfbench/run.py --workload token-roundtrip --seed 1 \\
        --seconds 12 --trace 0

Runs from the repository root against the unmodified ``clj_orc_spark``
package.  ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a
separate run that prints the per-layer metrics.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``; the line before it holds the details (machine, versions,
load average per iteration, raw samples, tail percentile, codecs).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

#: set-ups per untraced run; setup_s is their median
SETUPS = 3
#: stop starting iterations this long after the process started, even below
#: a workload's min_iterations: when the machine is slow a run measures fewer
#: iterations instead of running long, which keeps the benchmark's total
#: time bounded (on an unloaded 4-core machine the minimum iterations of
#: both workloads have started by then)
HARD_STOP_S = 60.0


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Phase:
    """Set-ups followed by one measured window, on one tracer."""

    def __init__(self, workload, nproc: int, tracer, event_log: str | None):
        self.w = workload
        self.nproc = nproc
        self.tracer = tracer
        self.event_log = event_log
        self.setup_s: list[float] = []
        self.start_s: list[float] = []
        self.warmup_s: list[float] = []
        self.loadavg: list[float] = []
        self.spark = None
        self.run = None
        self.window_s = 0.0
        self.cpu_s = 0.0
        self.steal_share = 0.0
        self.peak_rss = 0

    def set_up(self, setups: int) -> None:
        from perfbench import spark_env
        from perfbench.workloads import Runner

        for k in range(setups):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.time()
            with self.tracer.span("setup"):
                with self.tracer.span("session.start"):
                    self.spark = spark_env.start(self.nproc, self.event_log)
                t1 = time.time()
                if self.event_log is not None:
                    sc = self.spark.sparkContext
                    self.tracer.labeler = (
                        lambda sid, name: sc.setJobGroup(str(sid), name))
                with self.tracer.span("session.warmup"):
                    spark_env.warm_up(self.spark, self.nproc)
                t2 = time.time()
                if self.run is None:
                    self.run = Runner(self.spark, self.tracer)
                self.run.spark = self.spark
                self.w.setup(self.run)
            self.setup_s.append(time.time() - t0)
            self.start_s.append(t1 - t0)
            self.warmup_s.append(t2 - t1)

    def measure(self, seconds: float, min_iterations: int, t_process: float):
        """Closed loop for ``seconds`` and at least ``min_iterations``,
        after the workload's untimed warm-up calls."""
        from perfbench import spark_env
        from perfbench.trace import tree_cpu_s

        kept = {k: list(v) for k, v in self.w.samples.items()}
        self.tracer.iteration = -1  # a negative iteration id marks warm-up
        with self.tracer.span("discarded"):
            self.w.warm(self.run)
        self.w.samples = kept
        t0 = time.time()
        cpu0 = tree_cpu_s(os.getpid())
        steal0, ticks0 = spark_env.cpu_ticks()
        i = 0
        while True:
            self.tracer.iteration = i
            la = spark_env.loadavg()
            self.loadavg.append(la)
            with self.tracer.span("iteration", loadavg=la):
                self.w.iteration(self.run, i)
            i += 1
            now = time.time()
            if now - t_process > HARD_STOP_S:
                break
            if now - t0 >= seconds and i >= min_iterations:
                break
        self.window_s = time.time() - t0
        self.cpu_s = tree_cpu_s(os.getpid()) - cpu0
        steal1, ticks1 = spark_env.cpu_ticks()
        self.steal_share = (steal1 - steal0) / max(1, ticks1 - ticks0)
        self.tracer.iteration = None
        self.tracer.labeler = None
        self.w.final(self.run)


def main(argv=None) -> int:
    t_process = time.time()
    if not os.path.isdir(os.path.join(ROOT, "clj_orc_spark")):
        print(f"perfbench: no clj_orc_spark package under {ROOT}; run from a "
              "full checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)

    from perfbench import spark_env

    pinned = spark_env.pin(WORK)
    from perfbench import inputs, report
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    wcls = WORKLOADS[args.workload]
    inp = inputs.materialize(os.path.join(WORK, "inputs"), wcls.rows,
                             args.seed)
    nproc = pinned["nproc"]
    phases: list[Phase] = []
    event_log = os.path.join(WORK, "eventlog")
    shutil.rmtree(event_log, ignore_errors=True)
    try:
        if not args.trace:
            ph = Phase(wcls(WORK, inp, args.seed), nproc, Tracer(), None)
            phases.append(ph)
            ph.set_up(SETUPS)
            ph.measure(args.seconds, ph.w.min_iterations, t_process)
            result = report.end_to_end(ph)
        else:
            # the same loop twice in one process: untraced, then traced (job
            # labels + event log + process sampler); their difference is the
            # tracing overhead.  An untimed set-up first starts the JVM, so
            # neither phase's set-up pays the cold start.
            from perfbench.trace import ProcSampler

            cold = Phase(wcls(WORK, inp, args.seed), nproc, Tracer(), None)
            phases.append(cold)
            cold.set_up(1)
            cold.spark.stop()
            cold.spark = None
            for traced in (False, True):
                ph = Phase(wcls(WORK, inp, args.seed), nproc, Tracer(),
                           event_log if traced else None)
                phases.append(ph)
                ph.set_up(1)
                sampler = ProcSampler() if traced else contextlib.nullcontext()
                with sampler:
                    ph.measure(args.seconds / 2,
                               max(1, ph.w.min_iterations - 2), t_process)
                if traced:
                    ph.peak_rss = sampler.peak_rss
                # stopping the context completes its event log
                ph.spark.stop()
                ph.spark = None
            result = report.per_layer(phases[1], phases[2], event_log)
    finally:
        for ph in phases:
            if ph.spark is not None:
                ph.spark.stop()
        spark_env.shutdown_jvm()
        for d in ("out", "spark-local", "tmp", "eventlog"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    for i, ph in enumerate(phases):
        ph.tracer.dump(os.path.join(
            WORK, "spans",
            f"{args.workload}-s{args.seed}-t{args.trace}-phase{i}.jsonl"))
    attempted = sum(ph.run.attempted for ph in phases if ph.run) + result.pop(
        "extra_attempted", 0)
    failed = sum(ph.run.failed for ph in phases if ph.run) + result.pop(
        "extra_failed", 0)
    details = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "load_model": "closed loop, one client",
        "machine": pinned, "versions": spark_env.versions(),
        "loadavg_per_iteration": [ph.loadavg for ph in phases],
        "steal_share_per_window": [ph.steal_share for ph in phases],
        "failed_ops_ratio": failed / max(1, attempted),
        "errors": [e for ph in phases if ph.run for e in ph.run.errors][:20],
        **result.pop("details"),
    }
    print(json.dumps(details))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
