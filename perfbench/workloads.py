"""The two workloads.  Each is a closed loop with one client: the driver
thread issues the next public call only after the previous one returned.

* ``token-roundtrip``: encode -> full decode -> ``verify_digest`` ->
  ``size_gate`` -> two narrow reads, on the F2 token table.
* ``token-scan``: read-only queries on a store built once per set-up
  (``sort_by="n_tok"``, 1 MiB chunks), with a full decode and a
  ``verify_digest`` after every third read of the query mix.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback

import numpy as np

from . import queries as Q
from .trace import Tracer

TOKEN_ROWS = 16_000
#: token-scan's store is rebuilt in each of the three set-ups: a smaller
#: table keeps that within the run's time
SCAN_ROWS = 10_000
#: token-scan store layout: sorted by n_tok so its zone maps prune
SCAN_CHUNK_BYTES = 1 << 20


class Runner:
    """Issues one public call at a time, times it as a span and counts it:
    a call that raises or whose check fails is a failed operation.  Each
    method returns the result and the call's seconds, or ``(None, None)``
    for a failed call, whose latency is not a sample."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _checked(self, sp, name: str, result, check):
        if check is not None and not check(result):
            sp.attrs["wrong"] = True
            self._fail(name, f"wrong result {result!r}")
            return None, None
        return result, sp.duration

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {why}")
        print(f"perfbench: {name} failed: {why}", file=sys.stderr)

    def call(self, name: str, fn, check=None, **attrs):
        self.attempted += 1
        with self.tracer.span(name, **attrs) as sp:
            try:
                result = fn()
            except Exception:  # counted, not fatal: the loop keeps running
                traceback.print_exc(file=sys.stderr)
                sp.attrs["error"] = True
                self._fail(name, "raised")
                return None, None
        return self._checked(sp, name, result, check)

    def read(self, name: str, out_dir: str, kwargs: dict, action,
             check=None, **attrs):
        """``decode(out_dir, **kwargs)`` then ``action(df)``; the span runs
        from the decode call until the action returns."""
        from clj_orc_spark.pipeline import decode

        self.attempted += 1
        with self.tracer.span(name, **attrs) as sp:
            try:
                with self.tracer.span(name + ".plan"):
                    df = decode(self.spark, out_dir, **kwargs)
                with self.tracer.span(name + ".exec"):
                    result = action(df)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                sp.attrs["error"] = True
                self._fail(name, "raised")
                return None, None
        return self._checked(sp, name, result, check)


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    rows = TOKEN_ROWS
    #: loop iterations per measured window, at least
    min_iterations = 3

    def __init__(self, work: str, inputs: dict, seed: int):
        self.work = work
        self.inp = inputs
        self.values = Q.row_values(inputs["table"])
        self.queries = self.make_queries(
            inputs["table"], np.random.default_rng([seed, 0x5C]))
        self.samples: dict[str, list[float]] = {}
        self.out_dir = ""

    def make_queries(self, table, rng) -> list:
        raise NotImplementedError

    # set-up ---------------------------------------------------------------
    def setup(self, run: Runner) -> None:
        """Work a user pays before the first request (beyond session start
        and warm-up); timed into ``setup_s``."""

    # one iteration of the loop ----------------------------------------------
    def iteration(self, run: Runner, i: int) -> None:
        raise NotImplementedError

    def warm(self, run: Runner) -> None:
        """Untimed calls before the window: the first encode, decode and
        verify in a process pay the JVM's JIT compilation once, not per
        request."""
        self.iteration(run, -1)

    def final(self, run: Runner) -> None:
        """Untimed calls after the loop (exact size accounting)."""

    # shared steps ----------------------------------------------------------
    def fresh_dir(self, tag: str) -> str:
        d = os.path.join(self.work, "out", f"{self.name}-{tag}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def sample(self, key: str, value: float | None) -> None:
        if value is not None:
            self.samples.setdefault(key, []).append(value)

    def encode(self, run: Runner, out_dir: str, **kw) -> None:
        from clj_orc_spark.pipeline import encode

        _, secs = run.call("encode", lambda: encode(
            run.spark, self.inp["parquet"], out_dir, resume=False, **kw))
        self.sample("encode", secs)

    def full_decode(self, run: Runner) -> None:
        _, secs = run.read("decode", self.out_dir, {}, noop_sink)
        self.sample("decode", secs)

    def verify(self, run: Runner) -> None:
        from clj_orc_spark.pipeline import decode, verify_digest

        n = self.inp["n_rows"]
        _, secs = run.call("verify", lambda: verify_digest(
            run.spark.read.parquet(self.inp["parquet"]),
            decode(run.spark, self.out_dir)),
            check=lambda v: v["bit_identical"] and v["total"] == n
            and v["decoded_total"] == n)
        self.sample("verify", secs)

    def size_gate(self, run: Runner) -> None:
        from clj_orc_spark.pipeline import size_gate

        g, _ = run.call("size_gate", lambda: size_gate(
            run.spark, self.out_dir, self.inp["orc_bytes"]))
        if g is not None:
            self.sample("store_ratio", g["ratio"])

    def query(self, run: Runner, q) -> None:
        want = Q.expected(q, self.values)
        _, secs = run.read("query", self.out_dir, q.kwargs,
                           lambda df: Q.digest(df, q),
                           check=lambda got: got == want, query=q.name)
        self.sample("query", secs)
        self.sample("rows_returned", want[0])

    def report(self, run: Runner, q) -> None:
        from clj_orc_spark.pipeline import decode_plan_report

        r, secs = run.call("decode_plan_report", lambda: decode_plan_report(
            run.spark, self.out_dir, **q.report_kwargs),
            check=lambda r: 0 < r["chunks_kept"] <= r["chunks_total"],
            query=q.name)
        self.sample("report", secs)
        if r is not None:
            self.sample("chunks_kept_ratio",
                        r["chunks_kept"] / r["chunks_total"])


class TokenRoundtrip(Workload):
    name = "token-roundtrip"

    def make_queries(self, table, rng):
        # one read kind (narrow n_tok bands, tokens decoded), so the latency
        # median compares like with like
        return Q.token_queries(table, rng)[:2]

    def iteration(self, run, i):
        self.out_dir = self.fresh_dir(str(i % 2))
        self.encode(run, self.out_dir)
        self.full_decode(run)
        self.verify(run)
        self.size_gate(run)
        for q in self.queries:
            self.query(run, q)


class TokenScan(Workload):
    name = "token-scan"
    rows = SCAN_ROWS
    min_iterations = 1  # one cycle of the mix outlasts the window

    def make_queries(self, table, rng):
        return Q.token_queries(table, rng)

    def setup(self, run):
        self.out_dir = self.fresh_dir("store")
        self.encode(run, self.out_dir, sort_by="n_tok",
                    chunk_bytes=SCAN_CHUNK_BYTES)

    def warm(self, run):
        # one read, decode and verify open the store and compile the read
        # path; a whole cycle of the mix would outlast the window
        self.query(run, self.queries[0])
        self.full_decode(run)
        self.verify(run)

    def iteration(self, run, i):
        # a full decode and a verify after every third read: three samples
        # of each per cycle
        for j, q in enumerate(self.queries, 1):
            if q.report:
                self.report(run, q)
            self.query(run, q)
            if j % 3 == 0:
                self.full_decode(run)
                self.verify(run)

    def final(self, run):
        self.size_gate(run)


WORKLOADS = {w.name: w for w in (TokenRoundtrip, TokenScan)}
