"""Turn a run's samples, spans, store artifacts and event log into the
metrics the catalogue (``metrics.py``) names."""

from __future__ import annotations

import sys
from collections import defaultdict

from . import storeinfo
from .metrics import COL_METRICS, PER_LAYER, TOKEN_COLS, unit
from .stats import median, tail, union_length
from .trace import attach_jobs, read_event_log, self_time


def _metric(name: str, value: float) -> dict:
    return {"value": float(value), "unit": unit(name)}


def _per_s(mb: float, seconds: float) -> float:
    return mb / seconds if seconds > 0 else 0.0


def end_to_end(ph) -> dict:
    s = ph.w.samples
    failed = 0
    try:
        store = storeinfo.store_summary(ph.w.out_dir)
    except (OSError, KeyError, ValueError) as e:  # no committed store
        print(f"perfbench: store unreadable: {e!r}", file=sys.stderr)
        store, failed = {"raw_bytes": 0, "payload_bytes": 0, "tokens": 0,
                         "codec": {}}, 1
    raw_mb = store["raw_bytes"] / 1e6
    ratios = s.get("store_ratio", [])
    tl = tail(s.get("query", []))
    values = {
        "setup_s": median(ph.setup_s),
        "encode_mb_per_s": _per_s(raw_mb, median(s.get("encode", []))),
        "decode_mb_per_s": _per_s(raw_mb, median(s.get("decode", []))),
        "verify_mb_per_s": _per_s(raw_mb, median(s.get("verify", []))),
        "scan_p50_s": median(s.get("query", [])),
        "store_ratio_vs_orc": median(ratios),
    }
    return {
        "metrics": {k: _metric(k, v) for k, v in values.items()},
        "extra_failed": failed,
        "details": {
            "iterations": len(ph.loadavg),
            "window_s": ph.window_s,
            "raw_mb": raw_mb,
            "samples_s": {k: v for k, v in s.items()
                          if k in ("encode", "decode", "verify", "query",
                                   "report")},
            "setup_s": ph.setup_s,
            "scan_tail": tl,
            "bits_per_token": _bits_per_token(store),
            # exact per store; more than one value means the store's bytes
            # changed between identical encodes
            "store_ratios": sorted(set(ratios)),
            "codecs": store["codec"],
        },
    }


def _bits_per_token(store: dict) -> float:
    return store["payload_bytes"] * 8 / store["tokens"] if store["tokens"] \
        else 0.0


class _Jobs:
    """Spark jobs and tasks attributed to the spans that started them."""

    def __init__(self, tracer, event_log: str):
        jobs, tasks = read_event_log(event_log)
        attach_jobs(tracer, jobs)
        self.tracer = tracer
        self.by_stage = defaultdict(list)
        for t in tasks:
            self.by_stage[t.stage].append(t)

    def jobs(self, sp):
        return [c for c in self.tracer.children(sp) if c.name == "spark.job"]

    def stages(self, sp) -> list[int]:
        return sorted({st for j in self.jobs(sp) for st in j.attrs["stages"]})

    def tasks(self, sp):
        return [t for st in self.stages(sp) for t in self.by_stage[st]]

    def widest_stage(self, sp):
        sts = [self.by_stage[st] for st in self.stages(sp) if self.by_stage[st]]
        return max(sts, key=len) if sts else []


def _measured(tracer, name: str):
    """``name`` spans outside the untimed warm iterations."""
    return [s for s in tracer.named(name)
            if s.iteration is None or s.iteration >= 0]


def _self_times(tracer, name: str) -> dict[str, list[float]]:
    """Self time of every layer under each ``name`` span, keyed by its path,
    one value per ``name`` span.  A call's Spark jobs form one layer whose
    time is the union of their windows within the call (jobs may overlap),
    so the layers partition the call's wall."""
    out: dict[str, list[float]] = defaultdict(list)
    for root in _measured(tracer, name):
        per: dict[str, float] = defaultdict(float)
        todo = [(root, name)]
        while todo:
            sp, path = todo.pop()
            per[path] += self_time(tracer.spans, sp)
            kids = tracer.children(sp)
            jobs = [(c.start, c.end) for c in kids if c.name == "spark.job"]
            if jobs:
                per[f"{path}/spark.job"] += union_length(jobs, sp.start, sp.end)
            todo.extend((c, f"{path}/{c.name}") for c in kids
                        if c.name != "spark.job")
        for k, v in per.items():
            out[k].append(v)
    return out


def per_layer(untraced, traced, event_log: str) -> dict:
    from .replay import replay_part

    tr = traced.tracer
    J = _Jobs(tr, event_log)
    m: dict[str, float] = {}
    m["session.start_s"] = median(traced.start_s)
    m["session.warmup_s"] = median(traced.warmup_s)

    enc = _measured(tr, "encode")
    m["encode.driver_s"] = median([self_time(tr.spans, s) for s in enc])
    m["encode.jobs_s"] = median([union_length(
        [(j.start, j.end) for j in J.jobs(s)], s.start, s.end) for s in enc])
    m["encode.spark_jobs"] = median([len(J.jobs(s)) for s in enc])
    m["encode.tasks"] = median([len(J.tasks(s)) for s in enc])
    m["encode.task_s"] = median([sum(t.run_s for t in J.tasks(s)) for s in enc])
    m["encode.task_cpu_s"] = median(
        [sum(t.cpu_s for t in J.tasks(s)) for s in enc])
    skew = []
    for s in enc:
        runs = [t.run_s for t in J.widest_stage(s)]
        if runs and median(runs) > 0:
            skew.append(max(runs) / median(runs))
    m["encode.task_max_over_median"] = median(skew)
    m["encode.shuffle_write_bytes"] = median(
        [sum(t.shuffle_write_bytes for t in J.tasks(s)) for s in enc])

    plans = _measured(tr, "query.plan")
    m["decode.plan_s"] = median([s.duration for s in plans])
    m["decode.plan_jobs"] = median([len(J.jobs(s)) for s in plans])
    execs = _measured(tr, "decode.exec")
    m["decode.exec_s"] = median([s.duration for s in execs])
    m["decode.task_s"] = median(
        [sum(t.run_s for t in J.tasks(s)) for s in execs])
    m["decode.files_read"] = median([len(J.widest_stage(s)) for s in execs])

    ws = traced.w.samples
    m["scan.chunks_kept_ratio"] = median(ws.get("chunks_kept_ratio", []))
    m["scan.rows_returned"] = median(ws.get("rows_returned", []))
    m["scan.report_s"] = median(ws.get("report", []))

    ver = _measured(tr, "verify")
    m["verify.spark_jobs"] = median([len(J.jobs(s)) for s in ver])
    m["verify.task_s"] = median([sum(t.run_s for t in J.tasks(s)) for s in ver])
    m["verify.shuffle_write_bytes"] = median(
        [sum(t.shuffle_write_bytes for t in J.tasks(s)) for s in ver])

    store = storeinfo.store_summary(traced.w.out_dir)
    m["store.payload_bytes"] = store["payload_bytes"]
    m["store.manifest_bytes"] = store["manifest_bytes"]
    m["store.chunks"] = store["chunks"]
    m["store.files"] = store["files"]
    m["store.bits_per_token"] = _bits_per_token(store)
    m["selector.cached_ratio"] = store["cached_ratio"]
    m["selector.fallbacks"] = store["fallbacks"]

    m["proc.peak_rss_mb"] = traced.peak_rss / 2**20
    m["proc.cpu_util"] = traced.cpu_s / max(
        1e-9, traced.window_s * traced.nproc)
    attempted = sum(p.run.attempted for p in (untraced, traced))
    failed = sum(p.run.failed for p in (untraced, traced))

    us, layers = untraced.w.samples, {}
    for phase in ("encode", "decode", "verify"):
        m[f"trace.overhead_s.{phase}"] = (
            median(ws.get(phase, [])) - median(us.get(phase, [])))
        layers[phase] = {k: median(v)
                         for k, v in _self_times(tr, phase).items()}
        m[f"trace.gap_s.{phase}"] = (
            sum(layers[phase].values()) - median(us.get(phase, [])))

    rp = replay_part(storeinfo.read_manifest(traced.w.out_dir),
                     store["schema"])
    # the replay is one more operation: it fails if any payload differs
    attempted += 1
    failed += rp["mismatches"] > 0
    m["ops.failed_ratio"] = failed / attempted
    m["decode.chunk_table_s"] = rp["chunk_table_s"]
    per_col = {"selector.select_s": rp["select_s"],
               "selector.est_error": store["est_error"],
               "kernel.encode_s": rp["encode_s"],
               "kernel.decode_s": rp["decode_s"],
               "kernel.enc_bytes": store["enc_bytes"]}
    for prefix in COL_METRICS:
        for c in TOKEN_COLS:
            m[f"{prefix}.{c}"] = per_col[prefix].get(c, 0.0)
    names = [k for k in PER_LAYER if k in m] + sorted(set(m) - set(PER_LAYER))
    return {
        "metrics": {k: _metric(k, m[k]) for k in names},
        "extra_attempted": 1,
        "extra_failed": int(rp["mismatches"] > 0),
        "details": {
            "self_time_s": layers,
            "task_gc_s": {name: median([sum(t.gc_s for t in J.tasks(s))
                                        for s in _measured(tr, name)])
                          for name in ("encode", "decode.exec", "verify")},
            "untraced_s": {k: us.get(k, []) for k in
                           ("encode", "decode", "verify")},
            "traced_s": {k: ws.get(k, []) for k in
                         ("encode", "decode", "verify")},
            "replay": {"part_id": rp["part_id"], "chunks": rp["chunks"],
                       "codec": store["codec"]},
            "store_parts": store["parts"],
            "iterations": [len(untraced.loadavg), len(traced.loadavg)],
        },
    }
