"""Metric catalogue: every metric's name, unit and direction, and for each
per-layer metric the end-to-end metric and workload it should move.

``BENCHMARK.json`` lists the same names; ``tests/test_catalogue.py`` keeps
the two in step.  Later changes quote these names, so they stay stable.
"""

from __future__ import annotations

#: physical payload columns of the token-table store (the list column keeps
#: its historical payload names); per-column metrics range over these
TOKEN_COLS = ("doc_id", "token_values", "offsets", "n_tok", "source")

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "encode_mb_per_s": ("MB/s", "higher"),
    "decode_mb_per_s": ("MB/s", "higher"),
    "verify_mb_per_s": ("MB/s", "higher"),
    "scan_p50_s": ("s", "lower"),
    "store_ratio_vs_orc": ("ratio", "lower"),
}

TR, TS = "token-roundtrip", "token-scan"

# name -> (unit, better, moves: "<end-to-end metric> on <workload>")
_LAYER = {
    "session.start_s": ("s", "lower", f"setup_s on {TR}, {TS}"),
    "session.warmup_s": ("s", "lower", f"setup_s on {TR}, {TS}"),
    "encode.driver_s": ("s", "lower",
                        f"encode_mb_per_s on {TR}; setup_s on {TS}"),
    "encode.jobs_s": ("s", "lower", f"encode_mb_per_s on {TR}"),
    "encode.spark_jobs": ("count", "lower", f"encode_mb_per_s on {TR}"),
    "encode.tasks": ("count", "lower", f"encode_mb_per_s on {TR}"),
    "encode.task_s": ("s", "lower", f"encode_mb_per_s on {TR}"),
    "encode.task_cpu_s": ("s", "lower", f"encode_mb_per_s on {TR}"),
    "encode.task_max_over_median": ("ratio", "lower",
                                    f"encode_mb_per_s on {TR}"),
    "encode.shuffle_write_bytes": ("bytes", "lower",
                                   f"encode_mb_per_s on {TR} (stays 0)"),
    "selector.cached_ratio": ("ratio", "higher",
                              f"setup_s on {TS}; near 0 on {TR}"),
    "selector.fallbacks": ("count", "lower", f"store_ratio_vs_orc on {TR}"),
    "decode.plan_s": ("s", "lower", f"scan_p50_s on {TS}"),
    "decode.plan_jobs": ("count", "lower", f"scan_p50_s on {TS}"),
    "decode.exec_s": ("s", "lower", f"decode_mb_per_s on {TR}"),
    "decode.task_s": ("s", "lower", f"decode_mb_per_s on {TR}"),
    "decode.files_read": ("count", "lower", f"decode_mb_per_s on {TR}"),
    "decode.chunk_table_s": ("s", "lower",
                             f"decode_mb_per_s, verify_mb_per_s on {TR}"),
    "scan.chunks_kept_ratio": ("ratio", "lower", f"scan_p50_s on {TS}"),
    "scan.rows_returned": ("count", "higher", f"scan_p50_s on {TS}"),
    "scan.report_s": ("s", "lower", f"scan_p50_s on {TS}"),
    "verify.spark_jobs": ("count", "lower", f"verify_mb_per_s on {TR}"),
    "verify.task_s": ("s", "lower", f"verify_mb_per_s on {TR}"),
    "verify.shuffle_write_bytes": ("bytes", "lower",
                                   f"verify_mb_per_s on {TR}"),
    "store.payload_bytes": ("bytes", "lower", f"store_ratio_vs_orc on {TR}"),
    "store.manifest_bytes": ("bytes", "lower", f"store_ratio_vs_orc on {TS}"),
    "store.chunks": ("count", "lower", f"store_ratio_vs_orc on {TS}"),
    "store.files": ("count", "lower", f"store_ratio_vs_orc on {TS}"),
    "store.bits_per_token": ("bits", "lower", f"store_ratio_vs_orc on {TR}"),
    "proc.peak_rss_mb": ("MB", "lower", "the memory a speed-up trades"),
    "proc.cpu_util": ("ratio", "higher",
                      "whether a kernel win can show (CPU-bound phase)"),
    "ops.failed_ratio": ("ratio", "lower", "correctness on every workload"),
}
for _phase in ("encode", "decode", "verify"):
    _LAYER[f"trace.overhead_s.{_phase}"] = (
        "s", "lower", f"tracing cost of {_phase} (traced - untraced median)")
    _LAYER[f"trace.gap_s.{_phase}"] = (
        "s", "lower", f"{_phase} self times summed minus its untraced wall")
#: per physical column: prefix -> (unit, better, moves)
COL_METRICS = {
    "selector.select_s": ("s", "lower", f"encode_mb_per_s on {TR}"),
    "selector.est_error": ("ratio", "lower", f"store_ratio_vs_orc on {TR}"),
    "kernel.encode_s": ("s", "lower", f"encode_mb_per_s on {TR}"),
    "kernel.decode_s": ("s", "lower",
                        f"decode_mb_per_s, verify_mb_per_s on {TR}; "
                        f"scan_p50_s on {TS} for token_values only"),
    "kernel.enc_bytes": ("bytes", "lower", f"store_ratio_vs_orc on {TR}"),
}
for _p, _spec in COL_METRICS.items():
    for _c in TOKEN_COLS:
        _LAYER[f"{_p}.{_c}"] = _spec
PER_LAYER = _LAYER


def unit(name: str) -> str:
    return {**END_TO_END, **PER_LAYER}[name][0]
