"""Regenerate PLANS.md: formatted physical plans + pushdown/pruning/codegen
evidence for the headline queries, with codegen spans counted from the
EXECUTED (AQE-final) plan — the pre-execution adaptive plan has no ``*(n)``
markers, which is how round-1's doc ended up claiming spans under a
"spans: 0" line.

Usage: python scripts/gen_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINERS = {
    "filter_agg": "filter pushdown + partial aggregation (map-side combine)",
    "orders_join": "broadcast hash join — no shuffle of the fact side",
    "pricing_summary": "TPC-H Q1-style agg: pushdown + two-phase hash agg",
    "embed_topk": "broadcast query vector + codegen'd dot product + TakeOrdered",
    "window_rank": "row_number window: single shuffle on the partition key, "
                   "rank filter pushed into WindowGroupLimit",
}


def tree_of(formatted: str) -> str:
    lines = []
    for line in formatted.splitlines():
        if line.startswith("== Physical Plan =="):
            lines.append(line)
            continue
        if lines and (line.strip() == "" or re.match(r"^\(\d+\)", line)):
            break
        if lines:
            lines.append(line)
    return "\n".join(lines).rstrip()


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entry_mod
    from clj_orc_spark.plans.explain import (
        executed_codegen_count,
        explain_str,
        pushed_filters,
        read_schema,
    )
    from clj_orc_spark.session import get_spark

    spark = get_spark(master="local[8]", app_name="gen-plans")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical-plan evidence for the headline queries",
        "",
        f"Captured at {os.path.basename(sf)} (local mode; the same plans",
        "Catalyst produces on a cluster). Invariants are enforced by the",
        "`clj_orc_spark/plans/` auditor tests: filters reach the scan's",
        "PushedFilters, ReadSchema carries only referenced columns, and the",
        "hot path sits in ≥1 WholeStageCodegen span — counted from the",
        "EXECUTED (AQE-final) plan, since the pre-execution adaptive plan",
        "shows no `*(n)` markers at all. The encode pipeline (one path for",
        "input paths, staged `df=` frames and stream micro-batches) has ZERO",
        "shuffles; files-mode decode and digest verify have none.",
        "",
    ]
    qs = entry_mod.queries()
    for name, why in HEADLINERS.items():
        df = qs[name](spark, sf)
        spans = executed_codegen_count(df)  # executes, finalizes AQE
        fmt = explain_str(df, "formatted")
        out += [
            f"## {name}",
            "",
            why,
            "",
            "```",
            tree_of(fmt),
            "```",
            "",
            f"- PushedFilters: `{pushed_filters(df) or '(none)'}`",
            f"- ReadSchema: `{read_schema(df)}`",
            f"- WholeStageCodegen spans (executed plan): {spans}",
            "",
        ]
        assert spans >= 1, f"{name}: no codegen spans in the executed plan"

    # encode-side evidence: the fused-scan job graph in prose (mapInArrow
    # stages are python-exec nodes, not codegen — the invariant there is the
    # shuffle count, asserted by tests/test_encode_decode.py)
    out += [
        "## encode — rowgroup scan (the only encode path): ZERO shuffles",
        "",
        "```",
        "collect of one rollup row per part (no InsertIntoHadoopFsRelation)",
        " +- mapInArrow: pyarrow row-group read -> zero-copy chunk slices",
        "    -> codec kernels (selection cached per part, guarded per chunk)",
        "    -> pyarrow chunk-file commit (chunks/part_id=N), then",
        "       pyarrow manifest-file commit (manifest/chunks/part_id=N)",
        "     +- Scan ExistingRDD (pending part ids, one per task)",
        "```",
        "",
        "The driver writes the parts markers (manifest/parts/part_id=N)",
        "with pyarrow from the collected rows: one Spark job per encode.",
        "",
        "part_id is planned from parquet footers (byte-balanced LPT bins of",
        "row groups — the explicit skew control) and persisted in plan.json,",
        "so token bytes NEVER cross a shuffle: on a 1000-executor cluster the",
        "job's only shared resource is the object store.",
        "",
        "## encode — `df=` inputs and stream micro-batches",
        "",
        "A `df=` frame costs one extra job, with no Exchange: Spark writes",
        "it once to `out_dir/_staging/` as parquet, and the rowgroup plan",
        "above covers those files.  `stream_encode` plans each micro-batch",
        "from the files the file source's commit log names for it (part ids",
        "`batch_id*K + i`) and runs the same job.",
        "",
        "- Python stages are Arrow-vectorized; no per-row Python anywhere.",
        "- decode: one task per chunk file, zero shuffles;",
        "  file list comes from the committed manifest, not a filesystem walk.",
        "",
    ]
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
