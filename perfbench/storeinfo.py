"""Counts read from a store's own artifacts: ``manifest/chunks``,
``manifest/parts`` and ``run_meta.json``.  No Spark, no chunk payloads."""

from __future__ import annotations

import json
import os
from collections import Counter

import pyarrow.dataset as ds

#: codecs the selector's honesty guard falls back to
PLAIN_CODECS = ("plain_int", "plain_str")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def read_manifest(out_dir: str) -> list[dict]:
    """Chunk records (one per chunk and physical column), payload excluded."""
    cols = ["chunk_id", "seq", "col", "codec", "n_rows", "raw_bytes",
            "enc_bytes", "selection", "file", "part_id"]
    d = ds.dataset(os.path.join(out_dir, "manifest", "chunks"),
                   format="parquet", partitioning="hive")
    return d.to_table(columns=cols).to_pylist()


def selection_counts(rows: list[dict]) -> dict:
    """The selector's audit trail, from each record's ``selection`` JSON.

    * ``cached_ratio``: share of records whose codec choice was reused from
      an earlier chunk of the same part (``cached: true``).
    * ``fallbacks``: records where the guard replaced the estimated winner
      with plain (the recorded codec is plain, the argmin estimate is not).
      The guard runs on every chunk, so cached records count too.
    * ``est_error[col]``: over records that ran selection themselves and
      kept their winner, sum |estimate - actual bytes| / sum actual bytes.
    """
    cached = fallbacks = 0
    err: Counter = Counter()
    actual: Counter = Counter()
    for r in rows:
        sel = json.loads(r["selection"])
        ests = sel.get("estimates") or {}
        cached += bool(sel.get("cached"))
        winner = min(ests, key=ests.get) if ests else sel["codec"]
        if sel["codec"] in PLAIN_CODECS and winner not in PLAIN_CODECS:
            fallbacks += 1
            continue
        if sel.get("cached"):  # estimates belong to an earlier chunk
            continue
        if sel["codec"] in ests:
            err[r["col"]] += abs(ests[sel["codec"]] - sel["actual_bytes"])
            actual[r["col"]] += sel["actual_bytes"]
    return {
        "cached_ratio": cached / len(rows) if rows else 0.0,
        "fallbacks": fallbacks,
        "est_error": {c: err[c] / actual[c] for c in actual if actual[c]},
    }


def store_summary(out_dir: str) -> dict:
    rows = read_manifest(out_dir)
    enc_bytes: Counter = Counter()
    codecs: dict[str, Counter] = {}
    for r in rows:
        enc_bytes[r["col"]] += r["enc_bytes"]
        codecs.setdefault(r["col"], Counter())[r["codec"]] += 1
    token_raw = sum(r["raw_bytes"] for r in rows if r["col"] == "token_values")
    parts = ds.dataset(os.path.join(out_dir, "manifest", "parts"),
                       format="parquet", partitioning="hive").count_rows()
    with open(os.path.join(out_dir, "run_meta.json")) as f:
        run_meta = json.load(f)
    return {
        "payload_bytes": sum(enc_bytes.values()),
        "raw_bytes": sum(r["raw_bytes"] for r in rows),
        "manifest_bytes": dir_bytes(os.path.join(out_dir, "manifest")),
        "chunks": len({r["chunk_id"] for r in rows}),
        "files": len({r["file"] for r in rows}),
        "parts": parts,
        "tokens": token_raw // 4,
        "enc_bytes": dict(enc_bytes),
        "codec": {c: n.most_common(1)[0][0] for c, n in codecs.items()},
        "schema": [tuple(t) for t in run_meta["schema"]],
        **selection_counts(rows),
    }
