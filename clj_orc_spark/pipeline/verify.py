"""Round-trip verification: decoded output ≡ source, bit-identical, at ≤ ORC size.

The engine-scale version of the reference's golden round-trip assertions
(`test/orc/read_test.clj:33-39`: write known columns, read back, assert exact
per-row equality).  Per BASELINE.json input_hint the per-row invariant is
**token-array equality**; NaN→nil normalization (`src/orc/col.clj:73-74`) is
deliberately NOT replicated — bit identity wins over reference quirks.

One full-outer join on ``doc_id`` yields every violation class in a single
shuffle: missing rows, extra rows, and per-column mismatches (array equality
on ``tokens`` is a native Spark comparison — stays in codegen, no Python).
"""

from __future__ import annotations

import os

import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from . import pafs


def verify_digest(source: DataFrame, decoded: DataFrame) -> dict:
    """Shuffle-free bit-identity evidence: per-row xxhash64 over all columns,
    folded into an order-insensitive set digest (count, bit_xor, decimal sum).

    At 100 TB the exact full-outer join moves every token through a shuffle
    twice; this does two scans and a scalar agg instead.  Collision odds are
    ~2^-64 per row — paired with :func:`verify_roundtrip` in tests, this is
    the scale path.
    """

    def hashed(df: DataFrame, side: int):
        h = F.xxhash64("doc_id", "tokens", "n_tok", "source")
        return df.select(h.alias("h"), F.lit(side).alias("side"))

    # ONE job for both digests: the two legs are independent scans, so a
    # union lets the scheduler run their tasks concurrently — the source
    # parquet scan back-fills cores freed by the decode leg's stragglers
    # (guide §2.6) instead of running serially after it.  The final
    # groupBy("side") exchanges 2 tiny partial rows per task, nothing more.
    rows = (
        hashed(source, 0).unionByName(hashed(decoded, 1))
        .groupBy("side")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.expr("bit_xor(h)").alias("hxor"),
            F.sum(F.col("h").cast("decimal(38,0)")).alias("hsum"),
        )
        .collect()
    )
    empty = {"cnt": 0, "hxor": None, "hsum": None}
    by_side = {r["side"]: r for r in rows}
    s, d = by_side.get(0, empty), by_side.get(1, empty)
    report = {
        "total": int(s["cnt"]),
        "decoded_total": int(d["cnt"]),
        "bit_identical": (
            s["cnt"] == d["cnt"] and s["hxor"] == d["hxor"] and s["hsum"] == d["hsum"]
        ),
        "method": "xxhash64-set-digest",
    }
    return report


def verify_roundtrip(source: DataFrame, decoded: DataFrame) -> dict:
    s = source.select(
        F.col("doc_id").alias("s_doc_id"),
        F.col("tokens").alias("s_tokens"),
        F.col("n_tok").alias("s_n_tok"),
        F.col("source").alias("s_source"),
    )
    d = decoded.select(
        F.col("doc_id").alias("d_doc_id"),
        F.col("tokens").alias("d_tokens"),
        F.col("n_tok").alias("d_n_tok"),
        F.col("source").alias("d_source"),
    )
    joined = s.join(d, F.col("s_doc_id") == F.col("d_doc_id"), "full_outer")
    agg = joined.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("d_doc_id").isNull(), 1).otherwise(0)).alias("missing"),
        F.sum(F.when(F.col("s_doc_id").isNull(), 1).otherwise(0)).alias("extra"),
        F.sum(
            F.when(
                F.col("s_doc_id").isNotNull()
                & F.col("d_doc_id").isNotNull()
                & ~(F.col("s_tokens") == F.col("d_tokens")),
                1,
            ).otherwise(0)
        ).alias("tokens_mismatch"),
        F.sum(
            F.when(
                F.col("s_doc_id").isNotNull()
                & F.col("d_doc_id").isNotNull()
                & (
                    (F.col("s_n_tok") != F.col("d_n_tok"))
                    | (F.col("s_source") != F.col("d_source"))
                ),
                1,
            ).otherwise(0)
        ).alias("scalar_mismatch"),
    ).collect()[0]
    report = {k: int(agg[k] or 0) for k in
              ("total", "missing", "extra", "tokens_mismatch", "scalar_mismatch")}
    report["bit_identical"] = (
        report["missing"] == 0
        and report["extra"] == 0
        and report["tokens_mismatch"] == 0
        and report["scalar_mismatch"] == 0
    )
    return report


def _visible_bytes(path: str) -> int:
    """Bytes of the files under ``path`` that readers see, with pyarrow:
    entries named ``.*`` or ``_*`` (Hadoop ``.crc`` sidecars, ``_SUCCESS``,
    temp names) are skipped — an object store has none of them, so the
    size gate must not depend on the filesystem."""
    fs, root = pafs.resolve(pafs.absolute(path))
    total = 0
    for info in pafs.file_infos(fs, root):
        rel = info.path[len(root):].strip("/")
        if not any(p.startswith((".", "_")) for p in rel.split("/")):
            total += int(info.size or 0)
    return total


def encoded_size_bytes(spark, out_dir: str) -> dict:
    """Engine output accounting: payload bytes (the manifest's
    ``enc_bytes``, read on the driver by decode's manifest reader) +
    manifest (meta) bytes sized with pyarrow, which reaches object stores
    too — a bare os.walk would silently report 0 there and let the size
    gate pass a store that exceeds the bar."""
    from .decode import _read_manifest

    m = _read_manifest(out_dir, ["enc_bytes"])
    payload = 0 if m is None else pc.sum(m.column("enc_bytes")).as_py() or 0
    meta_bytes = _visible_bytes(os.path.join(out_dir, "manifest"))
    return {
        "payload_bytes": int(payload),
        "manifest_bytes": int(meta_bytes),
        "total_bytes": int(payload) + int(meta_bytes),
    }


def size_gate(spark, out_dir: str, reference_orc_bytes: int) -> dict:
    sizes = encoded_size_bytes(spark, out_dir)
    sizes["reference_orc_bytes"] = int(reference_orc_bytes)
    sizes["ratio"] = sizes["total_bytes"] / max(1, reference_orc_bytes)
    sizes["under_bar"] = sizes["total_bytes"] <= reference_orc_bytes
    return sizes
