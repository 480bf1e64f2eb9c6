"""Serial kernel replay on the driver: one part's chunks, re-decoded with
``kernels.decode_any`` and re-encoded with ``selector.encode_column`` from
the payloads the store holds, timed per physical column; and each chunk
decoded whole with ``decode_chunk_table`` (CRC checks, list rebuild, table
assembly on top of the kernels).

The replay reuses one selection cache across the part's chunks, as the
encoder does, so every re-encoded payload must equal the stored one byte for
byte, and every decoded chunk must hold the rows the manifest recorded; a
difference is counted as a failed operation.  Token stores hold only
integer and string payloads.
"""

from __future__ import annotations

import json
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq


def _select(values, tag: str):
    from clj_orc_spark import selector

    if tag == "str":
        return selector.select_str(values)
    return selector.select_int(values)


def replay_part(manifest_rows: list[dict], schema) -> dict:
    """Replay the lowest-numbered part.  Returns per-column seconds for
    ``decode_any`` (``decode_s``), for the selection pass alone
    (``select_s``) and for ``encode_column`` with the choice cached
    (``encode_s``, the kernels' self time), the summed seconds of
    ``decode_chunk_table`` over the part's chunks (``chunk_table_s``), and
    mismatch counts."""
    from clj_orc_spark.kernels import StringCol, decode_any
    from clj_orc_spark.pipeline.decode import decode_chunk_table
    from clj_orc_spark.selector import encode_column

    part = min(r["part_id"] for r in manifest_rows)
    files = sorted({r["file"] for r in manifest_rows if r["part_id"] == part})
    n_rows = {r["chunk_id"]: r["n_rows"] for r in manifest_rows
              if r["part_id"] == part}
    tables = []
    for f in files:
        path = f[len("file://"):] if f.startswith("file://") else f
        tables.append(pq.read_table(
            path, columns=["chunk_id", "seq", "col", "meta", "payload", "crc"]))
    chunks = pa.concat_tables(tables).to_pylist()
    chunks.sort(key=lambda r: (r["seq"], r["col"]))
    decode_s: Counter = Counter()
    select_s: Counter = Counter()
    encode_s: Counter = Counter()
    cache: dict = {}
    mismatches = 0
    for r in chunks:
        col, meta, payload = r["col"], json.loads(r["meta"]), r["payload"]
        if meta.get("valid"):  # strip the validity-bitmap prefix
            payload = payload[meta["valid"]:]
        t0 = time.perf_counter()
        values = decode_any(payload, meta)
        decode_s[col] += time.perf_counter() - t0
        tag = "str" if isinstance(values, StringCol) else "int"
        again, _, _ = encode_column(values, tag, cache, col)
        mismatches += again != payload
        t0 = time.perf_counter()
        _select(values, tag)
        select_s[col] += time.perf_counter() - t0
        t0 = time.perf_counter()
        encode_column(values, tag, cache, col)  # cached: kernel + guard only
        encode_s[col] += time.perf_counter() - t0
    by_chunk: dict[int, list[dict]] = {}
    for r in chunks:
        by_chunk.setdefault(r["chunk_id"], []).append(r)
    chunk_table_s = 0.0
    for cid, rows in by_chunk.items():
        tbl = pa.Table.from_pylist(rows)
        t0 = time.perf_counter()
        out = decode_chunk_table(tbl, None, schema)
        chunk_table_s += time.perf_counter() - t0
        mismatches += out.num_rows != n_rows[cid]
    return {"part_id": part, "chunks": len(by_chunk),
            "decode_s": dict(decode_s), "select_s": dict(select_s),
            "encode_s": dict(encode_s), "chunk_table_s": chunk_table_s,
            "mismatches": mismatches}
