"""Encode pipeline: token table → encoded chunk rows + codec manifest sidecar.

The Spark-first re-imagining of the reference's scan→decode→chunk→stream
dataflow (`src/orc/read.clj:65-112`, `src/orc/json.clj:48-101`), inverted into
encode direction per the north rule:

* the reference's reader thread + bounded channel (`src/orc/macro.clj:47-62`,
  `src/orc/read.clj:75`) become Spark executor tasks — real multi-node
  parallelism instead of one producer thread;
* its byte-limited JSON chunk governor (`src/orc/json.clj:80-91`: accumulate
  until ``byte-limit``, flush numbered chunk) becomes the byte-budget chunk
  flush inside ``mapInArrow``;
* its stream-metadata + header record (`src/orc/read.clj:89,93`) become the
  manifest sidecar: per-chunk codec records + per-partition completion rows
  (the checkpoint/lineage unit) + a run-metadata JSON.

Everything stays columnar: Arrow record batches in, numpy kernels, Arrow out —
no per-row Python anywhere (the reference's per-cell dispatch,
`src/orc/core.clj:34-43`, is the anti-pattern this engine exists to fix).

Physical strategy: ``part_id`` is planned from parquet/ORC footers
(byte-balanced LPT bins of row groups) and scan + chunk + encode fuse into
ONE ``mapInArrow`` stage — ZERO shuffles, so at 100 TB the token bytes go
parquet → Arrow → kernels → chunk write and the only cluster-shared
resource is the object store.  It is the engine's only encode path: a
``df=`` frame is first written once to ``_staging/`` and planned like any
input, and ``stream_encode`` plans each micro-batch from the files its
source log names.

Layout under ``out_dir``::

    chunks/part_id=N/part-NNNNN-<run_id>.parquet
                                  encoded payload rows (one row per
                                  chunk×column), one file per part
    manifest/chunks/part_id=N/part-NNNNN-<run_id>.parquet
                                  chunk records (everything but the
                                  payload), one file per part, beside its
                                  chunk file's name
    manifest/parts/part_id=N/*.parquet
                                  partition completion markers (resume unit)
    plan.json                     the part → row-group plan and schema
    run_meta.json                 run metadata (stream-metadata analog)
    _staging/*.parquet            a ``df=`` input, written once by Spark

Commit protocol (one Spark job per encode, the per-file records of Delta
Lake's writers, committed by the writer of the data): the encode task
writes its part's chunk file with pyarrow under a ``.``-prefixed temp name,
renames it into place and deletes every other entry of the part's
directory; then it commits the part's manifest file the same way, and only
then yields the part's rollup row (:func:`write_chunk_files`).  The driver
collects one rollup row per part and writes the parts markers with
pyarrow (:func:`_commit_manifest`).  A crash after a task's commit and
before the markers leaves a part without a marker, and its resume rewrites
the part's chunk and manifest files.  Every chunk, manifest and marker
file is read and written with pyarrow, never by Spark.
"""

from __future__ import annotations

import heapq
import json
import os
import time
import uuid
import warnings
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyarrow.fs import FileSelector, FileType

from ..kernels import StringCol, crc32
from ..selector import encode_column
from . import pafs

#: raw token bytes per chunk (the reference's byte-limit analog).  Round 4:
#: 8 MB → 32 MB after a sweep (8/16/32/64/128 MB at sf0.1): each 2× fewer
#: chunks amortizes one more ranked-dict build + selection guard per byte
#: (encode wall −30%, encoded bytes −2.4% from fewer stored dictionaries),
#: saturating once a chunk covers a whole row group.  32 MB keeps zone-map
#: pruning at ~row-group granularity and chunk offsets far below the int32
#: list-offset cap; per-task memory stays bounded by one row group.
DEFAULT_CHUNK_BYTES = 32 << 20
TARGET_PART_BYTES = 64 << 20  # raw bytes per partition (scale knob)

OUT_SCHEMA = pa.schema(
    [
        pa.field("chunk_id", pa.int64()),
        pa.field("seq", pa.int32()),
        pa.field("col", pa.string()),
        pa.field("codec", pa.string()),
        pa.field("meta", pa.string()),
        pa.field("payload", pa.binary()),
        pa.field("n_rows", pa.int32()),
        pa.field("raw_bytes", pa.int64()),
        pa.field("enc_bytes", pa.int64()),
        pa.field("crc", pa.int64()),
        pa.field("selection", pa.string()),
        pa.field("stats", pa.string()),
        pa.field("part_id", pa.int32()),
    ]
)

OUT_DDL = (
    "chunk_id long, seq int, col string, codec string, meta string, "
    "payload binary, n_rows int, raw_bytes long, enc_bytes long, crc long, "
    "selection string, stats string, part_id int"
)

#: columns of a chunk file: the encoder's rows minus the hive partition column
CHUNK_FILE_SCHEMA = OUT_SCHEMA.remove(OUT_SCHEMA.get_field_index("part_id"))

#: columns of a manifest file: one record per chunk column, the chunk-file
#: row without its payload, plus the URI of the chunk file holding it
MANIFEST_SCHEMA = CHUNK_FILE_SCHEMA.remove(
    CHUNK_FILE_SCHEMA.get_field_index("payload")
).append(pa.field("file", pa.string()))

#: row-group target of a chunk file: chunk rows are opaque pre-packed
#: payloads, so a larger group buys nothing, and ~4 payload rows per group
#: give the pruned decode's chunk_id filters real row-group skipping
#: (decode ``_rg_keep``)
CHUNK_BLOCK_BYTES = 16 << 20

#: the fixed token-table schema (BASELINE input_hint) as a schema descriptor —
#: ``(name, kind)`` pairs (its ``tokens`` kind is the legacy spelling of
#: ``list<int32>``).  Since round 4 the engine encodes ANY schema of the
#: kinds :func:`derive_schema` names (the analog of the reference's
#: user-declared decode plan, `src/orc/col.clj:184-204`: schema-driven
#: kernel binding instead of a hardcoded column list); round 5 adds the
#: float kinds the reference's dispatch table covers
#: (`src/orc/col.clj:70-75,164-165`) — encoded over their exact bit
#: patterns, so the reference's NaN→nil normalization is deliberately NOT
#: replicated (bit-identity contract).
DEFAULT_SCHEMA = (
    ("doc_id", "str"), ("tokens", "list32"), ("n_tok", "int32"),
    ("source", "str"),
)

#: numeric kind → the numpy dtype its payload and its row weight take
#: (temporal/bool kinds at their int storage width)
_KIND_NP = {"int32": np.int32, "int64": np.int64,
            "float32": np.float32, "float64": np.float64,
            "date32": np.int32, "ts_us": np.int64, "ts_us_utc": np.int64,
            "bool": np.int32}

#: float kind → the same-width unsigned view its bit patterns encode as
_FLOAT_U = {"float32": np.uint32, "float64": np.uint64}

#: scalar value kind → the legacy short list-kind name (kept so every store
#: encoded in rounds 1–5 stays decodable under its recorded descriptor);
#: it is only a spelling of ``list<vk>``, which every OTHER scalar kind
#: uses — :func:`list_value_kind` is the one place that resolves it
_LIST_LEGACY = {"int32": "list32", "int64": "list64",
                "float32": "listf32", "float64": "listf64"}
_LIST_VK = {v: k for k, v in _LIST_LEGACY.items()}


def list_value_kind(kind: str) -> str:
    """Scalar value kind of a list kind (legacy short names or the generic
    ``list<vk>`` spelling)."""
    if kind in _LIST_VK:
        return _LIST_VK[kind]
    if kind.startswith("list<") and kind.endswith(">"):
        return kind[5:-1]
    raise ValueError(f"not a list kind: {kind!r}")

#: kind → the int kind its storage encodes as (bit-exact reinterpret:
#: date32 = days since epoch, timestamp[us] = micros — the engine analog of
#: the reference's :date/:timestamp dispatch entries, `src/orc/col.clj:
#: 162,171`, except values stay typed instead of being formatted to
#: strings; delta/RLE/FOR codecs love days/micros.  Round 5 adds ``bool``
#: as int32 0/1 — the reference reads ``:boolean`` as long
#: (`src/orc/col.clj:161`); RLE crushes runs, 1-bit FOR handles random
#: flags at ~1 bit/value)
TEMPORAL_STORAGE = {"date32": "int32", "ts_us": "int64", "ts_us_utc": "int64",
                    "bool": "int32"}


def _temporal_to_storage(arr, kind: str):
    """Temporal/bool arrow column → its int storage (days / micros / 0-1).
    ns-unit timestamps (how pyarrow reads Spark's INT96) normalize to
    micros via a SAFE cast — genuinely sub-microsecond values raise instead
    of silently truncating (Spark timestamps are micro-precision, so
    Spark-written data always passes)."""
    if kind in ("date32", "bool"):
        return pc.cast(arr, pa.int32())
    tz = "UTC" if kind == "ts_us_utc" else None
    return pc.cast(pc.cast(arr, pa.timestamp("us", tz=tz)), pa.int64())


def list_payload_names(name: str) -> tuple[str, str]:
    """Physical payload columns backing a list column.  The default token
    table keeps its historical names (token_values/offsets) so every store
    encoded before round 4 stays decodable byte-for-byte."""
    if name == "tokens":
        return "token_values", "offsets"
    return f"{name}__values", f"{name}__offsets"


def struct_fields(kind: str) -> list[tuple[str, str]]:
    """Parse a ``struct<f1:k1,f2:k2>`` kind string → [(field, kind), ...].

    Recursive struct shredding (round 5): the engine analog of the
    reference's recursive struct decode (`src/orc/col.clj:83-92`) — each
    scalar leaf becomes its own payload column, so field access at decode
    is a column prune, not a row pivot.  A field kind may itself be a
    ``struct<...>``, so the split is bracket-aware: commas inside a nested
    kind don't separate fields."""
    inner = kind[len("struct<"):-1]
    parts: list[str] = []
    depth = start = 0
    for i, ch in enumerate(inner):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(inner[start:i])
            start = i + 1
    parts.append(inner[start:])
    return [tuple(p.split(":", 1)) for p in parts if p]


def struct_payload_names(name: str, kind: str) -> tuple[str, ...]:
    """Physical payload columns backing a struct column: one ``name__field``
    per shredded scalar leaf plus ``name__present`` (struct-level validity
    as a 0/1 column — RLE crushes it to a few bytes on mostly-valid data).
    Nested struct fields recurse with a ``parent__child`` prefix and carry
    their OWN present column, so ``s = null`` / ``s.b = null`` /
    ``s.b = {c: null}`` stay distinguishable after the round trip."""
    out: list[str] = []
    for f, fk in struct_fields(kind):
        if fk.startswith("struct"):
            out.extend(struct_payload_names(f"{name}__{f}", fk))
        else:
            out.append(f"{name}__{f}")
    return tuple(out) + (f"{name}__present",)


def map_kinds(kind: str) -> tuple[str, str]:
    """Parse a ``map<kkind,vkind>`` kind string → (key kind, value kind).

    Maps shred like lists-of-pairs (Arrow's own map layout): a flat keys
    payload, a flat values payload, and an offsets index — the engine
    analog of the reference's per-row map decode (`src/orc/col.clj:94-108`),
    done once per chunk instead of once per cell."""
    kk, vk = kind[len("map<"):-1].split(",", 1)
    return kk, vk


def map_payload_names(name: str) -> tuple[str, str, str]:
    """Physical payload columns backing a map column: flattened keys,
    flattened values, and the offsets index (which also carries the
    map-level validity bitmap, exactly like list columns)."""
    return f"{name}__keys", f"{name}__mapvalues", f"{name}__offsets"


def physical_map(schema) -> dict[str, tuple[str, ...]]:
    """Logical column → the physical payload columns backing it."""
    out = {}
    for name, kind in schema:
        if kind.startswith("list"):
            out[name] = list_payload_names(name)
        elif kind.startswith("struct"):
            out[name] = struct_payload_names(name, kind)
        elif kind.startswith("map"):
            out[name] = map_payload_names(name)
        else:
            out[name] = (name,)
    return out


def physical_cols(schema) -> tuple[str, ...]:
    """Every physical payload column of ``schema``, in schema order (a
    repeated logical name repeats its payloads, so collisions show)."""
    phys = physical_map(schema)
    return tuple(p for name, _ in schema for p in phys[name])


def _struct_kind(t, path: str, scalar_kind) -> str:
    """Kind string for a struct type, recursing into nested struct fields
    (any depth — the engine analog of the reference's recursive struct
    decode, `src/orc/col.clj:83-92`).  Plan-time throw on unsupported leaf
    types; field names may not contain the kind-string delimiters."""
    fks = []
    for i in range(t.num_fields):
        f = t.field(i)
        fk = scalar_kind(f.type)
        if fk is None and pa.types.is_struct(f.type):
            fk = _struct_kind(f.type, f"{path}.{f.name}", scalar_kind)
        if fk is None:
            raise ValueError(
                f"unsupported struct field type {f.type} for "
                f"{path}.{f.name}: struct shredding takes scalar fields "
                "(str/int/float/bool/binary/temporal) or nested structs "
                "of them"
            )
        if any(ch in f.name for ch in ":,<>."):
            raise ValueError(
                f"struct field name {f.name!r} may not contain "
                "':', ',', '<', '>' (kind-string delimiters) or "
                "'.' (the predicate/DDL field-path separator)"
            )
        fks.append(f"{f.name}:{fk}")
    if not fks:
        raise ValueError(f"cannot encode empty struct column {path!r}")
    return f"struct<{','.join(fks)}>"


def derive_schema(arrow_schema) -> list[tuple[str, str]]:
    """Schema descriptor from a parquet/Arrow schema — plan-time throw on
    unsupported types, like the reference's handler compiler
    (`src/orc/col.clj:200-203`)."""
    import pyarrow as _pa

    def scalar_kind(t) -> str | None:
        if _pa.types.is_string(t) or _pa.types.is_large_string(t):
            return "str"
        if _pa.types.is_boolean(t):
            return "bool"
        if _pa.types.is_binary(t) or _pa.types.is_large_binary(t):
            return "binary"
        if t in (_pa.int32(), _pa.int16(), _pa.int8()):
            return "int32"
        if t == _pa.int64():
            return "int64"
        if t == _pa.float32():
            return "float32"
        if t == _pa.float64():
            return "float64"
        if t == _pa.date32():
            return "date32"
        if _pa.types.is_timestamp(t):
            if t.unit not in ("us", "ns"):
                raise ValueError(
                    f"unsupported timestamp unit {t.unit!r}: parquet "
                    "timestamps are micros (ns = INT96 reads, coerced "
                    "losslessly); cast before encoding"
                )
            if t.tz not in (None, "UTC"):
                raise ValueError(
                    f"unsupported timestamp zone {t.tz!r}: store UTC "
                    "(parquet isAdjustedToUTC) or naive; cast before encoding"
                )
            return "ts_us_utc" if t.tz else "ts_us"
        return None

    out: list[tuple[str, str]] = []
    for field in arrow_schema:
        t = field.type
        sk = scalar_kind(t)
        if sk is not None:
            out.append((field.name, sk))
        elif _pa.types.is_struct(t):
            out.append((field.name, _struct_kind(t, field.name, scalar_kind)))
        elif _pa.types.is_map(t):
            kk = scalar_kind(t.key_type)
            vk = scalar_kind(t.item_type)
            if kk is None or kk.startswith("float"):
                raise ValueError(
                    f"unsupported map key type {t.key_type} for column "
                    f"{field.name!r}: keys shred as str/int/temporal"
                )
            if vk is None:
                raise ValueError(
                    f"unsupported map value type {t.item_type} for column "
                    f"{field.name!r}: values shred as scalar kinds"
                )
            out.append((field.name, f"map<{kk},{vk}>"))
        elif _pa.types.is_list(t) or _pa.types.is_large_list(t):
            vk = scalar_kind(t.value_type)
            if vk is None:
                raise ValueError(
                    f"unsupported list value type {t.value_type} for "
                    f"column {field.name!r}: list values take any scalar "
                    "kind (str/int/float/bool/binary/temporal)"
                )
            out.append((field.name, _LIST_LEGACY.get(vk, f"list<{vk}>")))
        else:
            raise ValueError(
                f"unsupported column type {t} for {field.name!r}: the "
                "engine takes scalar columns (str, binary, int8/16/32/64, "
                "float, double, bool, date, timestamp), lists of any "
                "scalar, maps of non-float scalar keys to scalar values, "
                "and structs of scalars, nested to any depth"
            )
    if not out:
        raise ValueError("cannot encode an empty schema")
    phys = physical_cols(out)
    if len(set(phys)) != len(phys):
        raise ValueError(
            "physical payload name collision (a column named like another "
            f"column's shredded field?): {sorted(phys)}"
        )
    return out


def _scalar_payload(arr: pa.Array, kind: str) -> tuple:
    """``(col_obj, kindtag, raw_bytes, valid, stats)`` of one flat scalar
    payload — THE leaf every column kind shreds to: a scalar column, a
    list's flattened values, a map's keys or values, a struct leaf.

    Temporal/bool kinds encode as their storage ints.  Nulls get the
    standard validity-bitmap treatment (``valid`` is bool[n], None = all
    valid) over a zero/empty fill, so payload bytes are deterministic:
    ``np.asarray`` of a nulled Arrow array would otherwise yield silent
    INT_MIN sentinels.  ``stats`` is the chunk's zone map ``{min, max}``
    over the valid values."""
    if kind in TEMPORAL_STORAGE:
        arr = _temporal_to_storage(arr, kind)
        kind = TEMPORAL_STORAGE[kind]
    nulls = arr.null_count
    valid = np.asarray(arr.is_valid()) if nulls else None
    if kind in ("str", "binary"):
        fill = "" if kind == "str" else b""
        col = StringCol.from_arrow(pc.fill_null(arr, fill) if nulls else arr)
        if kind == "binary":  # bytes aren't JSON — stat-less (kept by pruner)
            return col, "str", 0, valid, {"min": None, "max": None}
        lohi = pc.min_max(arr)
        return col, "str", 0, valid, {
            "min": lohi["min"].as_py(), "max": lohi["max"].as_py()}
    if kind in ("int32", "int64"):
        a = np.asarray(
            pc.fill_null(arr, 0) if nulls else arr, dtype=_KIND_NP[kind]
        )
        lohi = pc.min_max(arr)
        return a, "int", a.nbytes, valid, {
            "min": lohi["min"].as_py(), "max": lohi["max"].as_py()}
    a = np.asarray(
        pc.fill_null(arr, 0.0) if nulls else arr, dtype=_KIND_NP[kind]
    )
    # kernels see the exact bit pattern (uint view): NaN payload bits
    # round-trip untouched; the reference's NaN→nil normalization
    # (`src/orc/col.clj:73-74`) is NOT replicated.  NaN/Inf aren't strict
    # JSON and NaN breaks ordered zone maps, so such chunks are stat-less
    fin = a[valid] if valid is not None else a
    mmv = (
        {"min": float(fin.min()), "max": float(fin.max())}
        if len(fin) and bool(np.isfinite(fin).all())
        else {"min": None, "max": None}
    )
    return a.view(_FLOAT_U[kind]), "float", a.nbytes, valid, mmv


def _offsets_payload(lists: pa.Array) -> tuple:
    """The offsets payload of a list-layout column (a list, or a map viewed
    as a list of entries): int64 offsets over the null-skipping flatten (a
    null entry has length 0), the list-level validity, and ``{min: 0,
    max: total values}`` — in :func:`_scalar_payload`'s tuple shape."""
    lens = np.asarray(
        pc.fill_null(pc.list_value_length(lists), 0), dtype=np.int64
    )
    offsets = np.zeros(len(lists) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    valid = np.asarray(lists.is_valid()) if lists.null_count else None
    return (offsets, "int", offsets.nbytes, valid,
            {"min": 0, "max": int(offsets[-1])})


def _shred_struct(name: str, kind: str, col_s: pa.Array,
                  pvalid: "np.ndarray | None", n: int,
                  columns: dict) -> None:
    """Shred one (possibly nested) struct column into flat scalar payloads.

    Emits ``name__present`` (0/1 struct-level validity, RLE-friendly) plus
    one payload per field; nested struct fields recurse under a
    ``name__field`` prefix with their OWN present column, so after the
    round trip ``s = null``, ``s.b = null`` and ``s.b = {c: null}`` stay
    distinguishable.  ``pvalid`` is the conjunction of every ancestor's
    validity (None = all valid); masking is cumulative, so a leaf under a
    null ancestor stores null and payload bytes stay deterministic."""
    pres = (
        pvalid if pvalid is not None else np.ones(n, dtype=bool)
    ).astype(np.int32)
    columns[f"{name}__present"] = (pres, "int", pres.nbytes, None, {
        "min": int(pres.min()) if n else None,
        "max": int(pres.max()) if n else None,
    })
    for fi, (fname, fkind) in enumerate(struct_fields(kind)):
        child = pc.struct_field(col_s, fi)
        p_name = f"{name}__{fname}"
        v = np.asarray(child.is_valid())
        if pvalid is not None:
            v &= pvalid
        all_valid = bool(v.all()) if n else True
        if fkind.startswith("struct"):
            # no if_else copy here: the recursion masks every LEAF with the
            # same conjunct validity, so materializing a masked copy of the
            # whole subtree per level would only burn memory bandwidth
            _shred_struct(p_name, fkind, child,
                          None if all_valid else v, n, columns)
            continue
        masked = child if all_valid else pc.if_else(
            pa.array(v), child, pa.scalar(None, child.type)
        )
        columns[p_name] = _scalar_payload(masked, fkind)


def _map_as_list(col_m: pa.Array) -> pa.Array:
    """Zero-copy view of a MapArray as list<struct<key,value>> so the
    list machinery (null-skipping flatten, list_value_length) applies."""
    mt = col_m.type
    return col_m.cast(pa.list_(pa.struct([
        pa.field(mt.key_field.name, mt.key_field.type, nullable=False),
        pa.field(mt.item_field.name, mt.item_field.type,
                 nullable=mt.item_field.nullable),
    ])))


def _encode_chunk_rows(tbl: pa.Table, part_id: int, seq: int,
                       cache: dict | None = None,
                       policy: str = "size",
                       schema=DEFAULT_SCHEMA) -> dict[str, list]:
    """Encode one chunk's physical columns → manifest/payload rows.

    ``schema`` drives kernel binding (the reference's user-declared decode
    plan, inverted).  Each column is combined once (the leaves need
    offset-0 arrays) and shredded to flat scalar payloads, every one
    encoded by :func:`_scalar_payload`: a scalar column is one payload; a
    list (any spelling) is its flattened values plus an offsets payload
    that also carries list-level validity (list layout =
    `src/orc/col.clj:114-116`); a map is its keys, its values and the same
    offsets payload (Arrow's own map layout, `src/orc/col.clj:94-108`,
    chunk-vectorized); a struct is one payload per scalar leaf plus a
    0/1 present column per level (:func:`_shred_struct`).

    A nullable payload is prefixed with its packed little-endian validity
    bitmap (the ORC/Arrow PRESENT-stream model); payloads without nulls
    carry no bitmap and stay byte-identical to stores written before
    round 5.  Each payload's ``stats`` is its per-chunk zone map (the ORC
    column-statistics analog), recorded in the manifest so decode can
    prune chunks against predicates without touching payloads.

    ``cache`` is the per-partition selection cache (selector.encode_column):
    chunk 0 of a partition pays full selection + FSST table construction,
    later chunks reuse it — selection was ~half the string encode time."""
    n = tbl.num_rows
    #: physical column → _scalar_payload's (obj, kindtag, raw, valid, stats)
    columns: dict[str, tuple] = {}
    for name, kind in schema:
        col = tbl.column(name).combine_chunks()
        if kind.startswith("struct"):
            pvalid = np.asarray(col.is_valid()) if col.null_count else None
            _shred_struct(name, kind, col, pvalid, n, columns)
            continue
        if kind.startswith("map"):
            lists = _map_as_list(col)
            entries = lists.flatten()
            keys = pc.struct_field(entries, 0)
            if keys.null_count:
                raise ValueError(
                    f"map column {name!r} holds null keys (Arrow forbids)"
                )
            *leaf_names, o_name = map_payload_names(name)
            leaves = zip(leaf_names, (keys, pc.struct_field(entries, 1)),
                         map_kinds(kind))
        elif kind.startswith("list"):
            lists = col
            v_name, o_name = list_payload_names(name)
            leaves = [(v_name, col.flatten(), list_value_kind(kind))]
        else:
            columns[name] = _scalar_payload(col, kind)
            continue
        for p_name, leaf, leaf_kind in leaves:
            columns[p_name] = _scalar_payload(leaf, leaf_kind)
        columns[o_name] = _offsets_payload(lists)
    chunk_id = (part_id << 20) | seq

    rows: dict[str, list] = {k.name: [] for k in OUT_SCHEMA}
    for col_name, (col, kind, raw, v, stats) in columns.items():
        if kind == "str":
            raw = len(col.data) + col.offsets.nbytes
        payload, meta, selection = encode_column(
            col, kind, cache, col_name, policy
        )
        if v is not None:
            # packed little-endian = Arrow validity-buffer bit order, so
            # decode can hand the bytes straight to Array.from_buffers
            vb = np.packbits(v, bitorder="little").tobytes()
            payload = vb + payload
            meta = dict(meta)
            meta["valid"] = len(vb)
        rows["chunk_id"].append(chunk_id)
        rows["seq"].append(seq)
        rows["col"].append(col_name)
        rows["codec"].append(selection["codec"])
        rows["meta"].append(json.dumps(meta, separators=(",", ":")))
        rows["payload"].append(payload)
        rows["n_rows"].append(n)
        rows["raw_bytes"].append(int(raw))
        rows["enc_bytes"].append(len(payload))
        rows["crc"].append(crc32(payload))
        rows["selection"].append(json.dumps(selection, separators=(",", ":")))
        rows["stats"].append(json.dumps(stats, separators=(",", ":")))
        rows["part_id"].append(part_id)
    return rows


def _pyarrow_source(
    input_path: str, filesystem=None
) -> tuple[object, list[str], str, int]:
    """``(pyarrow_fs, files, fmt, nbytes)`` for an input location.

    pyarrow serves local paths, ``file://``/``s3://``/``s3a://``/``gs://``/
    ``hdfs://`` URIs (pafs.resolve) and an explicit ``filesystem=`` object,
    all with one recursive listing.  ``fmt`` is ``"parquet"`` or ``"orc"``
    (the reference's own on-disk format — parity with its S3A ORC flow,
    `src/orc/read.clj:27-49`); ``nbytes`` sums the sizes of
    ``files``.  A location holding BOTH formats takes the parquet files and
    WARNS — fixture dirs keep an ORC reference copy next to the parquet data
    (datagen's ``with_orc_reference``).  A location pyarrow cannot serve,
    or one with no parquet/ORC file, raises a ``ValueError`` pointing at
    ``df=``: Spark can read it, and encode stages the frame."""
    hint = (f"read it with Spark and pass df=spark.read.parquet({input_path!r})"
            f" (or .orc) to encode the staged frame")
    try:
        fs, path = pafs.resolve(input_path, filesystem)
        infos = pafs.file_infos(fs, path)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(
            f"pyarrow cannot serve input_path {input_path!r} ({e}); {hint}"
        ) from e
    parquet = [i for i in infos if i.path.endswith(".parquet")]
    orc = [i for i in infos if i.path.endswith(".orc")]
    if parquet and orc:
        warnings.warn(
            f"{input_path!r} holds both .parquet and .orc files; encoding "
            f"the {len(parquet)} parquet file(s) and ignoring the "
            f"{len(orc)} .orc file(s) — pass the format's "
            "subdirectory to encode the ORC copy instead"
        )
    chosen, fmt = (parquet, "parquet") if parquet or not orc else (orc, "orc")
    if not chosen:
        raise ValueError(
            f"no .parquet or .orc files under input_path {input_path!r}; "
            f"{hint}")
    return (fs, [i.path for i in chosen], fmt,
            sum(int(i.size or 0) for i in chosen))


def _lpt_pack(units: list[tuple], n_bins: int) -> list[list]:
    """Longest-processing-time bin packing: units ``(weight, *payload)`` →
    ``n_bins`` lists of payloads.  Heap-based bin selection — O(log bins)
    per unit, so planning stays driver-cheap at the documented target
    (~10^6 row-group units across thousands of bins; a linear
    ``loads.index(min(loads))`` scan there is minutes of driver time)."""
    bins: list[list] = [[] for _ in range(n_bins)]
    heap = [(0.0, j) for j in range(n_bins)]
    for unit in sorted(units, key=lambda u: u[0], reverse=True):
        load, j = heapq.heappop(heap)
        bins[j].append(list(unit[1:]))
        heapq.heappush(heap, (load + float(unit[0]), j))
    return bins


def _rowgroup_plan(files: list[str], n_partitions: int,
                   explicit: bool, fs=None) -> dict:
    """Zero-shuffle partition plan: ``part_id`` = a byte-balanced bin of
    parquet row groups, so scan + encode run in ONE ``mapInArrow`` stage
    with no repartition — at 100 TB the token bytes never touch the shuffle.

    Skew control happens here, from footers alone: units are
    (file, row_group, row_lo, row_hi) weighted by the footer's uncompressed
    byte size and LPT-packed into ``min(n_partitions, n_units)`` bins, so no
    task receives a pathological long-sequence hot partition (footer
    metadata only — no data read).  When the caller *explicitly* asks for
    more partitions than there are row groups (tests / tiny inputs), units
    are split by row ranges; each split re-reads its row group, so the
    automatic default never splits.
    """
    import pyarrow.parquet as pq

    def footer_units(f: str):
        """(schema, [unit, ...]) for one file — pure metadata, no data read."""
        if f.endswith(".orc"):
            # ORC footers don't expose per-stripe byte/row counts through
            # pyarrow, so stripes weigh file_bytes/nstripes — writers target
            # a fixed stripe size, so uniform-within-file is the honest
            # footer-only estimate; cross-file skew is still LPT-balanced.
            # hi=-1 = "the whole stripe" (the encoder skips the slice).
            wfs, wpath = (fs, f) if fs is not None else pafs.resolve(f)
            h = pafs.OrcInput(wfs.open_input_file(wpath))
            try:
                fsize = float(wfs.get_file_info(wpath).size or 0)
                w = fsize / max(1, h.nstripes)
                return h.schema, [
                    (w, f, i, 0, -1) for i in range(h.nstripes)
                ]
            finally:
                h.close()
        md = pq.read_metadata(f, filesystem=fs)
        return md.schema.to_arrow_schema(), [
            (float(md.row_group(i).total_byte_size), f, i, 0,
             md.row_group(i).num_rows)
            for i in range(md.num_row_groups)
        ]

    # footer fetches are tiny metadata reads dominated by per-request
    # latency (an object-store GET each): at 100k input files a serial
    # driver loop IS the planning bottleneck, so fetch concurrently
    # (pyarrow releases the GIL on I/O) and reassemble in file order —
    # plan output stays byte-deterministic
    if len(files) > 4:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(16, len(files))) as pool:
            per_file = list(pool.map(footer_units, files))
    else:
        per_file = [footer_units(f) for f in files]

    units: list[tuple[float, str, int, int, int]] = []  # weight,f,rg,lo,hi
    ref_schema = ref_file = None
    for f, (schema, file_units) in zip(files, per_file):
        # plan-time schema homogeneity (footers are read here anyway): a
        # stray file with a different schema would otherwise fail mid-encode
        # in whichever task drew it, with half the store already written.
        # Compared as Arrow schemas so a parquet plan and an ORC plan use
        # one notion of "same".
        if ref_schema is None:
            ref_schema, ref_file = schema, f
        elif not schema.equals(ref_schema):
            raise ValueError(
                f"input files disagree on schema: {f!r} differs from "
                f"{ref_file!r} — encode one homogeneous dataset per store"
            )
        units.extend(file_units)
    if not units:
        return {"mode": "rowgroup", "n_total": 1, "parts": [[]]}

    n_partitions = max(1, n_partitions)
    if explicit and n_partitions > len(units):
        total_w = sum(u[0] for u in units) or 1.0
        split: list[tuple[float, str, int, int, int]] = []
        for w, f, i, lo, hi in units:
            if hi < 0:  # ORC stripe: row count unknown at plan time, so it
                split.append((w, f, i, lo, hi))  # can't row-split — keep whole
                continue
            k = max(1, min(hi - lo, round(n_partitions * w / total_w)))
            edges = np.linspace(lo, hi, k + 1).astype(int)
            for a, b in zip(edges[:-1], edges[1:]):
                if b > a:
                    split.append((w * (b - a) / max(1, hi - lo), f, i, int(a), int(b)))
        units = split

    n_bins = max(1, min(n_partitions, len(units)))
    bins = _lpt_pack(units, n_bins)
    return {"mode": "rowgroup", "n_total": n_bins, "parts": bins}


def rowgroup_work_df(spark, parts, pending: list[int]):
    """One row per pending partition: ``(pid, units_json)``, the units of
    ``parts[pid]`` — a plan's list of parts, or a mapping from part id to
    units when the ids do not start at 0 (a micro-batch's,
    :func:`~clj_orc_spark.streaming.stream.stream_encode`).

    Each task's row-group assignment travels as DATA, not as a function
    closure — a closure over the full plan would ship EVERY task a pickled
    copy of ALL assignments (at 10^12 scale: ~10^6 row-group units ≈ 100 MB
    per task).  ``parallelize(rows, len(rows))`` puts exactly one row in
    each slice, keeping task→partition 1:1.  (Past ~10^6 parts the plan
    belongs in a parquet sidecar rather than plan.json.)

    Like the decode work list, this one is a JVM RDD of unknown size
    (:func:`work_frame`), not a driver-local relation: a
    ``LocalTableScan`` packs consecutive rows into at most
    ``defaultParallelism`` tasks, so several parts would share one write
    task."""
    rows = [(int(p), json.dumps(parts[p])) for p in pending]
    return work_frame(spark, rows, "pid int, units string")


def work_frame(spark, rows: list[tuple], ddl: str):
    """The encode and decode work lists: ``rows`` typed by ``ddl``, one
    partition (so one task) per row; no row, no partition, so actions over
    an empty frame start no task.

    The rows are pickled once on the driver and unpickled and typed in the
    JVM: the calls ``createDataFrame`` makes for a Python RDD, minus the
    identity ``map`` it inserts to re-batch the rows, which would make the
    scan a ``PythonRDD``.  Scanning this frame starts no Python worker.  A
    ``PythonRDD`` scan would: plain RDD workers come from a different
    worker factory than the ``mapInArrow`` tasks', so it would fork a
    second ``pyspark.daemon`` in every Spark context.  The frame is a
    ``LogicalRDD``, which Spark does not size from its rows, so unlike a
    driver-local relation it is never broadcast in a join (see
    :func:`~clj_orc_spark.pipeline.decode.decode`)."""
    from pyspark.sql import DataFrame
    from pyspark.sql.types import DataType

    sc = spark.sparkContext
    serde = sc._jvm.SerDeUtil
    # parallelize([], 0) divides by zero; an empty RDD has no partition
    pickled = (sc.parallelize(rows, len(rows)) if rows else sc.emptyRDD())._jrdd
    # parallelize pickles its rows in batches (lists): batched=True
    objects = serde.toJavaArray(serde.pythonToJava(pickled, True))
    struct = DataType.fromDDL(ddl)
    jdf = spark._jsparkSession.applySchemaToPythonRDD(objects.rdd(),
                                                      struct.json())
    return DataFrame(jdf, spark)


def _row_weight_csum(tbl: pa.Table, schema) -> np.ndarray:
    """Cumulative per-row raw-byte weights for the chunk-budget governor.

    List columns dominate (values bytes); for the default token table this
    is exactly the historical ``n_tok * 4``, so chunk boundaries — and
    therefore payload bytes — are unchanged for existing stores.  A schema
    with NO list column weighs strings by their ACTUAL per-row UTF-8 bytes
    (+8 offsets index) plus the fixed scalar footprint — a fixed 8 B/str
    would degenerate the byte budget into a row-count budget on
    string-heavy schemas (round-4 advice)."""
    def width(k: str) -> int:  # str/binary values priced at 16 B
        return 16 if k in ("str", "binary") else _KIND_NP[k]().itemsize

    w = None
    for name, kind in schema:
        if kind.startswith("list"):
            lists, wd = tbl.column(name), width(list_value_kind(kind))
        elif kind.startswith("map"):
            lists = _map_as_list(tbl.column(name).combine_chunks())
            wd = sum(width(k) for k in map_kinds(kind))
        else:
            continue
        # fill_null: a NULL entry otherwise casts to INT_MIN and corrupts
        # the cumulative budget (negative weights)
        lens = np.asarray(
            pc.fill_null(pc.list_value_length(lists), 0), dtype=np.int64
        ) * wd
        w = lens if w is None else w + lens
    if w is not None:
        return np.cumsum(w)
    scalar_bytes = 0
    for name, kind in schema:
        if kind in ("str", "binary"):
            slens = np.asarray(
                pc.fill_null(
                    pc.binary_length(tbl.column(name)), 0
                ).combine_chunks(),
                dtype=np.int64,
            ) + 8
            w = slens if w is None else w + slens
        elif kind.startswith("struct"):
            def _walk(col_s, skind):
                nonlocal w, scalar_bytes
                scalar_bytes += 1  # the 0/1 present column (per level)
                for fi, (_fname, fkind) in enumerate(struct_fields(skind)):
                    child = pc.struct_field(col_s, fi)
                    if fkind.startswith("struct"):
                        _walk(child, fkind)
                    elif fkind in ("str", "binary"):
                        slens = np.asarray(
                            pc.fill_null(pc.binary_length(child), 0),
                            dtype=np.int64,
                        ) + 8
                        w = slens if w is None else w + slens
                    else:
                        scalar_bytes += _KIND_NP[fkind]().itemsize
            _walk(tbl.column(name).combine_chunks(), kind)
        else:
            scalar_bytes += _KIND_NP[kind]().itemsize
    if w is None:
        w = np.full(tbl.num_rows, max(1, scalar_bytes), dtype=np.int64)
    elif scalar_bytes:
        w = w + scalar_bytes
    return np.cumsum(w)


def make_rowgroup_encoder(chunk_bytes: int, fs=None, policy: str = "size",
                          schema=DEFAULT_SCHEMA, sort_by=None):
    """ONE-stage scan+encode for ``mapInArrow`` over :func:`rowgroup_work_df`.

    Each task owns one ``part_id`` (a planned bin of row groups): it reads
    its row groups with pyarrow, feeds them straight into the byte-budget
    chunk encoder, and emits encoded chunk rows — zero shuffle, zero
    JVM-row materialization of token bytes.  It is the only encode path:
    ``df=`` frames are staged to parquet first and streams plan from their
    source log, so no token byte ever crosses a shuffle.

    ``fs`` is the planner's pyarrow filesystem, shipped in the closure
    (pyarrow filesystems pickle); ``fs=None`` re-resolves per file path —
    the path Iceberg-planned units take, whose ``file_path`` URIs carry
    their own scheme.  A unit's ``hi=-1`` means "the whole row group"
    (manifest-planned units don't know footer row counts)."""
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pafs.worker_setup()
        for batch in batches:
            for pid, units_json in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            ):
                pid = int(pid)
                seq = 0
                sel_cache: dict = {}
                # handles are reused across a bin's units of the same file
                # but MUST be closed before the next bin: a bin spanning
                # thousands of small files (Iceberg) would otherwise
                # exhaust fds / hold object-store streams for the task's
                # whole lifetime
                handles: dict[str, object] = {}
                try:
                    yield from encode_units(
                        pid, json.loads(units_json), handles, seq, sel_cache
                    )
                finally:
                    for h in handles.values():
                        try:
                            h.close()
                        except (OSError, pa.ArrowException):
                            pass

    def encode_units(pid, units, handles, seq, sel_cache):
        import concurrent.futures as cf

        cols = [name for name, _ in schema]

        def read_unit(unit):
            f, rg, lo, hi = unit
            if f not in handles:
                handles[f] = pafs.open_input(f, fs)  # parquet or ORC by ext
            if int(rg) < 0:  # whole-file unit (manifest had no
                tbl = handles[f].read(columns=cols)  # split offsets)
            else:
                tbl = handles[f].read_row_group(int(rg), columns=cols)
            if int(hi) >= 0:
                tbl = tbl.slice(int(lo), int(hi) - int(lo))
            if sort_by:
                # ZONE-MAP CLUSTERING (round 5): sort the row group by the
                # caller's keys before chunk slicing, so each chunk's
                # min/max covers a narrow key range and range predicates
                # prune most chunks.  Runs in the background reader thread
                # (overlapped with the kernels), costs no shuffle — at
                # 100 TB this is clustering WITHOUT the cluster-wide sort.
                tbl = tbl.sort_by([(c, "ascending") for c in sort_by])
            return tbl

        # READ/ENCODE OVERLAP: one background reader prefetches row group
        # i+1 while the kernels encode row group i — pyarrow's parquet read
        # releases the GIL, so scan I/O+decompression genuinely overlaps the
        # numpy encode (the single-task lever left after the kernels passed
        # the single-core scan rate, BENCH.md round 3).  Exactly ONE unit is
        # in flight, so peak memory is current + next row group; only the
        # reader thread touches ``handles``.  Pure reordering — chunk
        # boundaries and payloads are byte-identical (bit-identity pins).
        with cf.ThreadPoolExecutor(max_workers=1) as pool:
            nxt = pool.submit(read_unit, units[0]) if units else None
            for i in range(len(units)):
                tbl = nxt.result()
                nxt = (pool.submit(read_unit, units[i + 1])
                       if i + 1 < len(units) else None)
                if not tbl.num_rows:
                    continue
                # chunk boundaries straight on the row-group table:
                # zero-copy slices into the byte-budget governor — no
                # re-batching/concat copies on the hot path
                tok_csum = _row_weight_csum(tbl, schema)
                row = 0
                while row < tbl.num_rows:
                    base = int(tok_csum[row - 1]) if row else 0
                    end = int(
                        np.searchsorted(
                            tok_csum, base + chunk_bytes, side="right"
                        )
                    )
                    end = min(tbl.num_rows, max(row + 1, end))
                    rows = _encode_chunk_rows(
                        tbl.slice(row, end - row), pid, seq, sel_cache,
                        policy, schema,
                    )
                    seq += 1
                    row = end
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(rows[fld.name], type=fld.type)
                         for fld in OUT_SCHEMA],
                        schema=OUT_SCHEMA,
                    )

    return run


def _publish(fs, temp: str, path: str) -> None:
    """Rename ``temp`` to ``path``, then delete every other entry of its
    directory: older files and the temps of killed attempts.  One writer
    owns a part directory, so this is the per-part dynamic overwrite that
    resume and task retry rely on."""
    fs.move(temp, path)
    for info in fs.get_file_info(FileSelector(path.rsplit("/", 1)[0])):
        if info.path == path:
            continue
        if info.type == FileType.Directory:
            fs.delete_dir(info.path)
        else:
            fs.delete_file(info.path)


#: chunk-file columns worth dictionaries and footer statistics: every one
#: but the payload, whose multi-MB values would only be hashed and dropped
_SMALL_COLS = [f.name for f in CHUNK_FILE_SCHEMA if f.name != "payload"]

#: one row per part an encode task committed: the values of its parts marker
ROLLUP_DDL = ("part_id int, n_chunks long, n_rows long, enc_bytes long,"
              " raw_bytes long")
ROLLUP_SCHEMA = pa.schema([
    ("part_id", pa.int32()), ("n_chunks", pa.int64()), ("n_rows", pa.int64()),
    ("enc_bytes", pa.int64()), ("raw_bytes", pa.int64()),
])


class _ChunkFile:
    """One part's chunk file and manifest file while its encode task
    writes them.

    Rows buffer into row groups of ~:data:`CHUNK_BLOCK_BYTES`, uncompressed
    (payloads are already kernel-encoded), in a :func:`~.pafs.temp_path` file.
    The manifest records wait until :meth:`commit` has published the chunk
    file, so a recorded ``file`` always exists."""

    def __init__(self, fs, root: str, chunks_uri: str, pid: int,
                 run_id: str):
        import pyarrow.parquet as pq

        self.name = f"part-{pid:05d}-{run_id}.parquet"
        self.fs = fs
        self.pid = pid
        self.dir = f"{root}/chunks/part_id={pid}"
        self.manifest_dir = f"{root}/manifest/chunks/part_id={pid}"
        self.path = f"{self.dir}/{self.name}"
        self.temps = [pafs.temp_path(self.dir, self.name)]  # chunk, manifest
        self.uri = f"{chunks_uri}/part_id={pid}/{self.name}"
        self.rows: list[pa.RecordBatch] = []
        self.nbytes = 0
        self.manifest: list[pa.RecordBatch] = []
        fs.create_dir(self.dir, recursive=True)
        self.writer = pq.ParquetWriter(
            self.temps[0], CHUNK_FILE_SCHEMA, filesystem=fs,
            compression="none", use_dictionary=_SMALL_COLS,
            write_statistics=_SMALL_COLS,
        )

    def add(self, batch: pa.RecordBatch) -> None:
        n = batch.num_rows
        self.manifest.append(pa.RecordBatch.from_arrays(
            [batch.column(f.name) for f in MANIFEST_SCHEMA if f.name != "file"]
            + [pa.array([self.uri] * n, type=pa.string())],
            schema=MANIFEST_SCHEMA,
        ))
        self.rows.append(pa.RecordBatch.from_arrays(
            [batch.column(f.name) for f in CHUNK_FILE_SCHEMA],
            schema=CHUNK_FILE_SCHEMA,
        ))
        self.nbytes += batch.nbytes
        if self.nbytes >= CHUNK_BLOCK_BYTES:
            self._flush()

    def _flush(self) -> None:
        if self.rows:  # one write_table = one row group
            self.writer.write_table(pa.Table.from_batches(self.rows))
            self.rows, self.nbytes = [], 0

    def commit(self) -> tuple:
        """Publish the chunk file, then the part's manifest file (snappy,
        no Arrow schema blob: it counts towards the store size); return
        the part's :data:`ROLLUP_SCHEMA` row."""
        import pyarrow.parquet as pq

        self._flush()
        self.writer.close()
        _publish(self.fs, self.temps[0], self.path)
        records = pa.Table.from_batches(self.manifest, MANIFEST_SCHEMA)
        temp = pafs.temp_path(self.manifest_dir, self.name)
        self.temps.append(temp)
        self.fs.create_dir(self.manifest_dir, recursive=True)
        pq.write_table(records, temp, filesystem=self.fs,
                       compression="snappy", store_schema=False)
        _publish(self.fs, temp, f"{self.manifest_dir}/{self.name}")
        # every record of a chunk carries the chunk's row count
        chunks = records.group_by("chunk_id").aggregate([("n_rows", "max")])
        return (self.pid, chunks.num_rows,
                pc.sum(chunks.column("n_rows_max")).as_py(),
                pc.sum(records.column("enc_bytes")).as_py(),
                pc.sum(records.column("raw_bytes")).as_py())

    def abort(self) -> None:
        """Best-effort removal of the temp files of a failed attempt (a
        killed attempt's temps are removed by the next commit instead)."""
        try:
            self.writer.close()
        except (OSError, pa.ArrowException):
            pass
        for temp in self.temps:
            try:
                self.fs.delete_file(temp)
            except (OSError, pa.ArrowException):
                pass


def write_chunk_files(encoder, out_dir: str):
    """Wrap a ``mapInArrow`` encoder (:func:`make_rowgroup_encoder`) so its
    task commits each part's chunk file and manifest file itself and
    yields one :data:`ROLLUP_DDL` row per part instead of chunk rows.

    Each batch an encoder yields is one chunk of one part.  Every part the
    task sees gets one :class:`_ChunkFile`: the chunk file
    ``out_dir/chunks/part_id=P/part-PPPPP-<run_id>.parquet`` and, beside
    it, the manifest file ``out_dir/manifest/chunks/part_id=P/`` of the
    same name; ``run_id`` is drawn here, once per encode, so a retried or
    speculative attempt lands on the same names.  The rollup rows are
    yielded only after every file of the task is renamed into place.
    ``file`` is the URI form Spark's ``input_file_name()`` gives
    (``file:///abs/...`` for a local store, made absolute here because
    tasks need not share the driver's working directory).  The tasks
    resolve ``out_dir`` with pyarrow, as decode resolves the recorded
    URIs."""
    out_dir = pafs.absolute(out_dir)
    chunks_uri = os.path.join(out_dir, "chunks")
    if "://" not in chunks_uri:
        chunks_uri = "file://" + chunks_uri
    run_id = uuid.uuid4().hex

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        fs, root = pafs.resolve(out_dir)
        files: dict[int, _ChunkFile] = {}
        committed = None
        try:
            for batch in encoder(batches):
                if not batch.num_rows:
                    continue
                pid = int(batch.column("part_id")[0].as_py())
                if pid not in files:
                    files[pid] = _ChunkFile(fs, root, chunks_uri, pid, run_id)
                files[pid].add(batch)
            committed = [f.commit() for f in files.values()]
        finally:
            if committed is None:
                for f in files.values():
                    f.abort()
        if committed:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type)
                 for c, f in zip(zip(*committed), ROLLUP_SCHEMA)],
                schema=ROLLUP_SCHEMA,
            )

    return run


def _schema_from_files(files: list[str] | None, fs=None):
    """Derive the schema descriptor from the first input file's footer
    (plan-time; schemas are homogeneous across a dataset's files)."""
    import pyarrow.parquet as pq

    if not files:
        return None
    if files[0].endswith(".orc"):
        h = pafs.open_orc(files[0], fs)
        try:
            return derive_schema(h.schema)
        finally:
            h.close()
    return derive_schema(pq.read_schema(files[0], filesystem=fs))


def _default_n_partitions(spark, nbytes: int) -> int:
    """Parts for ``nbytes`` of input files: one per
    :data:`TARGET_PART_BYTES` of raw data (parquet is ~2x lighter than raw
    token bytes on this data), and since a part is a task, never fewer
    than two per core even when the byte count under-splits a small
    input."""
    return max(int(nbytes * 2 // TARGET_PART_BYTES),
               spark.sparkContext.defaultParallelism * 2)


def _stage(df, out_dir: str) -> str:
    """Write a ``df=`` frame once to ``out_dir/_staging`` as parquet and
    return that location: the rowgroup planner reads footers, and Spark's
    writer reaches every location Spark can read.  The staged files stay
    for the store's life, so a resume re-reads them without ``df``."""
    path = pafs.absolute(os.path.join(out_dir, "_staging"))
    df.write.mode("overwrite").parquet(path)
    return path


def _load_or_compute_rowgroup_plan(spark, out_dir: str, input_path, df,
                                   n_partitions: int | None, filesystem=None,
                                   plan: dict | None = None,
                                   sort_by: list[str] | None = None) -> dict:
    """The store's plan: ``out_dir/plan.json`` when it exists, else planned
    once and persisted.  The persisted plan IS the part→row-group
    assignment, so a resume re-encodes exactly the pending bins regardless
    of file-listing order or bin-packing ties, and needs neither ``df`` nor
    ``input_path``.

    A new plan comes from a caller-supplied ``plan`` (e.g. the
    Iceberg-manifest planner, sources/iceberg_plan.py), or from the footers
    of ``input_path``'s files, or of ``df`` staged by :func:`_stage`.  It
    pins the SCHEMA descriptor, so a store's layout never depends on what
    happens to be at input_path later, and records the planned location as
    ``input`` (unless an explicit ``filesystem`` served it) so a resume
    re-resolves the filesystem its fs-native paths belong to."""
    plan_path = os.path.join(out_dir, "plan.json")
    text = pafs.read_text(plan_path)
    if text is not None:
        persisted = json.loads(text)
        if persisted.get("mode") != "rowgroup":
            raise ValueError(
                f"{plan_path!r} holds a "
                f"{persisted.get('mode', 'jvm')!r}-mode plan from a release "
                "whose scan no longer exists; re-encode into a fresh out_dir"
            )
        if df is not None:
            raise ValueError(
                f"{out_dir!r} already holds a plan.json; resume it with "
                "encode(spark, out_dir=...) — its input was staged or "
                "planned when the store was created"
            )
        return persisted
    files = fs = None
    if plan is None and df is None and input_path is None:
        raise ValueError(
            f"{out_dir!r} holds no plan.json to resume; pass input_path=, "
            "df= or plan= to start the store"
        )
    if plan is None:
        if df is not None:  # staged next to the store, not on filesystem
            input_path, filesystem = _stage(df, out_dir), None
        fs, files, _, nbytes = _pyarrow_source(input_path, filesystem)
        explicit = n_partitions is not None
        if not explicit:
            n_partitions = _default_n_partitions(spark, nbytes)
        plan = _rowgroup_plan(files, n_partitions, explicit, fs)
        if filesystem is None:
            plan["input"] = input_path
    if "schema" not in plan:
        schema = _schema_from_files(files, fs)
        if schema is None:
            # plan= hook: derive from the first unit's own path (Iceberg
            # units carry their URIs).  Only a plan with no unit takes the
            # default; an unreadable unit raises before plan.json would pin
            # a schema the data does not have
            try:
                first = next(
                    u[0] for part in plan.get("parts", []) for u in part
                )
            except StopIteration:
                schema = [list(t) for t in DEFAULT_SCHEMA]
            else:
                try:
                    ufs, upath = pafs.resolve(first, filesystem)
                    schema = _schema_from_files([upath], ufs)
                except (OSError, pa.ArrowException) as e:
                    raise ValueError(
                        f"cannot derive the store schema from plan unit "
                        f"{first!r}: {e}"
                    ) from e
        plan["schema"] = [list(t) for t in schema]
    if sort_by:
        plan["sort_by"] = list(sort_by)
    pafs.write_text(plan_path, json.dumps(plan))
    return plan


#: per-part completion markers (the resume unit) under manifest/parts
PARTS_DDL = ROLLUP_DDL + ", status string, completed_at double"
#: the columns of a marker file (``part_id`` is its hive directory)
PARTS_SCHEMA = ROLLUP_SCHEMA.remove(0).append(
    pa.field("status", pa.string())).append(
    pa.field("completed_at", pa.float64()))


def _write_parts_markers(out_dir: str, rows: list[tuple]) -> None:
    """Write the parts markers (:data:`PARTS_SCHEMA` rows) with pyarrow on
    the driver: a few rows per wave, so a Spark job here is pure scheduling
    overhead.  Each part gets one marker file that replaces its directory's
    entries (:func:`_publish`), the same per-part overwrite as the encode
    task's chunk and manifest files; until the rename a part keeps its old
    marker.  The markers count towards the store size, so the one-row files
    are written lean: no Arrow schema blob (~0.5 KB), no dictionary pages,
    no compression."""
    import pyarrow.parquet as pq

    fs, root = pafs.resolve(
        pafs.absolute(os.path.join(out_dir, "manifest", "parts")))
    name = f"part-{uuid.uuid4().hex}.parquet"

    def write(row: tuple) -> None:
        table = pa.Table.from_arrays(
            [pa.array([v], type=f.type) for v, f in zip(row[1:], PARTS_SCHEMA)],
            schema=PARTS_SCHEMA,
        )
        part_dir = f"{root}/part_id={int(row[0])}"
        fs.create_dir(part_dir, recursive=True)
        temp = pafs.temp_path(part_dir, name)
        pq.write_table(table, temp, filesystem=fs, compression="none",
                       use_dictionary=False, store_schema=False)
        _publish(fs, temp, f"{part_dir}/{name}")

    # a few latency-bound requests per marker on an object store: thousands
    # of parts would be minutes of driver time serially
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max(1, min(16, len(rows)))) as pool:
        list(pool.map(write, rows))


def _commit_manifest(spark, out_dir: str, rollup, pending: list[int]) -> None:
    """Manifest commit for a wave of partitions.

    ``rollup`` is the encode frame of :func:`write_chunk_files`: running it
    is the encode's one Spark job, whose tasks commit each part's chunk
    file and manifest file (``file`` = the chunk file's URI, so decode and
    resume never need a filesystem walk) and yield one rollup row per part.
    The driver collects those rows and writes the per-part completion
    markers with pyarrow.  Every file is written with per-part overwrite,
    never blind append: a crash after a task's commit and before the
    markers leaves records for a part without a marker, and the resumed
    run *replaces* them instead of appending duplicates that would
    double-count size rollups."""
    # SCALE GUARD: the encode pipeline's only driver-side collect of job
    # output must stay bounded by the PARTITION count, never chunk rows
    # (millions at 100 TB) — pinned by
    # tests/test_round4_fixes.py::test_commit_manifest_collects_only_part_ids
    by_pid = {r[0]: tuple(r[1:]) for r in rollup.collect()}
    now = time.time()
    # a pending part that produced ZERO chunks (e.g. an empty row group)
    # still needs its completion marker, or resume re-runs it forever
    _write_parts_markers(out_dir, [
        (int(p), *by_pid.get(p, (0, 0, 0, 0)), "complete", now)
        for p in pending
    ])


def completed_part_ids(spark, out_dir: str) -> set[int]:
    """part_ids with a completion marker under ``manifest/parts``, read with
    pyarrow.

    A store with no marker yet (missing or marker-less directory) has none
    complete.  A listing error or an unreadable marker raises, naming the
    parts directory: an empty answer would silently re-encode every part."""
    parts_dir = os.path.join(out_dir, "manifest", "parts")
    try:
        markers = pafs.hive_dataset(parts_dir)
        if markers is None:
            return set()
        pids = markers.to_table(columns=["part_id"]).column("part_id")
    except (OSError, pa.ArrowException) as e:
        raise RuntimeError(
            f"cannot read the parts markers under {parts_dir!r}: {e}"
        ) from e
    return set(pc.unique(pids).to_pylist())


def encode(
    spark,
    input_path: str | None = None,
    out_dir: str = None,
    df=None,
    n_partitions: int | None = None,
    chunk_bytes: int = DEFAULT_CHUNK_BYTES,
    resume: bool = True,
    limit_parts: int | None = None,
    filesystem=None,
    plan: dict | None = None,
    selection: str = "size",
    sort_by: list[str] | str | None = None,
) -> dict:
    """Run the encode job; resumable via the parts manifest.

    One path: ZERO-SHUFFLE scan+encode in one ``mapInArrow`` stage whose
    part_id is a footer-planned, byte-balanced bin of row groups
    (:func:`_rowgroup_plan`) — token bytes go parquet/ORC → Arrow →
    kernels → chunk write, never through a shuffle.  The plan is loaded
    from ``out_dir/plan.json`` when it exists, so a resume needs only
    ``encode(spark, out_dir=...)``; otherwise it is computed from one of:

    * ``input_path``: parquet or ORC files pyarrow can serve (local or
      object store, pafs.resolve).  A location pyarrow cannot serve raises
      a ``ValueError`` suggesting ``df=spark.read.parquet(path)``.
    * ``df``: any DataFrame of supported column kinds.  Spark writes it
      once to ``out_dir/_staging/`` as parquet and the plan covers those
      files, so the store decodes to what Spark's parquet writer kept
      (e.g. an INT96 ``TIMESTAMP`` decodes as ``TIMESTAMP_NTZ``).
    * ``plan``: a precomputed rowgroup plan dict (``{"mode": "rowgroup",
      "n_total": N, "parts": [[[path, rg, lo, hi], ...], ...]}``) — the
      hook the Iceberg-manifest planner uses (sources/iceberg_plan.py),
      whose units carry their own path URIs (resolved per task).

    ``limit_parts`` encodes only the first K pending partitions — used by the
    resume tests to simulate a killed run (SURVEY.md §5 engine-test 5).

    ``out_dir`` must be a location pyarrow serves (pafs.resolve): the
    encode tasks write their chunk and manifest files there with pyarrow.
    Any other raises a ``ValueError`` before anything is planned or
    written.

    ``filesystem``: an explicit ``pyarrow.fs.FileSystem`` serving
    ``input_path`` or the ``plan=`` units (e.g. a credential-configured
    ``S3FileSystem``); by default the filesystem is resolved from the path's
    scheme (pafs.resolve — local, ``file://``, ``s3://``/``s3a://``,
    ``gs://``, ``hdfs://``).  A resume of a store planned with an explicit
    filesystem must pass it again: the persisted plan's file paths are
    fs-native.
    """
    assert out_dir, "out_dir required"
    if selection not in ("size", "speed"):
        raise ValueError(f"unknown selection policy {selection!r}")
    if df is not None and input_path is not None:
        raise ValueError(
            "pass input_path OR df, not both — a transformed df would be "
            "silently ignored whenever input_path is directly readable"
        )
    if plan is not None and df is not None:
        raise ValueError("plan= names the files to encode; incompatible "
                         "with df=")
    if isinstance(sort_by, str):
        sort_by = [sort_by]
    sort_by = list(sort_by) if sort_by else None

    # the tasks write, and the driver resumes from, out_dir with pyarrow:
    # fail here, before plan.json is written, not once per encode task
    try:
        pafs.resolve(out_dir)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"pyarrow cannot serve out_dir {out_dir!r}: {e}") from e

    t0 = time.time()
    plan = _load_or_compute_rowgroup_plan(
        spark, out_dir, input_path, df, n_partitions, filesystem, plan,
        sort_by
    )
    # the filesystem of the plan's fs-native paths: the recorded location's,
    # else the caller's (plans written before "input" was recorded were
    # resumed with their input_path); with neither, units carry their own
    # paths and each task resolves them
    planned = plan.get("input") or (
        input_path if filesystem is None else None)
    fs = pafs.resolve(planned)[0] if planned else filesystem
    schema = [tuple(t) for t in plan.get("schema", [])] or list(DEFAULT_SCHEMA)
    # sort_by is part of the persisted layout contract (chunk boundaries and
    # zone maps depend on it): a resume adopts the recorded order, and a
    # conflicting explicit request must fail loudly, not silently mix
    # sorted and unsorted partitions in one store
    eff_sort = plan.get("sort_by")
    if sort_by is not None and eff_sort != sort_by:
        raise ValueError(
            f"out_dir was planned with sort_by={eff_sort!r}; resume adopts "
            f"it — re-encode into a fresh out_dir for sort_by={sort_by!r}"
        )
    if eff_sort:
        _kinds = dict(schema)
        for sc in eff_sort:
            if sc not in _kinds or _kinds[sc].startswith(
                ("list", "struct", "map")
            ):
                raise ValueError(
                    f"sort_by column {sc!r} must be a scalar store column; "
                    f"schema: {schema}"
                )
    n_total = plan["n_total"]

    done = completed_part_ids(spark, out_dir) if resume else set()
    pending = [p for p in range(n_total) if p not in done]
    if limit_parts is not None:
        pending = pending[:limit_parts]
    if not pending:
        return {"n_partitions": n_total, "pending": 0, "skipped": len(done),
                "wall_sec": 0.0}

    work = rowgroup_work_df(spark, plan["parts"], pending)
    encoder = make_rowgroup_encoder(chunk_bytes, fs, selection, schema,
                                    sort_by=eff_sort)
    rollup = work.mapInArrow(write_chunk_files(encoder, out_dir), ROLLUP_DDL)
    _commit_manifest(spark, out_dir, rollup, pending)

    wall = time.time() - t0
    report = {
        "n_partitions": n_total,
        "pending": len(pending),
        "skipped": len(done),
        "chunk_bytes": chunk_bytes,
        "scan": "rowgroup",
        "selection": selection,
        **({"sort_by": eff_sort} if eff_sort else {}),
        "wall_sec": wall,
    }
    meta_path = os.path.join(out_dir, "run_meta.json")
    text = pafs.read_text(meta_path)
    history = [] if text is None else json.loads(text).get("runs", [])
    pafs.write_text(
        meta_path,
        json.dumps(
            {
                "engine": "clj_orc_spark",
                "schema_cols": list(physical_cols(schema)),
                "schema": [list(t) for t in schema],
                "runs": history + [report],
            },
            indent=1,
        ),
    )
    return report
