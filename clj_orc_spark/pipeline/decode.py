"""Decode pipeline: encoded chunks + manifest → the source table.

The read-side analog of the reference's entry point (`src/orc/read.clj:65-112`):
where clj-orc pulls ORC batches and pivots them to rows per-cell
(`src/orc/core.clj:57-66`), this engine groups each chunk's encoded column
rows (one per physical payload of the store's schema), runs the vectorized
decode kernels, and reassembles every logical column from its payloads
through one scalar-leaf path (``decode_chunk_table``): a scalar column is
one leaf; a list is its values leaf plus the offsets index — the exact
offsets/lengths slicing the reference applies to ORC list vectors
(`src/orc/col.clj:110-121`), done once per chunk instead of once per row;
a map is its keys and values leaves under the same offsets index; a struct
is its leaves under per-level present columns.

CRC of every payload is checked against the value recorded at encode time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..kernels import crc32, decode_any
from . import pafs
from .encode import (
    DEFAULT_SCHEMA,
    list_payload_names,
    list_value_kind,
    map_kinds,
    physical_cols,
    physical_map,
    struct_fields,
)

TOKEN_DDL = "doc_id string, tokens array<int>, n_tok int, source string"
#: decode work list: one row per chunk file, ``cids`` the JSON list of the
#: chunk_ids to keep (null = every chunk of the file)
WORK_DDL = "path string, cids string"

_DDL_TYPE = {"str": "string", "int32": "int", "int64": "bigint",
             "float32": "float", "float64": "double",
             "date32": "date", "ts_us": "timestamp_ntz",
             "ts_us_utc": "timestamp",
             "bool": "boolean", "binary": "binary"}
#: int-storage kinds → (numpy storage dtype, arrow type factory).  Temporal
#: kinds share the int path: same storage bytes, the arrow type restores
#: date/timestamp semantics exactly (days / micros reinterpret).
_INT_TYPE = {
    "int32": (np.int32, pa.int32), "int64": (np.int64, pa.int64),
    "date32": (np.int32, pa.date32),
    "ts_us": (np.int64, lambda: pa.timestamp("us")),
    "ts_us_utc": (np.int64, lambda: pa.timestamp("us", tz="UTC")),
}
#: float kind → (unsigned bit-pattern dtype, float dtype, arrow type)
_FLOAT_TYPE = {"float32": (np.uint32, np.float32, pa.float32),
               "float64": (np.uint64, np.float64, pa.float64)}


def _pred_target(key: str, kinds: dict) -> tuple[str, str] | None:
    """(effective kind, physical stats/payload column) for a predicate key:
    a top-level column, or ``col.field`` reaching into a shredded struct —
    the shredded field has its OWN zone maps in the manifest, so a struct-
    field predicate prunes chunks without decoding anything.  ``None`` when
    the key resolves to nothing (caller raises with its own wording)."""
    if key in kinds:
        kind = kinds[key]
        phys = list_payload_names(key)[0] if kind.startswith("list") else key
        return kind, phys
    col, dot, rest = key.partition(".")
    if dot and col in kinds and kinds[col].startswith("struct"):
        kind, phys, lpath = kinds[col], col, col
        for fld in rest.split("."):
            if not kind.startswith("struct"):
                raise ValueError(
                    f"predicate key {key!r}: {lpath!r} "
                    f"is a scalar field, not a struct"
                )
            fks = dict(struct_fields(kind))
            if fld not in fks:
                raise ValueError(
                    f"struct column {lpath!r} has no "
                    f"field {fld!r}; fields: {sorted(fks)}"
                )
            kind, phys = fks[fld], f"{phys}__{fld}"
            lpath = f"{lpath}.{fld}"
        if kind.startswith("struct"):
            raise ValueError(
                f"predicate key {key!r} targets a struct; predicates take "
                f"a scalar leaf field (e.g. {key}.<field>)"
            )
        return kind, phys
    return None


def _bound_types(kind: str) -> tuple[tuple, str]:
    """Accepted Python bound types for predicates on a column kind."""
    if kind.startswith("list"):  # containment bounds type like the values
        kind = list_value_kind(kind)
    if kind == "str":
        return (str,), "str"
    if kind == "binary":
        return (bytes,), "bytes"
    if kind in ("float32", "float64"):
        return (int, float), "int or float"
    if kind == "bool":
        return (int, bool), "int or bool"
    return (int,), "int"


def _zone_type(kind: str) -> pa.DataType:
    """Arrow type a column kind's zone-map stats parse to (the manifest
    records them as JSON strings) — the compare type of the one predicate
    compiler, :func:`_compile_predicates`."""
    if kind.startswith("list"):  # a list: dispatch on its value kind
        kind = list_value_kind(kind)
    if kind == "str":
        return pa.string()
    if kind == "binary":
        return pa.binary()
    if kind in ("float32", "float64"):
        return pa.float64()
    return pa.int64()


def _ddl_type(kind: str) -> str:
    if kind.startswith("struct"):
        inner = ", ".join(  # _ddl_type recursion: nested struct fields
            f"{f}: {_ddl_type(k)}" for f, k in struct_fields(kind)
        )
        return f"struct<{inner}>"
    if kind.startswith("map"):
        kk, vk = map_kinds(kind)
        return f"map<{_DDL_TYPE[kk]}, {_DDL_TYPE[vk]}>"
    if kind.startswith("list"):
        return f"array<{_DDL_TYPE[list_value_kind(kind)]}>"
    return _DDL_TYPE[kind]


def _select_ddl(columns: list[str], schema) -> str:
    kinds = dict(schema)
    return ", ".join(f"{c} {_ddl_type(kinds[c])}" for c in columns)


def store_schema(spark, out_dir: str) -> list[tuple[str, str]]:
    """The schema descriptor pinned in the store's plan.json (round 4+);
    stores written before schema recording are the fixed token table."""
    import os

    text = pafs.read_text(os.path.join(out_dir, "plan.json"))
    sch = None if text is None else json.loads(text).get("schema")
    if sch:
        return [tuple(t) for t in sch]
    return list(DEFAULT_SCHEMA)


def _require_store(out_dir: str) -> None:
    """Raise ``ValueError`` when ``out_dir`` holds neither plan.json nor a
    manifest: a mistyped location is no store, not an empty token table
    (an encoded empty store has plan.json and no manifest)."""
    import os

    if (pafs.read_text(os.path.join(out_dir, "plan.json")) is None
            and pafs.hive_dataset(
                os.path.join(out_dir, "manifest", "chunks")) is None):
        raise ValueError(
            f"no store at {out_dir!r}: it holds neither plan.json nor a "
            "manifest"
        )


def decode_chunk_table(tbl: pa.Table, columns: list[str] | None = None,
                       schema=DEFAULT_SCHEMA) -> pa.Table:
    """Decode one chunk's column rows back to source-table rows.

    ``columns`` prunes the decode: only the payloads backing the requested
    logical columns are CRC-checked and decoded — asking for metadata
    columns (doc_id/n_tok/source) skips the token_values kernel entirely,
    which is ~97% of the decode work.  ``schema`` is the store's descriptor
    (schema-driven kernel binding, the decode half of the reference's
    user-declared plan, `src/orc/col.clj:184-204`).  Every value decodes
    through ``_scalar_arr``; lists (any spelling) and maps add only their
    offsets index (``_offsets``, the one int32-overflow guard), structs
    their present columns."""
    kinds = dict(schema)
    order = [name for name, _ in schema]
    phys = physical_map(schema)
    wanted = list(columns) if columns is not None else order
    needed = {p for c in wanted for p in phys[c]}
    cols = {}
    valid_bufs: dict[str, bytes] = {}
    for i in range(tbl.num_rows):
        name = tbl.column("col")[i].as_py()
        if name not in needed:
            continue
        payload = tbl.column("payload")[i].as_py()
        meta = json.loads(tbl.column("meta")[i].as_py())
        expected_crc = tbl.column("crc")[i].as_py()
        if crc32(payload) != expected_crc:
            raise IOError(
                f"CRC mismatch on chunk {tbl.column('chunk_id')[0].as_py()} col {name}"
            )
        vb_len = meta.get("valid")
        if vb_len:
            # nullable payload (round 5): little-endian packed validity
            # bitmap prefixed to the kernel payload — Arrow buffer bit order
            valid_bufs[name] = payload[:vb_len]
            payload = payload[vb_len:]
        cols[name] = decode_any(payload, meta)
    missing = needed - set(cols)
    if missing:
        raise IOError(f"chunk incomplete, missing columns: {missing}")

    def _vbuf(name: str):
        vb = valid_bufs.get(name)
        return pa.py_buffer(vb) if vb is not None else None

    def _scalar_arr(p: str, fk: str) -> pa.Array:
        """Reassemble one flat scalar payload — a scalar column, a list's
        values, a map's keys or values, a struct leaf — with its validity
        bitmap, wrapping the kernel's numpy output without a copy;
        temporal kinds restore their arrow type over the same storage
        bytes."""
        if fk in _INT_TYPE:
            np_t, pa_t = _INT_TYPE[fk]
            a = np.ascontiguousarray(cols[p].astype(np_t, copy=False))
            return pa.Array.from_buffers(
                pa_t(), len(a), [_vbuf(p), pa.py_buffer(a)]
            )
        if fk in _FLOAT_TYPE:
            u_t, f_t, pa_t = _FLOAT_TYPE[fk]
            a = np.ascontiguousarray(
                cols[p].astype(u_t, copy=False)
            ).view(f_t)
            return pa.Array.from_buffers(
                pa_t(), len(a), [_vbuf(p), pa.py_buffer(a)]
            )
        if fk == "bool":
            # int32 0/1 storage → arrow bool (bit-packed data buffer)
            a = cols[p].astype(np.int32, copy=False) != 0
            return pa.Array.from_buffers(
                pa.bool_(), len(a),
                [_vbuf(p),
                 pa.py_buffer(np.packbits(a, bitorder="little"))],
            )
        arr = cols[p].to_arrow()  # str / binary (same offsets+bytes layout)
        if p in valid_bufs:
            bufs = arr.buffers()
            arr = pa.Array.from_buffers(
                arr.type, len(arr), [_vbuf(p), bufs[1], bufs[2]]
            )
        if fk == "binary":
            arr = arr.view(
                pa.large_binary()
                if pa.types.is_large_string(arr.type) else pa.binary()
            )
        return arr

    def _struct_arr(prefix: str, kind: str) -> pa.Array:
        """Shredded struct reassembly, recursive: scalar leaves from their
        own payloads (each with its own validity), nested struct fields
        from a recursive call, struct-level validity from this level's 0/1
        present column."""
        pres = cols[f"{prefix}__present"].astype(np.bool_, copy=False)
        n_s = len(pres)
        children, fields = [], []
        for fname, fkind in struct_fields(kind):
            child = (
                _struct_arr(f"{prefix}__{fname}", fkind)
                if fkind.startswith("struct")
                else _scalar_arr(f"{prefix}__{fname}", fkind)
            )
            children.append(child)
            fields.append(pa.field(fname, child.type))
        pbuf = (
            None if bool(pres.all())
            else pa.py_buffer(np.packbits(pres, bitorder="little"))
        )
        return pa.Array.from_buffers(
            pa.struct(fields), n_s, [pbuf], children=children
        )

    def _offsets(typ: pa.DataType, o_name: str,
                 child: pa.Array) -> pa.Array:
        """A list or map array of ``typ`` over ``child``, indexed by the
        offsets payload ``o_name`` (entry validity rides on its bitmap).
        The one guard against a chunk whose values overflow the int32
        offsets Arrow takes: they are int64 on disk, and a wrap would be
        silent."""
        offsets = cols[o_name].astype(np.int64, copy=False)
        if len(offsets) > 1 and int(offsets[-1]) > np.iinfo(np.int32).max:
            raise IOError(
                f"offsets payload {o_name!r} indexes {int(offsets[-1])} "
                "values, beyond int32 list offsets; re-encode with "
                "smaller chunk_bytes"
            )
        return pa.Array.from_buffers(
            typ, len(offsets) - 1,
            [_vbuf(o_name), pa.py_buffer(offsets.astype(np.int32))],
            children=[child],
        )

    out = {}
    for c in wanted:
        kind = kinds[c]
        if kind.startswith("list"):
            v_name, o_name = phys[c]
            values = _scalar_arr(v_name, list_value_kind(kind))
            out[c] = _offsets(pa.list_(values.type), o_name, values)
        elif kind.startswith("struct"):
            out[c] = _struct_arr(c, kind)
        elif kind.startswith("map"):
            # shredded map: keys/values children under the offsets index
            k_name, v_name, o_name = phys[c]
            kk, vk = map_kinds(kind)
            keys_arr = _scalar_arr(k_name, kk)
            vals_arr = _scalar_arr(v_name, vk)
            ef = [pa.field("key", keys_arr.type, nullable=False),
                  pa.field("value", vals_arr.type)]
            entries = pa.StructArray.from_arrays(
                [keys_arr, vals_arr], fields=ef
            )
            out[c] = _offsets(pa.map_(ef[0], ef[1]), o_name, entries)
        else:
            # every scalar kind — int/temporal/float/bool/str/binary —
            # reassembles through the one scalar path (validity bitmaps,
            # uint-view-to-float, large_binary view all live there)
            out[c] = _scalar_arr(c, kind)
    return pa.table(out)


def _strip_file_scheme(uri: str) -> str:
    from urllib.parse import urlparse

    return urlparse(uri).path if uri.startswith("file:") else uri


def _read_manifest(out_dir: str, columns: list[str],
                   part_ids=None, cols=None) -> pa.Table | None:
    """THE manifest reader of decode planning (file listing, zone-map
    pruning, plan report) and of the size gate: ``columns`` of the
    committed chunk records, rows restricted to ``part_id IN part_ids`` and
    ``col IN cols`` (None = all).

    The manifest is payload-pruned metadata (KBs-to-MBs) written by the
    encode tasks with pyarrow, so it is read with pyarrow on the driver —
    planning starts no Spark job.  ``file`` reads dictionary-encoded: it
    repeats once per chunk column.  Returns None when the store has no
    manifest yet (no part committed a chunk).  A manifest without one of
    ``columns`` comes from an earlier release (round-1 stores record no
    ``file``) and raises, asking for a re-encode; so does any read
    error."""
    import os

    import pyarrow.dataset as ds

    mdir = os.path.join(out_dir, "manifest", "chunks")
    dataset = pafs.hive_dataset(mdir, ds.ParquetFileFormat(
        read_options=ds.ParquetReadOptions(dictionary_columns={"file"})))
    if dataset is None:
        return None
    missing = sorted(set(columns) - set(dataset.schema.names))
    if missing:
        raise ValueError(
            f"the manifest under {mdir!r} records no {missing}: a store "
            "from a release whose layout no longer exists; re-encode into a "
            "fresh out_dir"
        )
    flt = None
    if part_ids is not None:
        flt = ds.field("part_id").isin([int(p) for p in part_ids])
    if cols is not None:
        e = ds.field("col").isin(cols)
        flt = e if flt is None else flt & e
    return dataset.to_table(columns=columns, filter=flt)


def _manifest_files(out_dir: str, part_ids: list[int] | None) -> list[str]:
    """Chunk file list from the manifest (the scale path: no filesystem walk
    — on an object store, enumeration comes from committed lineage, and
    uncommitted partial files from a crashed wave are never decoded).
    Empty when the store has no manifest yet."""
    tbl = _read_manifest(out_dir, ["file"], part_ids)
    if tbl is None:
        return []
    uris = {u for u in pc.unique(tbl.column("file")).to_pylist() if u}
    return [_strip_file_scheme(u) for u in sorted(uris)]


def _zone_stats(stats, typ: pa.DataType) -> tuple[pa.Array, pa.Array]:
    """(min, max) arrays parsed from manifest ``stats`` JSON strings under
    an explicit ``typ`` schema — one vectorised pass, where a ``json.loads``
    loop costs ~20x more at millions of chunks.  A null or key-less stats
    string parses to null min/max (a stat-less chunk)."""
    import pyarrow.json as pj

    s = pc.fill_null(stats, "{}")
    if isinstance(s, pa.ChunkedArray):
        s = s.combine_chunks()
    if len(s) == 0:
        empty = pa.array([], type=typ)
        return empty, empty
    longest = pc.max(pc.binary_length(s)).as_py()
    lines = pc.binary_join(
        pa.ListArray.from_arrays(pa.array([0, len(s)], pa.int32()), s), "\n"
    )[0].as_buffer()
    t = pj.read_json(
        pa.BufferReader(lines),
        read_options=pj.ReadOptions(block_size=max(1 << 20, 2 * longest + 2)),
        parse_options=pj.ParseOptions(
            explicit_schema=pa.schema([("min", typ), ("max", typ)]),
            unexpected_field_behavior="ignore",
        ),
    )
    return (t.column("min").combine_chunks(),
            t.column("max").combine_chunks())


def _cmp(op: str, a: pa.Array, v) -> pa.Array:
    """``a >= v`` (op "ge") or ``a <= v`` (op "le") under Spark's ordering,
    the one comparator of zone-map pruning and the in-task row filter
    (:func:`_row_mask`): NaN equals NaN and sorts above every value, so
    ``x <= NaN`` holds for every x and ``NaN >= x`` holds where IEEE says
    false (stats are never NaN — encode records non-finite chunks as
    stat-less — so only row values take the second rule).  An int bound
    past int64 sorts past every value the same way.  Nulls compare null."""
    typ = a.type
    beyond = 0
    if pa.types.is_floating(typ):
        v = float(v)
        beyond = 1 if v != v else 0
    elif pa.types.is_integer(typ):
        v = int(v)
        beyond = (v > np.iinfo(np.int64).max) - (v < np.iinfo(np.int64).min)
    if beyond:
        holds = (op == "le") == (beyond > 0)
        out = pc.is_valid(a) if holds else pa.array(np.zeros(len(a), bool))
    else:
        b = pa.scalar(v, typ)
        out = pc.greater_equal(a, b) if op == "ge" else pc.less_equal(a, b)
    if op == "ge" and pa.types.is_floating(typ):
        out = pc.or_kleene(out, pc.is_nan(a))
    return out


def _overlaps(mn: pa.Array, mx: pa.Array, lo, hi) -> pa.Array:
    """Kleene mask: zone ``[mn, mx]`` meets ``[lo, hi]`` (either bound
    None, not both)."""
    if lo is None:
        return _cmp("le", mn, hi)
    cond = _cmp("ge", mx, lo)
    return cond if hi is None else pc.and_kleene(cond, _cmp("le", mn, hi))


def _row_mask(tbl: pa.Table, preds: _Predicates) -> pa.Array | None:
    """Kleene mask of the decoded rows passing every compiled predicate,
    tested like the zone maps: each value ``v``
    is the zone ``[v, v]`` under :func:`_overlaps`, on the storage ints
    the bounds are given in (days / micros / 0-1), widened to the zone
    type as Spark widens float to double.  A list predicate keeps a row
    holding at least one value in range; a null list, struct or value
    never passes.  None when there is no predicate (keep every row)."""
    tests = [(k, [w]) for k, w in preds.ranges.items()]
    tests += [(k, [(v, v) for v in vals]) for k, vals in preds.isin.items()]
    mask = None
    for key, windows in tests:
        kind = preds.kinds[key]
        if key in tbl.column_names:
            arr = tbl.column(key).combine_chunks()
        else:  # col.field: a shredded struct leaf
            col, *path = key.split(".")
            arr = pc.struct_field(tbl.column(col).combine_chunks(), path)
        lists = arr if kind.startswith("list") else None
        if lists is not None:
            # the values list_parent_indices numbers: a null list's slot
            # included, so the row's validity is ANDed in below
            offs = lists.offsets
            arr = lists.values.slice(offs[0].as_py(),
                                     offs[-1].as_py() - offs[0].as_py())
        elif kind == "date32":
            arr = arr.cast(pa.int32())
        v = arr.cast(_zone_type(kind))
        hit = functools.reduce(pc.or_kleene, (
            _overlaps(v, v, lo, hi) for lo, hi in windows))
        if lists is not None:
            rows = np.zeros(len(lists), dtype=bool)
            rows[pc.list_parent_indices(lists).filter(hit).to_numpy()] = True
            hit = pc.and_(pa.array(rows), lists.is_valid())
        mask = hit if mask is None else pc.and_kleene(mask, hit)
    return mask


def _file_groups(files, cids) -> list[tuple[str, list[int]]]:
    """(file, sorted distinct chunk_ids) per file for aligned file / chunk_id
    columns, grouped on the dictionary indices with numpy."""
    t = pa.table({"f": files if pa.types.is_dictionary(files.type)
                  else pc.dictionary_encode(files),
                  "c": cids}).unify_dictionaries().combine_chunks()
    if t.num_rows == 0:
        return []
    farr = t.column("f").chunk(0)
    idx = farr.indices.to_numpy(zero_copy_only=False)
    ids = t.column("c").chunk(0).to_numpy(zero_copy_only=False)
    order = np.lexsort((ids, idx))
    idx, ids = idx[order], ids[order]
    new = np.ones(len(ids), dtype=bool)
    new[1:] = (idx[1:] != idx[:-1]) | (ids[1:] != ids[:-1])
    idx, ids = idx[new], ids[new]
    cuts = np.flatnonzero(np.diff(idx)) + 1
    names = farr.dictionary.to_pylist()
    return sorted(
        (_strip_file_scheme(names[g[0]]), c.tolist())
        for g, c in zip(np.split(idx, cuts), np.split(ids, cuts))
    )


def _stat_pruned_specs(out_dir: str, part_ids, range_specs, isin_specs):
    """Zone-map pruning: (file, [chunk_ids]) for chunks whose recorded
    per-column min/max intersects the predicates — the ORC column-statistics
    analog, answered on the driver from the payload-pruned manifest (no
    Spark job), for ANY physical stat column.

    ``range_specs``: (phys_col, lo, hi, type) — chunk survives when its
    [min, max] intersects [lo, hi] (either bound None).  ``isin_specs``:
    (phys_col, values, type) — chunk survives when some wanted value lies
    within its range.  Predicates intersect; a chunk with no record for a
    predicate's column is dropped, a stat-less one (null min) kept.  Returns
    None when there are no specs or the store predates stats recording
    (decode everything)."""
    if not range_specs and not isin_specs:
        return None
    phys = sorted({s[0] for s in range_specs} | {s[0] for s in isin_specs})
    m = _read_manifest(out_dir, ["chunk_id", "col", "stats", "file"],
                       part_ids, phys)
    if m is None:
        return None

    # an isin value v is the window [v, v]: a chunk can only hold a wanted
    # value if some v ∈ values lies within its range
    tests = [(c, t, [(lo, hi)]) for c, lo, hi, t in range_specs]
    tests += [(c, t, [(v, v) for v in vals]) for c, vals, t in isin_specs]
    hit = None  # (file, chunk_id) rows of chunks passing every test so far
    for name, typ, windows in tests:
        rows = m.filter(pc.equal(m.column("col"), name))
        mn, mx = _zone_stats(rows.column("stats"), typ)
        meets = functools.reduce(pc.or_kleene, (
            _overlaps(mn, mx, lo, hi) for lo, hi in windows))
        # stat-less chunk (null min): conservative keep
        keep = pc.or_kleene(pc.is_null(mn), meets)
        got = rows.select(["file", "chunk_id"]).filter(keep)
        hit = got if hit is None else hit.filter(
            pc.is_in(hit.column("chunk_id"), got.column("chunk_id")))
    return _file_groups(hit.column("file"), hit.column("chunk_id"))


class _Predicates(NamedTuple):
    """A compiled ``ranges``/``isin`` predicate set (see
    :func:`_compile_predicates`)."""

    ranges: dict  # key → (lo, hi), bool bounds as 0/1 storage ints
    isin: dict  # key → [values], bool values as 0/1 storage ints
    kinds: dict  # key → effective kind (struct fields resolved)
    range_specs: list  # (phys col, lo, hi, type) for _stat_pruned_specs
    isin_specs: list  # (phys col, values, type) for _stat_pruned_specs
    columns: list | None  # validated projection in schema order


def _compile_predicates(schema, ranges: dict | None, isin: dict | None,
                        columns: list[str] | None = None) -> _Predicates:
    """THE plan-time predicate compiler, shared by :func:`decode` and
    :func:`decode_plan_report` so the two can never drift: validates every
    predicate key, bound type and projection against the store schema and
    normalises bool bounds to the 0/1 ints the zone maps hold.  Raises
    ``TypeError`` for a wrongly typed bound and ``ValueError`` for any other
    unsupported predicate."""
    kinds = dict(schema)
    order = [name for name, _ in schema]
    ranges = dict(ranges or {})
    isin = dict(isin or {})
    pred_kind: dict[str, str] = {}
    pred_phys: dict[str, str] = {}
    for colname, rng in ranges.items():
        if not isinstance(rng, (tuple, list)) or len(rng) != 2:
            raise TypeError(f"ranges[{colname!r}] must be a (lo, hi) pair")
        if colname in kinds and kinds[colname].startswith(("struct", "map")):
            raise ValueError(
                f"predicates on struct/map column {colname!r} are not "
                f"supported; use a shredded struct field "
                f"('{colname}.<field>') or filter after decode"
            )
        tgt = _pred_target(colname, kinds)
        if tgt is None:
            raise ValueError(
                f"ranges column {colname!r} not in store schema {order}"
            )
        pred_kind[colname], pred_phys[colname] = tgt
        if pred_kind[colname].startswith("list"):
            vk = list_value_kind(pred_kind[colname])
            if vk not in ("int32", "int64", "float32", "float64", "str"):
                # containment compares decoded ELEMENTS against the
                # bounds; temporal/bool elements are not cast to their
                # storage ints (_row_mask casts scalar columns only)
                raise ValueError(
                    f"range containment on {pred_kind[colname]!r} column "
                    f"{colname!r} is not supported; filter after decode"
                )
        want, want_name = _bound_types(pred_kind[colname])
        if any(b is not None and not isinstance(b, want) for b in rng):
            raise TypeError(
                f"ranges[{colname!r}] bounds must be {want_name} (or None)"
            )
        if all(b is None for b in rng):
            raise ValueError(f"ranges[{colname!r}] needs at least one bound")
        if pred_kind[colname] == "bool":
            # normalize True/False bounds to the 0/1 storage ints the zone
            # maps hold and the row mask compares against
            ranges[colname] = tuple(
                None if b is None else int(b) for b in rng
            )
    for colname, vals in isin.items():
        if colname in kinds and kinds[colname].startswith("list"):
            raise ValueError(
                f"isin is not supported on list column {colname!r}; use a "
                "ranges containment predicate"
            )
        if colname in kinds and kinds[colname].startswith(("struct", "map")):
            raise ValueError(
                f"predicates on struct/map column {colname!r} are not "
                f"supported; use a shredded struct field "
                f"('{colname}.<field>') or filter after decode"
            )
        tgt = _pred_target(colname, kinds)
        if tgt is None:
            raise ValueError(
                f"isin column {colname!r} not in store schema {order}"
            )
        pred_kind[colname], pred_phys[colname] = tgt
        want, want_name = _bound_types(pred_kind[colname])
        if not vals or any(not isinstance(v, want) for v in vals):
            raise TypeError(
                f"isin[{colname!r}] must be a non-empty list of {want_name}"
            )
        if pred_kind[colname] == "bool":
            isin[colname] = [int(v) for v in vals]
    if columns is not None:
        if not columns:
            # an empty projection would otherwise surface later as an opaque
            # Spark DDL ParseException — fail at plan time instead
            raise ValueError("columns must be a non-empty list or None")
        bad = set(columns) - set(order)
        if bad:
            raise ValueError(f"unknown columns: {sorted(bad)}")
        for colname in set(ranges) | set(isin):
            base = colname.split(".", 1)[0]
            if base not in columns:
                what = ("it" if base == colname else repr(base))
                raise ValueError(
                    f"predicate on {colname!r} requires {what} in columns"
                )
        columns = [c for c in order if c in set(columns)]
    range_specs = [
        (pred_phys[c], lo, hi, _zone_type(pred_kind[c]))
        for c, (lo, hi) in ranges.items()
    ]
    isin_specs = [
        (pred_phys[c], list(v), _zone_type(pred_kind[c]))
        for c, v in isin.items()
    ]
    return _Predicates(ranges, isin, pred_kind, range_specs, isin_specs,
                       columns)


def decode_plan_report(spark, out_dir: str,
                       ranges: dict | None = None,
                       isin: dict | None = None) -> dict:
    """Observability for zone-map pruning: how many chunks/files would a
    predicated decode touch?  Answers entirely from the payload-pruned
    manifest on the driver (no chunk data read, no Spark job) — the
    engine-format analog of EXPLAIN's partition/row-group pruning counts.
    Predicates compile and prune exactly as in :func:`decode`, so a
    predicate decode() rejects is rejected here too.

    Returns ``{"chunks_total", "chunks_kept", "files_total", "files_kept"}``.
    """
    preds = _compile_predicates(store_schema(spark, out_dir), ranges, isin)
    m = _read_manifest(out_dir, ["chunk_id", "file"])
    if m is None:
        raise ValueError(f"no manifest with file records under {out_dir!r}")
    chunks = len(pc.unique(m.column("chunk_id")).drop_null())
    files = len(pc.unique(m.column("file")).drop_null())
    pruned = _stat_pruned_specs(out_dir, None, preds.range_specs,
                                preds.isin_specs)
    if pruned is None:  # no predicates or stat-less store: everything kept
        kept_c, kept_f = chunks, files
    else:
        kept_c = sum(len(cids) for _, cids in pruned)
        kept_f = len(pruned)
    return {"chunks_total": chunks, "chunks_kept": kept_c,
            "files_total": files, "files_kept": kept_f}


def decode(spark, out_dir: str, part_ids: list[int] | None = None,
           columns: list[str] | None = None,
           ranges: dict | None = None,
           isin: dict | None = None):
    """Distributed decode: chunk rows → source-table DataFrame.

    One task per encoded chunk file, read with pyarrow inside
    ``mapInArrow``.  The encoder writes every chunk's column rows
    contiguously into one file, so **no shuffle is needed at all** — at
    100 TB a groupBy(chunk_id) would reshuffle the entire encoded dataset.
    (pyarrow's parquet reader also measured ~1.5x faster than the JVM scan
    on these payload-heavy rows.)  A decode that reads no file returns a
    zero-partition frame.

    The work list is a JVM RDD with one row, so one task, per file
    (:func:`~clj_orc_spark.pipeline.encode.work_frame`): scanning it
    starts no Python worker.  It is not a driver-local relation: Spark
    sizes a ``LocalRelation`` from its rows (~50 B per path) and
    ``mapInArrow`` inherits that estimate, so a join would broadcast the
    whole decoded frame.  An RDD scan has Spark's default "unknown, huge"
    size and is never broadcast.

    ``columns`` prunes the decode to the requested logical columns — the
    engine-format analog of parquet column pruning: unneeded payloads are
    never CRC'd or decoded, so e.g. a doc_id+n_tok scan of the token table
    skips the token kernels (~97% of decode CPU).

    ``ranges`` / ``isin`` are predicates on any column of the store's
    schema: ``ranges={"year": (2010, 2019), "lang": ("de", "en")}``
    (inclusive ``(lo, hi)``, either end None), ``isin={"lang": ["en",
    "fr"]}``.  Scalar columns filter by value; list columns take ``ranges``
    only, as a CONTAINMENT predicate over their flattened values (keep rows
    holding at least one value in range: ``ranges={"tokens": (100_000,
    None)}``); ``col.field`` keys reach into shredded struct fields.  Every
    predicate both prunes chunks through the manifest's per-chunk min/max
    stats (zone maps — the ORC column-statistics analog), so chunks that
    cannot match are never read, and filters the surviving rows exactly
    inside the decode task.  Both use one comparator in Spark's ordering
    (:func:`_cmp`: NaN equals NaN and sorts above every value, strings
    compare bytewise, temporal bounds are storage ints), so they cannot
    disagree and no Spark filter runs above the decode.
    """
    import json as _json

    schema = store_schema(spark, out_dir)
    order = [name for name, _ in schema]
    preds = _compile_predicates(schema, ranges, isin, columns)
    columns = preds.columns
    ddl = _select_ddl(columns if columns is not None else order, schema)

    from .encode import work_frame

    pruned = _stat_pruned_specs(
        out_dir, part_ids, preds.range_specs, preds.isin_specs
    )
    if pruned is not None:
        work_rows = [(f, _json.dumps(cids)) for f, cids in pruned]
    else:  # an empty store has no manifest, so no file
        work_rows = [(f, None) for f in _manifest_files(out_dir, part_ids)]
    # empty results are zero-partition frames: actions over them start no task
    if not work_rows:
        _require_store(out_dir)
        return work_frame(spark, [], ddl)

    phys = physical_map(schema)
    needed_cols = sorted({p for c in (columns or order) for p in phys[c]})
    prune_cols = (
        columns is not None
        and len(needed_cols) < len(physical_cols(schema))
    )

    # read/decode overlap pays where reads are REAL (object store / cold
    # disk: +11.5% single-task, BENCH.md); on a saturated local box the
    # extra reader thread per task is pure contention (62 tasks / 32 cores:
    # 3.4 s serial vs 3.7–6.1 s overlapped).  So overlap iff the store is
    # scheme-qualified (remote I/O latency to hide).
    decode_files = make_files_decoder(columns, schema, needed_cols,
                                      prune_cols,
                                      prefetch="://" in out_dir,
                                      preds=preds)

    # each task receives its OWN file path as data — a closure over the full
    # file list would ship every task a copy of all paths (millions at 100 TB)
    return work_frame(spark, work_rows, WORK_DDL).mapInArrow(decode_files, ddl)


def _rg_keep(md, cids: set | None, needed_cols, prune_cols: bool) -> list[int]:
    """Row groups that can hold wanted rows, from footer statistics — the
    manual equivalent of ``pq.read_table(filters=...)`` row-group skipping
    (chunk_id IN cids, col IN needed_cols), conservative when stats are
    absent."""
    name_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    ci, co = name_idx.get("chunk_id"), name_idx.get("col")
    keep = []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        ok = True
        if cids is not None and ci is not None:
            st = rg.column(ci).statistics
            if st is not None and st.has_min_max:
                ok = any(st.min <= c <= st.max for c in cids)
        if ok and prune_cols and co is not None:
            st = rg.column(co).statistics
            if st is not None and st.has_min_max:
                ok = any(st.min <= c <= st.max for c in needed_cols)
        if ok:
            keep.append(g)
    return keep


def _part_label(path: str) -> str:
    """``part_id=P`` of a chunk, manifest or parts-marker file path, from its
    innermost hive part directory (``part_id=?`` when it has none)."""
    m = re.findall(r"part_id=\d+", path)
    return m[-1] if m else "part_id=?"


def make_files_decoder(columns, schema, needed_cols, prune_cols: bool,
                       prefetch: bool = True, preds=None):
    """mapInArrow kernel over ``(path, cids_json)`` rows → decoded batches,
    each chunk's rows filtered by the compiled ``preds`` (a
    :class:`_Predicates`; None or predicate-free: every row).

    One reader: each file's row groups that can hold wanted rows
    (:func:`_rg_keep`) are read in order.  A chunk's rows are contiguous,
    so a group splits into chunks at the ``chunk_id`` run boundaries, each
    a zero-copy slice.  A chunk may span row groups (chunk files written
    before the encoder ended row groups on chunk boundaries do), so the
    last run of a group carries over into the next.  With ``prefetch`` a
    single reader thread pulls group i+1 while the codec kernels decode
    group i (pyarrow's parquet reader releases the GIL), the same
    read/compute overlap as the encoder's (``make_rowgroup_encoder``);
    ``prefetch=False`` reads on the task thread — the A/B baseline for
    scripts/decode_overlap_bench.py."""

    def emit(group):
        t = decode_chunk_table(group, columns, schema)
        mask = None if preds is None else _row_mask(t, preds)
        # a mask that keeps every row would only copy the chunk once more
        if mask is not None and (mask.null_count or not pc.all(mask).as_py()):
            t = t.filter(mask)
        yield from t.to_batches()

    def row_groups(pf, cids, pool):
        """The wanted rows of each kept row group of ``pf``, in file order."""
        keep = _rg_keep(pf.metadata, cids, needed_cols, prune_cols)

        def read(g):
            t = pf.read_row_group(g)
            if cids is not None:
                t = t.filter(pc.is_in(
                    t.column("chunk_id"),
                    value_set=pa.array(sorted(cids), type=pa.int64()),
                ))
            if prune_cols:
                t = t.filter(pc.is_in(
                    t.column("col"),
                    value_set=pa.array(needed_cols, type=pa.string()),
                ))
            return t

        if pool is None:
            yield from map(read, keep)
            return
        fut = pool.submit(read, keep[0]) if keep else None
        try:
            for g in keep[1:]:
                tbl = fut.result()
                fut = pool.submit(read, g)
                yield tbl
            if fut is not None:
                yield fut.result()
        finally:
            # a decode that stops early (a failed chunk, a closed task)
            # leaves one read in flight: finish it before pf closes
            if fut is not None and not fut.cancel():
                fut.exception()

    def decode_file(path, cids, pool):
        import pyarrow.parquet as pq

        # manifest-recorded URIs may be scheme-qualified (object store) —
        # resolve per path; plain local paths hit LocalFileSystem
        fs, p = pafs.resolve(path)
        with pq.ParquetFile(p, filesystem=fs) as pf, \
                contextlib.closing(row_groups(pf, cids, pool)) as groups:
            carry = None
            for tbl in groups:
                if carry is not None:
                    tbl = pa.concat_tables([carry, tbl])
                ids = tbl.column("chunk_id").to_numpy()
                starts = [0, *(np.flatnonzero(ids[1:] != ids[:-1]) + 1)
                          .tolist()]
                carry = tbl.slice(starts[-1])
                for a, b in zip(starts, starts[1:]):
                    yield from emit(tbl.slice(a, b - a))
            if carry is not None and carry.num_rows:
                yield from emit(carry)

    def decode_files(batches):
        from concurrent.futures import ThreadPoolExecutor

        pafs.worker_setup()
        pool = ThreadPoolExecutor(max_workers=1) if prefetch else None
        try:
            for batch in batches:
                for path, cids_json in zip(
                    batch.column(0).to_pylist(), batch.column(1).to_pylist()
                ):
                    cids = (
                        set(json.loads(cids_json))
                        if cids_json is not None else None
                    )
                    try:
                        yield from decode_file(path, cids, pool)
                    except (OSError, pa.ArrowException) as e:
                        # a CRC mismatch or an unreadable file names the
                        # chunk file and its part, not just a chunk_id
                        raise IOError(
                            f"chunk file {path} ({_part_label(path)}): {e}"
                        ) from e
        finally:
            if pool is not None:
                pool.shutdown(wait=False)

    return decode_files
