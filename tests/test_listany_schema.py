"""Round 5: lists of ANY scalar kind through the engine codec core.

``list<str>`` / ``list<bool>`` / ``list<binary>`` / ``list<date32>`` /
``list<ts_us[_utc]>`` complete the type matrix: flattened values ride the
same scalar-payload machinery as map values (`_scalar_payload`), the offsets
index + list-level validity ride the existing list machinery, and decode
reassembles through the struct-field scalar path (`_scalar_arr`).  The
reference's recursive column walk covers arrays of any element type
(`src/orc/col.clj:83-92,110-121`); the engine's legacy short kinds
(list32/list64/listf32/listf64) are spellings of ``list<vk>`` that keep
their on-disk naming and bytes, so existing stores decode byte-identically
(pinned by ``tests/test_payload_golden.py``).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clj_orc_spark.pipeline import decode, encode
from clj_orc_spark.pipeline.decode import decode_chunk_table, store_schema
from clj_orc_spark.pipeline.encode import (
    OUT_SCHEMA,
    _encode_chunk_rows,
    _row_weight_csum,
    derive_schema,
    list_value_kind,
)


def _chunk_roundtrip(tbl: pa.Table, schema) -> pa.Table:
    rows = _encode_chunk_rows(tbl, 0, 0, {}, "size", schema)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(rows[f.name], type=f.type) for f in OUT_SCHEMA],
        schema=OUT_SCHEMA,
    )
    return decode_chunk_table(pa.Table.from_batches([batch]), None, schema)


def test_derive_schema_generic_list_kinds():
    sch = derive_schema(pa.schema([
        ("s", pa.list_(pa.string())),
        ("b", pa.list_(pa.bool_())),
        ("y", pa.list_(pa.binary())),
        ("d", pa.list_(pa.date32())),
        ("t", pa.list_(pa.timestamp("us", tz="UTC"))),
        ("i", pa.list_(pa.int32())),
    ]))
    assert sch == [
        ("s", "list<str>"), ("b", "list<bool>"), ("y", "list<binary>"),
        ("d", "list<date32>"), ("t", "list<ts_us_utc>"), ("i", "list32"),
    ]
    assert list_value_kind("list<str>") == "str"
    assert list_value_kind("list32") == "int32"
    assert list_value_kind("listf64") == "float64"
    with pytest.raises(ValueError, match="not a list kind"):
        list_value_kind("int32")


def test_generic_lists_chunk_roundtrip():
    """Every generic list kind round-trips exactly, including NULL entries,
    NULL values inside lists, empty lists and empty strings/bytes."""
    day = dt.date(2020, 5, 17)
    ts = dt.datetime(2021, 3, 2, 4, 5, 6, 789012)
    tbl = pa.table({
        "s": pa.array([["a", "", "longer-string"], None, [], ["x", None]],
                      type=pa.list_(pa.string())),
        "b": pa.array([[True, False, None], [], None, [False]],
                      type=pa.list_(pa.bool_())),
        "y": pa.array([[b"\x00\xff", b""], None, [b"abc", None], []],
                      type=pa.list_(pa.binary())),
        "d": pa.array([[day, None], [], [day + dt.timedelta(days=400)],
                       None], type=pa.list_(pa.date32())),
        "t": pa.array([[ts], None, [], [ts, None]],
                      type=pa.list_(pa.timestamp("us"))),
    })
    schema = derive_schema(tbl.schema)
    back = _chunk_roundtrip(tbl, schema)
    for name in tbl.column_names:
        assert back.column(name).combine_chunks().to_pylist() == \
            tbl.column(name).to_pylist(), name


def test_generic_list_ddl_and_store(spark, tmp_path):
    tbl = pa.table({
        "doc_id": pa.array(["a", "b", "c", "d"] * 25),
        "tags": pa.array(
            [["news", "en"], ["web"], [], ["en", "dup", "dup"]] * 25,
            type=pa.list_(pa.string()),
        ),
        "flags": pa.array([[True], [False, True], [], [True, None]] * 25,
                          type=pa.list_(pa.bool_())),
    })
    src = str(tmp_path / "src.parquet")
    pq.write_table(tbl, src)
    out = str(tmp_path / "store")
    encode(spark, src, out, n_partitions=2)
    assert store_schema(spark, out) == [
        ("doc_id", "str"), ("tags", "list<str>"), ("flags", "list<bool>"),
    ]
    dec = decode(spark, out)
    assert [f.simpleString() for f in dec.schema.fields] == [
        "doc_id:string", "tags:array<string>", "flags:array<boolean>",
    ]
    got = sorted(
        dec.collect(), key=lambda r: r["doc_id"]
    )
    want = sorted(
        (
            {"doc_id": tbl["doc_id"][i].as_py(),
             "tags": tbl["tags"][i].as_py(),
             "flags": tbl["flags"][i].as_py()}
            for i in range(tbl.num_rows)
        ),
        key=lambda r: r["doc_id"],
    )
    assert [r.asDict() for r in got] == want


def test_string_list_containment_predicate(spark, tmp_path):
    """ranges= containment on list<str> values — zone-map pruned via the
    string min/max stats, then exactly (lexicographically) filtered."""
    tbl = pa.table({
        "k": pa.array(list(range(6)), type=pa.int64()),
        "tags": pa.array(
            [["alpha"], ["beta", "gamma"], ["delta"], [], ["zeta"],
             ["epsilon", "eta"]],
            type=pa.list_(pa.string()),
        ),
    })
    src = str(tmp_path / "s.parquet")
    pq.write_table(tbl, src)
    out = str(tmp_path / "store")
    encode(spark, src, out, n_partitions=1)
    got = decode(spark, out, ranges={"tags": ("d", "f")}).collect()
    assert sorted(r["k"] for r in got) == [2, 5]  # delta, epsilon/eta
    with pytest.raises(TypeError, match="bounds must be str"):
        decode(spark, out, ranges={"tags": (1, None)})


def test_temporal_list_containment_rejected(spark, tmp_path):
    tbl = pa.table({
        "d": pa.array([[dt.date(2020, 1, 1)]], type=pa.list_(pa.date32())),
    })
    src = str(tmp_path / "d.parquet")
    pq.write_table(tbl, src)
    out = str(tmp_path / "store")
    encode(spark, src, out, n_partitions=1)
    with pytest.raises(ValueError, match="not supported; filter after"):
        decode(spark, out, ranges={"d": (0, 100)})


def test_row_weight_csum_null_list_entries():
    """Regression: a NULL list entry used to cast its null length to
    INT_MIN, driving the cumulative chunk budget negative."""
    tbl = pa.table({
        "tokens": pa.array([[1, 2, 3], None, [4]],
                           type=pa.list_(pa.int32())),
    })
    w = _row_weight_csum(tbl, [("tokens", "list32")])
    assert w.tolist() == [12, 12, 16]  # null entry weighs 0, never INT_MIN
    # generic list kinds price via their value kind (str → 16 B/value)
    tbl2 = pa.table({
        "tags": pa.array([["a", "b"], None], type=pa.list_(pa.string())),
    })
    w2 = _row_weight_csum(tbl2, [("tags", "list<str>")])
    assert w2.tolist() == [32, 32]
