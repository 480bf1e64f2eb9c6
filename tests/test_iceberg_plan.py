"""Iceberg-manifest rowgroup planning (round 3): the planner consumes
DataFile entries (file_path, file_size_in_bytes, split_offsets) exactly as
Iceberg's ``.files`` metadata table records them, and its plan drives the
SAME zero-shuffle encode path — proven end-to-end here on synthetic entries
over real parquet files, with the connector-dependent reader gated."""

import os

import pytest

from clj_orc_spark.pipeline import decode, encode, verify_roundtrip
from clj_orc_spark.sources.iceberg_plan import (
    data_file_entries,
    plan_from_data_files,
)


def _entries_from_footers(files):
    """Synthesize Iceberg DataFile entries from real parquet footers —
    split_offsets the way Iceberg records them (first row group at 4,
    then cumulative compressed sizes)."""
    import pyarrow.parquet as pq

    entries = []
    for f in files:
        md = pq.read_metadata(f)
        offs, pos = [], 4
        for i in range(md.num_row_groups):
            offs.append(pos)
            rg = md.row_group(i)
            pos += sum(
                rg.column(c).total_compressed_size
                for c in range(rg.num_columns)
            )
        entries.append(
            {
                "file_path": f,
                "file_size_in_bytes": os.path.getsize(f),
                "split_offsets": offs,
            }
        )
    return entries


def _write_multi_rg(tmp_dir, n_files=3, rows_per_rg=700, rgs=4):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(5)
    files = []
    doc = 0
    for fi in range(n_files):
        path = os.path.join(tmp_dir, f"part-{fi}.parquet")
        writer = None
        for _ in range(rgs):
            n = rows_per_rg
            lens = rng.integers(1, 60, n)
            tbl = pa.table(
                {
                    "doc_id": pa.array([f"d{doc + i:07d}" for i in range(n)]),
                    "tokens": pa.array(
                        [rng.integers(0, 5000, k).tolist() for k in lens],
                        type=pa.list_(pa.int32()),
                    ),
                    "n_tok": pa.array(lens, type=pa.int32()),
                    "source": pa.array([f"s{fi}"] * n),
                }
            )
            doc += n
            if writer is None:
                writer = pq.ParquetWriter(path, tbl.schema)
            writer.write_table(tbl, row_group_size=n)
        writer.close()
        files.append(path)
    return files


def test_plan_units_cover_every_row_group():
    entries = [
        {"file_path": "a.parquet", "file_size_in_bytes": 1000,
         "split_offsets": [4, 400, 800]},
        {"file_path": "b.parquet", "file_size_in_bytes": 500,
         "split_offsets": [4]},
    ]
    plan = plan_from_data_files(entries, 2)
    units = [u for part in plan["parts"] for u in part]
    assert sorted((u[0], u[1]) for u in units) == [
        ("a.parquet", 0), ("a.parquet", 1), ("a.parquet", 2), ("b.parquet", 0)
    ]
    assert all(u[2] == 0 and u[3] == -1 for u in units)
    assert plan["planner"] == "iceberg-manifest"


def test_plan_balances_by_split_offset_weights():
    """One huge row group + many small ones: LPT must isolate the hot unit
    (same makespan property as the footer planner)."""
    entries = [
        {"file_path": "hot.parquet", "file_size_in_bytes": 10_000_000,
         "split_offsets": [4]},
    ] + [
        {"file_path": f"cold{i}.parquet", "file_size_in_bytes": 10_000,
         "split_offsets": [4]}
        for i in range(12)
    ]
    plan = plan_from_data_files(entries, 4)
    loads = [
        sum(
            next(
                e["file_size_in_bytes"]
                for e in entries
                if e["file_path"] == u[0]
            )
            for u in part
        )
        for part in plan["parts"]
    ]
    hot_bin = max(loads)
    assert hot_bin == 10_000_000  # the hot file sits alone in its bin


def test_plan_without_split_offsets_uses_whole_file_units():
    entries = [{"file_path": "x.parquet", "file_size_in_bytes": 100,
                "split_offsets": None}]
    plan = plan_from_data_files(entries, 4)
    units = [u for part in plan["parts"] for u in part]
    assert units == [["x.parquet", -1, 0, -1]]


def test_empty_entries_plan():
    plan = plan_from_data_files([], 4)
    assert plan["n_total"] == 1 and plan["parts"] == [[]]


def test_manifest_planned_encode_roundtrips(spark, tmp_dir):
    """End-to-end: synthetic manifest entries over real multi-row-group
    parquet → plan_from_data_files → encode(plan=...) → decode, bit-identical
    — the full Iceberg flow minus only the connector's .files read."""
    src_dir = os.path.join(tmp_dir, "data")
    os.makedirs(src_dir)
    files = _write_multi_rg(src_dir)
    entries = _entries_from_footers(files)
    plan = plan_from_data_files(entries, 6)
    assert plan["n_total"] == 6  # 12 row groups pack into 6 bins
    out = os.path.join(tmp_dir, "enc")
    rep = encode(spark, out_dir=out, plan=plan, n_partitions=6)
    assert rep["scan"] == "rowgroup"
    v = verify_roundtrip(spark.read.parquet(src_dir), decode(spark, out))
    assert v["bit_identical"] and v["total"] == 3 * 4 * 700


def test_whole_file_units_roundtrip(spark, tmp_dir):
    """Entries without split_offsets (rg=-1 whole-file units) must decode
    bit-identically too."""
    src_dir = os.path.join(tmp_dir, "data")
    os.makedirs(src_dir)
    files = _write_multi_rg(src_dir, n_files=2, rows_per_rg=500, rgs=2)
    entries = [
        {"file_path": f, "file_size_in_bytes": os.path.getsize(f),
         "split_offsets": None}
        for f in files
    ]
    out = os.path.join(tmp_dir, "enc")
    encode(spark, out_dir=out, plan=plan_from_data_files(entries, 2))
    v = verify_roundtrip(spark.read.parquet(src_dir), decode(spark, out))
    assert v["bit_identical"] and v["total"] == 2 * 2 * 500


def test_data_file_entries_gated_without_connector(spark):
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        data_file_entries(spark, "cat.db.tokens")


def test_plan_kwarg_rejects_df_and_jvm_scan(spark, tmp_dir, token_table_dir):
    src = os.path.join(token_table_dir, "tokens.parquet")
    plan = plan_from_data_files(
        [{"file_path": src, "file_size_in_bytes": os.path.getsize(src),
          "split_offsets": [4]}], 1,
    )
    with pytest.raises(ValueError, match="plan="):
        encode(spark, out_dir=os.path.join(tmp_dir, "a"), plan=plan,
               df=spark.read.parquet(src))
    with pytest.raises(TypeError, match="scan"):  # no scan mode to pick
        encode(spark, out_dir=os.path.join(tmp_dir, "b"), plan=plan,
               scan="jvm")


def test_manifest_plan_with_explicit_filesystem(spark, tmp_dir):
    """encode(plan=..., filesystem=...) must ship the caller's filesystem to
    executor reads — the Iceberg flow with a credential-configured store
    (units carry subtree-relative paths unreadable without it)."""
    import pyarrow.fs as pfs

    root = os.path.join(tmp_dir, "store")
    src_dir = os.path.join(root, "data")
    os.makedirs(src_dir)
    files = _write_multi_rg(src_dir, n_files=2, rows_per_rg=400, rgs=2)
    fs = pfs.SubTreeFileSystem(root, pfs.LocalFileSystem())
    entries = [
        {"file_path": os.path.relpath(f, root),
         "file_size_in_bytes": os.path.getsize(f), "split_offsets": None}
        for f in files
    ]
    out = os.path.join(tmp_dir, "enc")
    rep = encode(spark, out_dir=out, plan=plan_from_data_files(entries, 2),
                 filesystem=fs)
    assert rep["scan"] == "rowgroup"
    v = verify_roundtrip(spark.read.parquet(src_dir), decode(spark, out))
    assert v["bit_identical"] and v["total"] == 2 * 2 * 400
