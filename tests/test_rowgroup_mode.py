"""Zero-shuffle rowgroup encode (round 2), the engine's only encode path:
part_id = a footer-planned, byte-balanced bin of parquet row groups; scan +
encode fuse into ONE ``mapInArrow`` stage so token bytes never cross a
shuffle.  ``df=`` inputs are staged to parquet and planned the same way, so
every store round-trips bit-identically and resumes from the same lineage
contract."""

import json
import os

import pytest

from clj_orc_spark.pipeline import decode, encode, verify_roundtrip


def _plan(out):
    with open(os.path.join(out, "plan.json")) as f:
        return json.load(f)


def test_default_scan_is_rowgroup_zero_shuffle(spark, token_table_dir, tmp_dir):
    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    rep = encode(spark, src, out)
    assert rep["scan"] == "rowgroup"
    plan = _plan(out)
    assert plan["mode"] == "rowgroup" and len(plan["parts"]) == plan["n_total"]
    v = verify_roundtrip(spark.read.parquet(src), decode(spark, out))
    assert v["bit_identical"] and v["total"] == 5_000


def test_explicit_partitions_split_row_ranges(spark, token_table_dir, tmp_dir):
    """The 5k fixture is a single row group; an explicit n_partitions=4 must
    still yield 4 resume units (row-range splits), bit-identical."""
    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=4)
    plan = _plan(out)
    assert plan["n_total"] == 4
    # splits cover disjoint row ranges of the one row group
    ranges = sorted(
        (lo, hi) for part in plan["parts"] for _, _, lo, hi in part
    )
    assert ranges[0][0] == 0 and ranges[-1][1] == 5_000
    assert all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))
    v = verify_roundtrip(spark.read.parquet(src), decode(spark, out))
    assert v["bit_identical"]


def test_rowgroup_parts_are_byte_balanced(spark, token_table_dir, tmp_dir):
    """LPT packing: no planned bin may hold more than ~2x the mean byte
    weight (the explicit skew control of the zero-shuffle path)."""
    import pyarrow.parquet as pq

    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=4)
    plan = _plan(out)
    md = pq.read_metadata(src)
    rg_rows = {i: md.row_group(i).num_rows for i in range(md.num_row_groups)}
    loads = [
        sum(hi - lo for _, _, lo, hi in part) for part in plan["parts"]
    ]
    assert sum(loads) == sum(rg_rows.values())
    mean = sum(loads) / len(loads)
    assert max(loads) <= 2.0 * mean


def test_rowgroup_plan_balances_skewed_row_groups(tmp_dir):
    """Pathologically skewed row-group sizes (one giant, many tiny) must
    still pack into bins within ~2x of the heaviest unit — LPT's makespan
    bound, the mode's explicit skew control."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clj_orc_spark.pipeline.encode import _rowgroup_plan

    path = os.path.join(tmp_dir, "skewed.parquet")
    rng = np.random.default_rng(0)
    sizes = [20_000] + [500] * 15  # one hot row group, 15 small ones
    writer = None
    for n in sizes:
        tbl = pa.table(
            {
                "doc_id": pa.array([f"d{i}" for i in range(n)]),
                "tokens": pa.array(
                    [rng.integers(0, 100, 30).tolist() for _ in range(n)],
                    type=pa.list_(pa.int32()),
                ),
                "n_tok": pa.array([30] * n, type=pa.int32()),
                "source": pa.array(["s"] * n),
            }
        )
        if writer is None:
            writer = pq.ParquetWriter(path, tbl.schema)
        writer.write_table(tbl, row_group_size=n)
    writer.close()

    plan = _rowgroup_plan([path], 4, explicit=False)
    md = pq.read_metadata(path)
    w = {i: md.row_group(i).total_byte_size for i in range(md.num_row_groups)}
    loads = sorted(
        sum(w[rg] for _, rg, _, _ in part) for part in plan["parts"]
    )
    # the hot row group is indivisible; every other bin stays small
    assert loads[-1] >= w[0]  # heaviest bin holds the hot unit
    assert loads[-2] <= 0.2 * loads[-1]  # tiny units never pile onto it


def test_rowgroup_resume_rejects_df_input(spark, token_table_dir, tmp_dir):
    """A resume never re-stages a df=: the store's plan names its input,
    so the error points at the out_dir-only resume."""
    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=4, limit_parts=2)
    with pytest.raises(ValueError, match=r"encode\(spark, out_dir=\.\.\.\)"):
        encode(spark, out_dir=out, df=spark.read.parquet(src), n_partitions=4)
    assert not os.path.exists(os.path.join(out, "_staging"))


def test_resume_of_fnv1a_plan_asks_for_reencode(spark, token_table_dir,
                                                tmp_dir):
    """A plan.json recorded by a removed scan — the fused salted scan
    (assign_hash fnv1a) or the JVM scan with its salted repartition —
    cannot be resumed: every way of calling encode raises the re-encode
    ValueError instead of mixing part_id assignments in one store."""
    src = os.path.join(token_table_dir, "tokens.parquet")
    old_plans = (
        {"bounds": [10.0], "offsets": [0, 2], "allocs": [2, 2],
         "n_total": 4, "assign_hash": "fnv1a"},
        {"mode": "jvm", "bounds": [10.0], "offsets": [0, 2],
         "allocs": [2, 2], "n_total": 4},
    )
    for i, old in enumerate(old_plans):
        out = os.path.join(tmp_dir, f"enc{i}")
        os.makedirs(out)
        with open(os.path.join(out, "plan.json"), "w") as f:
            json.dump(old, f)
        for kw in ({"input_path": src}, {"df": spark.read.parquet(src)}, {}):
            with pytest.raises(ValueError, match="fresh out_dir"):
                encode(spark, out_dir=out, n_partitions=4, **kw)
        assert not os.path.exists(os.path.join(out, "chunks"))


def test_rowgroup_encode_plan_has_zero_shuffles(spark, token_table_dir):
    """The zero-shuffle claim as a plan invariant: the rowgroup encode
    DataFrame (range → ONE mapInArrow) must contain no Exchange node."""
    from clj_orc_spark.pipeline.encode import (
        OUT_DDL,
        _pyarrow_source,
        _rowgroup_plan,
        make_rowgroup_encoder,
        rowgroup_work_df,
    )
    from clj_orc_spark.plans.explain import explain_str

    src = os.path.join(token_table_dir, "tokens.parquet")
    _, files, _, _ = _pyarrow_source(src)
    plan = _rowgroup_plan(files, 4, True)
    encoded = rowgroup_work_df(
        spark, plan["parts"], list(range(plan["n_total"]))
    ).mapInArrow(make_rowgroup_encoder(8 << 20), OUT_DDL)
    assert "Exchange" not in explain_str(encoded, "formatted")
    assert encoded.count() > 0  # and it actually runs


def test_rowgroup_plan_reused_on_resume(spark, token_table_dir, tmp_dir):
    """Resume must consume the persisted assignment verbatim — the plan file
    IS the lineage contract, not a recomputation."""
    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=4, limit_parts=2)
    before = _plan(out)
    encode(spark, src, out, n_partitions=8)  # different request, same plan
    assert _plan(out) == before
    v = verify_roundtrip(spark.read.parquet(src), decode(spark, out))
    assert v["bit_identical"]


def test_many_file_plan_is_deterministic_and_parallel_safe(tmp_path):
    """Footer fetches run on a thread pool past 4 files (at 100k files a
    serial driver loop is the planning bottleneck); the plan must stay
    byte-deterministic in file order, and the cross-file schema check must
    still raise through the concurrent path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clj_orc_spark.pipeline.encode import _rowgroup_plan

    files = []
    for i in range(9):
        t = pa.table({
            "doc_id": pa.array([f"d{i}-{j}" for j in range(20)]),
            "tokens": pa.array([[i, j] for j in range(20)],
                               type=pa.list_(pa.int32())),
            "n_tok": pa.array([2] * 20, type=pa.int32()),
            "source": pa.array(["s"] * 20),
        })
        f = str(tmp_path / f"part-{i:02d}.parquet")
        pq.write_table(t, f)
        files.append(f)
    p1 = _rowgroup_plan(files, 4, False)
    p2 = _rowgroup_plan(files, 4, False)
    assert p1 == p2
    got_files = sorted({u[0] for part in p1["parts"] for u in part})
    assert got_files == sorted(files)
    # schema mismatch across files still raises through the pool
    bad = str(tmp_path / "part-99.parquet")
    pq.write_table(pa.table({"other": pa.array([1, 2])}), bad)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="disagree on schema"):
        _rowgroup_plan(files + [bad], 4, False)
