"""ORC-file ingestion (round 5): the engine encodes straight from ORC —
the reference's own on-disk format (its whole read surface is ORC files on
local disk or S3A, `/root/reference/src/orc/read.clj:27-49`).  The stripe is
ORC's row group, so stripes become the zero-shuffle plan units: scan +
encode still fuse into ONE ``mapInArrow`` stage with no shuffle, and the
decoded store must be bit-identical to the ORC source."""

import json
import os

import pyarrow as pa
import pyarrow.orc as paorc
import pytest

from clj_orc_spark.datagen import gen_table
from clj_orc_spark.pipeline import decode, encode, verify_roundtrip


def _plan(out):
    with open(os.path.join(out, "plan.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def orc_dir(tmp_path_factory):
    """5k-row deterministic token table as a 2-file multi-stripe ORC
    dataset (small stripes force >1 stripe per file, so the plan really
    exercises stripe units)."""
    d = tmp_path_factory.mktemp("orc-src")
    t = gen_table(5_000, seed=42)
    paorc.write_table(t.slice(0, 2_500), str(d / "a.orc"),
                      stripe_size=256 * 1024)
    paorc.write_table(t.slice(2_500), str(d / "b.orc"),
                      stripe_size=256 * 1024)
    return str(d)


def test_orc_encode_is_stripe_planned_rowgroup_mode(spark, orc_dir, tmp_dir):
    out = os.path.join(tmp_dir, "enc")
    rep = encode(spark, orc_dir, out)
    assert rep["scan"] == "rowgroup"
    plan = _plan(out)
    assert plan["mode"] == "rowgroup"
    units = [u for part in plan["parts"] for u in part]
    assert len(units) > 2  # multiple stripes planned
    assert all(u[0].endswith(".orc") and u[3] == -1 for u in units)
    assert {u[1] for u in units} != {0}  # stripe indices beyond 0
    v = verify_roundtrip(spark.read.orc(orc_dir), decode(spark, out))
    assert v["bit_identical"] and v["total"] == 5_000


def test_orc_encode_zero_shuffle_plan(spark, orc_dir):
    """The zero-shuffle claim holds for ORC input: no Exchange node in the
    fused scan+encode plan."""
    from clj_orc_spark.pipeline.encode import (
        OUT_DDL,
        _pyarrow_source,
        _rowgroup_plan,
        make_rowgroup_encoder,
        rowgroup_work_df,
    )
    from clj_orc_spark.plans.explain import explain_str

    _, files, fmt, _ = _pyarrow_source(orc_dir)
    assert fmt == "orc" and len(files) == 2
    plan = _rowgroup_plan(files, 4, False)
    encoded = rowgroup_work_df(
        spark, plan["parts"], list(range(plan["n_total"]))
    ).mapInArrow(make_rowgroup_encoder(8 << 20), OUT_DDL)
    assert "Exchange" not in explain_str(encoded, "formatted")


def test_orc_resume_from_pending_parts(spark, orc_dir, tmp_dir):
    """Kill/resume lineage holds for stripe units: a run capped at 1 part
    plus a resume must finish the store bit-identically."""
    out = os.path.join(tmp_dir, "enc")
    rep1 = encode(spark, orc_dir, out, n_partitions=3, limit_parts=1)
    assert rep1["pending"] == 1
    rep2 = encode(spark, orc_dir, out, n_partitions=3)
    assert rep2["skipped"] == 1 and rep2["pending"] == 2
    v = verify_roundtrip(spark.read.orc(orc_dir), decode(spark, out))
    assert v["bit_identical"]


def test_spark_written_orc_roundtrip(spark, tmp_dir):
    """Spark's own ORC writer (snappy part files) feeds the stripe scan."""
    from clj_orc_spark.datagen import spark_gen

    src = os.path.join(tmp_dir, "src-orc")
    spark_gen(spark, 2_000, seed=7, n_partitions=2).write.orc(src)
    out = os.path.join(tmp_dir, "enc")
    rep = encode(spark, src, out)
    assert rep["scan"] == "rowgroup"
    v = verify_roundtrip(spark.read.orc(src), decode(spark, out))
    assert v["bit_identical"] and v["total"] == 2_000


def test_orc_general_schema(spark, tmp_dir):
    """Arbitrary flat schema through the ORC path: the descriptor derives
    from the ORC footer schema, not the token-table default."""
    t = pa.table({
        "k": pa.array(["a", "b", "c", "d"] * 500),
        "v": pa.array(range(2_000), pa.int64()),
        "f": pa.array([x / 7.0 for x in range(2_000)], pa.float64()),
    })
    src = os.path.join(tmp_dir, "src")
    os.makedirs(src)
    paorc.write_table(t, os.path.join(src, "t.orc"), stripe_size=64 * 1024)
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out)
    assert _plan(out)["schema"] == [["k", "str"], ["v", "int64"],
                                    ["f", "float64"]]
    dec = decode(spark, out).select("k", "v", "f")
    src_df = spark.read.orc(src).select("k", "v", "f")
    assert dec.count() == 2_000
    assert dec.exceptAll(src_df).count() == 0
    assert src_df.exceptAll(dec).count() == 0


def test_mixed_parquet_orc_dir_prefers_parquet(spark, tmp_dir):
    """A dir holding both formats encodes the parquet files with a warning
    (fixture dirs keep an ORC reference copy next to the parquet data —
    round-5 review rolled back the short-lived hard raise)."""
    t = gen_table(100, seed=1)
    import pyarrow.parquet as pq

    src = os.path.join(tmp_dir, "src")
    os.makedirs(src)
    pq.write_table(t, os.path.join(src, "t.parquet"))
    paorc.write_table(t, os.path.join(src, "t.orc"))
    out = os.path.join(tmp_dir, "enc")
    with pytest.warns(UserWarning, match="both .parquet and .orc"):
        encode(spark, src, out)
    assert decode(spark, out).count() == 100  # parquet copy, counted once


def test_orc_salted_scan_raises_jvm_scan_works(spark, orc_dir, tmp_dir):
    """There is no scan mode to pick; a Spark ORC frame is staged and
    round-trips through the rowgroup scan."""
    with pytest.raises(TypeError, match="scan"):
        encode(spark, orc_dir, os.path.join(tmp_dir, "enc0"), scan="salted")
    out = os.path.join(tmp_dir, "enc")
    rep = encode(spark, out_dir=out, df=spark.read.orc(orc_dir),
                 n_partitions=2)
    assert rep["scan"] == "rowgroup"
    v = verify_roundtrip(spark.read.orc(orc_dir), decode(spark, out))
    assert v["bit_identical"] and v["total"] == 5_000


def test_orc_pruned_decode(spark, orc_dir, tmp_dir):
    """Zone maps work identically on ORC-sourced stores (stats are recorded
    at encode, format-independent)."""
    from pyspark.sql import functions as F

    out = os.path.join(tmp_dir, "enc")
    encode(spark, orc_dir, out, n_partitions=3)
    got = decode(spark, out, ranges={"n_tok": (50, None)})
    want = spark.read.orc(orc_dir).where(F.col("n_tok") >= 50)
    v = verify_roundtrip(want, got)
    assert v["bit_identical"] and v["total"] == want.count()
