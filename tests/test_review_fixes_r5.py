"""Round-5 end-of-round review fixes, pinned.

Each test targets one reviewed defect: ts_us predicates were
session-timezone-dependent; mixed parquet+ORC input dirs started raising (a
regression for fixture layouts keeping an ORC reference copy);
decode_plan_report skipped decode()'s bool-bound normalization and
struct/map guards; streaming decode lost its zero-shuffle file list on
compact-log batches; scalar decode reassembly was duplicated outside
_scalar_arr.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clj_orc_spark.pipeline import decode, encode
from clj_orc_spark.pipeline.decode import decode_plan_report


@pytest.fixture(scope="module")
def ts_store(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("tsfix")
    base = dt.datetime(2021, 6, 1, 0, 0, 0)
    rows = [base + dt.timedelta(hours=i, microseconds=i * 7) for i in range(48)]
    tbl = pa.table({
        "k": pa.array(list(range(48)), type=pa.int64()),
        "t": pa.array(rows, type=pa.timestamp("us")),
        "flag": pa.array([i % 3 == 0 for i in range(48)], type=pa.bool_()),
    })
    src = str(d / "src.parquet")
    pq.write_table(tbl, src)
    out = str(d / "store")
    encode(spark, src, out, n_partitions=2)
    return out, rows


def _micros(ts: dt.datetime) -> int:
    return (ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def test_ts_us_predicate_is_session_tz_independent(spark, ts_store):
    """ts_us (TIMESTAMP_NTZ) range/isin predicates must return identical
    rows whatever the session timezone: the decode task compares the
    column's storage micros against the bounds, as zone-map pruning does,
    never through a session-tz cast (which silently disagreed with
    zone-map pruning)."""
    out, rows = ts_store
    lo, hi = _micros(rows[10]), _micros(rows[20])
    want = [k for k in range(48) if lo <= _micros(rows[k]) <= hi]
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        results = {}
        for tz in ("UTC", "Asia/Tokyo", "America/Los_Angeles"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = decode(spark, out, ranges={"t": (lo, hi)}).collect()
            results[tz] = sorted(r["k"] for r in got)
            # isin with exact storage micros matches exactly one row per tz
            one = decode(spark, out, isin={"t": [_micros(rows[7])]}).collect()
            assert [r["k"] for r in one] == [7], tz
        assert all(v == want for v in results.values()), results
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_mixed_parquet_orc_dir_warns_and_encodes_parquet(spark, tmp_path):
    """A dir holding both .parquet and an .orc reference copy (datagen's
    default fixture layout) encodes the parquet files with a warning — it
    must not raise (regression vs rounds 1-4 behavior)."""
    tbl = pa.table({
        "doc_id": pa.array([f"d{i}" for i in range(40)]),
        "tokens": pa.array([[i, i + 1] for i in range(40)],
                           type=pa.list_(pa.int32())),
        "n_tok": pa.array([2] * 40, type=pa.int32()),
        "source": pa.array(["s"] * 40),
    })
    src = str(tmp_path / "mixed")
    os.makedirs(src)
    pq.write_table(tbl, os.path.join(src, "tokens.parquet"))
    import pyarrow.orc as orc

    orc.write_table(tbl, os.path.join(src, "tokens.orc"))
    out = str(tmp_path / "store")
    with pytest.warns(UserWarning, match="holds both"):
        encode(spark, src, out, n_partitions=1, resume=False)
    got = decode(spark, out).collect()
    assert len(got) == 40  # parquet copy encoded once, ORC copy ignored


def test_plan_report_normalizes_bool_bounds(spark, ts_store):
    out, _ = ts_store
    rep = decode_plan_report(spark, out, ranges={"flag": (True, True)})
    assert rep["chunks_kept"] > 0  # True normalized to 1, not a type error
    rep2 = decode_plan_report(spark, out, isin={"flag": [False]})
    assert rep2["chunks_kept"] > 0


def test_plan_report_rejects_struct_map_columns(spark, tmp_path):
    tbl = pa.table({
        "k": pa.array([1, 2], type=pa.int64()),
        "s": pa.array([{"a": 1}, {"a": 2}],
                      type=pa.struct([("a", pa.int32())])),
    })
    src = str(tmp_path / "s.parquet")
    pq.write_table(tbl, src)
    out = str(tmp_path / "store")
    encode(spark, src, out, n_partitions=1)
    with pytest.raises(ValueError, match="struct/map column"):
        decode_plan_report(spark, out, ranges={"s": (1, 2)})
    # the shredded field path still works
    rep = decode_plan_report(spark, out, ranges={"s.a": (2, 2)})
    assert rep["chunks_total"] >= rep["chunks_kept"]


def test_source_log_reads_compact_batches(spark, tmp_path):
    """_source_log_files must read <id>.compact (written every
    compactInterval-th batch) and filter entries to that batchId, keeping
    the zero-shuffle micro-batch decode on those batches."""
    from clj_orc_spark.streaming.stream import _source_log_files

    ckpt = str(tmp_path / "ckpt")
    d = os.path.join(ckpt, "sources", "0")
    os.makedirs(d)
    entries = [
        {"path": "file:///a/one.parquet", "timestamp": 1, "batchId": 0},
        {"path": "file:///a/two.parquet", "timestamp": 2, "batchId": 1},
        {"path": "file:///a/three.parquet", "timestamp": 3, "batchId": 1},
    ]
    with open(os.path.join(d, "1.compact"), "w") as f:
        f.write("v1\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")
    got = _source_log_files(ckpt, 1)
    assert got == ["file:///a/three.parquet", "file:///a/two.parquet"]
    # plain per-batch file still wins when present
    with open(os.path.join(d, "2"), "w") as f:
        f.write("v1\n")
        f.write(json.dumps(
            {"path": "file:///a/four.parquet", "timestamp": 4, "batchId": 2}
        ) + "\n")
    assert _source_log_files(ckpt, 2) == ["file:///a/four.parquet"]


def test_ivf_sample_is_driver_bounded(spark):
    """train_ivf's sampled collect carries a hard limit so a bad
    countApprox under-estimate cannot pull the table to the driver."""
    import inspect

    from clj_orc_spark.operators import similarity

    src = inspect.getsource(similarity.train_ivf)
    assert ".limit(cap)" in src
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    code = similarity.train_ivf(emb, n_centroids=4)
    assert code.shape[0] == 4
