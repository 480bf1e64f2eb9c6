"""Round 5: zone-map clustering — ``encode(sort_by=...)``.

Sorting each row group (rowgroup mode) / each partition (jvm mode) by
the caller's keys before chunk slicing gives every chunk a narrow key
min/max, so range predicates prune most chunks from the manifest alone.
No shuffle is added anywhere: this is clustering WITHOUT the cluster-wide
sort, the practical zone-map lever at 100 TB (a global sort of the token
table would move every byte).  The ordering is part of the persisted
layout contract (plan.json ``sort_by``): resumes adopt it, conflicting
requests fail loudly.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clj_orc_spark.pipeline import decode, encode
from clj_orc_spark.pipeline.decode import decode_plan_report


def _token_table(n=4000, seed=7) -> pa.Table:
    rng = np.random.default_rng(seed)
    n_tok = rng.integers(1, 200, n).astype(np.int32)
    return pa.table({
        "doc_id": pa.array([f"d{i:06d}" for i in range(n)]),
        "tokens": pa.array(
            [rng.integers(0, 1000, k).tolist() for k in n_tok],
            type=pa.list_(pa.int32()),
        ),
        "n_tok": pa.array(n_tok, type=pa.int32()),
        "source": pa.array([f"s{i % 4}" for i in range(n)]),
    })


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sortby")
    src = str(d / "src.parquet")
    tbl = _token_table()
    pq.write_table(tbl, src, row_group_size=2000)
    plain, srt = str(d / "plain"), str(d / "sorted")
    encode(spark, src, plain, n_partitions=2, chunk_bytes=16 << 10)
    encode(spark, src, srt, n_partitions=2, chunk_bytes=16 << 10,
           sort_by="n_tok")
    return src, plain, srt, tbl


def test_sorted_store_is_content_identical(spark, stores):
    src, plain, srt, tbl = stores
    def rows(out):
        return {
            (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
            for r in decode(spark, out).collect()
        }

    a, b = rows(plain), rows(srt)
    assert a == b and len(b) == tbl.num_rows
    plan = json.loads(open(os.path.join(srt, "plan.json")).read())
    assert plan["sort_by"] == ["n_tok"]


def test_sorted_store_prunes_more(spark, stores):
    _, plain, srt, tbl = stores
    rng_pred = {"n_tok": (50, 60)}
    rep_p = decode_plan_report(spark, plain, ranges=rng_pred)
    rep_s = decode_plan_report(spark, srt, ranges=rng_pred)
    assert rep_p["chunks_total"] == rep_s["chunks_total"] >= 8
    # unsorted: every chunk spans nearly the full n_tok range -> ~all kept;
    # sorted: the narrow range lands in a handful of clustered chunks
    assert rep_p["chunks_kept"] == rep_p["chunks_total"]
    assert rep_s["chunks_kept"] <= rep_s["chunks_total"] // 2, rep_s
    # and the predicated decode returns identical rows from both stores
    n_tok = tbl["n_tok"].to_numpy()
    want = int(((n_tok >= 50) & (n_tok <= 60)).sum())
    got_p = decode(spark, plain, ranges=rng_pred).count()
    got_s = decode(spark, srt, ranges=rng_pred).count()
    assert got_p == got_s == want


def test_sort_by_is_pinned_on_resume(spark, stores, tmp_path):
    src, _, srt, _ = stores
    # resume with no sort_by adopts the recorded ordering
    rep = encode(spark, src, srt)  # all parts complete -> no-op resume
    assert rep["pending"] == 0
    # conflicting explicit ordering fails loudly
    with pytest.raises(ValueError, match="re-encode into a fresh out_dir"):
        encode(spark, src, srt, sort_by="doc_id", resume=True)
    # non-scalar sort key rejected at plan time
    out = str(tmp_path / "bad")
    with pytest.raises(ValueError, match="must be a scalar store column"):
        encode(spark, src, out, sort_by="tokens")


def test_sort_by_jvm_path(spark, stores, tmp_path):
    """df= callers are staged to parquet and take the rowgroup scan, which
    sorts each row group before chunk slicing: the store records the
    order, round-trips every row and prunes on the sort key."""
    src, _, _, tbl = stores
    out = str(tmp_path / "jvm")
    df = spark.read.parquet(src)
    rep = encode(spark, df=df, out_dir=out, n_partitions=2,
                 chunk_bytes=16 << 10, sort_by="n_tok")
    assert rep.get("sort_by") == ["n_tok"]
    got = {
        (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in decode(spark, out).collect()
    }
    assert len(got) == tbl.num_rows
    rep_s = decode_plan_report(spark, out, ranges={"n_tok": (50, 60)})
    assert rep_s["chunks_kept"] < rep_s["chunks_total"]
