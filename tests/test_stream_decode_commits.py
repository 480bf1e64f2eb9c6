"""Stream decode follows the store's commit records.

``stream_decode`` tails the parts markers under ``manifest/parts``, which
are written after a part's chunk and manifest files, and decodes each
marked part through batch ``decode()`` into a sink partitioned by
``_part_id``.  Pinned here: a resume that rewrites a part (a new chunk file
and a new marker name) replaces that part's rows in the sink instead of
adding a second copy, and a part without a marker is never decoded.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clj_orc_spark.datagen import write_token_table
from clj_orc_spark.pipeline import decode, encode, verify_roundtrip
from clj_orc_spark.pipeline.encode import completed_part_ids
from clj_orc_spark.streaming import stream_decode

N = 3_000
N_PARTS = 4


@pytest.fixture(scope="module")
def source(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_commits_src"))
    return write_token_table(d, N, seed=7, with_orc_reference=False)["parquet"]


def _store(spark, source, tmp_path) -> str:
    out = str(tmp_path / "store")
    encode(spark, source, out, n_partitions=N_PARTS)
    assert completed_part_ids(spark, out) == set(range(N_PARTS))
    return out


def _run(spark, out: str, sink: str) -> None:
    q = stream_decode(spark, out, sink, max_files_per_trigger=2)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()


def test_rewritten_part_replaces_its_rows(spark, source, tmp_path):
    """A resume that re-encodes part 0 publishes a new chunk file and a new
    marker; a second stream decode into the same sink replaces part 0's
    rows, so the sink still holds each source row exactly once."""
    out = _store(spark, source, tmp_path)
    sink = str(tmp_path / "sink")
    _run(spark, out, sink)
    assert spark.read.parquet(sink).count() == N

    shutil.rmtree(os.path.join(out, "manifest", "parts", "part_id=0"))
    rep = encode(spark, out_dir=out)
    assert rep["pending"] == 1
    _run(spark, out, sink)

    got = spark.read.parquet(sink)
    assert got.count() == N
    assert got.select(F.countDistinct("doc_id")).first()[0] == N
    v = verify_roundtrip(spark.read.parquet(source), got.drop("_part_id"))
    assert v["bit_identical"] and v["total"] == N and v["extra"] == 0, v


def test_part_without_marker_is_never_decoded(spark, source, tmp_path):
    """A part whose marker is gone (its commit never finished) stays out of
    the sink: the sink holds exactly the marked parts' rows."""
    out = _store(spark, source, tmp_path)
    shutil.rmtree(os.path.join(out, "manifest", "parts", "part_id=2"))
    markers = pq.read_table(os.path.join(out, "manifest", "parts"))
    assert sorted(set(markers.column("part_id").to_pylist())) == [0, 1, 3]
    want = sum(markers.column("n_rows").to_pylist())
    assert 0 < want < N

    sink = str(tmp_path / "sink")
    _run(spark, out, sink)
    got = spark.read.parquet(sink)
    assert got.count() == want
    assert sorted(r["_part_id"] for r in
                  got.select("_part_id").distinct().collect()) == [0, 1, 3]
    marked = decode(spark, out, part_ids=[0, 1, 3]).select("doc_id")
    assert sorted(r[0] for r in got.select("doc_id").collect()) == sorted(
        r[0] for r in marked.collect())
