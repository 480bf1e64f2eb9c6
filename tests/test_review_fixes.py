"""Regression tests for the round-2 code-review findings: zone-map bound
typing, zero-chunk partition completion,
streaming k pinning, and empty-landing-dir streaming startup."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from clj_orc_spark.pipeline import decode, encode, verify_roundtrip


def test_zone_map_bounds_are_type_checked(spark, token_table_dir, tmp_dir):
    """Numeric bounds against lexicographic string stats would silently
    prune matching chunks — must fail at plan time instead."""
    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=2)
    with pytest.raises(TypeError, match="bounds must be str"):
        decode(spark, out, ranges={"doc_id": (9, 10)})
    with pytest.raises(TypeError, match="bounds must be int"):
        decode(spark, out, ranges={"n_tok": (1.5, None)})


def test_empty_row_group_partition_completes(spark, tmp_dir):
    """A pending partition owning a zero-row row group must still get its
    completion marker — otherwise resume re-runs it forever."""
    schema = pa.schema([
        pa.field("doc_id", pa.string()),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
    ])

    def tbl(n):
        return pa.table({
            "doc_id": pa.array([f"d{i}" for i in range(n)]),
            "tokens": pa.array([[1, 2, 3]] * n, type=pa.list_(pa.int32())),
            "n_tok": pa.array([3] * n, type=pa.int32()),
            "source": pa.array(["s"] * n),
        }, schema=schema)

    src = os.path.join(tmp_dir, "with-empty-rg.parquet")
    w = pq.ParquetWriter(src, schema)
    w.write_table(tbl(40), row_group_size=40)
    w.write_table(tbl(0))  # zero-row row group
    w.close()
    assert pq.read_metadata(src).num_row_groups >= 2

    out = os.path.join(tmp_dir, "enc")
    r1 = encode(spark, src, out, n_partitions=2)
    assert r1["pending"] >= 1
    r2 = encode(spark, src, out, n_partitions=2)
    assert r2["pending"] == 0, r2  # every part marked complete, incl. empty
    v = verify_roundtrip(spark.read.parquet(src), decode(spark, out))
    assert v["bit_identical"] and v["total"] == 40


def test_stream_encode_pins_parts_per_batch(spark, token_table_dir, tmp_dir):
    from clj_orc_spark.streaming import stream_encode

    src = spark.read.parquet(os.path.join(token_table_dir, "tokens.parquet"))
    in_dir = os.path.join(tmp_dir, "landing")
    src.limit(100).repartition(1).write.parquet(in_dir)
    out = os.path.join(tmp_dir, "enc")
    q = stream_encode(spark, in_dir, out, parts_per_batch=2)
    q.awaitTermination(120)
    with pytest.raises(ValueError, match="parts_per_batch=2"):
        stream_encode(spark, in_dir, out, parts_per_batch=4)


def test_stream_encode_starts_on_empty_landing_dir(spark, tmp_dir):
    """A fresh ingest starts with an EMPTY landing dir — schema inference
    would crash; the pinned token-table schema must not."""
    from clj_orc_spark.streaming import stream_encode

    in_dir = os.path.join(tmp_dir, "landing")
    os.makedirs(in_dir)
    out = os.path.join(tmp_dir, "enc")
    q = stream_encode(spark, in_dir, out, parts_per_batch=2)
    q.awaitTermination(120)  # availableNow: no files -> clean stop
    assert not q.isActive


def test_short_texts_are_not_universal_duplicates():
    """Texts shorter than the shingle width must hash as themselves, not a
    shared sentinel that makes every short-text pair est_jaccard=1.0."""
    from clj_orc_spark.operators.dedup import _shingle_hashes

    a, b = _shingle_hashes("cat", 5), _shingle_hashes("dog", 5)
    assert not (a == b).all()
    assert (_shingle_hashes("cat", 5) == a).all()  # deterministic


def test_pnm_truncated_header_raises():
    from clj_orc_spark.operators.multimodal import decode_image

    with pytest.raises(ValueError, match="truncated"):
        decode_image(b"P6 12")


def test_tiny_image_and_empty_wav_features_are_finite():
    import io
    import wave

    from clj_orc_spark.operators.multimodal import (
        audio_feature,
        encode_bmp,
        decode_image,
        image_feature,
    )

    tiny = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    feat = image_feature(decode_image(encode_bmp(tiny)))
    assert feat.shape == (64,) and np.isfinite(feat).all()

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(16000)
    af = audio_feature(buf.getvalue())
    assert af.shape == (64,) and np.isfinite(af).all()


def test_simhash_seed_changes_signatures():
    from clj_orc_spark.operators.dedup import simhash_batch

    texts = ["the quick brown fox", "jumps over the lazy dog"]
    s0 = simhash_batch(texts, seed=0)
    s7 = simhash_batch(texts, seed=7)
    assert not np.array_equal(s0, s7)
    assert np.array_equal(simhash_batch(texts), s0)  # default unchanged


def test_encode_rejects_ambiguous_inputs_and_bad_mode(spark, token_table_dir,
                                                      tmp_dir):
    src = os.path.join(token_table_dir, "tokens.parquet")
    with pytest.raises(ValueError, match="not both"):
        encode(spark, input_path=src, df=spark.read.parquet(src),
               out_dir=os.path.join(tmp_dir, "enc"))
    # there is one scan: a scan mode is an unknown argument, never run
    with pytest.raises(TypeError, match="scan"):
        encode(spark, src, os.path.join(tmp_dir, "enc"), scan="rowgroups")


def test_read_orc_rejects_type_mismatch(spark, token_table_dir):
    from clj_orc_spark.sources import read_orc

    path = os.path.join(token_table_dir, "tokens.orc")
    with pytest.raises(ValueError, match="is int but the ORC file has"):
        read_orc(spark, path, schema="doc_id int, source string")
