"""Round-2 hardening tests: zip deployment, LSH bucket capping without
materialization, vectorized SimHash equivalence,
idempotent manifest lineage, manifest-driven decode, decode overflow guard.
"""

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F


# --- zip deployment (ADVICE: namespace package breaks zipimport) ----------


def test_every_submodule_imports_from_zip_alone():
    """The --py-files artifact must be importable with ONLY the zip on
    sys.path — an implicit namespace package (missing __init__.py) passes
    local tests but breaks zipimport on executors."""
    import clj_orc_spark
    from clj_orc_spark.session import package_zip

    zpath = package_zip()
    pkg_dir = os.path.dirname(os.path.abspath(clj_orc_spark.__file__))
    mods = []
    for root, _, files in os.walk(pkg_dir):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, f), os.path.dirname(pkg_dir))
            mod = rel[:-3].replace(os.sep, ".")
            mods.append(mod[: -len(".__init__")] if mod.endswith(".__init__") else mod)
    prog = (
        "import sys; sys.path = [p for p in sys.path if 'repo' not in p]; "
        f"sys.path.insert(0, {zpath!r}); "
        + "; ".join(f"import {m}" for m in sorted(set(mods)))
        + "; print('ZIPOK')"
    )
    r = subprocess.run(
        [sys.executable, "-c", prog], capture_output=True, text=True, cwd="/tmp"
    )
    assert r.returncode == 0, r.stderr
    assert "ZIPOK" in r.stdout


# --- LSH bucket cap before materialization --------------------------------


def test_pathological_bucket_never_materialized(spark):
    """A 120k-member bucket must be dropped by the pre-aggregation count
    filter — the collect_list only ever sees buckets ≤ max_bucket, so the
    oversized bucket costs one counter, not an executor-memory array."""
    from clj_orc_spark.operators.dedup import capped_bucket_pairs

    big = spark.range(120_000).select(
        F.lit(0).alias("bi"), F.lit(7).alias("bh"),
        F.concat(F.lit("big-"), F.col("id")).alias("id"),
        F.col("id").alias("sig"),
    )
    small = spark.range(3).select(
        F.lit(0).alias("bi"), F.lit(9).alias("bh"),
        F.concat(F.lit("s-"), F.col("id")).alias("id"),
        F.col("id").alias("sig"),
    )
    pairs = capped_bucket_pairs(big.unionAll(small), "sig", max_bucket=64).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert len(pairs) == 3  # C(3,2) from the small bucket only
    assert all(a.startswith("s-") and b.startswith("s-") for a, b in ids)


def test_capped_pairs_plan_counts_before_collect(spark):
    """The physical plan must aggregate counts and filter before the
    collect_list — i.e. the count-filter join feeds the list aggregate."""
    from clj_orc_spark.operators.dedup import capped_bucket_pairs

    df = spark.range(10).select(
        F.lit(0).alias("bi"), F.lit(1).alias("bh"),
        F.col("id").cast("string").alias("id"), F.col("id").alias("sig"),
    )
    plan = capped_bucket_pairs(df, "sig", 64)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.index("count(1)") > plan.index("collect_list"), (
        "collect_list must sit above (execute after) the count filter join"
    )


# --- vectorized SimHash equivalence ---------------------------------------


def _scalar_simhash(text: str) -> int:
    """Per-word scalar SimHash, the test oracle.

    Note: the round-1 implementation computed the vote score in uint64, so a
    minority vote (2*sum < n_words) wrapped to a huge positive and the bit was
    wrongly set — nearly-all-ones signatures, mass false-positive candidate
    pairs.  The oracle (and the vectorized operator) keep votes in int64.
    """
    words = (text or "").lower().split()
    if not words:
        return 0

    def hash_word(w: str) -> int:
        h = 1469598103934665603
        for ch in w.encode("utf-8", "ignore"):
            h = ((h ^ ch) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
        return h

    hs = np.array([hash_word(w) for w in words], dtype=np.uint64)
    bits = (hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    score = bits.sum(axis=0).astype(np.int64) * 2 - len(words)
    sh_bits = (score > 0).astype(np.uint8)
    return int(np.packbits(sh_bits, bitorder="little").view(np.uint64)[0])


def test_vectorized_simhash_matches_scalar(spark):
    from clj_orc_spark.operators.dedup import make_simhash_udf

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "", None, "   ", "one",
        "unicode wörds ünd ßtrange çhars événement 東京 данные",
        "repeated repeated repeated repeated words words",
        "a " * 300 + "tail",
    ]
    sh = make_simhash_udf()
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["s"] for r in df.select(sh("text").alias("s")).collect()]
    want = [np.uint64(_scalar_simhash(t)).view(np.int64).item() for t in texts]
    assert got == want


def test_fnv1a_slices_exact():
    from clj_orc_spark.operators.dedup import fnv1a_slices

    words = [b"hello", b"", b"a", b"longer-word-here"]
    buf = np.frombuffer(b"".join(words), dtype=np.uint8)
    lens = np.array([len(w) for w in words], dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])

    def scalar(w):
        h = 1469598103934665603
        for ch in w:
            h = ((h ^ ch) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
        return h

    got = fnv1a_slices(buf, starts, lens)
    assert got.tolist() == [scalar(w) for w in words]


# --- idempotent manifest lineage -------------------------------------------


def test_crash_between_manifests_does_not_duplicate_records(
    spark, token_table_dir, tmp_dir
):
    """Crash window: chunks + manifest/chunks written, parts marker missing.
    The resumed run must REPLACE that partition's chunk records (dynamic
    per-part overwrite), not append duplicates that double size rollups."""
    from clj_orc_spark.pipeline import encode

    out = os.path.join(tmp_dir, "out")
    src = os.path.join(token_table_dir, "tokens.parquet")
    encode(spark, src, out, n_partitions=4)

    chunks_m = spark.read.parquet(os.path.join(out, "manifest", "chunks"))
    part = chunks_m.select("part_id").first()["part_id"]
    total_before = chunks_m.count()

    # simulate the crash: erase the parts marker for one partition only
    parts_dir = os.path.join(out, "manifest", "parts", f"part_id={part}")
    assert os.path.isdir(parts_dir)
    shutil.rmtree(parts_dir)

    rep = encode(spark, src, out, n_partitions=4)  # resume
    assert rep["pending"] == 1

    after = spark.read.parquet(os.path.join(out, "manifest", "chunks"))
    assert after.count() == total_before  # replaced, not appended
    dupes = (
        after.groupBy("chunk_id", "col").count().where(F.col("count") > 1).count()
    )
    assert dupes == 0
    parts = spark.read.parquet(os.path.join(out, "manifest", "parts"))
    assert parts.groupBy("part_id").count().where(F.col("count") > 1).count() == 0


# --- manifest-driven decode -------------------------------------------------


def test_decode_reads_file_list_from_manifest(spark, token_table_dir, tmp_dir):
    """files-mode decode must enumerate chunk files from committed lineage,
    not a filesystem walk — a stray uncommitted file (crashed wave) in the
    chunks dir must not be decoded twice."""
    from clj_orc_spark.pipeline import decode, encode

    out = os.path.join(tmp_dir, "out")
    src = os.path.join(token_table_dir, "tokens.parquet")
    encode(spark, src, out, n_partitions=4)
    n_src = spark.read.parquet(src).count()

    # drop a stray duplicate chunk file where os.walk would find it
    chunks_dir = os.path.join(out, "chunks")
    for root, _, files in os.walk(chunks_dir):
        pq = [f for f in files if f.endswith(".parquet")]
        if pq:
            shutil.copy(
                os.path.join(root, pq[0]), os.path.join(root, "stray-" + pq[0])
            )
            break

    assert decode(spark, out).count() == n_src

    # the recorded file paths must also be resolvable (decode just used them)
    m = spark.read.parquet(os.path.join(out, "manifest", "chunks"))
    assert "file" in m.columns


# --- decode overflow guard ---------------------------------------------------


def test_decode_rejects_offsets_beyond_int32():
    """Every offsets payload — the token list, a ``list<str>`` and a map —
    refuses a chunk whose values overflow Arrow's int32 offsets, naming
    the payload and the remedy."""
    import pyarrow as pa

    from clj_orc_spark.kernels import StringCol, crc32
    from clj_orc_spark.pipeline.decode import decode_chunk_table
    from clj_orc_spark.selector import encode_column

    def enc(column, kind):
        payload, meta, _ = encode_column(column, kind)
        return payload, json.dumps(meta)

    one_str = StringCol(b"x", np.array([0, 1], dtype=np.int64))
    huge = enc(np.array([0, 2**31 + 10], dtype=np.int64), "int")
    cases = [
        (None, "offsets", {
            "doc_id": enc(one_str, "str"),
            "source": enc(one_str, "str"),
            "n_tok": enc(np.array([4], dtype=np.int32), "int"),
            "token_values": enc(np.array([1, 2, 3, 4], dtype=np.int32),
                                "int"),
            "offsets": huge,
        }),
        ([("w", "list<str>")], "w__offsets", {
            "w__values": enc(one_str, "str"),
            "w__offsets": huge,
        }),
        ([("m", "map<str,int64>")], "m__offsets", {
            "m__keys": enc(one_str, "str"),
            "m__mapvalues": enc(np.array([7], dtype=np.int64), "int"),
            "m__offsets": huge,
        }),
    ]
    for schema, o_name, cols in cases:
        tbl = pa.table(
            {
                "chunk_id": pa.array([1] * len(cols), pa.int64()),
                "col": pa.array(list(cols)),
                "payload": pa.array([cols[c][0] for c in cols], pa.binary()),
                "meta": pa.array([cols[c][1] for c in cols]),
                "crc": pa.array([crc32(cols[c][0]) for c in cols],
                                pa.int64()),
            }
        )
        kw = {} if schema is None else {"schema": schema}
        with pytest.raises(IOError, match=rf"'{o_name}'.*int32.*"
                                          r"smaller chunk_bytes"):
            decode_chunk_table(tbl, **kw)


# --- filesystem-agnostic sidecar I/O -----------------------------------------


def test_pafs_text_roundtrip_local_and_file_uri(tmp_dir):
    """Sidecar text goes through pyarrow for a bare path and a URI alike:
    a missing file reads as None, an overwrite replaces the content, and
    the temp name of the rename is gone afterwards."""
    from clj_orc_spark.pipeline import pafs

    local = os.path.join(tmp_dir, "sub", "x.json")
    uri = "file://" + os.path.join(tmp_dir, "uri", "y.json")
    for path, on_disk in ((local, local), (uri, uri[len("file://"):])):
        assert pafs.read_text(path) is None
        pafs.write_text(path, '{"a": 1}')
        assert pafs.read_text(path) == '{"a": 1}'
        pafs.write_text(path, '{"b": "ü"}')
        assert pafs.read_text(path) == '{"b": "ü"}'
        with open(on_disk, encoding="utf-8") as f:
            assert f.read() == '{"b": "ü"}'
        assert os.listdir(os.path.dirname(on_disk)) == [
            os.path.basename(on_disk)
        ]


class _FailingStream:
    """Writable file object that takes its first bytes, then raises."""

    def __init__(self, inner):
        self.inner, self.closed = inner, False

    def write(self, data):
        self.inner.write(bytes(data[:4]))
        raise OSError("simulated crash mid-write")

    def flush(self):
        pass

    def close(self):
        self.inner.close()
        self.closed = True


def _failing_fs():
    """A ``pyarrow.fs.PyFileSystem`` over local disk whose output streams
    fail after their first bytes."""
    import pyarrow as pa
    import pyarrow.fs as pfs

    local = pfs.LocalFileSystem()

    class Handler(pfs.FileSystemHandler):
        def __eq__(self, other):
            return isinstance(other, Handler)

        def __ne__(self, other):
            return not self == other

        def get_type_name(self):
            return "failing-writes"

        def normalize_path(self, path):
            return path

        def get_file_info(self, paths):
            return local.get_file_info(paths)

        def get_file_info_selector(self, selector):
            return local.get_file_info(selector)

        def create_dir(self, path, recursive):
            local.create_dir(path, recursive=recursive)

        def delete_dir(self, path):
            local.delete_dir(path)

        def delete_dir_contents(self, path, missing_dir_ok=False):
            local.delete_dir_contents(path, missing_dir_ok=missing_dir_ok)

        def delete_root_dir_contents(self):
            raise NotImplementedError

        def delete_file(self, path):
            local.delete_file(path)

        def move(self, src, dest):
            local.move(src, dest)

        def copy_file(self, src, dest):
            local.copy_file(src, dest)

        def open_input_stream(self, path):
            return local.open_input_stream(path)

        def open_input_file(self, path):
            return local.open_input_file(path)

        def open_output_stream(self, path, metadata):
            return pa.PythonFile(
                _FailingStream(local.open_output_stream(path)), mode="w")

        def open_append_stream(self, path, metadata):
            raise NotImplementedError

    return pfs.PyFileSystem(Handler())


def test_failed_sidecar_write_keeps_the_old_plan(tmp_dir, monkeypatch):
    """A write that dies after its first bytes leaves the previous
    plan.json whole and parseable, and no temp file behind."""
    from clj_orc_spark.pipeline import pafs

    plan_path = os.path.join(tmp_dir, "plan.json")
    old = json.dumps({"mode": "rowgroup", "parts": [[["a.parquet", 0]]]})
    pafs.write_text(plan_path, old)

    fs = _failing_fs()
    monkeypatch.setattr(pafs, "resolve", lambda path, filesystem=None:
                        (fs, path))
    with pytest.raises(OSError, match="simulated crash"):
        pafs.write_text(plan_path, json.dumps({"mode": "rowgroup",
                                               "parts": []}))
    monkeypatch.undo()
    assert json.loads(pafs.read_text(plan_path)) == json.loads(old)
    assert os.listdir(tmp_dir) == ["plan.json"]


def test_resume_ignores_a_truncated_temp_plan(spark, token_table_dir,
                                              tmp_dir):
    """A crash mid-write leaves a truncated ``.plan.json.<hex>.tmp`` beside
    the committed plan.json; the resume reads plan.json and decodes
    bit-identically."""
    from clj_orc_spark.pipeline import decode, encode, verify_roundtrip

    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    rep = encode(spark, src, out, n_partitions=2)
    with open(os.path.join(out, "plan.json")) as f:
        text = f.read()
    with open(os.path.join(out, ".plan.json.0123456789ab.tmp"), "w") as f:
        f.write(text[: len(text) // 2])
    rep2 = encode(spark, out_dir=out)
    assert rep2["pending"] == 0 and rep2["skipped"] == rep["pending"]
    v = verify_roundtrip(spark.read.parquet(src), decode(spark, out))
    assert v["bit_identical"] and v["total"] == 5_000, v


def test_encode_decode_resume_via_file_uri(spark, token_table_dir, tmp_dir):
    """Scheme-qualified URIs end-to-end: the sidecars (plan.json,
    run_meta.json, existence probes, manifest file list) must work through
    pyarrow's URI-resolved filesystems — the object-store deployment
    shape — not POSIX."""
    from clj_orc_spark.pipeline import decode, encode, verify_roundtrip

    src = "file://" + os.path.join(token_table_dir, "tokens.parquet")
    out = "file://" + os.path.join(tmp_dir, "uri-out")
    rep = encode(spark, src, out, n_partitions=4)
    assert rep["pending"] >= 1
    rep2 = encode(spark, src, out, n_partitions=4)  # resume over the URI
    assert rep2["pending"] == 0 and rep2["skipped"] == rep["pending"]
    v = verify_roundtrip(spark.read.parquet(src), decode(spark, out))
    assert v["bit_identical"]


# --- real multimodal codecs ---------------------------------------------------


def test_bmp_roundtrip_bit_exact():
    from clj_orc_spark.operators.multimodal import decode_image, encode_bmp

    rng = np.random.default_rng(3)
    for h, w in [(5, 7), (16, 16), (9, 31)]:  # odd widths exercise row padding
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_image(encode_bmp(arr)), arr)


def test_pnm_decode():
    from clj_orc_spark.operators.multimodal import decode_image

    ppm = b"P6\n# a comment\n2 2\n255\n" + bytes(range(12))
    arr = decode_image(ppm)
    assert arr.shape == (2, 2, 3) and arr[0, 0, 2] == 2
    pgm = b"P5 3 2 255 " + bytes(range(6))
    assert decode_image(pgm).shape == (2, 3, 1)


def test_wav_decode_and_feature():
    import io
    import wave

    from clj_orc_spark.operators.multimodal import audio_feature, decode_audio

    samples = (np.sin(np.arange(2000) * 0.3) * 10000).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(samples.tobytes())
    got, sr = decode_audio(buf.getvalue())
    assert sr == 8000 and np.array_equal(got[:, 0], samples)
    feat = audio_feature(buf.getvalue())
    assert feat.shape == (64,) and np.isfinite(feat).all()
    assert abs(float(np.linalg.norm(feat)) - 1.0) < 1e-5


def test_extract_features_real_path(spark):
    from clj_orc_spark.operators.multimodal import extract_features, real_media_table

    media = real_media_table(spark, 16)
    rows = extract_features(media, fake=False).collect()
    assert len(rows) == 16
    assert all(len(r["feature"]) == 64 for r in rows)
    assert all(np.isfinite(r["feature"]).all() for r in rows)
    # deterministic across runs
    again = {r["media_id"]: r["feature"]
             for r in extract_features(media, fake=False).collect()}
    assert {r["media_id"]: r["feature"] for r in rows} == again


def test_resize_image_nearest():
    from clj_orc_spark.operators.multimodal import resize_image

    arr = np.arange(36, dtype=np.uint8).reshape(6, 6)
    out = resize_image(arr, (3, 2))
    assert out.shape == (3, 2)
    assert out[0, 0] == arr[0, 0] and out[2, 1] == arr[4, 3]


# --- uint64 frame-of-reference (ADVICE) --------------------------------------


def test_uint64_columns_roundtrip_all_codecs():
    from clj_orc_spark.kernels import INT_CODECS, decode_any

    top = np.iinfo(np.uint64).max
    arrs = [
        np.array([top, top - 1, top - 7, top], dtype=np.uint64),
        np.array([2**63, 2**63 + 1, 2**64 - 1, 0], dtype=np.uint64),
        np.arange(top - 300, top, dtype=np.uint64),
    ]
    for arr in arrs:
        for name, codec in INT_CODECS.items():
            payload, meta = codec.encode(arr)
            out = decode_any(payload, meta)
            assert out.dtype == arr.dtype, name
            assert np.array_equal(out, arr), name
