"""Round-3 fixes: MinHash shingle-axis blocking (flat memory on long
documents), unbiased IVF codebook sampling, and the small ADVICE items."""

import os
import subprocess
import sys
import textwrap

import numpy as np
import pytest

from clj_orc_spark.operators.dedup import (
    MERSENNE,
    _perm_params,
    _shingle_hashes,
    minhash_signature,
)


def test_minhash_blocking_is_bit_identical():
    """The blocked accumulator must reproduce the single-shot matrix formula
    exactly — same uint64 wraparound, same min — for lengths below, at, and
    above the block boundary."""
    a, b = _perm_params(64)
    rng = np.random.default_rng(7)
    from clj_orc_spark.operators import dedup

    for n in (1, 1000, dedup.MINHASH_BLOCK, dedup.MINHASH_BLOCK + 1,
              3 * dedup.MINHASH_BLOCK + 17):
        h = rng.integers(0, 2**63, n, dtype=np.uint64)
        single = ((a[:, None] * h[None, :] + b[:, None]) % MERSENNE).min(
            axis=1
        ).astype(np.int64)
        assert np.array_equal(minhash_signature(h, a, b), single), n


def test_minhash_text_signature_unchanged():
    """Signatures of real text must match the pre-blocking formula (the
    historical signature is load-bearing: banded buckets and est_jaccard
    comparisons depend on it)."""
    a, b = _perm_params(64)
    for t in ("the quick brown fox jumps over the lazy dog", "ab", ""):
        h = _shingle_hashes(t, 5)
        vals = (a[:, None] * h[None, :] + b[:, None]) % MERSENNE
        assert np.array_equal(
            minhash_signature(h, a, b), vals.min(axis=1).astype(np.int64)
        )


def test_minhash_long_document_memory_is_capped():
    """A single 8 MB document (~8.4M shingles) must encode with flat memory:
    the unblocked num_perm x n_shingles matrix would be ~4.3 GB; blocked
    peak stays near num_perm x MINHASH_BLOCK (~32 MB).  Run in a fresh
    subprocess so ru_maxrss is a meaningful high-watermark."""
    script = textwrap.dedent(
        """
        import resource
        import numpy as np
        from clj_orc_spark.operators.dedup import (
            _perm_params, _shingle_hashes, minhash_signature)
        rng = np.random.default_rng(3)
        text = "".join(chr(c) for c in rng.integers(97, 123, 8 << 20))
        h = _shingle_hashes(text, 5)
        assert len(h) > 4_000_000, len(h)
        a, b = _perm_params(64)
        sig = minhash_signature(h, a, b)
        assert sig.shape == (64,) and sig.dtype == np.int64
        peak_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        print("peak_kb", peak_kb)
        assert peak_kb < 1_200_000, f"peak RSS {peak_kb} kB - blocking broken"
        """
    )
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(__file__)))
    r = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        env=env, timeout=300,
    )
    assert r.returncode == 0, r.stdout + r.stderr


def test_ivf_training_samples_beyond_first_partition(spark):
    """A df whose FIRST partition holds only one degenerate direction must
    still train a diverse codebook — `limit()` (the old sampler) saw only
    that partition and collapsed every centroid onto it."""
    from clj_orc_spark.operators.similarity import train_ivf

    rng = np.random.default_rng(0)
    # partition 0: 500 copies of e0; partitions 1-3: diverse random vectors
    degenerate = [([1.0] + [0.0] * 15,) for _ in range(500)]
    diverse = [(rng.standard_normal(16).tolist(),) for _ in range(1500)]
    df = spark.createDataFrame(
        degenerate + diverse, "embedding array<double>"
    ).repartitionByRange(4, "embedding")
    # force a deterministic layout: partition 0 = degenerate rows
    df = spark.createDataFrame(degenerate, "embedding array<double>").coalesce(
        1
    ).unionAll(
        spark.createDataFrame(diverse, "embedding array<double>").coalesce(3)
    )
    cents = train_ivf(df, n_centroids=8, sample_rows=256, seed=1)
    assert cents.shape == (8, 16)
    # limit()-based sampling saw ONLY the degenerate partition: all 8
    # centroids identical (every pairwise cos sim 1.0).  A uniform sample
    # must yield at least two distinct directions.  (Duplicate centroids
    # from duplicate-heavy init are fine — the bias is what's under test.)
    sims = cents @ cents.T
    off_diag = sims[~np.eye(8, dtype=bool)]
    assert off_diag.min() < 0.999, "codebook collapsed to one direction"


def test_ivf_empty_df_raises(spark):
    from clj_orc_spark.operators.similarity import train_ivf

    with pytest.raises(ValueError, match="empty"):
        train_ivf(spark.createDataFrame([], "embedding array<double>"))


def test_decode_rejects_empty_columns(spark, tmp_dir):
    from clj_orc_spark.pipeline import decode

    with pytest.raises(ValueError, match="non-empty"):
        decode(spark, tmp_dir, columns=[])


def test_decode_source_isin_validation(spark, tmp_dir):
    from clj_orc_spark.pipeline import decode

    with pytest.raises(TypeError, match="non-empty list of str"):
        decode(spark, tmp_dir, isin={"source": []})
    with pytest.raises(TypeError, match="non-empty list of str"):
        decode(spark, tmp_dir, isin={"source": [3]})
    with pytest.raises(ValueError, match="'source' requires it"):
        decode(spark, tmp_dir, columns=["doc_id"], isin={"source": ["a"]})


def test_decode_source_isin_prunes_and_filters(spark, token_table_dir,
                                               tmp_dir):
    """isin on source must return exactly the matching rows (bit-identical)
    and prune non-matching chunks from I/O via the source zone maps."""
    from pyspark.sql import functions as F

    from clj_orc_spark.pipeline import decode, decode_plan_report, encode

    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=4)
    full = spark.read.parquet(src)
    want = [r["source"] for r in full.select("source").distinct().collect()][:1]
    got = decode(spark, out, isin={"source": want})
    exp = full.where(F.col("source").isin(want))
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    # pruning engages: chunks surviving the stats filter <= all chunks
    rep = decode_plan_report(spark, out, isin={"source": want})
    m = spark.read.parquet(os.path.join(out, "manifest", "chunks"))
    n_all = m.select("chunk_id").distinct().count()
    assert rep["chunks_total"] == n_all
    assert 0 < rep["chunks_kept"] <= n_all


def test_decode_image_png_without_pillow_raises_declared_stub():
    pil = True
    try:
        import PIL  # noqa: F401
    except ImportError:
        pil = False
    from clj_orc_spark.operators.multimodal import decode_image

    png_magic = b"\x89PNG\r\n\x1a\n" + b"\x00" * 32
    if pil:
        with pytest.raises(Exception):  # truncated PNG: Pillow decode error
            decode_image(png_magic)
    else:
        with pytest.raises(NotImplementedError, match="Pillow"):
            decode_image(png_magic)


@pytest.mark.skipif(
    not pytest.importorskip("importlib").util.find_spec("PIL"),
    reason="Pillow not installed",
)
def test_decode_image_png_roundtrip_with_pillow():
    """When Pillow IS available the dispatch must decode a real PNG."""
    import io

    from PIL import Image

    from clj_orc_spark.operators.multimodal import decode_image

    arr = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    buf = io.BytesIO()
    Image.fromarray(arr).save(buf, format="PNG")
    assert np.array_equal(decode_image(buf.getvalue()), arr)


def test_image_feature_rejects_empty_image():
    from clj_orc_spark.operators.multimodal import image_feature

    with pytest.raises(ValueError, match="empty image"):
        image_feature(np.zeros((0, 5), dtype=np.uint8))
    with pytest.raises(ValueError, match="empty image"):
        image_feature(np.zeros((5, 0, 3), dtype=np.uint8))


def test_read_token_table_auto_treats_existing_dir_as_parquet(
    spark, token_table_dir, tmp_dir, monkeypatch
):
    """A bare relative directory name that exists on disk must route to the
    parquet reader, not fail with a misleading Iceberg-connector error."""
    import shutil

    from clj_orc_spark.sources.table import read_token_table

    os.makedirs(os.path.join(tmp_dir, "data"))
    shutil.copy(
        os.path.join(token_table_dir, "tokens.parquet"),
        os.path.join(tmp_dir, "data", "tokens.parquet"),
    )
    monkeypatch.chdir(tmp_dir)
    df = read_token_table(spark, "data")
    assert df.count() == 5_000


def test_speed_selection_policy_roundtrips(spark, token_table_dir, tmp_dir):
    """encode(selection='speed') must round-trip bit-identically and record
    the policy in the report; the store decodes with the same API."""
    from clj_orc_spark.pipeline import decode, encode, verify_roundtrip

    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    rep = encode(spark, src, out, n_partitions=2, selection="speed")
    assert rep["selection"] == "speed"
    v = verify_roundtrip(spark.read.parquet(src), decode(spark, out))
    assert v["bit_identical"]
    with pytest.raises(ValueError, match="selection"):
        encode(spark, src, os.path.join(tmp_dir, "x"), selection="fast")
