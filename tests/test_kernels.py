"""Kernel round-trip unit tests — FIXTURES.md F3 edge cases.

Per-codec × per-dtype bit-identity: ``decode(*encode(x)) == x`` exactly.
This is the rigor the reference's own kernel tests lack (its col_test
assertion is commented out, `test/orc/col_test.clj:17-19`); the semantics
mirror its round-trip fixtures (`test/orc/read_test.clj:33-39`).
"""

import numpy as np
import pytest

from clj_orc_spark.kernels import (
    INT_CODECS,
    STR_CODECS,
    StringCol,
    decode_any,
    pack_bits,
    unpack_bits,
)

RNG = np.random.default_rng(42)

INT_CASES = {
    "empty": np.empty(0, dtype=np.int32),
    "singleton": np.array([7], dtype=np.int32),
    "all_equal": np.full(1000, 42, dtype=np.int32),
    "alternating": np.tile(np.array([0, 1], dtype=np.int32), 500),
    "tiny_range": RNG.integers(100, 116, 2000).astype(np.int32),
    "full_range": np.array(
        [np.iinfo(np.int32).min, -1, 0, 1, np.iinfo(np.int32).max], dtype=np.int32
    ),
    "full_range_i64": np.array(
        [np.iinfo(np.int64).min, -17, 0, 3, np.iinfo(np.int64).max], dtype=np.int64
    ),
    "monotone_offsets": np.cumsum(
        np.concatenate([[0], RNG.integers(1, 8192, 5000)])
    ).astype(np.int64),
    "zipf_tokens": np.minimum(RNG.zipf(1.5, 20000), 50257).astype(np.int32) - 1,
    "negatives": RNG.integers(-1000, 1000, 3000).astype(np.int64),
    "int16": RNG.integers(-300, 300, 500).astype(np.int16),
    "runs": np.repeat(RNG.integers(0, 50, 100), RNG.integers(1, 40, 100)).astype(np.int32),
}

STR_CASES = {
    "empty": [],
    "singleton": [b"hello"],
    "empty_strings": [b"", b"", b"a", b""],
    "low_card": [b"web", b"code", b"books", b"wiki"] * 2500,
    "high_card": [f"id-{RNG.integers(0, 1 << 60):016x}".encode() for _ in range(5000)],
    "prefix_heavy": [
        f"web-{i % 13:04d}-{i:08d}".encode() for i in range(5000)
    ],
    "unicode": ["héllo wörld".encode(), "日本語テキスト".encode(), b"", "🎉🎊".encode()],
    "long_text": [(b"the quick brown fox jumps over the lazy dog " * 50)] * 20
    + [b"unique tail %d" % i for i in range(100)],
}


@pytest.mark.parametrize("width", [0, 1, 3, 7, 8, 13, 16, 17, 31, 32, 40, 63, 64])
def test_pack_unpack_bits(width):
    n = 257
    hi = (1 << width) - 1 if width else 0
    vals = RNG.integers(0, hi + 1, n, dtype=np.uint64) if width else np.zeros(n, np.uint64)
    if width:
        vals[0], vals[-1] = 0, hi  # boundary values
    assert np.array_equal(unpack_bits(pack_bits(vals, width), width, n), vals)


@pytest.mark.parametrize("codec_name", sorted(INT_CODECS))
@pytest.mark.parametrize("case", sorted(INT_CASES))
def test_int_roundtrip(codec_name, case):
    arr = INT_CASES[case]
    payload, meta = INT_CODECS[codec_name].encode(arr)
    out = decode_any(payload, meta)
    assert out.dtype == arr.dtype, f"{codec_name}/{case}: dtype {out.dtype}"
    assert np.array_equal(out, arr), f"{codec_name}/{case}: values differ"


@pytest.mark.parametrize("codec_name", sorted(STR_CODECS))
@pytest.mark.parametrize("case", sorted(STR_CASES))
def test_str_roundtrip(codec_name, case):
    col = StringCol.from_list(STR_CASES[case])
    payload, meta = STR_CODECS[codec_name].encode(col)
    out = decode_any(payload, meta)
    assert out.data == col.data, f"{codec_name}/{case}: data differs"
    assert np.array_equal(out.offsets, col.offsets), f"{codec_name}/{case}: offsets"


def test_meta_json_serializable():
    import json

    for name, codec in INT_CODECS.items():
        _, meta = codec.encode(INT_CASES["zipf_tokens"])
        json.dumps(meta)
    for name, codec in STR_CODECS.items():
        _, meta = codec.encode(StringCol.from_list(STR_CASES["prefix_heavy"]))
        json.dumps(meta)


def test_compression_actually_compresses():
    """Sanity: each codec beats plain on its target shape."""
    from clj_orc_spark.kernels import DictStr, Fsst, PatchedFor, PlainInt, PlainStr, Rle

    tokens = INT_CASES["zipf_tokens"]
    assert len(PatchedFor.encode(tokens)[0]) < len(PlainInt.encode(tokens)[0]) / 2

    runs = INT_CASES["runs"]
    assert len(Rle.encode(runs)[0]) < len(PlainInt.encode(runs)[0]) / 4

    low_card = StringCol.from_list(STR_CASES["low_card"])
    assert len(DictStr.encode(low_card)[0]) < len(PlainStr.encode(low_card)[0]) / 8

    prefixy = StringCol.from_list(STR_CASES["prefix_heavy"])
    assert len(Fsst.encode(prefixy)[0]) < len(PlainStr.encode(prefixy)[0])


def test_string_col_arrow_roundtrip():
    import pyarrow as pa

    col = StringCol.from_list(STR_CASES["unicode"])
    arr = col.to_arrow()
    back = StringCol.from_arrow(arr)
    assert back == col
    # and from a sliced arrow array (non-zero offset)
    arr2 = pa.array(["aa", "bb", "cc", "dd"])
    sliced = arr2.slice(1, 2)
    sc = StringCol.from_arrow(sliced)
    assert sc.to_list() == [b"bb", b"cc"]


def test_narrow_residual_path_payloads_match_wide_path():
    """The uint32 residual fast path (int32/int16/uint32 inputs) must emit
    BYTE-IDENTICAL payloads to the uint64 path on the same values — the
    encoded format is dtype-independent; only meta records the dtype."""
    import numpy as np

    from clj_orc_spark.kernels.bitpack import ForBitpack, PatchedFor

    rng = np.random.default_rng(11)
    cases = [
        rng.integers(-2**31, 2**31, 50_000).astype(np.int32),
        np.minimum(rng.zipf(1.2, 50_000), 2**31 - 1).astype(np.int32),
        rng.integers(0, 2**32, 10_000, dtype=np.uint32),
        rng.integers(-2**15, 2**15, 10_000).astype(np.int16),
        np.array([], dtype=np.int32),
        np.array([-2**31, 2**31 - 1, 0, 7], dtype=np.int32),
    ]
    for arr in cases:
        wide = arr.astype(np.int64)
        for codec in (ForBitpack, PatchedFor):
            p_narrow, m_narrow = codec.encode(arr)
            p_wide, m_wide = codec.encode(wide)
            assert p_narrow == p_wide, (codec.name, arr.dtype)
            assert np.array_equal(codec.decode(p_narrow, m_narrow), arr)


def test_narrow_decode_path_roundtrips_extremes():
    """uint32-path decode must reproduce exact values for 32-bit dtypes
    across extremes, dense/sparse exceptions, and recursive hi streams."""
    import numpy as np

    from clj_orc_spark.kernels.bitpack import ForBitpack, PatchedFor

    rng = np.random.default_rng(23)
    cases = [
        np.array([-2**31, 2**31 - 1], dtype=np.int32),
        np.array([0, 2**32 - 1], dtype=np.uint32),
        np.minimum(rng.zipf(1.1, 200_000), 2**31 - 1).astype(np.int32),
        rng.integers(0, 2**32, 100_000, dtype=np.uint32),
        np.full(1000, -7, dtype=np.int32),
    ]
    for arr in cases:
        for codec in (ForBitpack, PatchedFor):
            p, m = codec.encode(arr)
            out = codec.decode(p, m)
            assert out.dtype == arr.dtype
            assert np.array_equal(out, arr), (codec.name, str(arr.dtype))


def test_zero_reference_residuals_are_read_only():
    """The zero-reference fast paths return their input reinterpreted, not
    a copy; a write to the result must raise instead of silently changing
    the source array."""
    from clj_orc_spark.kernels.base import (
        as_unsigned_residuals,
        from_unsigned_residuals,
        narrow_residuals,
    )

    src = np.arange(8, dtype=np.int64)
    views = [
        as_unsigned_residuals(src, 0),
        as_unsigned_residuals(src.view(np.uint64), 0),
        narrow_residuals(src.astype(np.int32), 0),
        narrow_residuals(src.astype(np.uint32), 0),
        from_unsigned_residuals(src.astype(np.uint32), 0, "uint32"),
        from_unsigned_residuals(src.astype(np.uint32), 0, "int32"),
        from_unsigned_residuals(src.view(np.uint64), 0, "uint64"),
    ]
    for v in views:
        with pytest.raises(ValueError, match="read-only"):
            v[0] = 1
    assert np.array_equal(src, np.arange(8))
    # a nonzero reference allocates a fresh, writable result
    assert as_unsigned_residuals(src, 3).flags.writeable
    assert narrow_residuals(src.astype(np.int32), 3).flags.writeable


def test_ranked_dict_wide_range_index_branch(monkeypatch):
    """The int64 index branch of ranked_value_counts (ranges beyond int32)
    must produce correct rank codes — forced via the testable threshold."""
    import numpy as np

    from clj_orc_spark.kernels import dict_ as dict_mod

    rng = np.random.default_rng(9)
    arr = rng.choice(np.array([5, 40, 400, 4000]), size=5000).astype(np.int64)
    ranked_n, codes_n, counts_n = dict_mod.ranked_value_counts(arr)
    monkeypatch.setattr(dict_mod, "_NARROW_IDX_MAX", 8)  # range 3996 > 8
    ranked_w, codes_w, counts_w = dict_mod.ranked_value_counts(arr)
    assert np.array_equal(ranked_n, ranked_w)
    assert np.array_equal(codes_n, codes_w)
    assert np.array_equal(counts_n, counts_w)
    p, m = dict_mod.DictInt.encode(arr)
    assert np.array_equal(dict_mod.DictInt.decode(p, m), arr)


def test_encode_codes_rle_probe_sees_mid_stream_runs():
    """Run structure that begins only after a high-churn prefix must still
    qualify RLE (head/middle/tail probe, not head-only)."""
    import numpy as np

    from clj_orc_spark.kernels.dict_ import _encode_codes

    rng = np.random.default_rng(4)
    churn = rng.integers(0, 1000, 1 << 16).astype(np.int32)
    runs = np.repeat(np.arange(50, dtype=np.int32), 40_000)
    codes = np.concatenate([churn, runs])
    p, m = _encode_codes(codes)
    assert m["codec"] == "rle", m["codec"]
    from clj_orc_spark.kernels.dict_ import _decode_codes

    assert np.array_equal(_decode_codes(p, m).astype(np.int64), codes)


def test_dict_str_frequency_ranked():
    """String dicts are frequency-ordered: the dominant value takes code 0
    regardless of lexicographic position, and the round-trip is exact."""
    import numpy as np

    from clj_orc_spark.kernels.base import StringCol, split_sections
    from clj_orc_spark.kernels.dict_ import DictStr
    from clj_orc_spark.kernels.plain import PlainStr

    items = [b"zzz-dominant"] * 900 + [b"aaa", b"bbb", b"ccc"] * 30
    col = StringCol.from_list(items)
    p, m = DictStr.encode(col)
    out = DictStr.decode(p, m)
    assert out.data == col.data and np.array_equal(out.offsets, col.offsets)
    up, _ = split_sections(p, m["sections"])
    uniq = PlainStr.decode(up, m["uniques"])
    assert uniq.row(0) == b"zzz-dominant"  # rank 0 = most frequent


@pytest.mark.parametrize("width", list(range(0, 33)) + [40, 48, 56, 63, 64])
def test_pack_bits_block_path_matches_bit_matrix(width):
    """The uint64-block constant-shift fast path (widths whose k×w bits tile
    whole bytes, _block_k) must emit byte-identical streams to the generic
    bit-matrix layout, for every length mod k and both input dtypes."""
    from clj_orc_spark.kernels.bitpack import _FAST_WIDTH_DTYPE, packed_nbytes

    def reference_pack(values, width):
        # the pre-fast-path formulation: n×width little-endian bit matrix
        if width == 0 or len(values) == 0:
            return b""
        v = np.ascontiguousarray(values, dtype=np.uint64)
        le = v.view(np.uint8).reshape(-1, 8)[:, : (width + 7) // 8]
        bits = np.unpackbits(le, axis=1, bitorder="little")[:, :width]
        return np.packbits(bits.ravel(), bitorder="little").tobytes()

    for n in (0, 1, 7, 8, 9, 255, 256, 1000):
        hi = (1 << width) - 1 if width else 0
        vals = RNG.integers(0, hi + 1, n, dtype=np.uint64)
        if width and n:
            vals[0], vals[-1] = 0, hi
        got = pack_bits(vals, width)
        assert got == reference_pack(vals, width), (width, n)
        assert len(got) == packed_nbytes(n, width)
        assert np.array_equal(unpack_bits(got, width, n), vals)
        if width <= 32:
            v32 = vals.astype(np.uint32)
            assert pack_bits(v32, width) == got, (width, n, "uint32 input")
            nar = unpack_bits(got, width, n, narrow=True)
            assert nar.dtype == np.uint32 and np.array_equal(nar, v32)


def test_bitlen_hist_matches_frexp_path():
    """_bitlen_hist's value-bincount path (full <= 16) must produce the
    exact histogram of the frexp bit-length formulation."""
    from clj_orc_spark.kernels.bitpack import _bitlen_hist, bit_lengths

    for full, dtype in ((0, np.uint32), (1, np.uint32), (7, np.uint32),
                        (16, np.uint32), (16, np.uint64), (20, np.uint64)):
        vals = RNG.integers(0, 1 << full, 4097, dtype=np.uint64)
        if full:
            vals[0], vals[-1] = 0, (1 << full) - 1
        v = vals.astype(dtype)
        want = np.bincount(bit_lengths(vals), minlength=full + 1)
        got = _bitlen_hist(v, full)
        assert np.array_equal(got, want), (full, dtype)


def test_patched_for_hi_recursion_native_dtype_roundtrip():
    """The hi-recursion sub-stream keeps the residuals' native (uint32)
    dtype instead of an int64 copy; payload bytes and the decoded values
    must be unchanged (zipfian data forces multi-level hi recursion)."""
    from clj_orc_spark.kernels.bitpack import PatchedFor

    vals = (RNG.zipf(1.2, 300_000).clip(0, 1 << 15)).astype(np.int32)
    payload, meta = PatchedFor.encode(vals)
    assert meta["hi"] is not None, "test data must trigger the hi recursion"
    assert meta["hi"]["dtype"] == "uint32"
    out = PatchedFor.decode(payload, meta)
    assert out.dtype == np.int32 and np.array_equal(out, vals)
    # legacy stores recorded the hi sub-stream as int64 — decode must keep
    # accepting that spelling (payload bytes are identical either way)
    import copy

    legacy = copy.deepcopy(meta)
    def _as_legacy(m):
        while m is not None:
            m["dtype"] = "int64" if m["dtype"] == "uint32" else m["dtype"]
            m = m.get("hi")
    _as_legacy(legacy["hi"])
    out2 = PatchedFor.decode(payload, legacy)
    assert np.array_equal(out2, vals)


def test_patched_for_value_counts_identical_payload():
    """PatchedFor with an exact value histogram (the dict path's
    counts-by-rank plumb-through) must produce byte-identical payload and
    meta to the self-scanning formulation, across shapes that exercise
    the hi/base recursions and the ref-shift."""
    from clj_orc_spark.kernels.bitpack import PatchedFor

    shapes = {
        "zipfish": (RNG.zipf(1.2, 200_000).clip(0, 4000)).astype(np.int32),
        "offset": (RNG.zipf(1.3, 150_000).clip(0, 2000) + 37).astype(np.int32),
        "uniformish": RNG.integers(0, 300, 150_000, dtype=np.int32),
        "tiny_card": RNG.integers(0, 4, 100_000, dtype=np.int32),
    }
    for name, arr in shapes.items():
        vc = np.bincount(arr).astype(np.int64)
        p_plain, m_plain = PatchedFor.encode(arr)
        p_vc, m_vc = PatchedFor.encode(arr, value_counts=vc)
        assert p_vc == p_plain, name
        assert m_vc == m_plain, name
        out = PatchedFor.decode(p_vc, m_vc)
        assert np.array_equal(out, arr), name


def test_patched_for_value_counts_trailing_zero_bins():
    """A value histogram longer than ``max + 1`` (trailing zero bins) must
    not size the derived hi-stream histogram past ``2^hi_full``: the
    payload equals the histogram-free encode and round-trips."""
    from clj_orc_spark.kernels.bitpack import PatchedFor

    hi = np.minimum(np.random.default_rng(0).zipf(1.3, 30000), 1024)
    hi[0] = 1024
    p_vc, m_vc = PatchedFor.encode(
        hi, value_counts=np.bincount(hi, minlength=2048)
    )
    p_plain, m_plain = PatchedFor.encode(hi)
    assert p_vc == p_plain
    assert m_vc == m_plain
    assert np.array_equal(PatchedFor.decode(p_vc, m_vc), hi)


def test_fold_bitlen_rejects_inconsistent_histogram():
    """A value histogram with mass above ``2^full`` raises ValueError (not
    an assert, which ``python -O`` strips)."""
    from clj_orc_spark.kernels.bitpack import _fold_bitlen

    vc = np.zeros(32, dtype=np.int64)
    vc[3] = 5
    vc[31] = 1  # bit length 5 > full=2
    with pytest.raises(ValueError, match="exceed"):
        _fold_bitlen(vc, 2)
    assert _fold_bitlen(vc[:4], 2).tolist() == [0, 0, 5]
