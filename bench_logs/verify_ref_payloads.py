"""sha256 payload harness: re-encode fixed arrays with every int codec and
the selector, and compare each payload's sha256 against the recorded
``ref_payloads.json``.  Exits 1 on any mismatch or round-trip failure.

    python bench_logs/verify_ref_payloads.py

The ``tokens_real`` array is row group 0 of the 500k-row seed-42 token
table.  It is read from bench.py's cache when a bench run left one, and
otherwise generated once (~80 s) into its own cache dir.
"""
import hashlib
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from clj_orc_spark.datagen import write_token_table  # noqa: E402
from clj_orc_spark.kernels.bitpack import (  # noqa: E402
    ForBitpack,
    PatchedFor,
    pack_bits,
    unpack_bits,
)
from clj_orc_spark.kernels.dict_ import DictInt  # noqa: E402
from clj_orc_spark.kernels.rle import Rle  # noqa: E402
from clj_orc_spark.selector import encode_column  # noqa: E402

N_ROWS = 500_000


def token_table() -> str:
    bench_cache = f"/tmp/clj-orc-spark-bench-{N_ROWS}/tokens.parquet"
    if os.path.exists(bench_cache):
        return bench_cache
    # not bench.py's dir: its cache marker would then skip the ORC copy
    # bench.py's size gate needs
    d = os.path.join(tempfile.gettempdir(),
                     f"clj-orc-spark-payloads-{N_ROWS}")
    return write_token_table(d, N_ROWS, seed=42,
                             with_orc_reference=False)["parquet"]


rng = np.random.default_rng(7)
arrays = {
  "zipf_int32": (rng.zipf(1.3, 2_000_00).clip(0, 100000)).astype(np.int32),
  "rand_int64": rng.integers(-10**12, 10**12, 100_000, dtype=np.int64),
  "sorted_int32": np.sort(rng.integers(0, 10**6, 150_000, dtype=np.int32)),
  "runs_int32": np.repeat(rng.integers(0, 50, 5000, dtype=np.int32), rng.integers(1, 60, 5000)),
  "neg_int32": rng.integers(-2**31, 2**31-1, 120_000, dtype=np.int32),
  "small_int32": rng.integers(0, 16, 300_000, dtype=np.int32),
  "uint64_full": rng.integers(0, 2**63, 80_000, dtype=np.uint64) * 2,
  "bool_like": (rng.random(200_000) < 0.03).astype(np.int32),
}
pf = pq.ParquetFile(token_table())
tbl = pf.read_row_group(0, columns=["tokens"])
arrays["tokens_real"] = np.asarray(tbl.column("tokens").combine_chunks().flatten())

with open(os.path.join(HERE, "ref_payloads.json")) as f:
    ref = json.load(f)
bad = []
for name, a in arrays.items():
    for codec_name, fn in (
        ("patched", lambda a: PatchedFor.encode(a)),
        ("dict", lambda a: DictInt.encode(a)),
        ("for", lambda a: ForBitpack.encode(a)),
        ("rle", lambda a: Rle.encode(a)),
        ("select", lambda a: encode_column(a, "int", None, None, "size")[:2]),
    ):
        p, m = fn(a)
        got = hashlib.sha256(p).hexdigest()
        want = ref[f"{name}/{codec_name}"][0]
        if got != want:
            bad.append((f"{name}/{codec_name}", len(p), ref[f"{name}/{codec_name}"][1]))
        # and roundtrip check
        if codec_name in ("patched","for","rle","dict"):
            cls = {"patched":PatchedFor,"for":ForBitpack,"rle":Rle,"dict":DictInt}[codec_name]
            back = cls.decode(p, m)
            if not (np.array_equal(back, a) and str(back.dtype) == str(a.dtype)):
                bad.append((f"roundtrip {name}/{codec_name}",))
# pack checks: replay the array draws so the rng continues exactly where the
# reference capture's did
rng = np.random.default_rng(7)
_ = rng.zipf(1.3, 2_000_00); _ = rng.integers(-10**12, 10**12, 100_000, dtype=np.int64)
_ = rng.integers(0, 10**6, 150_000, dtype=np.int32)
_ = rng.integers(0, 50, 5000, dtype=np.int32); _ = rng.integers(1, 60, 5000)
_ = rng.integers(-2**31, 2**31-1, 120_000, dtype=np.int32)
_ = rng.integers(0, 16, 300_000, dtype=np.int32)
_ = rng.integers(0, 2**63, 80_000, dtype=np.uint64)
_ = rng.random(200_000)
for w in list(range(0, 33)) + [40, 48, 56, 63, 64]:
    vals = rng.integers(0, 2**w if w else 1, 50_001, dtype=np.uint64)
    p = pack_bits(vals, w)
    got = hashlib.sha256(p).hexdigest()
    if [got, len(p)] != list(ref[f"pack/{w}"])[:2] and (got, len(p)) != tuple(ref[f"pack/{w}"]):
        bad.append((f"pack/{w}", len(p), ref[f"pack/{w}"][1]))
    back = unpack_bits(p, w, len(vals))
    if not np.array_equal(back, vals):
        bad.append((f"unpack roundtrip w={w}",))
    if w <= 32:
        v32 = vals.astype(np.uint32)
        got32 = hashlib.sha256(pack_bits(v32, w)).hexdigest()
        if got32 != ref[f"pack32/{w}"][0]:
            bad.append((f"pack32/{w}",))
        b32 = unpack_bits(pack_bits(v32, w), w, len(v32), narrow=True)
        if not (b32.dtype == np.uint32 and np.array_equal(b32, v32)):
            bad.append((f"narrow unpack w={w}",))
print("MISMATCHES:", bad if bad else "none — all byte-identical")
sys.exit(1 if bad else 0)
