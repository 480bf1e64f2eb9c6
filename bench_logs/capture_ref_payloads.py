import sys, hashlib, pickle, json
sys.path.insert(0, "/root/repo")
import numpy as np, pyarrow.parquet as pq
from clj_orc_spark.kernels.bitpack import pack_bits, unpack_bits, PatchedFor, ForBitpack
from clj_orc_spark.kernels.dict_ import DictInt
from clj_orc_spark.kernels.rle import Rle
from clj_orc_spark.selector import encode_column

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
pf = pq.ParquetFile("/tmp/clj-orc-spark-bench-500000/tokens.parquet")
tbl = pf.read_row_group(0, columns=["tokens"])
arrays["tokens_real"] = np.asarray(tbl.column("tokens").combine_chunks().flatten())

ref = {}
for name, a in arrays.items():
    for codec_name, fn in (
        ("patched", lambda a: PatchedFor.encode(a)),
        ("dict", lambda a: DictInt.encode(a)),
        ("for", lambda a: ForBitpack.encode(a)),
        ("rle", lambda a: Rle.encode(a)),
        ("select", lambda a: encode_column(a, "int", None, None, "size")[:2]),
    ):
        p, m = fn(a)
        ref[f"{name}/{codec_name}"] = (hashlib.sha256(p).hexdigest(), len(p))
# pack_bits byte captures across widths
for w in list(range(0, 33)) + [40, 48, 56, 63, 64]:
    vals = rng.integers(0, 2**w if w else 1, 50_001, dtype=np.uint64)
    ref[f"pack/{w}"] = (hashlib.sha256(pack_bits(vals, w)).hexdigest(), len(pack_bits(vals, w)))
    if w <= 32:
        v32 = vals.astype(np.uint32)
        ref[f"pack32/{w}"] = (hashlib.sha256(pack_bits(v32, w)).hexdigest(),)
with open("/root/repo/bench_logs/ref_payloads.json", "w") as f:
    json.dump(ref, f, indent=0)
print("captured", len(ref), "reference hashes")
