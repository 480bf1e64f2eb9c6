import sys, time
sys.path.insert(0, "/root/repo")
import numpy as np, pyarrow.parquet as pq
from clj_orc_spark.kernels.dict_ import DictInt, ranked_value_counts, _encode_codes
from clj_orc_spark.kernels.bitpack import PatchedFor, ForBitpack, bit_width, bit_lengths, pack_bits
from clj_orc_spark.kernels.base import narrow_residuals, pack_sections
from clj_orc_spark.kernels.rle import run_starts

pf = pq.ParquetFile("/tmp/clj-orc-spark-bench-500000/tokens.parquet")
tbl = pf.read_row_group(0, columns=["tokens"])
flat = np.asarray(tbl.column("tokens").combine_chunks().flatten())
n = len(flat)

def T(f, *a, **k):
    t0=time.time(); r=f(*a,**k); return time.time()-t0, r

# warm
DictInt.encode(flat)
for rep in range(2):
    t_cast, a64 = T(lambda: flat.astype(np.int64, copy=False))
    t_rvc, (ranked, codes, counts) = T(ranked_value_counts, a64)
    t_dict, (up, um) = T(lambda: __import__("clj_orc_spark.kernels.bitpack", fromlist=["encode_int_sub"]).encode_int_sub(ranked))
    code_full = bit_width(len(ranked)-1)
    hist = np.zeros(code_full+1, dtype=np.int64)
    np.add.at(hist, bit_lengths(np.arange(len(ranked), dtype=np.uint64)), counts)
    w,_ = PatchedFor.best_width_from_hist(hist, n, code_full)
    codes32 = codes.astype(np.int32, copy=False)
    t_codes, (cp, cm) = T(_encode_codes, codes32, w)
    # inside PatchedFor.encode on codes:
    ref = int(codes32.min())
    t_nr, res = T(narrow_residuals, codes32, ref)
    one = res.dtype.type
    mask = one((1<<w)-1)
    t_base, base = T(lambda: res & mask)
    t_excmask, exc_mask = T(lambda: res > mask)
    t_excidx, exc_idx = T(np.flatnonzero, exc_mask)
    t_pos, _ = T(lambda: np.packbits(exc_mask, bitorder="little").tobytes())
    t_hi, hi_vals = T(lambda: res[exc_idx] >> one(w))
    t_packbase, _ = T(pack_bits, base, w)
    t_packhi, _ = T(pack_bits, hi_vals, code_full - w)
    print(f"rep{rep}: n={n} card={len(ranked)} w={w} full={code_full} n_exc={len(exc_idx)} ({len(exc_idx)/n:.2%})")
    print(f"  cast64 {t_cast*1e3:.0f}ms rvc {t_rvc*1e3:.0f}ms dictenc {t_dict*1e3:.0f}ms codes_total {t_codes*1e3:.0f}ms")
    print(f"  [codes detail] narrow_res {t_nr*1e3:.0f} base& {t_base*1e3:.0f} excmask {t_excmask*1e3:.0f} excidx {t_excidx*1e3:.0f} posbits {t_pos*1e3:.0f} hi {t_hi*1e3:.0f} pack_base {t_packbase*1e3:.0f} pack_hi {t_packhi*1e3:.0f}")
    # RLE probe cost
    k = 1<<13
    starts = np.linspace(0, len(codes32)-k, 8).astype(np.int64)
    t_probe, _ = T(lambda: run_starts(np.concatenate([codes32[i:i+k] for i in starts])))
    # base recursion gate cost
    t_gate, _ = T(lambda: np.bincount(base.astype(np.int64) if base.dtype==np.uint64 else base, minlength=1<<w))
    print(f"  rle_probe {t_probe*1e3:.0f}ms base_gate_bincount {t_gate*1e3:.0f}ms")
