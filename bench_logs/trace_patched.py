import sys, time, json
sys.path.insert(0, "/root/repo")
import numpy as np, pyarrow.parquet as pq
from clj_orc_spark.kernels import bitpack as BP
from clj_orc_spark.kernels.dict_ import DictInt

pf = pq.ParquetFile("/tmp/clj-orc-spark-bench-500000/tokens.parquet")
tbl = pf.read_row_group(0, columns=["tokens"])
flat = np.asarray(tbl.column("tokens").combine_chunks().flatten())

depth = [0]
orig = BP.PatchedFor.encode.__func__
def traced(cls, arr, width_hint=None, base_recurse=True):
    d = depth[0]; depth[0]+=1
    t0=time.time()
    p, m = orig(cls, arr, width_hint, base_recurse)
    depth[0]-=1
    print(f"{'  '*d}PF n={len(arr)} dtype={arr.dtype} hint={width_hint} recurse={base_recurse} -> w={m['width']} full={m['full_width']} n_exc={m['n_exc']} {time.time()-t0:.3f}s payload={len(p)/1e6:.2f}MB")
    return p, m
BP.PatchedFor.encode = classmethod(traced)
orig_fb = BP.ForBitpack.encode.__func__
def traced_fb(cls, arr):
    d=depth[0]; depth[0]+=1; t0=time.time(); r=orig_fb(cls, arr); depth[0]-=1
    print(f"{'  '*d}FB n={len(arr)} dtype={arr.dtype} -> w={r[1]['width']} {time.time()-t0:.3f}s")
    return r
BP.ForBitpack.encode = classmethod(traced_fb)
DictInt.encode(flat)  # warm caches? actually prints trace twice; do once
