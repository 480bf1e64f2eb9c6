import sys, time, cProfile, pstats, io
sys.path.insert(0, "/root/repo")
import numpy as np, pyarrow.parquet as pq
from clj_orc_spark.selector import encode_column, int_stats, select_int

pf = pq.ParquetFile("/tmp/clj-orc-spark-bench-500000/tokens.parquet")
tbl = pf.read_row_group(0, columns=["tokens"])
flat = np.asarray(tbl.column("tokens").combine_chunks().flatten())
print("flat values:", len(flat), flat.dtype, f"{flat.nbytes/1e6:.1f} MB")
# what does selection pick?
st = int_stats(flat)
w, ests = select_int(flat, st)
print("winner:", w, "ests:", {k:f"{v/1e6:.2f}MB" for k,v in ests.items()})
# time stats vs encode separately
t0=time.time(); st2 = int_stats(flat); t1=time.time()
payload, meta, sel = encode_column(flat, "int", None, None, "size")
t2=time.time()
print(f"int_stats: {t1-t0:.3f}s  full encode_column: {t2-t1:.3f}s  payload {len(payload)/1e6:.1f} MB")
# cached-path timing (as chunks 2+ of a partition see it)
cache = {"token_values": None}
_,_,_ = encode_column(flat, "int", cache, "token_values", "size")  # fills cache
t0=time.time()
payload2, meta2, sel2 = encode_column(flat, "int", cache, "token_values", "size")
t3=time.time()
print(f"cached encode_column: {t3-t0:.3f}s  codec={sel2['codec']}")
pr = cProfile.Profile(); pr.enable()
encode_column(flat, "int", cache, "token_values", "size")
pr.disable()
s = io.StringIO(); pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(25)
print(s.getvalue())
