import sys, os, time, shutil, importlib
sys.path.insert(0, "/root/repo")
from clj_orc_spark.session import get_spark
E = importlib.import_module("clj_orc_spark.pipeline.encode")
spark = get_spark(master="local[32]", app_name="phase-encode")
spark.sparkContext.setLogLevel("ERROR")
src = "/tmp/clj-orc-spark-bench-500000/tokens.parquet"

# monkeypatch timers
t = {}
# the encode job (scan + encode + chunk-file and manifest-file commits) runs
# inside _commit_manifest's collect; the parts markers are timed inside it
_cm, _wm = E._commit_manifest, E._write_parts_markers
def cm(spark, out_dir, rollup, pending):
    t0=time.time(); _cm(spark, out_dir, rollup, pending); t["encode_job_and_commit"]=time.time()-t0
def wm(out_dir, rows):
    t0=time.time(); _wm(out_dir, rows); t["parts_markers"]=time.time()-t0
E._commit_manifest = cm
E._write_parts_markers = wm
_lcp = E._load_or_compute_rowgroup_plan
def lcp(*a, **k):
    t0=time.time(); r=_lcp(*a,**k); t["plan"]=time.time()-t0; return r
E._load_or_compute_rowgroup_plan = lcp

for i in range(3):
    out = f"/dev/shm/phase-encode-{i}"
    shutil.rmtree(out, ignore_errors=True)
    t.clear()
    t0=time.time()
    E.encode(spark, src, out, resume=False)
    total=time.time()-t0
    print(f"rep {i}: total {total:.2f}s  phases {dict((k,round(v,2)) for k,v in t.items())}  residual {total-sum(v for k,v in t.items() if k!='parts_markers'):.2f}s", flush=True)
    shutil.rmtree(out, ignore_errors=True)
spark.stop()
