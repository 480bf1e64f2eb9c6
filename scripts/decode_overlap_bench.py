"""Single-task decode read-overlap A/B (VERDICT r4 item 6).

Encodes a large token table once, then decodes ALL chunk files in ONE task
(local[1], single mapInArrow partition) twice: serial reads
(``prefetch=False``) vs the one-in-flight background reader.  Reports wall
time and raw MB/s for both plus the delta — the decode-side mirror of the
encode overlap measurement in BENCH.md (round 4, +19%).

Usage: python scripts/decode_overlap_bench.py [n_rows] [reps] [--cold]

``--cold`` drops the page cache (sync; /proc/sys/vm/drop_caches) before
every timed run — the regime that resembles production reads (encoded
chunks are NOT in any cache at 100 TB); warm-cache runs measure the
kernel-bound floor where reads cost ~nothing and overlap can't help.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--cold"]
    cold = "--cold" in sys.argv[1:]
    n_rows = int(args[0]) if args else 2_000_000
    reps = int(args[1]) if len(args) > 1 else 3

    def drop_caches() -> None:
        if not cold:
            return
        os.sync()
        with open("/proc/sys/vm/drop_caches", "w") as fh:
            fh.write("3")

    from clj_orc_spark.datagen import write_token_table
    from clj_orc_spark.session import get_spark

    spark = get_spark(master="local[1]", app_name="decode-overlap-bench")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="decode-overlap-")
    try:
        src_dir = os.path.join(work, "src")
        write_token_table(src_dir, n_rows, seed=42, with_orc_reference=False)
        src = os.path.join(src_dir, "tokens.parquet")
        out = os.path.join(work, "store")

        from clj_orc_spark.pipeline import encode
        from clj_orc_spark.pipeline.decode import (
            _select_ddl, make_files_decoder, store_schema,
        )
        from clj_orc_spark.pipeline.encode import physical_map

        encode(spark, src, out, n_partitions=1, resume=False)

        raw_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(src_dir) for f in fs
        )
        # raw = decoded logical bytes; use the manifest's raw_bytes total
        import pyarrow.parquet as pq

        chunks_dir = os.path.join(out, "chunks")
        chunk_files = sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(chunks_dir)
            for f in fs if f.endswith(".parquet")
        )
        raw_logical = 0
        for f in chunk_files:
            t = pq.read_table(f, columns=["raw_bytes"])
            raw_logical += sum(t.column("raw_bytes").to_pylist())

        schema = store_schema(spark, out)
        ddl = _select_ddl([name for name, _ in schema], schema)
        needed = sorted({p for c in (name for name, _ in schema)
                         for p in physical_map(schema)[c]})

        def run(prefetch: bool) -> float:
            dec = make_files_decoder(None, schema, needed, False,
                                     prefetch=prefetch)
            w = spark.createDataFrame(
                spark.sparkContext.parallelize(
                    [(f, None) for f in chunk_files], 1),  # ONE task
                "path string, cids string")
            drop_caches()
            t0 = time.monotonic()
            n = w.mapInArrow(dec, ddl).count()
            dt = time.monotonic() - t0
            assert n == n_rows, (n, n_rows)
            return dt

        run(True)  # warm the JVM + python workers, discard
        results = {"serial": [], "overlap": []}
        for _ in range(reps):  # interleaved, same as scaling_bench
            results["serial"].append(run(False))
            results["overlap"].append(run(True))

        mb = raw_logical / 1e6
        s, o = min(results["serial"]), min(results["overlap"])
        print(f"rows={n_rows} chunk_files={len(chunk_files)} "
              f"raw_logical={mb:.0f} MB (parquet src {raw_bytes / 1e6:.0f} MB)")
        print(f"serial : {results['serial']}  best {s:.2f}s  {mb / s:.1f} MB/s")
        print(f"overlap: {results['overlap']}  best {o:.2f}s  {mb / o:.1f} MB/s")
        print(f"delta  : {100 * (s - o) / s:+.1f}% wall, "
              f"{100 * (mb / o - mb / s) / (mb / s):+.1f}% MB/s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
