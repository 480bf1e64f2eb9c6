"""spark-submit entry point for the encode job (north_rule deployment path).

Usage (the --py-files artifact is the package zip):

    spark-submit --master local[32] --driver-memory 4g \
      --conf spark.python.unix.domain.socket.enabled=true \
      --py-files $(python -c "from clj_orc_spark.session import package_zip; print(package_zip())") \
      scripts/submit_encode.py --input /path/tokens.parquet --out /path/out \
      [--decode-verify]

On a cluster, swap --master for your resource manager; everything else is
identical — the job only talks to SparkSession, storage paths, and the
manifest.  The session is spark-submit's, so it gets none of
``get_spark``'s defaults: the Unix-socket flag runs the JVM↔Python-worker
traffic over Unix domain sockets instead of loopback TCP (~40 ms less per
task; Spark puts the sockets in ``java.io.tmpdir``, whose socket paths
must fit in 107 bytes, or in ``spark.python.unix.domain.socket.dir``).
The engine tasks widen their socket buffers themselves.
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-partitions", type=int, default=None)
    ap.add_argument("--chunk-bytes", type=int, default=8 << 20)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--decode-verify", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # spark-submit owns the session; we only get-or-create
    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from clj_orc_spark.pipeline import decode, encode, verify_digest

    report = encode(
        spark,
        args.input,
        args.out,
        n_partitions=args.n_partitions,
        chunk_bytes=args.chunk_bytes,
        resume=not args.no_resume,
    )
    if args.decode_verify:
        from clj_orc_spark.pipeline import pafs

        exts = {os.path.splitext(i.path)[1]
                for i in pafs.file_infos(*pafs.resolve(args.input))}
        if ".orc" in exts and ".parquet" not in exts:
            src = spark.read.orc(args.input)  # ORC-ingested store (round 5)
        else:
            # pathGlobFilter: fixture dirs may hold the ORC reference copy
            # (tokens.orc) next to the parquet files encode() planned over
            src = spark.read.option("pathGlobFilter", "*.parquet").parquet(
                args.input
            )
        report["verify"] = verify_digest(src, decode(spark, args.out))
    print(json.dumps({"job": "encode", **report}))
    spark.stop()


if __name__ == "__main__":
    main()
