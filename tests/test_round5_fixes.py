"""Round-5 pins: zero-shuffle streaming decode, count()-free IVF build,
and the files-decoder's row-group carry-over semantics.

Reference parity anchors: the streaming consumer is the channel loop of
`src/orc/read.clj:75,101-103`; the decode kernel path is the column decode
dispatch of `src/orc/col.clj` — both re-expressed Spark-first."""

import os

import pytest
from pyspark.sql import functions as F

from clj_orc_spark.pipeline import decode, encode, verify_roundtrip


def test_stream_decode_plan_has_no_exchange(spark, token_table_dir, tmp_dir,
                                            monkeypatch):
    """VERDICT r4 item 8: each micro-batch must decode through the
    zero-shuffle files-mode kernel — no Exchange anywhere in the executed
    plan (the old groupBy(chunk_id).applyInArrow reshuffled every payload
    byte once per micro-batch) — and its work list must be a JVM RDD, not
    a Python RDD whose tasks each start a Python worker."""
    import importlib

    from test_local_frames import _python_rdd_nodes

    from clj_orc_spark.streaming import stream_decode

    decode_mod = importlib.import_module("clj_orc_spark.pipeline.decode")
    frames = []
    real_decode = decode_mod.decode

    def spy(*args, **kwargs):
        frames.append(real_decode(*args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(decode_mod, "decode", spy)
    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=4)

    sink = os.path.join(tmp_dir, "decoded")
    q = stream_decode(spark, out, sink, max_files_per_trigger=2)
    q.awaitTermination(120)

    assert frames, "no micro-batch decode captured"
    for df in frames:
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p, p
        assert _python_rdd_nodes(df) == [], p
    # and the zero-shuffle path still produces bit-identical output
    v = verify_roundtrip(spark.read.parquet(src), spark.read.parquet(sink))
    assert v["bit_identical"] and v["total"] == 5_000, v


def test_stream_decode_replay_is_idempotent(spark, token_table_dir, tmp_dir):
    """foreachBatch is at-least-once: deleting the last commit marker and
    restarting replays that batch.  The batch-owned ``_batch_id`` partition
    overwrite must leave the sink WITHOUT duplicate rows (the old append
    mode doubled the replayed batch)."""
    import shutil

    from clj_orc_spark.streaming import stream_decode

    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=4)

    sink = os.path.join(tmp_dir, "decoded")
    q = stream_decode(spark, out, sink, max_files_per_trigger=2)
    q.awaitTermination(120)
    q.stop()  # fully release the checkpoint before the restart below
    n_first = spark.read.parquet(sink).count()

    # simulate a crash after processing but before the commit marker
    commits = os.path.join(sink, "_checkpoint", "commits")
    last = max(int(f) for f in os.listdir(commits) if not f.startswith("."))
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")  # hadoop checksum sidecar
    if os.path.exists(crc):
        os.remove(crc)
    q2 = stream_decode(spark, out, sink, max_files_per_trigger=2)
    q2.awaitTermination(120)

    replayed = spark.read.parquet(sink)
    assert replayed.count() == n_first == 5_000
    v = verify_roundtrip(spark.read.parquet(src), replayed)
    assert v["bit_identical"], v


def test_build_ivf_index_never_counts(spark, tmp_dir, monkeypatch):
    """VERDICT r4 item 7: with n_rows supplied (parquet footers / table
    manifest at 100 TB), no code path may fall back to a full count() scan."""
    from pyspark.sql import DataFrame

    from clj_orc_spark.operators import build_ivf_index, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()  # test-side ground truth, before the patch

    def _boom(self):
        raise AssertionError("DataFrame.count() called on the n_rows path")

    monkeypatch.setattr(DataFrame, "count", _boom)
    idx = os.path.join(tmp_dir, "ivf")
    build_ivf_index(emb, idx, n_centroids=4, n_rows=n)
    assert os.path.exists(os.path.join(idx, "centroids.json"))
    q = emb.limit(1).select("embedding").first()["embedding"]
    res = ivf_topk(None, list(q), k=5, n_probe=2, index_path=idx,
                   spark=spark)
    assert res.count.__qualname__ != "_boom"  # sanity: patch scope only
    assert len(res.take(5)) == 5


def test_train_ivf_countapprox_fallback(spark):
    """Without n_rows, train_ivf sizes its sample via countApprox — it must
    still produce a usable codebook (right shape, finite centroids)."""
    from clj_orc_spark.operators.similarity import train_ivf

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = train_ivf(emb, n_centroids=4, seed=7)
    assert cents.shape[0] == 4 and cents.shape[1] > 0
    import numpy as np

    assert np.isfinite(cents).all()


def test_files_decoder_serial_matches_prefetch(spark, token_table_dir,
                                               tmp_dir):
    """The prefetch=False baseline and the overlapped reader must yield
    identical decoded rows (pure reordering of reads, nothing else)."""
    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=2)

    from clj_orc_spark.pipeline.decode import (
        _select_ddl, make_files_decoder, store_schema,
    )
    from clj_orc_spark.pipeline.encode import physical_map

    schema = store_schema(spark, out)
    ddl = _select_ddl([name for name, _ in schema], schema)
    needed = sorted({p for c in (name for name, _ in schema)
                     for p in physical_map(schema)[c]})
    chunk_files = [
        os.path.join(root, f)
        for root, _, fs_ in os.walk(os.path.join(out, "chunks"))
        for f in fs_ if f.endswith(".parquet")
    ]
    assert chunk_files

    def run(prefetch):
        dec = make_files_decoder(None, schema, needed, False,
                                 prefetch=prefetch)
        work = spark.createDataFrame(
            spark.sparkContext.parallelize(
                [(f, None) for f in chunk_files], len(chunk_files)),
            "path string, cids string")
        return work.mapInArrow(dec, ddl)

    a = run(True)
    b = run(False)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert a.count() == spark.read.parquet(src).count()


def test_decode_chunks_spanning_row_groups(spark, tmp_dir):
    """A chunk file whose row groups cut through chunks (written with
    ``row_group_size=3``, as a writer that does not end row groups on
    chunk boundaries would) decodes exactly like the unsplit file: full,
    chunk-pruned and column-pruned reads, each serial (local path) and
    overlapped (``file://`` URI)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 2_000
    src = os.path.join(tmp_dir, "src.parquet")
    pq.write_table(pa.table({
        "id": pa.array(range(n), type=pa.int32()),
        "vals": pa.array([[i, i * 7 % 13] for i in range(n)],
                         type=pa.list_(pa.int32())),
        "name": pa.array([f"n{i % 97:03d}" for i in range(n)]),
    }), src)
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=1, chunk_bytes=2 << 10)

    reads = {
        "full": {},
        "cids": {"ranges": {"id": (500, 700)}},
        "cols": {"columns": ["id", "name"]},
    }

    def decode_all():
        return {
            (name, store): decode(spark, store, **kw).collect()
            for name, kw in reads.items()
            for store in (out, "file://" + out)
        }

    want = decode_all()
    chunk_files = [
        os.path.join(root, f)
        for root, _, fs_ in os.walk(os.path.join(out, "chunks"))
        for f in fs_ if f.endswith(".parquet")
    ]
    assert len(chunk_files) == 1
    tbl = pq.read_table(chunk_files[0])
    n_chunks = len(set(tbl.column("chunk_id").to_pylist()))
    assert n_chunks > 3
    pq.write_table(tbl, chunk_files[0], row_group_size=3)
    md = pq.ParquetFile(chunk_files[0]).metadata
    # 4 payload rows per chunk: every chunk crosses a row-group boundary
    assert md.num_row_groups == -(-tbl.num_rows // 3)

    got = decode_all()
    for key, rows in want.items():
        assert got[key] == rows, key
    assert len(want[("full", out)]) == n
    assert sorted(r["id"] for r in want[("cids", out)]) == list(
        range(500, 701))


def test_arrow_thread_clamp_reaches_workers(spark):
    """pafs.worker_setup's Arrow thread clamp must take effect inside
    executor-side Arrow tasks: every Python worker's pyarrow CPU pool
    defaults to os.cpu_count(), so at local[N] the N workers would
    otherwise contend with N*cpu_count Arrow threads (and a local[8] run
    would silently use the whole 32-thread box, polluting the N-vs-4N
    scaling comparison)."""

    def probe(batches):
        import pyarrow as pa

        from clj_orc_spark.pipeline import pafs

        pafs.worker_setup()
        for batch in batches:
            n = batch.num_rows
            yield pa.RecordBatch.from_arrays(
                [pa.array([int(pa.cpu_count())] * n, type=pa.int32())],
                names=["arrow_cpu"],
            )

    got = (
        spark.range(8).repartition(4).mapInArrow(probe, "arrow_cpu int")
        .agg(F.min("arrow_cpu"), F.max("arrow_cpu")).collect()[0]
    )
    assert (got[0], got[1]) == (1, 1)


def test_arrow_thread_clamp_opt_out(monkeypatch):
    """SPARK_GRAFT_ARROW_CPU=0 leaves pyarrow's pools untouched (a fat
    executor with many cores per Python worker wants the defaults back)."""
    import pyarrow as pa

    from clj_orc_spark.pipeline import pafs

    before_cpu = pa.cpu_count()
    before_io = pa.io_thread_count()
    try:
        monkeypatch.setenv("SPARK_GRAFT_ARROW_CPU", "0")
        pafs.worker_setup()
        assert pa.cpu_count() == before_cpu
        assert pa.io_thread_count() == before_io
        monkeypatch.setenv("SPARK_GRAFT_ARROW_CPU", "3")
        pafs.worker_setup()
        assert pa.cpu_count() == 3
        assert pa.io_thread_count() == 3
    finally:
        pa.set_cpu_count(before_cpu)
        pa.set_io_thread_count(before_io)
