"""One encode path: every input reaches the footer-planned rowgroup scan.

A ``df=`` frame is written once to ``out_dir/_staging/`` and planned like
any parquet input, so a resume needs only ``out_dir``; ``stream_encode``
plans each micro-batch from the files its source log names.  Neither ever
shuffles a row.  Also pinned here: the size gate counts only the manifest
files a reader sees and starts no Spark job, and a stream decode fails
loudly on an unreadable source-log entry.
"""

from __future__ import annotations

import importlib
import os
import shutil

import pyarrow.parquet as pq
import pytest

from clj_orc_spark.pipeline import (
    decode,
    encode,
    encoded_size_bytes,
    size_gate,
    verify_roundtrip,
)
from clj_orc_spark.pipeline.encode import _rowgroup_plan

# the package re-exports the encode() function under the module's name
encode_mod = importlib.import_module("clj_orc_spark.pipeline.encode")


def _jobs_of(spark, group: str, fn) -> list[int]:
    """Spark job ids started by ``fn()`` under the job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _plans_of_jobs(spark, job_ids) -> list[str]:
    """Physical plans of the SQL executions that ran ``job_ids``."""
    want = set(job_ids)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(execs.size()):
        ex = execs.apply(i)
        ids = ex.jobs().keySet().toSeq()
        if any(ids.apply(j) in want for j in range(ids.size())):
            plans.append(ex.physicalPlanDescription())
    return plans


def test_resume_with_only_out_dir_finishes_a_plan_store(
    spark, token_table_dir, tmp_dir
):
    """A ``plan=`` store resumed as ``encode(spark, out_dir=...)`` loads its
    plan.json first and finishes the pending parts."""
    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    plan = _rowgroup_plan([src], 4, explicit=True)
    assert encode(spark, out_dir=out, plan=plan, limit_parts=1)["pending"] == 1
    rep = encode(spark, out_dir=out)
    assert rep["skipped"] == 1 and rep["pending"] == 3
    v = verify_roundtrip(spark.read.parquet(src), decode(spark, out))
    assert v["bit_identical"] and v["total"] == 5_000


def test_resume_with_only_out_dir_finishes_a_df_store(
    spark, token_table_dir, tmp_dir
):
    """A ``df=`` store stages its frame once; the out_dir-only resume
    reads the staged files, without the frame."""
    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    df = spark.read.parquet(src).where("n_tok >= 0")
    assert encode(spark, out_dir=out, df=df, n_partitions=4,
                  limit_parts=1)["pending"] == 1
    assert pq.ParquetDataset(os.path.join(out, "_staging")).read().num_rows \
        == 5_000
    rep = encode(spark, out_dir=out)
    assert rep["skipped"] == 1 and rep["pending"] == 3
    v = verify_roundtrip(spark.read.parquet(src), decode(spark, out))
    assert v["bit_identical"] and v["total"] == 5_000


def test_df_encode_runs_two_jobs_without_exchange(
    spark, token_table_dir, tmp_dir
):
    """A ``df=`` encode runs exactly two Spark jobs — the stage write and
    the encode — and neither plan has an Exchange."""
    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    df = spark.read.parquet(src)
    jobs = _jobs_of(spark, "df-encode",
                    lambda: encode(spark, out_dir=out, df=df, n_partitions=4))
    assert len(jobs) == 2, jobs
    plans = _plans_of_jobs(spark, jobs)
    assert len(plans) == 2, plans
    assert any("MapInArrow" in p for p in plans), plans
    for p in plans:
        assert "Exchange" not in p, p


def test_size_gate_counts_visible_manifest_files_without_a_job(
    spark, token_table_dir, tmp_dir
):
    """``manifest_bytes`` is the sum of the manifest's ``*.parquet`` files
    (no Hadoop ``.crc`` sidecar, no ``_SUCCESS``), ``payload_bytes`` the
    manifest's ``enc_bytes``, and sizing the store starts no Spark job.
    The engine writes no sidecar, so one of each is planted by hand, as a
    Hadoop writer would leave them."""
    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=4)
    mdir = os.path.join(out, "manifest")
    payload = spark.read.parquet(os.path.join(mdir, "chunks")) \
        .groupBy().sum("enc_bytes").first()[0]
    part_dir = os.path.join(mdir, "chunks", "part_id=0")
    (name,) = os.listdir(part_dir)
    for sidecar in (f".{name}.crc", "_SUCCESS"):
        with open(os.path.join(part_dir, sidecar), "wb") as fh:
            fh.write(b"x" * 76)
    names = [os.path.join(r, f) for r, _, fs in os.walk(mdir) for f in fs]
    assert sum(not f.endswith(".parquet") for f in names) == 2
    want = sum(os.path.getsize(f) for f in names if f.endswith(".parquet"))

    got = {}
    jobs = _jobs_of(spark, "size-gate",
                    lambda: got.update(size_gate(spark, out, 1 << 30)))
    assert jobs == []
    assert got["manifest_bytes"] == want
    assert got["payload_bytes"] == payload
    assert encoded_size_bytes(spark, out)["total_bytes"] == want + payload


def _landing(spark, token_table_dir, tmp_dir) -> str:
    src = spark.read.parquet(os.path.join(token_table_dir, "tokens.parquet"))
    in_dir = os.path.join(tmp_dir, "landing")
    src.repartition(3).write.parquet(in_dir)  # three micro-batches
    return in_dir


def test_stream_encode_batch_plan_has_no_exchange(
    spark, token_table_dir, tmp_dir, monkeypatch
):
    """Each micro-batch encodes the files its source log names through the
    rowgroup scan: its plan has no Exchange, and its parts are
    ``batch_id * K + i``."""
    from clj_orc_spark.streaming import stream_encode

    in_dir = _landing(spark, token_table_dir, tmp_dir)
    plans, waves = [], []
    real_commit = encode_mod._commit_manifest

    def spy(sess, out_dir, manifest, pending, *a, **kw):
        plans.append(manifest._jdf.queryExecution().executedPlan().toString())
        waves.append(list(pending))
        return real_commit(sess, out_dir, manifest, pending, *a, **kw)

    monkeypatch.setattr(encode_mod, "_commit_manifest", spy)
    out = os.path.join(tmp_dir, "stream-enc")
    q = stream_encode(spark, in_dir, out, max_files_per_trigger=1,
                      parts_per_batch=2)
    q.awaitTermination(180)
    assert len(plans) == 3, waves
    for p in plans:
        assert "Exchange" not in p and "MapInArrow" in p, p
    for b, wave in enumerate(waves):
        assert wave and all(2 * b <= p < 2 * b + 2 for p in wave), waves
    v = verify_roundtrip(
        spark.read.parquet(os.path.join(token_table_dir, "tokens.parquet")),
        decode(spark, out),
    )
    assert v["bit_identical"] and v["total"] == 5_000, v


def test_stream_encode_replay_is_idempotent(spark, token_table_dir, tmp_dir):
    """foreachBatch is at-least-once: deleting the last commit marker and
    restarting replays that batch.  The replay plans the same parts from
    the same logged files, so it replaces their chunk files and records
    instead of adding rows."""
    from clj_orc_spark.streaming import stream_encode

    in_dir = _landing(spark, token_table_dir, tmp_dir)
    out = os.path.join(tmp_dir, "stream-enc")
    q = stream_encode(spark, in_dir, out, max_files_per_trigger=1,
                      parts_per_batch=2)
    q.awaitTermination(180)
    q.stop()  # fully release the checkpoint before the restart below

    commits = os.path.join(out, "_checkpoint", "commits")
    last = max(int(f) for f in os.listdir(commits) if not f.startswith("."))
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")  # hadoop checksum sidecar
    if os.path.exists(crc):
        os.remove(crc)
    q2 = stream_encode(spark, in_dir, out, max_files_per_trigger=1,
                       parts_per_batch=2)
    q2.awaitTermination(180)
    assert os.path.exists(os.path.join(commits, str(last)))  # it replayed

    src = spark.read.parquet(os.path.join(token_table_dir, "tokens.parquet"))
    v = verify_roundtrip(src, decode(spark, out))
    assert v["bit_identical"] and v["total"] == 5_000 and v["extra"] == 0, v
    for part_dir in os.listdir(os.path.join(out, "chunks")):
        files = os.listdir(os.path.join(out, "chunks", part_dir))
        assert len(files) == 1, (part_dir, files)


def test_stream_decode_raises_on_corrupt_source_log(
    spark, token_table_dir, tmp_dir, monkeypatch
):
    """An unreadable source-log entry fails the micro-batch, naming the
    checkpoint, instead of decoding a guessed file list."""
    from clj_orc_spark.pipeline import pafs
    from clj_orc_spark.streaming import stream_decode

    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "enc")
    encode(spark, src, out, n_partitions=2)
    real_read = pafs.read_text

    def corrupt(path):
        text = real_read(path)
        if (text is not None
                and os.sep + os.path.join("sources", "0") + os.sep in path):
            text += '{"path": "file:///x.parquet", "timestamp": \n'
        return text

    monkeypatch.setattr(pafs, "read_text", corrupt)
    sink = os.path.join(tmp_dir, "decoded")
    q = stream_decode(spark, out, sink, max_files_per_trigger=8)
    try:
        with pytest.raises(Exception) as err:
            q.awaitTermination(120)
    finally:
        q.stop()
    checkpoint = os.path.join(sink, "_checkpoint")
    assert checkpoint in str(err.value)
    assert "unreadable source-log entry" in str(err.value)
    shutil.rmtree(sink, ignore_errors=True)
