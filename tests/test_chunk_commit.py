"""The encode task's own chunk-file commit, and faults around it.

Each encode task writes its part's chunk file under a temp name, renames it
into ``chunks/part_id=P/`` and deletes the directory's other entries before
it yields the part's manifest records.  Pinned here: a resume after a crash
between the rename and the manifest commit, and after a real task failure,
leaves one file per part, no duplicate record and a bit-identical store;
corrupt or truncated chunk files fail naming the file and its part; and a
``plan=`` unit that cannot be read raises before ``plan.json`` pins a
schema.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from clj_orc_spark.pipeline import decode, encode, verify_roundtrip
from clj_orc_spark.pipeline.encode import DEFAULT_SCHEMA


def _part_dirs(out: str) -> dict[int, list[str]]:
    chunks = os.path.join(out, "chunks")
    return {int(d.split("=", 1)[1]): sorted(os.listdir(os.path.join(chunks, d)))
            for d in os.listdir(chunks) if d.startswith("part_id=")}


def _assert_clean_store(spark, out: str, source) -> None:
    """One file per part directory, no duplicate ``(chunk_id, col)``
    record, and a bit-identical round trip."""
    for pid, names in _part_dirs(out).items():
        assert len(names) == 1 and names[0].endswith(".parquet"), (pid, names)
    records = pq.read_table(os.path.join(out, "manifest", "chunks"),
                            columns=["chunk_id", "col"])
    keys = pc.binary_join_element_wise(
        pc.cast(records.column("chunk_id"), pa.string()),
        records.column("col"), "/")
    assert len(pc.unique(keys)) == records.num_rows
    v = verify_roundtrip(source, decode(spark, out))
    assert v["bit_identical"] and v["extra"] == 0, v


def test_resume_after_rename_before_manifest_commit(spark, token_table_dir,
                                                    tmp_dir):
    """State after a task renamed its chunk file but before the manifest
    commit: the part has a file but no record and no marker; a stale
    ``.parquet`` file and a killed attempt's temp sit next to it.  The
    resume rewrites the part and leaves only its new file."""
    src = os.path.join(token_table_dir, "tokens.parquet")
    out = os.path.join(tmp_dir, "out")
    encode(spark, src, out, n_partitions=4)
    for sub in ("chunks", "parts"):
        shutil.rmtree(os.path.join(out, "manifest", sub, "part_id=1"))
    part_dir = os.path.join(out, "chunks", "part_id=1")
    (kept,) = _part_dirs(out)[1]
    shutil.copy(os.path.join(part_dir, kept),
                os.path.join(part_dir, "part-00001-stale.parquet"))
    with open(os.path.join(part_dir, f".{kept}.killed.tmp"), "wb") as fh:
        fh.write(b"PAR1 half-written")

    rep = encode(spark, src, out, n_partitions=4)
    assert rep["pending"] == 1
    assert _part_dirs(out)[1] != [kept]  # rewritten under the new run's name
    _assert_clean_store(spark, out, spark.read.parquet(src))


def test_resume_after_failed_task(spark, token_table_dir, tmp_dir):
    """A real task failure, no hooks: the second part of a ``plan=`` reads
    a truncated input, so the encode raises.  With the input restored, the
    resume completes the store cleanly."""
    table = pq.read_table(os.path.join(token_table_dir, "tokens.parquet"))
    half = table.num_rows // 2
    inputs = []
    for i, part in enumerate((table.slice(0, half), table.slice(half))):
        path = os.path.join(tmp_dir, f"in-{i}.parquet")
        pq.write_table(part, path)
        inputs.append(path)
    plan = {"mode": "rowgroup", "n_total": 2,
            "parts": [[[inputs[0], 0, 0, half]],
                      [[inputs[1], 0, 0, table.num_rows - half]]]}
    with open(inputs[1], "rb") as fh:
        good = fh.read()
    with open(inputs[1], "wb") as fh:
        fh.write(good[: len(good) // 2])

    out = os.path.join(tmp_dir, "out")
    with pytest.raises(Exception):
        encode(spark, out_dir=out, plan=plan)
    with open(inputs[1], "wb") as fh:
        fh.write(good)

    rep = encode(spark, out_dir=out, plan=plan)
    assert rep["pending"] == 2
    assert sorted(_part_dirs(out)) == [0, 1]
    _assert_clean_store(spark, out, spark.read.parquet(*inputs))


@pytest.fixture()
def store(spark, token_table_dir, tmp_dir):
    out = os.path.join(tmp_dir, "store")
    encode(spark, os.path.join(token_table_dir, "tokens.parquet"), out,
           n_partitions=2)
    pid = 1
    (name,) = [n for n in _part_dirs(out)[pid] if n.endswith(".parquet")]
    return out, os.path.join(out, "chunks", f"part_id={pid}", name), pid


def _assert_located(err, path: str, pid: int) -> None:
    """The error names the file and, separately from its path, the part."""
    msg = str(err.value)
    assert f"chunk file {path} (part_id={pid})" in msg, msg


def test_flipped_payload_byte_names_file_and_part(spark, store):
    """One payload byte flipped, the recorded CRC unchanged: decode fails
    on the CRC, naming the chunk file and its part."""
    out, path, pid = store
    tbl = pq.ParquetFile(path).read()
    payloads = tbl.column("payload").to_pylist()
    bad = bytearray(payloads[0])
    bad[len(bad) // 2] ^= 0xFF
    payloads[0] = bytes(bad)
    i = tbl.schema.get_field_index("payload")
    pq.write_table(tbl.set_column(i, tbl.schema.field(i),
                                  pa.array(payloads, pa.binary())), path)
    with pytest.raises(Exception, match="CRC mismatch") as err:
        decode(spark, out).count()
    _assert_located(err, path, pid)


def test_truncated_chunk_file_names_file_and_part(spark, store):
    """A chunk file pyarrow cannot read fails naming the file and its
    part."""
    out, path, pid = store
    with open(path, "rb") as fh:
        data = fh.read()
    with open(path, "wb") as fh:
        fh.write(data[: len(data) // 2])
    with pytest.raises(Exception) as err:
        decode(spark, out).count()
    _assert_located(err, path, pid)


def test_plan_without_units_takes_default_schema(spark, tmp_dir):
    """A ``plan=`` with no unit has no file to derive a schema from: the
    token-table schema is pinned, and the empty parts are complete."""
    out = os.path.join(tmp_dir, "out")
    plan = {"mode": "rowgroup", "n_total": 1, "parts": [[]]}
    assert encode(spark, out_dir=out, plan=plan)["pending"] == 1
    with open(os.path.join(out, "plan.json")) as fh:
        assert json.load(fh)["schema"] == [list(t) for t in DEFAULT_SCHEMA]
    assert encode(spark, out_dir=out, plan=plan)["pending"] == 0


def test_unreadable_plan_unit_raises_before_plan_is_pinned(spark, tmp_dir):
    """A ``plan=`` unit whose file cannot be read raises, naming the unit,
    and no ``plan.json`` pins the token-table schema onto the store."""
    bad = os.path.join(tmp_dir, "bad.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"not a parquet file")
    out = os.path.join(tmp_dir, "out")
    with pytest.raises(ValueError, match=re.escape(bad)):
        encode(spark, out_dir=out,
               plan={"mode": "rowgroup", "n_total": 1,
                     "parts": [[[bad, 0, 0, 10]]]})
    assert not os.path.exists(os.path.join(out, "plan.json"))
