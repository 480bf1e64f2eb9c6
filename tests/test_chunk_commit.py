"""The encode task's own chunk-file and manifest-file commit, and faults
around it.

Each encode task writes its part's chunk file under a temp name, renames it
into ``chunks/part_id=P/`` and deletes the directory's other entries, then
commits the part's manifest file into ``manifest/chunks/part_id=P/`` the
same way, before it yields the part's rollup row.  Pinned here: a resume
after a crash between the rename and the manifest commit, and after a real
task failure, leaves one chunk file and one manifest file per part, no
duplicate record and a bit-identical store; corrupt or truncated chunk
files fail naming the file and its part; a manifest without ``file``
records asks for a re-encode; a location with neither ``plan.json`` nor a
manifest is no store and raises, while an empty store decodes to nothing;
and a ``plan=`` unit that cannot be read raises before ``plan.json`` pins a
schema.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pyfs
import pyarrow.parquet as pq
import pytest

from clj_orc_spark.pipeline import decode, encode, verify_roundtrip
from clj_orc_spark.pipeline.decode import _part_label
from clj_orc_spark.pipeline.encode import DEFAULT_SCHEMA


def _part_dirs(out: str, sub: str = "chunks") -> dict[int, list[str]]:
    top = os.path.join(out, sub)
    return {int(d.split("=", 1)[1]): sorted(os.listdir(os.path.join(top, d)))
            for d in os.listdir(top) if d.startswith("part_id=")}


def _recorded_files(out: str) -> set[str]:
    """Local paths of the chunk files the committed manifest files name."""
    mdir = os.path.join(out, "manifest", "chunks")
    return {u.removeprefix("file://")
            for r, _, names in os.walk(mdir) for n in names
            if n.endswith(".parquet")
            for u in pq.read_table(os.path.join(r, n), columns=["file"])
            .column("file").to_pylist()}


def _assert_clean_store(spark, out: str, source) -> None:
    """One chunk file per part directory and, beside it, one manifest file
    and nothing else, whose records all name that part's chunk file; no
    duplicate ``(chunk_id, col)`` record; and a bit-identical round
    trip."""
    chunk_dirs = _part_dirs(out)
    for pid, names in chunk_dirs.items():
        assert len(names) == 1 and names[0].endswith(".parquet"), (pid, names)
    manifest_dirs = _part_dirs(out, os.path.join("manifest", "chunks"))
    assert sorted(manifest_dirs) == sorted(chunk_dirs)
    for pid, names in manifest_dirs.items():
        assert len(names) == 1 and names[0].endswith(".parquet"), (pid, names)
        part_dir = os.path.join(out, "manifest", "chunks", f"part_id={pid}")
        files = pq.read_table(os.path.join(part_dir, names[0]),
                              columns=["file"]).column("file").to_pylist()
        chunk_file = os.path.join(os.path.abspath(out), "chunks",
                                  f"part_id={pid}", chunk_dirs[pid][0])
        assert set(files) == {"file://" + chunk_file}, (pid, set(files))
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
    # whatever the failed run committed names chunk files that exist
    for path in _recorded_files(out):
        assert os.path.isfile(path), path
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


def test_manifest_without_file_records_asks_for_reencode(spark, store):
    """A manifest that records no chunk file (a round-1 store) raises and
    asks for a re-encode instead of walking the chunks directory."""
    out, _, _ = store
    mdir = os.path.join(out, "manifest", "chunks")
    for root, _, names in os.walk(mdir):
        for name in names:
            path = os.path.join(root, name)
            pq.write_table(pq.read_table(path).drop_columns(["file"]), path)
    with pytest.raises(ValueError, match="re-encode into a fresh out_dir"):
        decode(spark, out)


def test_plan_without_units_takes_default_schema(spark, tmp_dir):
    """A ``plan=`` with no unit has no file to derive a schema from: the
    token-table schema is pinned, and the empty parts are complete.  The
    store has no manifest, so its decode is empty and starts no task."""
    out = os.path.join(tmp_dir, "out")
    plan = {"mode": "rowgroup", "n_total": 1, "parts": [[]]}
    assert encode(spark, out_dir=out, plan=plan)["pending"] == 1
    with open(os.path.join(out, "plan.json")) as fh:
        assert json.load(fh)["schema"] == [list(t) for t in DEFAULT_SCHEMA]
    assert encode(spark, out_dir=out, plan=plan)["pending"] == 0
    assert decode(spark, out).rdd.getNumPartitions() == 0


def test_missing_store_raises_naming_out_dir(spark, tmp_dir):
    """A location with neither ``plan.json`` nor a manifest holds no store:
    ``decode`` (with or without a predicate) and the plan report raise
    naming it instead of returning an empty token table.  An existing
    empty directory is no store either."""
    from clj_orc_spark.pipeline.decode import decode_plan_report

    missing = os.path.join(tmp_dir, "no", "such", "store")
    for out in (missing, tmp_dir):
        for kw in ({}, {"ranges": {"n_tok": (1, None)}}):
            with pytest.raises(ValueError,
                               match=re.escape(f"no store at {out!r}")):
                decode(spark, out, **kw)
        with pytest.raises(ValueError, match=re.escape(repr(out))):
            decode_plan_report(spark, out)


def test_empty_store_decodes_to_zero_partitions(spark, tmp_dir):
    """An encoded store that is empty — ``plan.json`` but no manifest —
    decodes, with or without a predicate, to a zero-partition frame of the
    pinned schema."""
    out = os.path.join(tmp_dir, "out")
    encode(spark, out_dir=out,
           plan={"mode": "rowgroup", "n_total": 1, "parts": [[]]})
    assert not os.path.exists(os.path.join(out, "manifest", "chunks"))
    for frame in (decode(spark, out),
                  decode(spark, out, ranges={"n_tok": (1, None)})):
        assert frame.rdd.getNumPartitions() == 0
        assert frame.columns == [name for name, _ in DEFAULT_SCHEMA]


def test_store_without_plan_reads_as_token_table(spark, store):
    """A store whose manifest has no ``plan.json`` beside it (written
    before schema recording) still decodes, as the token table."""
    out, _, _ = store
    n = decode(spark, out).count()
    os.remove(os.path.join(out, "plan.json"))
    assert decode(spark, out).count() == n > 0


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


class _RecordingFS(pyfs.FileSystemHandler):
    """The local filesystem, keeping every file it opens for reading."""

    def __init__(self):
        self.local = pyfs.LocalFileSystem()
        self.opened = []

    def __eq__(self, other):
        return other is self

    def __ne__(self, other):
        return other is not self

    def get_type_name(self):
        return "recording"

    def normalize_path(self, path):
        return path

    def get_file_info(self, paths):
        return self.local.get_file_info(paths)

    def get_file_info_selector(self, selector):
        return self.local.get_file_info(selector)

    def create_dir(self, path, recursive):
        raise NotImplementedError

    def delete_dir(self, path):
        raise NotImplementedError

    def delete_dir_contents(self, path, missing_dir_ok=False):
        raise NotImplementedError

    def delete_root_dir_contents(self):
        raise NotImplementedError

    def delete_file(self, path):
        raise NotImplementedError

    def move(self, src, dest):
        raise NotImplementedError

    def copy_file(self, src, dest):
        raise NotImplementedError

    def open_input_stream(self, path):
        return self.local.open_input_stream(path)

    def open_input_file(self, path):
        f = self.local.open_input_file(path)
        self.opened.append(f)
        return f

    def open_output_stream(self, path, metadata):
        raise NotImplementedError

    def open_append_stream(self, path, metadata):
        raise NotImplementedError


def test_decode_reader_closes_every_file(spark, token_table_dir, tmp_dir,
                                         monkeypatch):
    """The decode task closes every chunk file it opens: after a full
    decode, serial and overlapped, and after a chunk fails its CRC while
    the overlapped reader has the next row group in flight.  The failure
    still names the chunk file and its part."""
    from clj_orc_spark.pipeline import pafs
    from clj_orc_spark.pipeline.decode import make_files_decoder, store_schema
    from clj_orc_spark.pipeline.encode import physical_cols

    out = os.path.join(tmp_dir, "store")
    encode(spark, os.path.join(token_table_dir, "tokens.parquet"), out,
           n_partitions=2, chunk_bytes=1 << 20)
    files = sorted(_recorded_files(out))
    handler = _RecordingFS()
    fs = pyfs.PyFileSystem(handler)
    monkeypatch.setattr(pafs, "resolve", lambda path, filesystem=None:
                        (fs, path))
    monkeypatch.setattr(pafs, "worker_setup", lambda: None)
    schema = store_schema(spark, out)
    work = pa.RecordBatch.from_pydict({"path": files,
                                       "cids": [None] * len(files)})

    def run(prefetch: bool) -> int:
        decoder = make_files_decoder(None, schema, list(physical_cols(schema)),
                                     False, prefetch=prefetch)
        return sum(b.num_rows for b in decoder(iter([work])))

    for prefetch in (False, True):
        handler.opened.clear()
        assert run(prefetch) == 5_000
        assert len(handler.opened) == len(files)
        assert all(f.closed for f in handler.opened)

    # one payload byte flipped in the file's first chunk, rewritten with
    # one row group per chunk, so the next group's read is in flight when
    # the first chunk fails
    path = files[-1]
    tbl = pq.read_table(path)
    payloads = tbl.column("payload").to_pylist()
    bad = bytearray(payloads[0])
    bad[len(bad) // 2] ^= 0xFF
    payloads[0] = bytes(bad)
    i = tbl.schema.get_field_index("payload")
    tbl = tbl.set_column(i, tbl.schema.field(i), pa.array(payloads,
                                                          pa.binary()))
    pq.write_table(tbl, path, row_group_size=len(physical_cols(schema)))
    assert pq.ParquetFile(path).metadata.num_row_groups > 2
    handler.opened.clear()
    with pytest.raises(IOError, match="CRC mismatch") as err:
        run(True)
    _assert_located(err, path, int(_part_label(path).split("=")[1]))
    assert handler.opened and all(f.closed for f in handler.opened)
