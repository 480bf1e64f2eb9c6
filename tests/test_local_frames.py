"""Driver-held rows never cost a Spark job or a Python worker needlessly.

An encode runs one Spark job: its tasks commit the chunk and manifest files
and yield one rollup row per part, and the parts markers of its commit are
rows the driver then only writes, so the driver writes them with pyarrow.
The encode and decode work lists are JVM RDDs of unknown size, one task
per row: scanning them starts no Python worker, and unlike a local
relation, which Spark sizes from its rows, a decoded frame built on one is
never broadcast in joins.
Also pinned here: empty decode results start no task, the markers carry
the tasks' rollup whatever the driver's view of the manifest, and the
resume reader fails loudly on an unreadable parts marker or a refused
listing.
"""

from __future__ import annotations

import importlib
import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pyfs
import pyarrow.parquet as pq
import pytest

from clj_orc_spark.pipeline import decode, encode, pafs
from clj_orc_spark.pipeline.encode import PARTS_DDL, completed_part_ids

# the package re-exports the encode() function under the module's name
encode_mod = importlib.import_module("clj_orc_spark.pipeline.encode")

N = 400
N_PARTS = 8  # more chunk files than the session's 4 cores


def _write_source(path: str) -> None:
    pq.write_table(pa.table({
        "id": pa.array(range(N), type=pa.int64()),
        "name": pa.array([f"n{i % 37:03d}-{i}" for i in range(N)]),
        "vals": pa.array([[i, i + 1000] for i in range(N)],
                         type=pa.list_(pa.int32())),
    }), path, row_group_size=N // N_PARTS)


@pytest.fixture(scope="module")
def source(tmp_path_factory):
    src = str(tmp_path_factory.mktemp("local_frames") / "src.parquet")
    _write_source(src)
    return src


@pytest.fixture(scope="module")
def store(spark, source, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("local_frames_store") / "store")
    encode(spark, source, out, n_partitions=N_PARTS, chunk_bytes=2 << 10)
    return out


def _chunk_files(out: str) -> list[str]:
    return [os.path.join(r, f)
            for r, _, fs in os.walk(os.path.join(out, "chunks"))
            for f in fs if f.endswith(".parquet")]


def test_one_encode_starts_one_spark_job(spark, source, tmp_path):
    """An encode runs exactly one Spark job: its tasks write the chunk
    and manifest files and yield one rollup row per part, which the job
    collects.  The parts markers are written on the driver with pyarrow,
    and they read back through Spark with the marker schema unchanged."""
    sc = spark.sparkContext
    group = "one-job-encode"
    out = str(tmp_path / "store")
    sc.setJobGroup(group, "one encode")
    try:
        encode(spark, source, out, n_partitions=2, chunk_bytes=2 << 10)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1

    parts = spark.read.parquet(os.path.join(out, "manifest", "parts"))
    want = spark.createDataFrame([], PARTS_DDL).schema
    assert sorted((f.name, f.dataType) for f in parts.schema) == sorted(
        (f.name, f.dataType) for f in want)
    assert completed_part_ids(spark, out) == {0, 1}


def _nodes(plan):
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def _broadcasts_map_in_arrow(df) -> bool:
    """True when the physical plan broadcasts a join side that runs a
    ``mapInArrow`` — the decoded side of a join with a decode() frame."""
    for node in _nodes(df._jdf.queryExecution().sparkPlan()):
        if node.nodeName().startswith("Broadcast"):
            side = 0 if "Left" in node.buildSide().toString() else 1
            build = node.children().apply(side)
            if any("MapInArrow" in n.nodeName() for n in _nodes(build)):
                return True
    return False


def _size_in_bytes(df) -> int:
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(stats.sizeInBytes())


def test_decoded_frame_is_never_broadcast(spark, source, store):
    """A decode() frame carries Spark's default "unknown, huge" size, so
    joining it with a small table never broadcasts the decoded payloads;
    its work list keeps one task per chunk file, and the result is still
    the whole source."""
    threshold = spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    other = spark.range(10 * N)  # well below the broadcast threshold

    # control: a mapInArrow over a local relation IS sized from its rows
    ids = pa.table({"id": pa.array(range(10), pa.int64())})
    small = spark.createDataFrame(ids).mapInArrow(lambda batches: batches,
                                                  "id long")
    assert _size_in_bytes(small) < threshold
    assert _broadcasts_map_in_arrow(other.join(small, "id", "left"))

    full = decode(spark, store)
    pruned = decode(spark, store, ranges={"id": (0, 49)})
    for df in (full, pruned):
        assert _size_in_bytes(df) > threshold
        assert not _broadcasts_map_in_arrow(df.join(other, "id"))
        assert not _broadcasts_map_in_arrow(other.join(df, "id", "left"))

    assert full.rdd.getNumPartitions() == len(_chunk_files(store))
    got = sorted((r["id"], r["name"], list(r["vals"])) for r in full.collect())
    src = pq.read_table(source)
    assert got == list(zip(src.column("id").to_pylist(),
                           src.column("name").to_pylist(),
                           src.column("vals").to_pylist()))
    assert sorted(r["id"] for r in pruned.select("id").collect()) == list(
        range(50))


def _python_rdd_nodes(df) -> list[str]:
    """Lines of the executed RDD lineage that are ``PythonRDD`` nodes.  The
    ``ParallelCollectionRDD`` that holds the driver's pickled rows names its
    call site ``PythonRDD.scala``, so the node, not the substring, counts."""
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    return [line for line in lineage.splitlines()
            if re.search(r"\bPythonRDD\[\d+\]", line)]


def test_work_lists_are_jvm_rdds(spark, source, store):
    """Both work lists scan a JVM RDD: neither the encode work list nor a
    decode() frame holds a ``PythonRDD``, so no work list starts a Python
    worker.  A work frame keeps one partition per row and round-trips its
    rows exactly: a non-ASCII path, a ``None`` cids and an int pid."""
    work = encode_mod.rowgroup_work_df(spark, [[["a", 0, 0, 1]], [], [1]],
                                       [0, 2])
    assert _python_rdd_nodes(work) == []
    assert _python_rdd_nodes(decode(spark, store)) == []
    assert _python_rdd_nodes(decode(spark, store, columns=["id"],
                                    ranges={"id": (0, 49)})) == []
    # control: a plain Python RDD scan does show the node
    assert _python_rdd_nodes(spark.createDataFrame(
        spark.sparkContext.parallelize([(1,)]).map(lambda r: r), "x int"))

    rows = [("/données/日本/ü.parquet", None, 0),
            ("s3://b/p=1/f.parquet", "[0, 3]", 2**31 - 1),
            ("", "[]", -7)]
    frame = encode_mod.work_frame(spark, rows,
                                  "path string, cids string, pid int")
    assert frame.rdd.getNumPartitions() == len(rows)
    assert [tuple(r) for r in frame.collect()] == rows
    assert [tuple(r) for r in work.collect()] == [
        (0, '[["a", 0, 0, 1]]'), (2, "[1]")]


def test_fully_pruned_decode_starts_no_task(spark, store):
    """A predicate that prunes every chunk returns a zero-partition frame:
    an action over it schedules no task."""
    empty = decode(spark, store, ranges={"id": (10 * N, None)})
    assert empty.rdd.getNumPartitions() == 0
    assert empty.count() == 0
    assert empty.columns == ["id", "name", "vals"]


def test_empty_pyarrow_view_rollup_reads_through_spark(spark, source, store,
                                                       tmp_path, monkeypatch):
    """Even when the driver's pyarrow view of the manifest is empty (a
    manifest-shaped dataset without a row of the wave), the parts markers
    carry the real n_chunks and n_rows, not 0-chunk markers: the rollup
    comes from the encode tasks that wrote the records, not from a read of
    them on the driver."""
    committed = os.path.join(store, "manifest", "chunks", "part_id=0")
    schema = pq.read_schema(os.path.join(
        committed, next(f for f in os.listdir(committed)
                        if f.endswith(".parquet"))))
    empty = str(tmp_path / "empty")
    os.makedirs(os.path.join(empty, "part_id=0"))
    pq.write_table(schema.empty_table(),
                   os.path.join(empty, "part_id=0", "empty.parquet"))
    real = pafs.resolve

    def resolve(path, filesystem=None):
        if os.path.join("store", "manifest", "chunks") in path:
            return pyfs.LocalFileSystem(), empty
        return real(path, filesystem)

    monkeypatch.setattr(pafs, "resolve", resolve)
    out = str(tmp_path / "store")
    encode(spark, source, out, n_partitions=2, chunk_bytes=2 << 10)
    monkeypatch.setattr(pafs, "resolve", real)

    chunks = pq.read_table(os.path.join(out, "manifest", "chunks"))
    parts = pq.read_table(os.path.join(out, "manifest", "parts"))
    got = {int(p): (n_c, n_r) for p, n_c, n_r in zip(
        parts.column("part_id").to_pylist(),
        parts.column("n_chunks").to_pylist(),
        parts.column("n_rows").to_pylist())}
    for pid in (0, 1):
        mine = chunks.filter(
            pc.equal(chunks.column("part_id").cast(pa.int32()), pid))
        n_chunks = len(pc.unique(mine.column("chunk_id")))
        assert n_chunks > 0
        assert got[pid][0] == n_chunks
    assert sum(n_r for _, n_r in got.values()) == N


def test_completed_part_ids_missing_dir_is_empty(spark, tmp_path):
    assert completed_part_ids(spark, str(tmp_path / "no-store")) == set()
    assert completed_part_ids(spark, "file://" + str(tmp_path / "no-store")) \
        == set()
    os.makedirs(tmp_path / "bare" / "manifest" / "parts")
    assert completed_part_ids(spark, str(tmp_path / "bare")) == set()
    assert completed_part_ids(spark, "file://" + str(tmp_path / "bare")) \
        == set()


def test_completed_part_ids_remote_listing_error_raises(spark, tmp_path,
                                                        monkeypatch):
    """On a scheme-qualified store a listing error other than a missing
    path (permission, network, credentials) raises, naming the parts
    directory, instead of reading as "nothing complete"."""

    class DeniedListing(pyfs.FileSystemHandler):
        """A store whose paths exist but whose LIST is refused."""

        def get_type_name(self):
            return "denied"

        def normalize_path(self, path):
            return path

        def get_file_info(self, paths):
            return [pyfs.FileInfo(p, pyfs.FileType.Directory) for p in paths]

        def get_file_info_selector(self, selector):
            raise PermissionError("Permission denied")

        def _unused(self, *args):
            raise NotImplementedError

        copy_file = create_dir = delete_dir = delete_dir_contents = _unused
        delete_file = delete_root_dir_contents = move = _unused
        open_append_stream = open_input_file = open_input_stream = _unused
        open_output_stream = _unused

    denied = pyfs.PyFileSystem(DeniedListing())
    monkeypatch.setattr(pafs, "resolve",
                        lambda path, filesystem=None: (denied, path))
    out = "file://" + str(tmp_path / "store")
    with pytest.raises(RuntimeError, match="parts markers under") as err:
        completed_part_ids(spark, out)
    assert os.path.join(out, "manifest", "parts") in str(err.value)
    assert "Permission denied" in str(err.value)


def test_completed_part_ids_corrupt_marker_raises(spark, source, tmp_path):
    """An unreadable parts marker raises and names the parts directory —
    an empty answer would silently re-encode every part."""
    out = str(tmp_path / "store")
    encode(spark, source, out, n_partitions=2, chunk_bytes=2 << 10)
    parts_dir = os.path.join(out, "manifest", "parts")
    marker = next(os.path.join(r, f) for r, _, fs in os.walk(parts_dir)
                  for f in fs if f.endswith(".parquet"))
    with open(marker, "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(RuntimeError, match="parts markers under") as err:
        completed_part_ids(spark, out)
    assert parts_dir in str(err.value)
    with pytest.raises(RuntimeError, match="parts markers under"):
        encode(spark, source, out, n_partitions=2, chunk_bytes=2 << 10)
