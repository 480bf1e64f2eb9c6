"""pyarrow.fs resolution for the engine's Python-side I/O.

Every chunk, manifest and marker file is written and read with pyarrow.
The encode plans from parquet/ORC footers and reads row groups inside
``mapInArrow``; its tasks write each part's chunk file and manifest file;
the driver writes the parts markers, reads the manifest to plan decodes and
size the store, and reads the markers to resume (:func:`hive_dataset`); the
decode tasks read the chunk files.  The engine's text sidecars
(``plan.json``, ``run_meta.json``, ``stream_meta.json``, ``centroids.json``)
are read and written here too (:func:`read_text`, :func:`write_text`), and
a stream's checkpoint source log is read here.  Every file the engine writes
lands under a ``.``-prefixed temp name and is renamed into place, so a reader
sees the old file or the new one, never a part of one.  This module maps any
location onto a ``pyarrow.fs.FileSystem`` so all of that works on object
stores, not just local disk — the reference's headline remote flow is S3A
(`src/orc/read.clj:27-49`, `README.md:87-107`):

* bare local paths → ``LocalFileSystem``;
* scheme-qualified URIs (``s3://``, ``gs://``, ``hdfs://``, ``file://``) →
  ``FileSystem.from_uri`` with Hadoop scheme aliases mapped (``s3a``/``s3n``
  → ``s3``);
* an explicit ``filesystem=`` object (e.g. ``SubTreeFileSystem`` in tests,
  or a custom-configured ``S3FileSystem``) wins over URI inference.

pyarrow filesystems pickle, so the SAME object the planner used travels to
executor tasks in the ``mapInArrow`` closure — listing, footer reads, and
row-group reads all go through one filesystem.

Schemes pyarrow cannot serve raise here (``ArrowInvalid``/``OSError``);
``encode()`` turns that into a ``ValueError`` that points the caller at
``df=spark.read.parquet(path)``, whose frame is staged to a location pyarrow
can read.

The engine's encode and decode tasks call :func:`worker_setup` (defined in
:mod:`clj_orc_spark.worker`) first: it clamps pyarrow's thread pools and
stops PySpark's per-task ``importlib.invalidate_caches()`` from re-reading
every unchanged zip archive on ``sys.path``.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.fs as _fs

from ..worker import worker_setup  # noqa: F401  (the engine tasks' entry)


#: Hadoop filesystem scheme names → the pyarrow implementations that serve them
SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3", "gs": "gcs"}


def normalize_uri(path: str) -> str:
    if "://" not in path:
        return path
    scheme, rest = path.split("://", 1)
    return f"{SCHEME_ALIASES.get(scheme.lower(), scheme)}://{rest}"


def resolve(path: str, filesystem=None) -> tuple[_fs.FileSystem, str]:
    """(filesystem, fs-native path) for a possibly scheme-qualified path.

    Raises (ArrowInvalid/OSError) for schemes pyarrow cannot serve."""
    if filesystem is not None:
        return filesystem, path
    if "://" in path:
        return _fs.FileSystem.from_uri(normalize_uri(path))
    return _fs.LocalFileSystem(), path


def absolute(path: str) -> str:
    """``path`` made absolute when it is a bare local path (tasks need not
    share the driver's working directory); a URI is returned as is."""
    return path if "://" in path else os.path.abspath(path)


def temp_path(directory: str, name: str) -> str:
    """Attempt-unique temp name for ``name`` in ``directory``:
    ``.``-prefixed and not ending in ``.parquet``, so file sources and
    ``pyarrow.dataset`` never see a half-written file."""
    return f"{directory}/.{name}.{uuid.uuid4().hex[:12]}.tmp"


def read_text(path: str) -> str | None:
    """The UTF-8 text of the file at ``path``, or None when it is missing
    (one request: no separate existence probe)."""
    fs, p = resolve(absolute(path))
    try:
        with fs.open_input_stream(p) as f:
            return f.read().decode("utf-8")
    except FileNotFoundError:
        return None


def write_text(path: str, text: str) -> None:
    """Write ``text`` to ``path`` through a :func:`temp_path` file renamed
    onto ``path``, so a crash mid-write leaves the previous file intact.
    The directory's other entries are left alone."""
    fs, p = resolve(absolute(path))
    directory, name = p.rsplit("/", 1)
    fs.create_dir(directory, recursive=True)
    temp = temp_path(directory, name)
    try:
        with fs.open_output_stream(temp) as f:
            f.write(text.encode("utf-8"))
        fs.move(temp, p)
    except BaseException:
        try:
            fs.delete_file(temp)
        except (OSError, pa.ArrowException):
            pass
        raise


def file_infos(fs: _fs.FileSystem, path: str) -> list[_fs.FileInfo]:
    """``FileInfo`` of every file at/under ``path`` (one recursive LIST on
    object stores, not a per-directory walk), sorted by path for plan
    determinism; a missing path holds none."""
    info = fs.get_file_info(path)
    if info.type == _fs.FileType.File:
        return [info]
    if info.type != _fs.FileType.Directory:
        return []
    sel = _fs.FileSelector(path, recursive=True)
    return sorted(
        (i for i in fs.get_file_info(sel) if i.type == _fs.FileType.File),
        key=lambda i: i.path,
    )


def hive_dataset(path: str, fmt="parquet"):
    """``pyarrow.dataset`` over the hive-partitioned (``part_id=P/``) files
    under ``path`` — ``.``/``_``-prefixed entries (temp files) are skipped —
    or None when ``path`` does not exist or holds no such file.  Any other
    error (listing, footer, unservable scheme) raises."""
    import pyarrow.dataset as ds

    fs, root = resolve(path)
    if fs.get_file_info(root).type == _fs.FileType.NotFound:
        return None
    dataset = ds.dataset(root, filesystem=fs, format=fmt, partitioning="hive")
    return dataset if dataset.files else None


def open_parquet(path: str, fs: _fs.FileSystem | None = None):
    """ParquetFile handle through the resolved filesystem — executor-side
    helper (``fs=None`` re-resolves from the path, e.g. for manifest-recorded
    URIs whose tasks outlive the planner's filesystem object)."""
    import pyarrow.parquet as pq

    if fs is None:
        fs, path = resolve(path)
    return pq.ParquetFile(fs.open_input_file(path))


class OrcInput:
    """ORC read handle with the ParquetFile surface the rowgroup encoder
    uses (``read_row_group``/``read``/``close``) — a stripe is ORC's row
    group (the reference's own read unit: its batch loop walks stripes via
    ``rows()``, `/root/reference/src/orc/read.clj:27-49`).
    ``pyarrow.orc.ORCFile.read_stripe`` returns a RecordBatch; wrap to a
    Table so downstream slicing/encoding is format-agnostic."""

    def __init__(self, handle):
        import pyarrow.orc as _orc

        self._fh = handle
        self._of = _orc.ORCFile(handle)
        self.nstripes = self._of.nstripes
        self.nrows = self._of.nrows
        self.schema = self._of.schema

    def read_row_group(self, i: int, columns=None):
        return pa.Table.from_batches(
            [self._of.read_stripe(i, columns=columns)]
        )

    def read(self, columns=None):
        return self._of.read(columns=columns)

    def close(self):
        self._fh.close()


def open_orc(path: str, fs: _fs.FileSystem | None = None) -> OrcInput:
    if fs is None:
        fs, path = resolve(path)
    return OrcInput(fs.open_input_file(path))


def open_input(path: str, fs: _fs.FileSystem | None = None):
    """Format-dispatched read handle: units carry their own paths, so the
    encoder opens each by extension — a plan may in principle mix formats
    (Iceberg tables can)."""
    if path.endswith(".orc"):
        return open_orc(path, fs)
    return open_parquet(path, fs)
