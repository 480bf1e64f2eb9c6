"""pyarrow.fs resolution for the engine's Python-side I/O.

Every chunk, manifest and marker file is written and read with pyarrow.
The encode plans from parquet/ORC footers and reads row groups inside
``mapInArrow``; its tasks write each part's chunk file and manifest file;
the driver writes the parts markers, reads the manifest to plan decodes and
size the store, and reads the markers to resume (:func:`hive_dataset`); the
decode tasks read the chunk files.  Only the tiny text sidecars go through
fsio.py (Hadoop FS).  This module maps any location onto a
``pyarrow.fs.FileSystem`` so all of that works on object stores, not just
local disk — the reference's headline remote flow is S3A
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


def list_files(fs: _fs.FileSystem, path: str, ext: str) -> list[str]:
    """All ``ext`` files at/under ``path``, sorted."""
    return [i.path for i in file_infos(fs, path) if i.path.endswith(ext)]


def list_parquet(fs: _fs.FileSystem, path: str) -> list[str]:
    return list_files(fs, path, ".parquet")


def list_orc(fs: _fs.FileSystem, path: str) -> list[str]:
    return list_files(fs, path, ".orc")


def total_bytes(fs: _fs.FileSystem, path: str) -> int:
    return sum(int(i.size or 0) for i in file_infos(fs, path))


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
        import pyarrow as pa

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
