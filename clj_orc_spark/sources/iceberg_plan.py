"""Zero-shuffle rowgroup planning from Iceberg manifest metadata.

The parquet-footer planner (pipeline/encode.py:_rowgroup_plan) needs one
footer read per file — fine for a directory of parquet, wasteful for an
Iceberg table whose manifests ALREADY record every data file's size, row
count, and row-group byte offsets (``split_offsets``).  This module builds
the same ``{"mode": "rowgroup", ...}`` plan dict from those manifest
entries, so an Iceberg table needs neither footer reads nor the staged
copy ``encode(df=iceberg)`` would write: plan from metadata only, then hand
the plan to ``encode(spark, out_dir=..., plan=...)`` whose tasks open each
``file_path`` URI directly via pyarrow (pipeline/pafs.py).

The planning logic is pure and connector-free (tested on synthetic entries
mirroring Iceberg's ``DataFile`` schema); only :func:`data_file_entries`
needs the iceberg-spark-runtime jar, and it raises a precise error when the
connector is absent — same gate style as sources/table.py.

Unit encoding: ``[file_path, rg_index, 0, -1]`` — ``hi=-1`` means "the
whole row group" (manifests don't record per-row-group row counts), and a
file without ``split_offsets`` becomes one ``rg=-1`` whole-file unit.  Both
sentinels are handled by pipeline/encode.py:make_rowgroup_encoder.
"""

from __future__ import annotations

from ..pipeline.encode import _lpt_pack


def plan_from_data_files(entries: list[dict], n_partitions: int) -> dict:
    """LPT-pack manifest ``DataFile`` entries into a rowgroup plan.

    ``entries``: dicts with Iceberg's ``.files`` metadata-table fields —
    ``file_path`` (str, may be a scheme-qualified URI), ``file_size_in_bytes``
    (int), optional ``split_offsets`` (byte offset of each row group, sorted
    ascending; parquet's first is 4).  Row-group byte weights come from
    consecutive offset differences — the same per-unit skew control as the
    footer planner, paid for by ZERO file opens.

    Driver-side planning is metadata-bounded: at 10^12-sequence scale
    (~10^6 data files) entries should stream from the ``.files`` table in
    batches; the plan itself then belongs in a parquet sidecar rather than
    plan.json (see pipeline/encode.py:rowgroup_work_df's note)."""
    units: list[tuple[float, str, int, int, int]] = []
    for e in entries:
        path = e["file_path"]
        size = int(e.get("file_size_in_bytes") or 0)
        offs = e.get("split_offsets")
        if not offs:
            units.append((float(max(size, 1)), path, -1, 0, -1))
            continue
        offs = sorted(int(o) for o in offs)
        ends = offs[1:] + [size if size > offs[-1] else offs[-1] + 1]
        for i, (lo_b, hi_b) in enumerate(zip(offs, ends)):
            units.append((float(max(hi_b - lo_b, 1)), path, i, 0, -1))
    if not units:
        return {"mode": "rowgroup", "n_total": 1, "parts": [[]],
                "planner": "iceberg-manifest"}
    n_bins = max(1, min(int(n_partitions), len(units)))
    return {
        "mode": "rowgroup",
        "n_total": n_bins,
        "parts": _lpt_pack(units, n_bins),
        "planner": "iceberg-manifest",
    }


def data_file_entries(spark, table: str) -> list[dict]:
    """DataFile entries from an Iceberg table's ``.files`` metadata table.

    Needs the iceberg-spark-runtime jar + a configured catalog (absent in
    this sandbox — the planning logic above is what's under test here)."""
    try:
        rows = (
            spark.read.format("iceberg")
            .load(f"{table}.files")
            .select("file_path", "file_size_in_bytes", "split_offsets")
            .collect()
        )
    except Exception as e:
        raise RuntimeError(
            f"cannot read Iceberg metadata table {table!r}.files: the Spark "
            "session needs the iceberg-spark-runtime jar and a configured "
            "catalog (spark.sql.catalog.<name>). Original error: "
            f"{type(e).__name__}: {e}"
        ) from e
    return [
        {
            "file_path": r["file_path"],
            "file_size_in_bytes": r["file_size_in_bytes"],
            "split_offsets": r["split_offsets"],
        }
        for r in rows
    ]


def encode_iceberg(spark, table: str, out_dir: str,
                   n_partitions: int | None = None, **encode_kwargs) -> dict:
    """Zero-shuffle encode of an Iceberg token table: manifest-planned
    row-group bins, no footer reads, no shuffle — the production entry
    point once the connector jar is on the classpath."""
    from ..pipeline.encode import encode

    entries = data_file_entries(spark, table)
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism * 2
    plan = plan_from_data_files(entries, n_partitions)
    return encode(spark, out_dir=out_dir, plan=plan, **encode_kwargs)
