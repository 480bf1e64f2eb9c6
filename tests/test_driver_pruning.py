"""Zone-map pruning on the driver, row filtering in the decode task.

Predicated ``decode()`` and ``decode_plan_report()`` plan from the committed
manifest with pyarrow on the driver: planning starts no Spark job, and an
error reading the manifest propagates instead of falling back to a Spark
read or a filesystem walk.  The rows of kept chunks are filtered inside the decode task with the comparator
the pruner uses (Spark's order: NaN equals NaN and sorts above every value,
strings bytewise, ints past int64 beyond every value), so no Spark filter
runs above the decode.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from clj_orc_spark.pipeline import decode, decode_plan_report, encode
from clj_orc_spark.pipeline import pafs
from clj_orc_spark.pipeline.decode import (
    _compile_predicates,
    _manifest_files,
    _stat_pruned_specs,
    _zone_stats,
    decode_chunk_table,
    store_schema,
)

N = 400
NAMES = ["apple", "Ärger", "ölig", "日本"]  # UTF-8 byte order = this order
BASE = dt.datetime(2022, 3, 1)


def _x(i: int):
    if i % 97 == 5:
        return float("nan")  # makes its chunk stat-less
    return None if i % 61 == 7 else i * 0.5


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("driver_prune")
    tbl = pa.table({
        "id": pa.array(range(N), type=pa.int64()),
        "name": pa.array([f"{NAMES[i // 100]}-{i:04d}" for i in range(N)]),
        "x": pa.array([_x(i) for i in range(N)], type=pa.float64()),
        "flag": pa.array([(i // 50) % 2 == 0 for i in range(N)]),
        "ts": pa.array([BASE + dt.timedelta(seconds=i) for i in range(N)],
                       type=pa.timestamp("us")),
        "meta": pa.array(
            [{"nw": i // 10, "tag": f"t{i % 3}"} for i in range(N)],
            type=pa.struct([("nw", pa.int32()), ("tag", pa.string())]),
        ),
        "vals": pa.array([[i, i + 1000] for i in range(N)],
                         type=pa.list_(pa.int32())),
    })
    src = str(d / "src.parquet")
    pq.write_table(tbl, src)
    out = str(d / "store")
    encode(spark, src, out, n_partitions=2, chunk_bytes=2 << 10)
    return out


def _micros(t: dt.datetime) -> int:
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


def _le_spark(a: float, b: float) -> bool:
    """``a <= b`` in Spark's float order: NaN equals NaN and sorts last."""
    if b != b:
        return True
    return a == a and a <= b


def _is_nan(a) -> bool:
    return a is not None and a != a


#: (predicate kwargs, reference row filter over one full-decode row)
CASES = {
    "float_hi_nan": (
        {"ranges": {"x": (None, float("nan"))}},
        lambda r: r["x"] is not None and _le_spark(r["x"], float("nan")),
    ),
    "non_ascii_range": (
        {"ranges": {"name": ("Ä", "ö")}},
        lambda r: "Ä" <= r["name"] <= "ö",
    ),
    "non_ascii_isin": (
        {"isin": {"name": ["ölig-0250", "日本-0399", "Ärger-9999"]}},
        lambda r: r["name"] in ("ölig-0250", "日本-0399"),
    ),
    "bool_bound": (
        {"ranges": {"flag": (True, True)}},
        lambda r: r["flag"] is True,
    ),
    "ts_us_bound": (
        {"ranges": {"ts": (_micros(BASE + dt.timedelta(seconds=120)),
                           _micros(BASE + dt.timedelta(seconds=180)))}},
        lambda r: 120 <= (r["ts"] - BASE).total_seconds() <= 180,
    ),
    "struct_field": (
        {"ranges": {"meta.nw": (5, 9)}},
        lambda r: 5 <= r["meta"]["nw"] <= 9,
    ),
    "list_containment": (
        {"ranges": {"vals": (1100, 1150)}},
        lambda r: any(1100 <= v <= 1150 for v in r["vals"]),
    ),
    "zero_chunks": (
        {"ranges": {"id": (10_000, None)}},
        lambda r: False,
    ),
    "int_hi_beyond_int64": (
        {"ranges": {"id": (None, 2**70)}},
        lambda r: True,
    ),
    "int_lo_below_int64": (
        {"ranges": {"id": (-2**70, 5)}},
        lambda r: r["id"] <= 5,
    ),
    "int_isin_beyond_int64": (
        {"isin": {"id": [3, 2**70]}},
        lambda r: r["id"] == 3,
    ),
    "float_lo_keeps_nan": (
        {"ranges": {"x": (100.0, None)}},
        lambda r: r["x"] is not None and _le_spark(100.0, r["x"]),
    ),
    "float_isin_nan": (
        {"isin": {"x": [float("nan"), 3.0]}},
        lambda r: _is_nan(r["x"]) or r["x"] == 3.0,
    ),
}


def _chunks_by_id(spark, out: str) -> dict[int, int]:
    """id → chunk_id, from decoding every committed chunk on its own."""
    schema = store_schema(spark, out)
    owner = {}
    for path in _manifest_files(out, None):
        t = pq.read_table(path)
        for cid in np.unique(t.column("chunk_id").to_numpy()):
            g = t.filter(pc.equal(t.column("chunk_id"), cid))
            for i in decode_chunk_table(g, ["id"], schema).column("id"):
                owner[i.as_py()] = int(cid)
    return owner


@pytest.mark.parametrize("case", sorted(CASES))
def test_pruned_decode_matches_filtered_full_decode(spark, store, case):
    """Each edge-case predicate returns exactly the rows of a full decode
    filtered in Python, and the driver pruner keeps every chunk holding
    one of them (the plan report counts at least those)."""
    pred, keep = CASES[case]
    full = decode(spark, store).toArrow().to_pylist()
    want = sorted(r["id"] for r in full if keep(r))
    got = sorted(r["id"] for r in decode(spark, store, **pred)
                 .select("id").collect())
    assert got == want

    preds = _compile_predicates(store_schema(spark, store),
                                pred.get("ranges"), pred.get("isin"))
    pruned = _stat_pruned_specs(store, None, preds.range_specs,
                                preds.isin_specs)
    kept = {c for _, cids in pruned for c in cids}
    owner = _chunks_by_id(spark, store)
    need = {owner[i] for i in want}
    assert need <= kept
    rep = decode_plan_report(spark, store, **pred)
    assert rep["chunks_kept"] == len(kept) >= len(need)
    assert rep["chunks_total"] == len(set(owner.values()))
    if case == "zero_chunks":
        assert rep["chunks_kept"] == rep["files_kept"] == 0
    elif case == "float_hi_nan":  # a NaN upper bound keeps every chunk
        assert rep["chunks_kept"] == rep["chunks_total"]
    elif case in ("struct_field", "ts_us_bound", "non_ascii_isin"):
        assert rep["chunks_kept"] < rep["chunks_total"]
    elif case == "float_lo_keeps_nan":  # NaN sorts above every bound
        assert len(want) == 200 and {5, 102, 199} <= set(want)
    elif case == "float_isin_nan":  # NaN equals NaN
        assert len(want) == 6


def test_predicated_plan_has_no_spark_filter(spark, store):
    """Rows are filtered inside the decode task: the executed plan of a
    predicated decode has no Filter above its MapInArrow."""
    df = decode(spark, store, ranges={"x": (100.0, None)})
    assert df.count() == 200
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "Filter" not in plan, plan


def _plan_jobs(spark, group: str, plan) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, "planning only")
    try:
        plan()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_planning_starts_no_spark_job(spark, store):
    """Pruning happens on the driver: a predicated decode() without an
    action, and decode_plan_report(), start no Spark job at all."""
    pred = {"ranges": {"meta.nw": (5, 9)}, "isin": {"flag": [True]}}
    holder = {}
    assert _plan_jobs(spark, "plan-decode", lambda: holder.setdefault(
        "df", decode(spark, store, **pred))) == []
    assert _plan_jobs(spark, "plan-report", lambda: decode_plan_report(
        spark, store, **pred)) == []
    # the instrument sees jobs: the action itself runs under its group
    assert _plan_jobs(spark, "plan-action",
                      lambda: holder["df"].count()) != []


def test_resolve_oserror_propagates_and_starts_no_job(spark, store,
                                                      monkeypatch):
    """The manifest is read with pyarrow only: an ``OSError`` from
    ``pafs.resolve`` propagates out of planning and starts no Spark job, and
    so does anything else raised there."""
    pred = {"ranges": {"name": ("Ä", "ö")}}

    def broken(path, filesystem=None):
        raise OSError("store unreachable from pyarrow")

    monkeypatch.setattr(pafs, "resolve", broken)
    tracker = spark.sparkContext.statusTracker()
    for group, plan in (
        ("broken-decode", lambda: decode(spark, store, **pred)),
        ("broken-report", lambda: decode_plan_report(spark, store, **pred)),
    ):
        with pytest.raises(OSError, match="store unreachable from pyarrow"):
            _plan_jobs(spark, group, plan)
        assert list(tracker.getJobIdsForGroup(group)) == []

    def buggy(path, filesystem=None):
        raise RuntimeError("not a filesystem failure")

    monkeypatch.setattr(pafs, "resolve", buggy)
    with pytest.raises(RuntimeError, match="not a filesystem failure"):
        decode(spark, store, **pred)


def test_zone_stats_parse():
    """Null, key-less and escaped stats parse under the explicit type."""
    stats = pa.array(['{"min":"\\u00c4rger","max":"\\u65e5\\u672c"}', None,
                      "{}", '{"min":null,"max":null}'])
    mn, mx = _zone_stats(stats, pa.string())
    assert mn.to_pylist() == ["Ärger", None, None, None]
    assert mx.to_pylist() == ["日本", None, None, None]
    mn, mx = _zone_stats(pa.array(['{"min":1,"max":2.5}']), pa.float64())
    assert (mn.to_pylist(), mx.to_pylist()) == ([1.0], [2.5])
    mn, _ = _zone_stats(pa.array([], pa.string()), pa.int64())
    assert len(mn) == 0
