"""Seeded read queries and their expected answers.

Every query is a ``decode(...)`` call whose action is one aggregation: the
row count plus an order-insensitive digest of the returned columns (sums of
CRC-32s of strings, sums of integers).  The expected digest is computed with
numpy from the generated input, so a wrong row set or a wrong value in a
digested column is caught without trusting the engine.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


@dataclass
class Query:
    name: str
    kwargs: dict  # ranges / isin / columns, passed to decode()
    mask: np.ndarray  # rows of the input the answer holds
    columns: list[str] = field(default_factory=list)  # digested columns
    #: token-scan also calls decode_plan_report with this query's predicate
    report: bool = False

    @property
    def report_kwargs(self) -> dict:
        return {k: v for k, v in self.kwargs.items() if k in ("ranges", "isin")}


def _crc(a: pa.ChunkedArray) -> np.ndarray:
    return np.fromiter((zlib.crc32(s.encode()) for s in a.to_pylist()),
                       np.int64, len(a))


def row_values(table: pa.Table) -> dict[str, np.ndarray]:
    """Per-row int64 digest terms of each digestible column."""
    out: dict[str, np.ndarray] = {}
    for name in table.column_names:
        col = table.column(name)
        t = col.type
        if pa.types.is_string(t):
            out[name] = _crc(col)
        elif pa.types.is_integer(t):
            out[name] = np.asarray(col, np.int64)
        elif pa.types.is_list(t) and pa.types.is_integer(t.value_type):
            flat = np.asarray(pc.list_flatten(col), np.int64)
            lens = np.asarray(pc.list_value_length(col), np.int64)
            out[name] = np.add.reduceat(flat, np.r_[0, np.cumsum(lens)[:-1]]) \
                if len(flat) else np.zeros(len(col), np.int64)
    return out


def expected(q: Query, values: dict[str, np.ndarray]) -> tuple:
    return (int(q.mask.sum()),) + tuple(
        int(values[c][q.mask].sum()) for c in q.columns)


def digest(df, q: Query) -> tuple:
    """The query's action: count + per-column digest sums, one Spark job."""
    from pyspark.sql import functions as F

    terms = [F.count(F.lit(1))]
    for c in q.columns:
        t = df.schema[c].dataType.typeName()
        if t == "string":
            terms.append(F.sum(F.crc32(F.col(c).cast("binary"))))
        elif t == "array":
            terms.append(F.sum(F.aggregate(
                c, F.lit(0).cast("long"), lambda acc, x: acc + x)))
        else:
            terms.append(F.sum(F.col(c).cast("long")))
    row = df.agg(*terms).first()
    return tuple(int(v or 0) for v in row)


def _band(x: np.ndarray, u_lo: float, u_hi: float) -> tuple[int, int]:
    lo, hi = np.quantile(x, [u_lo, u_hi])
    return int(lo), int(max(hi, lo))


def token_queries(table: pa.Table, rng: np.random.Generator) -> list[Query]:
    """The token-scan mix: five narrow and one wide ``n_tok`` band, a source
    membership test, a containment query over token values, and a
    column-pruned full read.  Narrow bands are the majority, so the median
    latency is a narrow read's."""
    n_tok = np.asarray(table.column("n_tok"))
    source = np.asarray(table.column("source").to_pylist(), object)
    tokens = table.column("tokens")
    lens = np.asarray(pc.list_value_length(tokens))  # n_tok >= 1
    flat = np.asarray(pc.list_flatten(tokens), np.int64)
    row_max = np.maximum.reduceat(flat, np.r_[0, np.cumsum(lens)[:-1]])
    meta = ["doc_id", "n_tok", "source"]
    qs = []
    for i, u in enumerate(rng.uniform(0.05, 0.9, 5)):
        lo, hi = _band(n_tok, u, u + 0.005)
        qs.append(Query(f"n_tok_narrow{i}", {"ranges": {"n_tok": (lo, hi)}},
                        (n_tok >= lo) & (n_tok <= hi), meta + ["tokens"],
                        report=i == 0))
    u = rng.uniform(0.1, 0.8)
    lo, hi = _band(n_tok, u, u + 0.1)
    qs.append(Query("n_tok_wide", {"ranges": {"n_tok": (lo, hi)},
                                   "columns": meta},
                    (n_tok >= lo) & (n_tok <= hi), meta))
    want = sorted(rng.choice(["books", "wiki", "code"], 2, replace=False))
    qs.append(Query("source_isin", {"isin": {"source": want},
                                    "columns": meta},
                    np.isin(source, want), meta))
    hi_tok = int(rng.integers(45_000, 50_000))
    qs.append(Query("tokens_contain", {"ranges": {"tokens": (hi_tok, None)}},
                    row_max >= hi_tok, meta + ["tokens"], report=True))
    qs.append(Query("pruned_full", {"columns": meta},
                    np.ones(len(n_tok), bool), meta))
    return qs
