"""Seeded benchmark inputs, generated by the benchmark and cached by
(seed, rows).

The engine under test receives only the files written here: a parquet
input and a reference ORC copy (``pyarrow.orc`` defaults) whose size is the
paper's compression bar.  Generation lives in the benchmark, not in
``clj_orc_spark.datagen``, so a change to the program cannot change its own
inputs.  The token table has the F2 shape (``datagen.gen_table``): lognormal
``n_tok``, zipf(1.1) token ids clipped to the GPT-2 vocabulary, four
weighted sources.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

VOCAB = 50_257
SOURCES = ["web", "code", "books", "wiki"]
SOURCE_WEIGHTS = [0.70, 0.15, 0.10, 0.05]
ROW_GROUP_ROWS = 8192


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, stream]))


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pc.take(pa.array(values, pa.string()), pa.array(idx))


def _digits(a: np.ndarray, width: int) -> pa.Array:
    return pc.utf8_lpad(pa.array(a).cast(pa.string()), width, "0")


def token_table(n_rows: int, seed: int) -> pa.Table:
    """The F2 token table: (doc_id, tokens: list<int32>, n_tok, source)."""
    rng = _rng(seed, 0xF2)
    source = _pick(rng, SOURCES, n_rows, SOURCE_WEIGHTS)
    n_tok = np.clip(np.rint(rng.lognormal(6.0, 1.0, n_rows)), 1, 8192
                    ).astype(np.int32)
    # clipped, never modulo: modulo flattens the skew the codecs exploit
    flat = (np.minimum(rng.zipf(1.1, int(n_tok.sum())), VOCAB) - 1
            ).astype(np.int32)
    offsets = np.zeros(n_rows + 1, np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(flat)
    ).cast(pa.list_(pa.field("element", pa.int32(), nullable=False)))
    doc_id = pc.binary_join_element_wise(
        source, _digits(rng.integers(0, 16, n_rows), 4),
        _digits(np.arange(n_rows), 8), "-")
    return pa.table({"doc_id": doc_id, "tokens": tokens,
                     "n_tok": pa.array(n_tok), "source": source})


def materialize(cache_dir: str, n_rows: int, seed: int) -> dict:
    """Write (once) and describe the parquet input and its ORC reference.

    The cache key is (seed, rows); a marker file is written last, so
    an interrupted generation is redone instead of reused."""
    import pyarrow.orc as paorc
    import pyarrow.parquet as pq

    d = os.path.join(cache_dir, f"token-s{seed}-r{n_rows}")
    pq_path = os.path.join(d, "input.parquet")
    orc_path = os.path.join(d, "reference.orc")
    marker = os.path.join(d, "complete")
    if os.path.exists(marker):
        table = pq.read_table(pq_path)
    else:
        os.makedirs(d, exist_ok=True)
        table = token_table(n_rows, seed)
        pq.write_table(table, pq_path, row_group_size=ROW_GROUP_ROWS)
        paorc.write_table(table, orc_path)
        open(marker, "w").close()
    return {"parquet": pq_path, "orc_bytes": os.path.getsize(orc_path),
            "n_rows": n_rows, "table": table}
