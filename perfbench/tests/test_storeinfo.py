"""Counts derived from a store's manifest, on a tiny hand-built store."""

import json

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.storeinfo import selection_counts, store_summary


def _sel(codec, estimates, actual, cached=False):
    rec = {"codec": codec, "estimates": estimates, "actual_bytes": actual}
    if cached:
        rec["cached"] = True
    return json.dumps(rec)


ROWS = [
    # chunk 0 of the part runs selection for each column
    ("token_values", "dict_int", 1000,
     _sel("dict_int", {"dict_int": 900, "plain_int": 4000}, 1000)),
    ("doc_id", "fsst", 300, _sel("fsst", {"fsst": 330, "plain_str": 900}, 300)),
    # the guard fell back: the estimate's winner was rle, plain was kept
    ("offsets", "plain_int", 80, _sel("plain_int", {"rle": 40, "plain_int": 80},
                                      80)),
    # chunk 1 reuses chunk 0's choices: cached, and no estimate of its own
    ("token_values", "dict_int", 2000,
     _sel("dict_int", {"dict_int": 900, "plain_int": 4000}, 2000, True)),
    ("doc_id", "fsst", 310, _sel("fsst", {"fsst": 330, "plain_str": 900}, 310,
                                 True)),
    # the guard runs on cached chunks too: it fell back here
    ("offsets", "plain_int", 90, _sel("plain_int", {"rle": 40, "plain_int": 80},
                                      90, True)),
]


def _store(tmp_path):
    out = tmp_path / "store"
    for part in (0, 1):
        d = out / "manifest" / "chunks" / f"part_id={part}"
        d.mkdir(parents=True)
        rows = ROWS[:3] if part == 0 else ROWS[3:]
        seq = 0 if part == 0 else 1
        pq.write_table(pa.table({
            "chunk_id": [(part << 20) | seq] * len(rows),
            "seq": [seq] * len(rows),
            "col": [r[0] for r in rows],
            "codec": [r[1] for r in rows],
            "n_rows": [10] * len(rows),
            "raw_bytes": [4000, 900, 88][:len(rows)],
            "enc_bytes": [r[2] for r in rows],
            "selection": [r[3] for r in rows],
            "file": [f"file:///chunks/part-{part}.parquet"] * len(rows),
        }), d / "m.parquet")
        p = out / "manifest" / "parts" / f"part_id={part}"
        p.mkdir(parents=True)
        pq.write_table(pa.table({"n_chunks": [1]}), p / "p.parquet")
    (out / "run_meta.json").write_text(json.dumps({
        "schema": [["doc_id", "str"], ["tokens", "list32"]],
        "runs": [{"wall_sec": 1.0}]}))
    return str(out)


def test_selection_counts():
    rows = [{"col": c, "selection": s} for c, _, _, s in ROWS]
    got = selection_counts(rows)
    assert got["cached_ratio"] == 3 / 6
    assert got["fallbacks"] == 2
    # only records that ran selection and kept their winner are scored
    assert got["est_error"] == {"token_values": 100 / 1000,
                                "doc_id": 30 / 300}


def test_store_summary(tmp_path):
    s = store_summary(_store(tmp_path))
    assert s["payload_bytes"] == 1000 + 300 + 80 + 2000 + 310 + 90
    assert s["raw_bytes"] == 4000 + 900 + 88 + 4000 + 900 + 88
    assert s["chunks"] == 2 and s["files"] == 2 and s["parts"] == 2
    assert s["tokens"] == 8000 // 4
    assert s["enc_bytes"]["token_values"] == 3000
    assert s["enc_bytes"]["offsets"] == 170
    assert s["codec"] == {"token_values": "dict_int", "doc_id": "fsst",
                          "offsets": "plain_int"}
    assert s["schema"] == [("doc_id", "str"), ("tokens", "list32")]
    assert s["cached_ratio"] == 3 / 6 and s["fallbacks"] == 2
    assert s["manifest_bytes"] > 0
